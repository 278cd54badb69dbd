#!/usr/bin/env python3
"""List public Scala members that nothing else in the tree mentions.

A member is a `def`, `val` or `var` declared directly in the body of an
`object`, `class` or `trait` (not a local inside a method), without a
`private` or `protected` modifier and without `override` (an override is
reached through its supertype). Comments are removed before matching;
string literals count as mentions, so a name used inside an interpolated
string is mentioned.

A member of an `object` is mentioned only where the object's name can
reach it:
- as `Owner.name`, or as `A.name` in a file that imports
  `….{Owner => A}`;
- unqualified in Owner's own file, other than where it is declared;
- unqualified in a file that imports `Owner._` or `Owner.{name}` (under
  its import alias, if it is renamed).
A member of a `class` or `trait` is reached through an instance, whose
type the tool does not know, so it keeps the name rule: it is mentioned
when its name, as a whole word, occurs anywhere else in the tree.

A listed member may still be called from outside the tree (tests,
perfbench, a driver). `apply`, `unapply`, `update` and `main` are never
listed: syntax or the JVM calls them, not their name.

Prints one `<path>:<line>\t<owner>.<name>` line per listed member (sorted
by path, relative to the tree), then `<count>\ttotal`.

Usage: python3 tools/unreferenced_defs.py <tree>
"""
import os
import re
import sys

NEVER_LISTED = {"apply", "unapply", "update", "main"}

MEMBER = re.compile(r"\b(def|val|var)\s+([A-Za-z_]\w*)")
MODIFIERS = re.compile(r"\b(private|protected|override)\b")
IMPORT = re.compile(r"\bimport\s+([\w.]+?)(?:\.\{([^}]*)\})?(?![\w.{])")
KEYWORD_OR_PAREN = re.compile(
    r"[(\[]|[)\]]|\b(?:object|class|trait|new|def|val|var)\b")


def strip_comments(text):
    """(code, shape): `code` is `text` with every comment replaced by
    spaces; `shape` is `code` with the contents of string and character
    literals blanked too. Newlines are kept, so line numbers hold in
    both."""
    code, shape = [], []

    def emit(chunk, literal):
        code.append(chunk)
        shape.append(re.sub(r"[^\n]", " ", chunk) if literal else chunk)

    i, n = 0, len(text)
    while i < n:
        if text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            emit(" " * (j - i), False)
            i = j
        elif text.startswith("/*", i):
            depth, j = 1, i + 2
            while j < n and depth:
                if text.startswith("/*", j):
                    depth, j = depth + 1, j + 2
                elif text.startswith("*/", j):
                    depth, j = depth - 1, j + 2
                else:
                    j += 1
            emit(re.sub(r"[^\n]", " ", text[i:j]), False)
            i = j
        elif text.startswith('"""', i):
            j = text.find('"""', i + 3)
            j = n if j < 0 else j + 3
            while j < n and text[j] == '"':
                j += 1
            emit(text[i:j], True)
            i = j
        elif text[i] == '"':
            j = i + 1
            while j < n and text[j] not in '"\n':
                j += 2 if text[j] == "\\" else 1
            emit(text[i:j + 1], True)
            i = j + 1
        elif text[i] == "'" and re.match(r"'(\\.|[^\\'\n])'", text[i:i + 4]):
            j = i + (4 if text[i + 1] == "\\" else 3)
            emit(text[i:j], True)
            i = j
        else:
            emit(text[i], False)
            i += 1
    return "".join(code), "".join(shape)


def template(segment):
    """(kind, name) of the template whose body a `{` after `segment`
    opens, kind being `object`, `class` or `trait`: the last
    `object`/`class`/`trait`/`new`/`def`/`val`/`var` keyword of the
    segment outside parentheses decides; None when it is not a template or
    there is none."""
    depth, last = 0, None
    for m in re.finditer(KEYWORD_OR_PAREN, segment):
        tok = m.group()
        if tok in "([":
            depth += 1
        elif tok in ")]":
            depth -= 1
        elif depth == 0:
            last = m
    if last and last.group() in ("object", "class", "trait"):
        name = re.match(r"\s+(\w+)", segment[last.end():])
        return (last.group(), name.group(1)) if name else None
    return None


def members(shape):
    """(line, kind, owner, name) of each public member declared in
    `shape`, kind being the owner's template keyword."""
    found = []
    stack = []  # per open brace: the template's (kind, name), or None
    last = 0  # end of the previous `{`, `}` or `;`
    for m in re.finditer(r"[{};]|\b(?:def|val|var)\b", shape):
        tok = m.group()
        if tok == "{":
            stack.append(template(shape[last:m.start()]))
        elif tok == "}":
            if stack:
                stack.pop()
        elif tok != ";":
            owner = stack[-1] if stack else None
            d = MEMBER.match(shape, m.start())
            line_head = shape[shape.rfind("\n", 0, m.start()) + 1:m.start()]
            if owner and d and not MODIFIERS.search(line_head) \
                    and d.group(2) not in NEVER_LISTED:
                found.append((shape.count("\n", 0, m.start()) + 1, *owner,
                              d.group(2)))
            continue
        last = m.end()
    return found


def imports(shape):
    """What the import clauses of `shape` bring in: (wildcards, renames),
    where `wildcards` holds each name X of an `import ….X._` or
    `import ….X.{_}`, and `renames` maps each (X, selector) of an
    `import ….X.selector` or `import ….X.{selector => local}` to the
    local name."""
    wildcards, renames = set(), {}
    for m in IMPORT.finditer(shape):
        path, selectors = m.group(1), m.group(2)
        if selectors is None:
            path, _, last = path.rpartition(".")
            selectors = last
        owner = path.rpartition(".")[2]
        for sel in selectors.split(","):
            parts = [x.strip() for x in sel.split("=>")]
            if parts[0] == "_":
                wildcards.add(owner)
            elif parts[0]:
                renames[(owner, parts[0])] = parts[-1]
    return wildcards, renames


def unreferenced(tree):
    codes = {}
    for d, _, files in os.walk(tree):
        for name in files:
            if name.endswith(".scala"):
                p = os.path.join(d, name)
                with open(p, encoding="utf-8") as f:
                    codes[os.path.relpath(p, tree)] = strip_comments(f.read())
    words = {}
    for code, _ in codes.values():
        for w in re.findall(r"[A-Za-z_]\w*", code):
            words[w] = words.get(w, 0) + 1
    files = {p: (code, imports(shape)) for p, (code, shape) in codes.items()}

    def uses(code, name):
        """Mentions of `name` in `code` other than its declarations."""
        return len(re.findall(rf"\b{name}\b", code)) - \
            len(re.findall(rf"\b(?:def|val|var)\s+{name}\b", code))

    def object_member_mentioned(path, owner, name):
        for p, (code, (wildcards, renames)) in files.items():
            qualifiers = {owner} | {local for (o, sel), local in renames.items()
                                    if sel == owner}
            if any(re.search(rf"\b{q}\s*\.\s*{name}\b", code)
                   for q in qualifiers):
                return True
            local = renames.get((owner, name))
            if (p == path or owner in wildcards) and uses(code, name) > 0:
                return True
            if local is not None and local != name and \
                    re.search(rf"\b{local}\b", code):
                return True
            if local == name and uses(code, name) > 0:
                return True
        return False

    return [(p, line, owner, name)
            for p in sorted(codes)
            for line, kind, owner, name in members(codes[p][1])
            if (not object_member_mentioned(p, owner, name)
                if kind == "object" else words.get(name, 0) <= 1)]


def main(argv):
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__.strip(), file=sys.stderr)
        return 1
    listed = unreferenced(argv[0])
    for p, line, owner, name in listed:
        print(f"{p}:{line}\t{owner}.{name}")
    print(f"{len(listed)}\ttotal")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
