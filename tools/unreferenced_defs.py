#!/usr/bin/env python3
"""List public Scala members whose name nothing else in the tree mentions.

A member is a `def`, `val` or `var` declared directly in the body of an
`object`, `class` or `trait` (not a local inside a method), without a
`private` or `protected` modifier and without `override` (an override is
reached through its supertype). A member is listed when its name, as a
whole word, occurs nowhere else in the tree's `.scala` files once
comments are removed: not in another file, not elsewhere in its own
file. String literals count as mentions, so a name used inside an
interpolated string is not listed.

The match is by name only. Two members that share a name mention each
other, so neither is listed; a listed member may still be called from
outside the tree (tests, perfbench). `apply`, `unapply`, `update` and
`main` are never listed: syntax or the JVM calls them, not their name.

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
    """The name of the template whose body a `{` after `segment` opens:
    the last `object`/`class`/`trait`/`new`/`def`/`val`/`var` keyword of
    the segment outside parentheses decides; None when it is not a
    template or there is none."""
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
        return name.group(1) if name else None
    return None


def members(shape):
    """(line, owner, name) of each public member declared in `shape`."""
    found = []
    stack = []  # per open brace: the template's name, or None
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
                found.append((shape.count("\n", 0, m.start()) + 1, owner,
                              d.group(2)))
            continue
        last = m.end()
    return found


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
    return [(p, line, owner, name)
            for p in sorted(codes)
            for line, owner, name in members(codes[p][1])
            if words.get(name, 0) <= 1]


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
