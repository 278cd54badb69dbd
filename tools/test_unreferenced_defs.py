"""Tests for tools/unreferenced_defs.py.

Run: python3 -m unittest tools/test_unreferenced_defs.py
"""
import os
import sys
import tempfile
import textwrap
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import unreferenced_defs  # noqa: E402


class UnreferencedDefsTest(unittest.TestCase):
    def listed(self, files):
        """The `Owner.name` members listed for a tree of `files`
        (relative path -> Scala source)."""
        with tempfile.TemporaryDirectory() as tree:
            for rel, text in files.items():
                path = os.path.join(tree, rel)
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w", encoding="utf-8") as f:
                    f.write(textwrap.dedent(text))
            return sorted(f"{owner}.{name}" for _, _, owner, name
                          in unreferenced_defs.unreferenced(tree))

    def test_shared_name_does_not_hide_the_uncalled_member(self):
        self.assertEqual(self.listed({
            "a/Ivf.scala": """
                package a
                object Ivf { def writeIndex(x: Int): Int = x }
            """,
            "a/Quantize.scala": """
                package a
                object Quantize { def writeIndex(x: Int): Int = x }
            """,
            "b/Use.scala": """
                package b
                import a.Quantize
                object Use { def go(): Int = Quantize.writeIndex(1) }
            """,
        }), ["Ivf.writeIndex", "Use.go"])

    def test_aliased_import_qualifies_a_call(self):
        self.assertEqual(self.listed({
            "a/TextAnalysis.scala": """
                package a
                object TextAnalysis {
                  def gramNovelty(x: Int): Int = x
                  def topGrams(x: Int): Int = x
                }
                object Sampling { def topGrams(x: Int): Int = x }
            """,
            "b/Use.scala": """
                package b
                import a.{TextAnalysis => TA}
                object Use { def go(): Int = TA.topGrams(1) }
            """,
        }), ["Sampling.topGrams", "TextAnalysis.gramNovelty", "Use.go"])

    def test_wildcard_import_reaches_unqualified_calls(self):
        self.assertEqual(self.listed({
            "a/Model.scala": """
                package a
                object Model {
                  def parse(x: Int): Int = x
                  def render(x: Int): Int = x
                }
                object Other { def parse(x: Int): Int = x }
            """,
            "b/Use.scala": """
                package b
                import a.Model._
                object Use { def go(): Int = parse(1) }
            """,
        }), ["Model.render", "Other.parse", "Use.go"])

    def test_own_file_and_selector_import(self):
        self.assertEqual(self.listed({
            "a/Dedup.scala": """
                package a
                object Dedup {
                  def spanScrub(x: Int): Int = spanScrubFrom(x)
                  def spanScrubFrom(x: Int): Int = x
                  def pairs(x: Int): Int = x
                }
            """,
            "b/Use.scala": """
                package b
                import a.Dedup.{spanScrub, pairs => dedupPairs}
                object Use { def go(): Int = spanScrub(dedupPairs(1)) }
            """,
        }), ["Use.go"])

    def test_class_member_reached_through_an_instance(self):
        self.assertEqual(self.listed({
            "a/Store.scala": """
                package a
                class Store {
                  def load(x: Int): Int = x
                  def unused(x: Int): Int = x
                }
            """,
            "b/Use.scala": """
                package b
                object Use { def go(s: a.Store): Int = s.load(1) }
            """,
        }), ["Store.unused", "Use.go"])


if __name__ == "__main__":
    unittest.main()
