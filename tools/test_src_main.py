"""Keep dev-only entry points out of the library jar.

    python3 -m unittest tools/test_src_main.py

graft's runtime surfaces are three mains: graft.Bench, graft.Verify and
graft.Explain. Any other object under src/main that defines
`def main(` (or extends App) ships a dev harness in the library; put it
under src/test, or in a script, instead.
"""

import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC_MAIN = os.path.join(ROOT, "src", "main")
ALLOWED = {"graft.Bench", "graft.Verify", "graft.Explain"}

PACKAGE = re.compile(r"^\s*package\s+([\w.]+)", re.M)
OBJECT = re.compile(r"\bobject\s+(\w+)")
MAIN = re.compile(r"\bdef\s+main\s*\(|\bobject\s+\w+[^{]*\bextends\s+App\b")


def entry_points(text):
    """Qualified names of the objects in one Scala source that define a
    main, each attributed to the nearest object declared before it."""
    pkg = ".".join(PACKAGE.findall(text))
    found = set()
    for m in MAIN.finditer(text):
        objs = OBJECT.findall(text, 0, m.end())
        name = objs[-1] if objs else "<no object>"
        found.add(f"{pkg}.{name}" if pkg else name)
    return found


def library_entry_points(src=SRC_MAIN):
    found = {}
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    for name in entry_points(fh.read()):
                        found[name] = os.path.relpath(path, ROOT)
    return found


class SrcMainTest(unittest.TestCase):
    def test_only_the_runtime_surfaces_define_main(self):
        extra = {n: p for n, p in library_entry_points().items()
                 if n not in ALLOWED}
        self.assertEqual(extra, {}, "dev-only mains in src/main")

    def test_the_runtime_surfaces_are_found(self):
        self.assertEqual(set(library_entry_points()), ALLOWED)

    def test_attribution(self):
        src = ("package graft\n\nobject A {\n  def x = 1\n}\n"
               "object B {\n  def main(args: Array[String]): Unit = ()\n}\n"
               "object C extends App {\n}\n")
        self.assertEqual(entry_points(src), {"graft.B", "graft.C"})


if __name__ == "__main__":
    unittest.main()
