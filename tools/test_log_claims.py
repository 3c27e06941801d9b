"""Keep the log's claim loop single.

    python3 -m unittest tools/test_log_claims.py

Every commit to a logged table claims its log slot through
`TxLog.commitStaged`, the one optimistic loop that rebases or refuses a
lost claim. Only the three version-0 claims (`convertInPlace`, `clone`,
`deepClone`) call the claim primitive `tryWrite` directly: they refuse
when the table already exists, so they never retry. Any other function
under src/main/scala/graft/sources that calls `tryWrite(` has grown its
own claim loop; route it through `commitStaged` instead.
"""

import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = os.path.join(ROOT, "src", "main", "scala", "graft", "sources")
ALLOWED = {"commitStaged", "convertInPlace", "clone", "deepClone"}

DEF = re.compile(r"^(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|"
                 r"final\s+|implicit\s+)*def\s+(\w+)")
CALL = re.compile(r"(?<!def )\btryWrite\(")


def claim_callers(text):
    """Names of the functions in one Scala source that call tryWrite(,
    each call attributed to the nearest enclosing def: the innermost
    def whose body (the lines indented deeper than it) holds the call.
    """
    found = set()
    stack = []  # (indent, name) of the defs whose body is open
    for line in text.splitlines():
        code = line.strip()
        if not code or code.startswith(("*", "//", "/*")):
            continue
        indent = len(line) - len(line.lstrip())
        while stack and stack[-1][0] >= indent:
            stack.pop()
        m = DEF.match(code)
        if m:
            stack.append((indent, m.group(1)))
        if CALL.search(code):
            found.add(stack[-1][1] if stack else "<top level>")
    return found


def source_claim_callers(src=SOURCES):
    found = {}
    for d, _, files in os.walk(src):
        for f in files:
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    for name in claim_callers(fh.read()):
                        found.setdefault(name, os.path.relpath(path, ROOT))
    return found


class LogClaimsTest(unittest.TestCase):
    def test_only_commit_staged_and_the_v0_claims_call_try_write(self):
        extra = {n: p for n, p in source_claim_callers().items()
                 if n not in ALLOWED}
        self.assertEqual(extra, {}, "claim loops outside commitStaged")

    def test_the_claim_loop_is_found(self):
        self.assertIn("commitStaged", source_claim_callers())

    def test_attribution(self):
        src = (
            "object T {\n"
            "  /** calls tryWrite( in a comment */\n"
            "  private def tryWrite(p: String): Boolean = true\n"
            "  def outer(x: Int): Long = {\n"
            "    def helper(y: Int): Int = {\n"
            "      y + 1\n"
            "    }\n"
            "    val r = Seq(1).map { z =>\n"
            "      tryWrite(\"a\")\n"
            "    }\n"
            "    0L\n"
            "  }\n"
            "  private[graft] def loop(): Unit =\n"
            "    while (!tryWrite(\"b\")) ()\n"
            "  def inner(): Unit = {\n"
            "    def claim() = tryWrite(\"c\")\n"
            "    claim()\n"
            "  }\n"
            "}\n")
        self.assertEqual(claim_callers(src), {"outer", "loop", "claim"})


if __name__ == "__main__":
    unittest.main()
