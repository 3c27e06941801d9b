"""Keep the log's older-entry readers single.

    python3 -m unittest tools/test_feed_reads.py

The readers of older log entries (the change feed, `changesSince` and
the streaming source, `restore`, both clones) share three steps in
`TxLog`:

- one presence check (`TxLog.Presence`) builds the "were vacuumed"
  refusal, so src/main holds that wording in exactly one place;
- one tagged reader, `readSnapshotTagged`, reads explicit entries; the
  old `readAdded` and `readFilesTagged` twins must not come back;
- `changeFeed` derives a commit's rows from what the commit did to
  files, so its body names no DML op (`"update"`, `"delete-dv"`,
  `"update-dv"`).
"""

import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main", "scala")
TXLOG = os.path.join(MAIN, "graft", "sources", "TxLog.scala")

DML_OPS = ('"update"', '"delete-dv"', '"update-dv"')


def code_lines(text):
    """The lines of a Scala source with comment lines blanked and
    trailing // comments cut (line numbers unchanged)."""
    out = []
    for line in text.splitlines():
        s = line.strip()
        if s.startswith(("*", "//", "/*")):
            out.append("")
        else:
            out.append(re.sub(r'\s//[^"]*$', "", line))
    return out


def main_sources(root=MAIN):
    for d, _, files in os.walk(root):
        for f in sorted(files):
            if f.endswith(".scala"):
                path = os.path.join(d, f)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, ROOT), fh.read()


def vacuum_refusals(sources):
    """(file, line) of every code line that spells the refusal."""
    return [(name, i + 1)
            for name, text in sources
            for i, line in enumerate(code_lines(text))
            if "were vacuumed" in line]


def defined(sources, names):
    pat = re.compile(r"\bdef\s+(%s)\b" % "|".join(names))
    return [(name, m.group(1))
            for name, text in sources
            for line in code_lines(text)
            for m in pat.finditer(line)]


def body_of(text, fn):
    """The code lines of `def fn`: the def line and every line after it
    up to the first non-blank line indented no deeper than the def."""
    lines = code_lines(text)
    for i, line in enumerate(lines):
        if re.search(r"\bdef\s+%s\b" % fn, line):
            indent = len(line) - len(line.lstrip())
            body = [line]
            for nxt in lines[i + 1:]:
                if nxt.strip() and len(nxt) - len(nxt.lstrip()) <= indent:
                    body.append(nxt)  # the closing brace
                    break
                body.append(nxt)
            return body
    return None


class FeedReadsTest(unittest.TestCase):
    def setUp(self):
        self.sources = list(main_sources())
        with open(TXLOG, encoding="utf-8") as fh:
            self.txlog = fh.read()

    def test_one_vacuum_refusal(self):
        found = vacuum_refusals(self.sources)
        self.assertEqual(len(found), 1, found)

    def test_no_reader_twins(self):
        self.assertEqual(
            defined(self.sources, ("readAdded", "readFilesTagged")), [])

    def test_change_feed_names_no_dml_op(self):
        body = body_of(self.txlog, "changeFeed")
        self.assertIsNotNone(body, "TxLog.changeFeed not found")
        named = [op for op in DML_OPS if any(op in l for l in body)]
        self.assertEqual(named, [], "changeFeed branches on op names")

    def test_helpers(self):
        src = (
            "object T {\n"
            "  /** were vacuumed in a comment */\n"
            "  def changeFeed(a: Int): Int = {\n"
            "    // \"update\" in a comment\n"
            "    a match { case 1 => \"delete-dv\" }\n"
            "  }\n"
            "  def other(): String = \"update\" // were vacuumed\n"
            "  private def readAdded(x: Int) = require(false,\n"
            "    \"were vacuumed\")\n"
            "}\n")
        self.assertEqual(vacuum_refusals([("T", src)]), [("T", 9)])
        self.assertEqual(defined([("T", src)], ("readAdded",)),
                         [("T", "readAdded")])
        body = body_of(src, "changeFeed")
        self.assertEqual(len(body), 4)
        self.assertTrue(any('"delete-dv"' in l for l in body))
        self.assertFalse(any('"update"' in l for l in body))


if __name__ == "__main__":
    unittest.main()
