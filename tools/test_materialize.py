"""Keep the materialization of the sources on one helper.

    python3 -m unittest tools/test_materialize.py

Every relation the sources (src/main/scala/graft/sources) materialize
for several consumers goes through `TxLog.checkpointed`: it measures
the relation in the job that materializes it, holds it on the driver
under a byte budget and checkpoints it on the executors past it. This
check fails when a `localCheckpoint`, `.persist(` or `.cache(` call
under the sources sits anywhere else, other than in the few members
listed in ALLOWED, each of which caches for a reason of its own.
"""

import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = os.path.join(ROOT, "src", "main", "scala", "graft", "sources")

# (file, owner, member) -> why the member materializes on its own
ALLOWED = {
    ("TxLog.scala", "TxLog", "checkpointed"): "the helper itself",
    ("BloomIndex.scala", "BloomIndex", "refresh"):
        "reads the index it replaces: the swap deletes what was read",
    ("Ingest.scala", "Ingest", "split"):
        "clean and corrupt rows come from one cached parse the caller "
        "releases",
    ("TxLog.scala", "TxLog", "updateMor"):
        "the matched rows feed both the vector and the updated images",
    ("TxLogSql.scala", "GraftSubqueryDmlCommand", "run"):
        "a NOT IN list feeds the null and empty probes and the merge",
}

CALL = re.compile(r"\blocalCheckpoint\b|\.\s*persist\(|\.\s*cache\(")
OWNER = re.compile(
    r"^(?:[a-z\[\]]+ )*(?:class|object|trait) ([A-Za-z0-9_]+)")
MEMBER = re.compile(r"^  (?:[a-z\[\]]+ )*def ([A-Za-z0-9_]+)")


def strip_comments(text):
    """`text` with // and /* */ comments blanked (string literals kept,
    line breaks unchanged)."""
    out = list(text)
    i, n = 0, len(text)
    while i < n:
        c = text[i]
        if c == '"':
            j = i + 1
            while j < n and text[j] != '"':
                j += 2 if text[j] == "\\" else 1
            i = j + 1
        elif text.startswith("//", i):
            j = text.find("\n", i)
            j = n if j < 0 else j
            out[i:j] = " " * (j - i)
            i = j
        elif text.startswith("/*", i):
            j = text.find("*/", i + 2)
            j = n if j < 0 else j + 2
            out[i:j] = [ch if ch == "\n" else " " for ch in text[i:j]]
            i = j
        else:
            i += 1
    return "".join(out)


def materializations(text):
    """(line, owner, member) of every materializing call in `text`:
    the top-level class or object it sits in and that owner's member
    (a def at two spaces) around it."""
    found, owner, member = [], None, None
    for no, line in enumerate(strip_comments(text).split("\n"), 1):
        m = OWNER.match(line)
        if m:
            owner, member = m.group(1), None
        m = MEMBER.match(line)
        if m:
            member = m.group(1)
        if CALL.search(line):
            found.append((no, owner, member))
    return found


def sources_calls():
    out = []
    for name in sorted(os.listdir(SOURCES)):
        if name.endswith(".scala"):
            with open(os.path.join(SOURCES, name), encoding="utf-8") as fh:
                out += [(name,) + c for c in materializations(fh.read())]
    return out


class MaterializeTest(unittest.TestCase):
    def test_only_the_helper_and_listed_members_materialize(self):
        stray = [c for c in sources_calls()
                 if (c[0], c[2], c[3]) not in ALLOWED]
        self.assertEqual(stray, [], "materialize through TxLog.checkpointed")

    def test_classification(self):
        src = (
            "object T {\n"
            "  // df.cache() in a comment\n"
            "  private[graft] def helper(df: DataFrame) =\n"
            "    df.localCheckpoint(eager = true)\n"
            "  def other(df: DataFrame) = {\n"
            "    val x = df.persist(StorageLevel.DISK_ONLY)\n"
            "    /* df.cache() */ x\n"
            "  }\n"
            "}\n"
            "final case class C(a: Int) {\n"
            "  def run(): Unit = df\n"
            "    .cache()\n"
            "}\n")
        self.assertEqual(materializations(src),
                         [(4, "T", "helper"), (6, "T", "other"),
                          (12, "C", "run")])


if __name__ == "__main__":
    unittest.main()
