"""Keep the medallion zones on the transaction log.

    python3 -m unittest tools/test_zone_writes.py

Every zone dataset of `graft.etl.MedallionPipeline` is a logged table:
writes go through `TxLog` (or the `txlog` writer), never straight to
parquet. The one plain parquet write left in Medallion.scala is the
quarantine audit copy under `$root/quarantine/`. Reads of a directory
without a log (`spark.read.parquet`) are allowed. This check fails when
a `.parquet(` call in Medallion.scala sits on a writer chain (one that
goes through `.write`) and does not target the quarantine directory.
"""

import os
import re
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MEDALLION = os.path.join(ROOT, "src", "main", "scala", "graft", "etl",
                         "Medallion.scala")
QUARANTINE = 's"$root/quarantine/'

IDENT = re.compile(r"[A-Za-z0-9_$]")
WRITER = re.compile(r"\.\s*write\b|^\s*write\b")


def strip_comments(text):
    """`text` with // and /* */ comments blanked (string literals kept,
    offsets unchanged)."""
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


def chain_before(code, i):
    """The method chain that ends just before offset `i`: identifiers,
    dots, whitespace and balanced argument lists, read right to left."""
    j = i
    while j > 0:
        c = code[j - 1]
        if c.isspace() or c == "." or IDENT.match(c):
            j -= 1
        elif c == ")":
            depth, j = 1, j - 1
            while j > 0 and depth:
                j -= 1
                depth += {")": 1, "(": -1}.get(code[j], 0)
        else:
            break
    return code[j:i]


def parquet_writes(text):
    """(line, argument head) of every `.parquet(` call on a writer
    chain."""
    code = strip_comments(text)
    found = []
    for m in re.finditer(r"\.\s*parquet\(", code):
        if WRITER.search(chain_before(code, m.start())):
            line = code.count("\n", 0, m.start()) + 1
            found.append((line, code[m.end():].split("\n", 1)[0].strip()))
    return found


class ZoneWritesTest(unittest.TestCase):
    def setUp(self):
        with open(MEDALLION, encoding="utf-8") as fh:
            self.writes = parquet_writes(fh.read())

    def test_only_the_quarantine_write_is_plain_parquet(self):
        stray = [w for w in self.writes if not w[1].startswith(QUARANTINE)]
        self.assertEqual(stray, [], "plain parquet writes into a zone")

    def test_the_quarantine_write_is_found(self):
        self.assertEqual(len(self.writes), 1, self.writes)

    def test_classification(self):
        src = (
            "object T {\n"
            "  // df.write.parquet(comment)\n"
            "  def read() = spark.read.parquet(s\"$root/a\")\n"
            "  def schemaRead() = spark.read.schema(s.schema)\n"
            "    .option(\"basePath\", p).parquet(p)\n"
            "  def w1(df: DataFrame) = df.write.mode(SaveMode.Overwrite)\n"
            "    .partitionBy(cols: _*)\n"
            "    .parquet(s\"$root/zone\")\n"
            "  /* df.write.parquet(block) */\n"
            "  def w2(df: DataFrame) = df.repartition(4).write\n"
            "    .parquet(target)\n"
            "  def txlog(df: DataFrame) = df.write.format(\"txlog\")"
            ".save(t)\n"
            "}\n")
        self.assertEqual(parquet_writes(src),
                         [(8, 's"$root/zone")'), (11, "target)")])


if __name__ == "__main__":
    unittest.main()
