"""Keep graft's session knobs to the ones users set.

    python3 -m unittest tools/test_knobs.py

Every `spark.graft.*` session conf key the library reads is a knob a
user has to know about. The size decisions between a driver path and
a distributed one are taken from measured bytes (`TxLog.checkpointed`
and its held budget), not from per-operator keys. This check fails
when code under src/main names a `spark.graft.*` key in a string
literal, other than the keys listed in ALLOWED.
"""

import os
import re
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from test_materialize import strip_comments  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAIN = os.path.join(ROOT, "src", "main")

# key -> why users set it
ALLOWED = {
    "spark.graft.write.tasksPerValue":
        "a constant write fan-out per partition value",
    "spark.graft.write.autoSaltMinBytes":
        "the batch size past which partitioned writes histogram skew",
}

# a string literal (plain or interpolated) that starts with the prefix
KEY = re.compile(r'(?<![A-Za-z0-9_"])[a-z]*"(spark\.graft\.[^"\s]*)')


def knob_keys(text):
    """(line, key) of every `spark.graft.*` literal in `text`'s code."""
    found = []
    for no, line in enumerate(strip_comments(text).split("\n"), 1):
        found += [(no, m.group(1)) for m in KEY.finditer(line)]
    return found


def main_keys():
    out = []
    for root, _, files in os.walk(MAIN):
        for name in sorted(files):
            if name.endswith((".scala", ".java")):
                path = os.path.join(root, name)
                with open(path, encoding="utf-8") as fh:
                    out += [(os.path.relpath(path, ROOT),) + k
                            for k in knob_keys(fh.read())]
    return sorted(out)


class KnobsTest(unittest.TestCase):
    def test_only_listed_keys_are_read(self):
        stray = [k for k in main_keys() if k[2] not in ALLOWED]
        self.assertEqual(stray, [],
                         "decide from measured bytes, not a new knob")

    def test_classification(self):
        src = (
            "object T {\n"
            "  // spark.conf.get(\"spark.graft.inComment\")\n"
            "  val a = spark.conf.get(\"spark.graft.a.b\", \"1\")\n"
            "  val b = conf.get(s\"spark.graft.$name\")\n"
            "  require(x, \"T: spark.graft.a.b must be >= 1\")\n"
            "  /* \"spark.graft.blocked\" */ val c = \"spark.sql.x\"\n"
            "}\n")
        self.assertEqual(knob_keys(src),
                         [(3, "spark.graft.a.b"), (4, "spark.graft.$name")])


if __name__ == "__main__":
    unittest.main()
