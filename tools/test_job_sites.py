"""Unit test of tools/job_sites.py on a synthetic three-event log.

    python3 -m unittest tools/test_job_sites.py
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import job_sites  # noqa: E402

LOG = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 7, "details":
     "org.apache.spark.sql.Dataset.collect(Dataset.scala:1)\n"
     "graft.sources.TxLog$.$anonfun$locatePredicate$1(TxLog.scala:2)\n"
     "graft.JobLabels$.described(JobLabels.scala:3)\n"
     "graft.sources.TxLog$.described(TxLog.scala:4)\n"
     "graft.sources.TxLog$.locatePredicate(TxLog.scala:5)\n"},
    # an adaptive-execution stage job: submitted from a pool thread
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
     "Stage Infos": [{"Stage ID": 0, "Details":
                      "java.util.concurrent.ThreadPoolExecutor.runWorker(X.java:1)"}],
     "Properties": {"spark.job.description": "txlog:touched-probe",
                    "spark.sql.execution.id": "7"}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1250},
]


class JobSitesTest(unittest.TestCase):
    def test_groups_by_label_and_the_execution_call_site(self):
        js = job_sites.jobs(json.dumps(e) for e in LOG)
        self.assertEqual(job_sites.summarize(js), [
            ("description", [("txlog:touched-probe", 1, 250)]),
            ("call site", [("graft.sources.TxLog$.locatePredicate", 1, 250)])])

    def test_site_is_the_first_named_graft_frame(self):
        self.assertEqual(job_sites.site(
            "org.apache.spark.sql.Dataset.head(Dataset.scala:1)\n"
            "graft.sources.StatsManifest$.canonicalBounds(StatsManifest.scala:2)\n"
            "graft.sources.TxLog$.prunedSnapshotFiles(TxLog.scala:3)"),
            "graft.sources.StatsManifest$.canonicalBounds")
        self.assertEqual(job_sites.site("org.apache.spark.rdd.RDD.count(RDD.scala:1)"),
                         job_sites.NO_SITE)


if __name__ == "__main__":
    unittest.main()
