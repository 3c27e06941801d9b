"""Attribute the Spark jobs of a run to their call sites.

Reads uncompressed Spark event logs and prints job counts and job wall
milliseconds (submission to completion), grouped two ways: by the job's
`spark.job.description` label, and by the first named `graft.*` frame of
its call site (the stage `Details`; anonymous-function frames and the
`JobLabels.described` wrapper are skipped).

Capture a log of one traced benchmark run (writes no perfbench/ file):

    JAVA_TOOL_OPTIONS="-Dspark.eventLog.enabled=true \
      -Dspark.eventLog.compress=false -Dspark.eventLog.dir=file:///tmp/ev" \
      python3 perfbench/run.py --workload lakehouse_etl --seed 401 \
      --seconds 10 --trace 1
    python3 tools/job_sites.py /tmp/ev

Arguments are event-log files or directories of them; a rolling log
(an `eventlog_v2_*` directory) reads as one log.
"""

import json
import os
import sys
from collections import defaultdict


NO_SITE = "(no graft frame)"


def site(details):
    for line in (details or "").splitlines():
        frame = line.strip().split("(")[0]
        if (frame.startswith("graft.") and "$anonfun$" not in frame
                and "$$anon" not in frame and ".JobLabels$" not in frame
                and not frame.endswith(".described")):
            return frame
    return NO_SITE


def jobs(lines):
    """{job id: [description, call site, submitted ms, completed ms]}

    Adaptive execution submits a query's stage jobs from pool threads,
    whose call site names no graft frame; such a job takes the call site
    of its SQL execution."""
    out, execs, sql = {}, {}, {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            sql[str(ev["executionId"])] = site(ev.get("details"))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            details = next((s.get("Details") for s in ev.get("Stage Infos", [])
                            if s.get("Details")), "")
            out[ev["Job ID"]] = [props.get("spark.job.description") or "(none)",
                                 site(details), ev.get("Submission Time"), None]
            execs[ev["Job ID"]] = props.get("spark.sql.execution.id")
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in out:
            out[ev["Job ID"]][3] = ev.get("Completion Time")
    for j, v in out.items():
        if v[1] == NO_SITE:
            v[1] = sql.get(execs[j], NO_SITE)
    return out


def summarize(js):
    """[(grouping, [(key, jobs, wall ms)] by wall desc)]"""
    tables = []
    for name, idx in (("description", 0), ("call site", 1)):
        agg = defaultdict(lambda: [0, 0])
        for j in js.values():
            agg[j[idx]][0] += 1
            if j[2] is not None and j[3] is not None:
                agg[j[idx]][1] += j[3] - j[2]
        tables.append((name, sorted(((k, n, ms) for k, (n, ms) in agg.items()),
                                    key=lambda r: (-r[2], r[0]))))
    return tables


def logs(paths):
    """[(name, event files)]: a rolling log directory is one log."""
    out = []
    for p in paths:
        if os.path.isfile(p):
            out.append((p, [p]))
        elif os.path.basename(p.rstrip("/")).startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(p) if f.startswith("events_")]
            out.append((p, [os.path.join(p, f) for f in
                            sorted(parts, key=lambda f: int(f.split("_")[1]))]))
        else:
            out += logs(os.path.join(p, f) for f in sorted(os.listdir(p)))
    return out


def main(paths):
    for name, files in logs(paths):
        js = jobs(line for path in files for line in open(path))
        print(f"{name}: {len(js)} jobs")
        for grouping, rows in summarize(js):
            print(f"  by {grouping}:")
            for key, n, ms in rows:
                print(f"    {n:5d} jobs {ms:8d} ms  {key}")


if __name__ == "__main__":
    main(sys.argv[1:])
