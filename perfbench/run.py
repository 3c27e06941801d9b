"""graft benchmark: lakehouse ETL writes and LLM-data curation, driven through graft's public Scala API in one JVM per run.

    python3 perfbench/run.py --workload lakehouse_etl --seed 1 \
        --seconds 15 --trace 0

Run from the repository root. The first run compiles graft and the
benchmark (perfbench/build.py). Inputs are generated from --seed; after
the timed loop every output is checked against a DuckDB reference
(perfbench/checks.py). Human-readable lines go to stdout first; the last
stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}. --trace 0 reports the end-to-end metrics, --trace 1 the
per-layer metrics of a traced run. The full record of each run (inputs,
environment, per-op latencies, spans) is written to
.perfbench_out/<workload>-seed<seed>-trace<t>.json. See METRICS.md.
"""

import argparse
import json
import os
import resource
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("lakehouse_etl", "llm_curation")

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Spans whose wall time is a per-layer metric (<name>_s).
LAYER_SPANS = [
    "etl.run_job", "etl.merge", "sources.delete_mor", "sources.scd2_refresh",
    "sources.mv_refresh", "sources.maintain",
    "operators.exact", "operators.minhash_lsh", "operators.components",
    "operators.quality", "operators.bm25",
]

# Job labels graft's TxLog, Scd2 and MaterializedAgg put on their jobs.
TXLOG_LABELS = [
    "stage-write", "stage-stats", "touched-probe", "key-envelope",
    "apply-shape", "apply-touched-probe", "mv-deltas-materialize",
    "mv-directives-materialize", "mv-envelope", "scd2-feed-materialize",
    "scd2-directives-materialize", "scd2-dup-check", "scd2-envelope",
    "scd2-stale-check",
]

END_TO_END = {"setup_s": "s", "latency_s": "s"}


def per_layer_units():
    units = {f"{n}_s": "s" for n in LAYER_SPANS}
    units.update({
        "etl.rows_quarantined": "count",
        "sources.snapshot_s": "s",
        "sources.bytes_written_per_user_byte": "ratio",
        "sources.space_amp": "ratio",
        "sources.files_live": "count",
        "sources.log_bytes": "bytes",
        "spark.plan_s": "s",
        "scan.bytes_read": "bytes",
        "operators.lsh_verified_ratio": "ratio",
        "operators.components_edges": "count",
        "spark.jobs": "count", "spark.stages": "count",
        "spark.tasks": "count", "spark.job_wall_s": "s",
        "spark.driver_self_s": "s", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.core_util": "ratio",
        "spark.shuffle_write_bytes": "bytes",
        "spark.shuffle_read_bytes": "bytes", "spark.spill_bytes": "bytes",
        "spark.gc_s": "s", "spark.tasks_failed": "count",
        "spark.stages_retried": "count", "jvm.heap_peak_mb": "MB",
        "trace.overhead_ratio": "ratio",
    })
    for label in TXLOG_LABELS:
        units[f"txlog.{label}_s"] = "s"
        units[f"txlog.{label}_jobs"] = "count"
    return units


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def driver_heap():
    """The tier-1 driver heap: half the machine's memory in GiB, 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpu_times():
    """(busy, steal) CPU seconds of the machine so far: busy counts every
    process; steal is time the hypervisor gave this machine's CPUs to
    someone else."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        hz = os.sysconf("SC_CLK_TCK")
        steal = v[7] if len(v) > 7 else 0
        return (sum(v) - v[3] - v[4] - steal) / hz, steal / hz
    except (OSError, ValueError):
        return None


def git_sha(root):
    try:
        with open(os.path.join(root, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(root, ".git", head[5:])) as f:
                return f.read().strip()
        return head
    except OSError:
        return "unknown"


def run_jvm(classpath, args, work, timeout):
    cmd = (["java", f"-Xmx{driver_heap()}", "-Xss8m",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            return proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


# ---- metrics ---------------------------------------------------------------

def latency(ops):
    """latency_s: the median operation latency over `ops`."""
    return stats.median([o["latency_s"] for o in ops])


def end_to_end(rec):
    ok = [o for o in rec["ops"] if o["ok"]]
    t, pct, beyond = stats.tail([o["latency_s"] for o in ok])
    return {
        "setup_s": rec["setup"]["setup_s"],
        "latency_s": latency(ok),
    }, {"tail_s": t, "tail_percentile": pct, "tail_samples_beyond": beyond,
        "samples": len(ok)}


def subtree(spans, root):
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo += kids.get(s["id"], [])
    return out


def op_layer_values(rec, op_span, tree):
    wall = (op_span["end_ms"] - op_span["start_ms"]) / 1e3
    tot = lambda k: sum(s[k] for s in tree)  # noqa: E731
    jobs = [(a, b) for s in tree for a, b, _ in s["job_intervals"]]
    job_wall = stats.union_length(jobs, op_span["start_ms"],
                                  op_span["end_ms"]) / 1e3
    # a layer span counts only in the ops that call it
    v = {f"{n}_s": sum(s["end_ms"] - s["start_ms"] for s in tree
                       if s["name"] == n) / 1e3
         for n in LAYER_SPANS if any(s["name"] == n for s in tree)}
    for label in TXLOG_LABELS:
        iv = [(a, b) for s in tree for a, b, lb in s["job_intervals"]
              if lb == f"txlog:{label}"]
        v[f"txlog.{label}_s"] = stats.union_length(iv) / 1e3
        v[f"txlog.{label}_jobs"] = len(iv)
    v.update({
        "spark.jobs": tot("jobs"), "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"), "spark.job_wall_s": job_wall,
        "spark.driver_self_s": wall - job_wall,
        "spark.executor_run_s": tot("executor_run_ms") / 1e3,
        "spark.executor_cpu_s": tot("executor_cpu_ns") / 1e9,
        "spark.core_util": tot("executor_run_ms") / 1e3
        / (wall * rec["env"]["cores"]),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.gc_s": tot("gc_ms") / 1e3,
        "spark.tasks_failed": tot("tasks_failed"),
        "spark.stages_retried": tot("stages_retried"),
        "spark.plan_s": tot("plan_ms") / 1e3,
        "scan.bytes_read": tot("input_bytes"),
    })
    mh = [s for s in tree if s["name"] == "operators.minhash_lsh"]
    if mh and rec["layer"].get("lsh_pairs") is not None:
        cands = sum(s["lsh_candidates"] for s in mh)
        v["operators.lsh_verified_ratio"] = (rec["layer"]["lsh_pairs"]
                                             / max(1, cands))
    return v


def per_layer(rec):
    units = per_layer_units()
    m = {k: 0.0 for k in units}
    spans = rec["spans"]
    tops = [s for s in spans if s["parent"] == -1]
    traced_ops = [o for o in rec["ops"] if o["traced"]]
    op_spans = [s for s in tops if s["name"].startswith("op.")]
    per_op = []
    for o, s in zip(traced_ops, op_spans):
        if o["ok"]:
            per_op.append((s, op_layer_values(rec, s, subtree(spans, s))))
    for k in units:
        xs = [v[k] for _, v in per_op if k in v]
        if xs:
            m[k] = stats.median(xs)
    heaps = [s["heap_peak_mb"] for s, _ in per_op]
    if heaps:
        m["jvm.heap_peak_mb"] = max(heaps)
    snaps = [(s["end_ms"] - s["start_ms"]) / 1e3 for s in tops
             if s["name"] == "sources.snapshot"]
    if snaps:
        m["sources.snapshot_s"] = stats.median(snaps)
    layer = rec.get("layer", {})
    if layer.get("rows_quarantined"):
        m["etl.rows_quarantined"] = stats.median(layer["rows_quarantined"])
    if layer.get("bytes_written_per_user_byte"):
        m["sources.bytes_written_per_user_byte"] = stats.median(
            layer["bytes_written_per_user_byte"])
    for src, dst in (("space_amp", "sources.space_amp"),
                     ("files_live", "sources.files_live"),
                     ("log_bytes", "sources.log_bytes"),
                     ("components_edges", "operators.components_edges")):
        if src in layer:
            m[dst] = layer[src]
    # the first timed op is still warming up; the rest alternate traced,
    # untraced, traced, ..., which cancels a linear drift
    rest = [o for o in rec["ops"] if o["ok"] and o["i"] > 0]
    traced = [o for o in rest if o["traced"]]
    untraced = [o for o in rest if not o["traced"]]
    if traced and untraced:
        m["trace.overhead_ratio"] = latency(traced) / latency(untraced) - 1.0
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}


# ---- main ------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    classpath = build.ensure_built(root)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(root, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    env = {"nproc": cores, "load_before": os.getloadavg(),
           "git_sha": git_sha(root), "driver_heap": driver_heap()}
    own0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu0, wall0 = cpu_times(), time.time()
    code = run_jvm(classpath, [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--cores", str(cores), "--result", result],
        work, timeout=a.seconds + 140)
    cpu1, wall1 = cpu_times(), time.time()
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        log(f"benchmark JVM failed (exit {code})")
        shutil.rmtree(work, ignore_errors=True)
        return 1
    own1 = resource.getrusage(resource.RUSAGE_CHILDREN)
    env["load_after"] = os.getloadavg()
    if cpu0 is not None and cpu1 is not None:
        # cores other processes (or other machines, through steal) took
        # while the run was live. A quarter of a core or more makes the
        # figures suspect: on a 4-core VM, steal of 0.3 cores slowed ETL
        # batches by 15-25%.
        wall = wall1 - wall0
        jvm = (own1.ru_utime - own0.ru_utime) + (own1.ru_stime - own0.ru_stime)
        others = ((cpu1[0] - cpu0[0]) - jvm) / wall
        steal = (cpu1[1] - cpu0[1]) / wall
        env["other_cores_busy"] = others
        env["steal_cores"] = steal
        env["cpu_contended"] = others + steal > 0.25
    with open(result) as f:
        rec = json.load(f)
    rec["env"].update(env)
    rec["_work"] = work
    self_ms = stats.self_times(rec["spans"])
    for s in rec["spans"]:
        s["self_ms"] = self_ms[s["id"]]

    import checks
    t0 = time.time()
    fails = checks.run(rec, work)
    rec["check_s"] = time.time() - t0
    for o in rec["ops"]:
        msgs = fails.get(None, []) + fails.get(o["i"], [])
        if msgs and o["ok"]:
            o["ok"] = False
            o["error"] = "output check: " + "; ".join(msgs)
            log(f"op {o['i']} ({o['cls']}) failed its output check: "
                + "; ".join(msgs))
    attempted = len(rec["ops"])
    failed = sum(1 for o in rec["ops"] if not o["ok"])
    correct = failed == 0

    e2e, tail_info = end_to_end(rec) if attempted > failed else ({}, {})
    rec["end_to_end"] = e2e
    rec["tail"] = tail_info
    rec["failed_ratio"] = stats.failed_ratio(attempted, failed)
    if a.trace:
        metrics = per_layer(rec)
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}
    rec["metrics"] = metrics

    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(
            out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
            "w") as f:
        json.dump(rec, f)
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{attempted} ops, {failed} failed, failed_ratio "
          f"{rec['failed_ratio']:.4f}, setup {rec['setup']['setup_s']:.3f} s "
          f"(session {rec['setup']['session_s']:.2f}, prep "
          f"{rec['setup']['prep_s']:.2f}, warm-up "
          f"{rec['setup']['warmup_s']:.2f})")
    if tail_info:
        print(f"  tail_s {tail_info['tail_s']:.6g} s at "
              f"p{tail_info['tail_percentile']:.1f} with "
              f"{tail_info['tail_samples_beyond']} samples beyond, "
              f"{tail_info['samples']} samples")
    print(f"  env: {json.dumps(rec['env'])}")
    print(f"  inputs: {json.dumps(rec.get('inputs', {}))}")
    for k, v in metrics.items():
        print(f"  {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
