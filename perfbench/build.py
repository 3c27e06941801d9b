"""Build of the benchmark: compiles graft's main sources together with the
benchmark's own Scala sources (perfbench/src) into one class directory,
with the Scala compiler that ships in the Spark distribution's jars.

The class directory lives under $CARGO_TARGET_DIR (default .bench_build)
and is rebuilt only when a source file, the compiler or the jar set
changes. Usable alone: python3 perfbench/build.py
"""

import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
GRAFT_SOURCES = os.path.join("src", "main", "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = sorted(glob.glob(os.path.join(home or "", "jars", "*.jar")))
    if not jars:
        raise SystemExit("perfbench: no Spark jars found (set SPARK_HOME)")
    return jars


def sources(root):
    graft = os.path.join(root, GRAFT_SOURCES)
    if not os.path.isdir(os.path.join(graft, "graft")):
        raise SystemExit(f"perfbench: graft sources missing under {graft}")
    out = []
    for base in (graft, os.path.join(HERE, "src")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.join(root, d, "perfbench")


def ensure_built(root):
    """Compile if stale; return the classpath to run the benchmark with."""
    jars = spark_jars()
    srcs = sources(root)
    h = hashlib.sha256()
    for j in jars:
        h.update(os.path.basename(j).encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    out = build_dir(root)
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    classpath = os.pathsep.join([classes] + jars)
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    args_file = os.path.join(out, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
           "-d", classes, "@" + args_file]
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("perfbench: compilation failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath


if __name__ == "__main__":
    ensure_built(os.getcwd())
