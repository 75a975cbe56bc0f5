#!/usr/bin/env python3
"""Benchmark of the engine: two workloads timed from one client.

    python3 perfbench/run.py --workload olap|ingest \\
        --seed N --seconds S --trace 0|1

Run from the root of a checkout.  The first run builds the engine and
the harness from source (sbt, into `.bench_build/`).  Each run then
generates its inputs from the seed into a directory of its own under
`.bench_build/runs/`, runs the harness JVM with `local[<cores>]`, checks
the outputs against computations made apart from the program, prints
one JSON object as its last line, and deletes the run directory.  Exit
status is 0 only if every operation succeeded and every check passed.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

BUDGET_S = 170          # whole run, build excluded
BUILD_BUDGET_S = 850
JVM_HEAP = "3g"
SF = {"olap": 0.01, "ingest": 0.005}
ROUNDS = {"olap": 2, "ingest": 1}   # whole rounds measured at least
OLAP_STRIDE = 12        # every twelfth eligible query, in registry order
WARM_SF = 0.001
MIN_RECALL = 0.2       # far above the 0.01 a broken index would reach

# the incremental pipeline run takes the whole feed: its cut lies past
# the last order date (2001-08-01)
FEED_END = "2001-08-02"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(root):
    """Every file the build reads, relative to the checkout root."""
    out = []
    for top in (os.path.join(root, "src", "main", "scala"),
                os.path.join(HERE, "src", "main", "scala")):
        if not os.path.isdir(top):
            fail(f"missing source directory {os.path.relpath(top, root)}")
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    out += [os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def build(root):
    """Compile engine + harness unless the same sources were built."""
    h = hashlib.sha256()
    for f in sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    digest = h.hexdigest()
    out = os.path.join(root, ".bench_build")
    classes = os.path.join(out, "perfbench", "scala-2.13", "classes")
    stamp = os.path.join(out, "perfbench.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        return classes
    os.makedirs(out, exist_ok=True)
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    log = os.path.join(out, "build.log")
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        try:
            # sbt's temporary files stay in the checkout too
            rc = subprocess.run(
                [sbt, "-batch", "-Dsbt.server.autostart=false",
                 f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData", "compile"],
                cwd=HERE, stdout=lf, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_BUDGET_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("build failed")
    with open(stamp, "w") as f:
        f.write(digest)
    return classes


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation (set SPARK_HOME)")
    return os.path.join(home, "jars", "*")


def feed_cuts(seed):
    """The bootstrap cut, the first of a seed-chosen month of 1997, and
    the incremental cut past every order date."""
    month = random.Random(seed).randrange(12) + 1
    return [f"1997-{month:02d}-01", FEED_END]


def harness(root, classes, a, run_dir, deadline):
    """Generate inputs, run the harness JVM, return its raw record."""
    data, small = os.path.join(run_dir, "data"), os.path.join(run_dir, "small")
    work, tmp = os.path.join(run_dir, "work"), os.path.join(run_dir, "tmp")
    for d in (work, tmp):
        os.makedirs(d)
    gen.generate(a.seed, SF[a.workload], data)
    gen.generate(a.seed, WARM_SF, small)
    if a.workload == "ingest":
        gen.corpus(a.seed, data, os.path.join(data, "corpus"))
    out = os.path.join(run_dir, "raw.json")
    # no hsperfdata file in the system temp directory
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, spark_jars()]), "perfbench.Main",
            "--workload", a.workload, "--data", data, "--small", small,
            "--work", work, "--out", out, "--seconds", str(a.seconds),
            "--seed", str(a.seed), "--trace", str(a.trace),
            "--rounds", str(ROUNDS[a.workload]),
            "--stride", str(OLAP_STRIDE),
            "--cuts", ",".join(feed_cuts(a.seed))]
    env = dict(os.environ, GRAFT_ARTIFACT_ROOT=os.path.join(work, "artifacts"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, cwd=run_dir, env=env, stdout=lf,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                timeout=max(1, deadline - time.time())
                                ).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"harness exited with {rc}", 1)
    with open(out) as f:
        raw = json.load(f, object_pairs_hook=unique_keys)
    return raw, data


def unique_keys(pairs):
    """json object hook that refuses a key given twice."""
    d = {}
    for k, v in pairs:
        if k in d:
            raise ValueError(f"duplicate JSON key {k!r}")
        d[k] = v
    return d


def main():
    ap = argparse.ArgumentParser(description="engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tools", "check.py")):
        fail("run from the root of a checkout (tools/check.py not found)")
    classes = build(root)
    deadline = time.time() + BUDGET_S - 25   # room for checks and cleanup
    run_dir = os.path.join(root, ".bench_build", "runs",
                           f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        raw, data = harness(root, classes, a, run_dir, deadline)
        recall = 0.0
        if a.workload == "olap":
            problems = checks.olap(root, data, raw)
            failed = raw["extra"]["failed"]
        else:
            problems, recall = checks.ingest(root, data, raw, MIN_RECALL)
            failed = 0
        if a.trace:
            err = metrics.gap_identity_error(raw)
            if err > 0.10:
                problems.append(f"idle gap + job union is off the wall "
                                f"time by {err:.1%}")
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)
        res = metrics.result(raw, a.trace, not problems,
                             len(raw["ops"]) + failed, failed, recall)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(res))
    sys.exit(0 if res["correct"] and not res["failed"] else 1)


if __name__ == "__main__":
    main()
