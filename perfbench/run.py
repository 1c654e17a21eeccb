#!/usr/bin/env python3
"""Benchmark of the OMM trip-cancellation poller and its delta-state stream.

    python3 perfbench/run.py --workload churn-20k --seed 1 --seconds 5 --trace 0

Run from the root of the repository. The first run compiles the library
together with the harness under perfbench/, with the Scala compiler among
Spark's jars (SPARK_HOME, or the installation spark-submit belongs to);
later runs reuse the build while the sources are unchanged. Each run:

 1. generates the workload's inputs from the seed as parquet (gen.py);
 2. runs the workload in one JVM on Spark local[N], N = the usable CPUs
    (BenchMain.scala): three set-ups, each a fresh session and a cold
    poll, then warm polls in the last session, in a closed loop for
    --seconds and at least the workload's minimum number of polls;
 3. checks the program's outputs: the flagship's first and last warm poll
    against the DuckDB oracle (oracle.py), the n-gram stream's final
    score against the batch operator;
 4. prints every metric with its unit, then one JSON line with
    `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
    with --trace 0, the per-layer metrics with --trace 1).

Build output and run files go to .bench_build/perfbench/ under the
repository root; the run's inputs and outputs are removed at the end.
`--cpus 1` gives the single-threaded baseline.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
FLAGSHIP = os.path.join(LIB_SRC, "graft", "streaming", "CancellationStream.scala")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")

# The service's default configuration (graft.omm.OmmConfig).
ZONE = "Europe/Helsinki"
INTERVAL_S = 30

# min_polls: warm polls per run at least, whatever --seconds says (a traced
# run makes twice as many, alternating plain and traced ones).
WORKLOADS = {
    "poll-20k": {"kind": "omm", "cases": 20_000, "min_polls": 4},
    "poll-400k": {"kind": "omm", "cases": 400_000, "min_polls": 3},
    "churn-20k": {"kind": "churn", "cases": 20_000, "share": 0.05,
                  "min_polls": 3},
    "lm-delta": {"kind": "lm", "batch_docs": 2000, "held_docs": 1000,
                 "compact_after": 4, "min_polls": 4},
}
SETUPS = 3
HEAP = "3g"

# What SparkSubmit adds for JDK 17 (the repository's build.sbt javaOptions).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return home


def source_digest():
    h = hashlib.sha256()
    files = []
    for base in (LIB_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the library and the harness unless the build is current.

    The Scala compiler that ships with Spark compiles both in one pass, with
    Spark's jars as the classpath: no build tool, no dependency resolution,
    and nothing written outside the build directory."""
    digest = source_digest()
    stamp = os.path.join(OUT, "build.stamp")
    if os.path.isdir(CLASSES) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read() == digest:
                return
    jars = os.path.join(spark_home(), "jars")
    if not any(n.startswith("scala-compiler") for n in os.listdir(jars)):
        fail(f"no Scala compiler among the Spark jars in {jars}")
    sources = sorted(os.path.join(d, n)
                     for base in (LIB_SRC, os.path.join(HERE, "src"))
                     for d, _, names in os.walk(base)
                     for n in names if n.endswith(".scala"))
    tmp = os.path.join(OUT, "build-tmp")
    fresh = CLASSES + ".new"
    for d in (tmp, fresh):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources) + "\n")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as fh:
        r = subprocess.run(
            [java(), "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={tmp}", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
             "-d", fresh, f"@{argfile}"],
            cwd=ROOT, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(fresh, CLASSES)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as f:
        f.write(digest)


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.isfile(exe):
        fail("no java found (set JAVA_HOME)")
    return exe


def lookback(now):
    """PAST-mode bound: `now` in the OMM zone minus one interval, taken on
    the instant (as CancellationStream.pollOnce does)."""
    z = ZoneInfo(ZONE)
    t = datetime.strptime(now, "%Y-%m-%d %H:%M:%S").replace(tzinfo=z)
    return (t.astimezone(timezone.utc) - timedelta(seconds=INTERVAL_S)) \
        .astimezone(z).strftime("%Y-%m-%d %H:%M:%S")


def generate(w, work, seed, max_polls):
    """Writes the workload's inputs; returns the JVM's workload arguments."""
    if w["kind"] == "omm":
        gen.gen_omm(os.path.join(work, "tables"), seed, w["cases"])
        return {}
    if w["kind"] == "churn":
        gen.gen_churn(os.path.join(work, "versions"), seed, w["cases"],
                      max_polls, w["share"])
        return {"versions": max_polls}
    gen.gen_text(os.path.join(work, "text"), seed, max_polls,
                 w["batch_docs"], w["held_docs"])
    return {"batches": max_polls, "compact_after": w["compact_after"]}


def run_jvm(args, work, extra, deadline):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    kv = {"workload": args.workload, "work": work, "seconds": args.seconds,
          "trace": args.trace, "cpus": args.cpus,
          "shuffle_partitions": args.shuffle_partitions, "setups": SETUPS,
          "out": out, **extra}
    cmd = [java(), f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
           "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.BenchMain",
           *[f"{k}={v}" for k, v in kv.items()]]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(OUT, f"{args.workload}.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"run exceeded its time limit; see {os.path.relpath(log, ROOT)}", 3)
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"the JVM exited with {p.returncode}", 3)
    with open(out) as f:
        return json.load(f)


def check(w, record, work):
    """Oracle check outside the timed window; returns the k of every poll
    found wrong, with the reasons."""
    polls = record["polls"]
    bad = {}
    if w["kind"] == "lm":
        fin = record["finish"]
        if "error" in fin or fin.get("oracle_mismatch", 1) != 0 \
                or fin.get("oracle_rows", 0) == 0:
            last = max((p["k"] for p in polls
                        if p["ok"] and p["setup"] == record["main_setup"]),
                       default=0)
            bad[last] = [f"final score vs batch stupidBackoffNll: {fin}"]
        return bad
    main = {p["k"]: p for p in polls if p["setup"] == record["main_setup"]}
    warm = sorted(k for k, p in main.items() if p["kind"] != "cold" and p["ok"])

    def tables(p):
        return os.path.join(work, "tables") if w["kind"] == "omm" \
            else os.path.join(work, "versions", f"v{p['version']}")
    con = oracle.connect(temp_dir=os.path.join(work, "tmp"))
    try:
        for k in sorted({warm[0], warm[-1]}) if warm else []:
            p, prev = main[k], main.get(k - 1)
            problems = oracle.check_poll(
                con, p, tables(p), (tables(prev), prev["now"]) if prev else None,
                p["sink"], ZONE, lookback)
            if problems:
                bad[k] = problems
    finally:
        con.close()
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)))
    ap.add_argument("--shuffle-partitions", type=int, default=0,
                    help="spark.sql.shuffle.partitions; 0 (default): --cpus")
    ap.add_argument("--time-limit", type=float, default=170,
                    help="seconds after the build at which the run is abandoned")
    ap.add_argument("--keep", action="store_true",
                    help="keep the run's inputs and outputs")
    args = ap.parse_args()
    if not os.path.isfile(FLAGSHIP):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC)}; "
             "run from the root of the repository")
    os.makedirs(OUT, exist_ok=True)
    build()
    deadline = time.monotonic() + args.time_limit  # the build is not counted

    w = WORKLOADS[args.workload]
    work = os.path.join(OUT, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # versions / batches for the cold poll, the traced run's minimum and
        # a poll every second after that (a warm poll takes 3-5 s; a run
        # whose inputs run out ends before --seconds)
        max_polls = 2 * w["min_polls"] + 2 + int(args.seconds)
        t0 = time.monotonic()
        extra = dict(generate(w, work, args.seed, max_polls),
                     min_polls=w["min_polls"])
        t1 = time.monotonic()
        record = run_jvm(args, work, extra, deadline)
        t2 = time.monotonic()
        bad = check(w, record, work)
        t3 = time.monotonic()
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)

    print(f"generate {t1 - t0:.1f} s, JVM {t2 - t1:.1f} s, check {t3 - t2:.1f} s")
    lines, res = metrics.result(record, bad, args.trace, w["min_polls"])
    print(f"workload {args.workload} seed {args.seed}, --seconds {args.seconds:g}:")
    print("\n".join(lines))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
