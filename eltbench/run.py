#!/usr/bin/env python3
"""Benchmark of the playlist ELT (raw JSON -> bronze -> silver -> gold).

    python3 eltbench/run.py --workload elt_day --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into target/ and eltbench/target/;
later runs reuse the build while no source is newer than it.

One run starts two fresh JVMs. The first only starts the engine session,
as a set-up sample. The second starts the session too, then generates the
workload's raw JSON from --seed, runs a cold pass and the timed passes,
checks the outputs and reports. --seconds sets the number of timed passes
through a fixed nominal pass time per workload, so the work done is the
same on every commit. --trace 1 interleaves traced passes and reports the
per-layer metrics instead of the end-to-end ones.

queries_mix is not in BENCHMARK.json: it reads the sf0.1 tables given by
--data from outside the checkout.

Everything is printed by name with its unit and sample count; the last line
of standard output is one JSON object: correct, attempted, failed, metrics.
See eltbench/README.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
LAUNCH = os.path.join(WORK, "launch.txt")

DIGESTS = os.path.join(HERE, "queries_digests.tsv")

# name -> nominal seconds of one timed pass (turns --seconds into a pass
# count), JVM time limit in seconds
WORKLOADS = {"elt_day": (5.0, 170), "elt_backfill": (6.5, 170), "queries_mix": (20.0, 900)}
SETUP_JVMS = 1  # set-up-only JVMs; the measuring JVM gives one more sample
BUILD_TIMEOUT_S = 840
SBT_OPTS = ("-Dsbt.override.build.repos=true "
            "-Dsbt.repository.config=%s/.sbt/repositories "
            "-Dsbt.offline=true -Xmx2g")


def fail(msg):
    print("eltbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads from the checkout."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in os.walk(r):
            for f in fs:
                yield os.path.join(d, f)


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no engine sources at %s; run from the root of a checkout" % need)
    if os.path.exists(LAUNCH):
        stamp = os.path.getmtime(LAUNCH)
        if all(os.path.getmtime(f) <= stamp for f in sources()):
            return
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=SBT_OPTS % os.path.expanduser("~"))
    log = os.path.join(WORK, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "launchFile"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(LAUNCH):
        fail("build failed, see %s" % log)
    print("built in %.1f s (log: %s)" % (time.time() - t0, os.path.relpath(log, ROOT)))


def cpu_sample():
    """(steal jiffies, total jiffies, 1-min loadavg) from /proc, if present."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        with open("/proc/loadavg") as f:
            load = float(f.read().split()[0])
        return v[7] if len(v) > 7 else 0, sum(v), load
    except (OSError, ValueError):
        return None


def jvm(args, tag, timeout_s=170):
    """Run one benchmark JVM with the engine build's flags; returns
    (spawn epoch s, result dict)."""
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cp, flags = lines[0], [l for l in lines[1:] if l]
    run_dir = os.path.join(WORK, "jvm")
    tmp = os.path.join(WORK, "tmp")
    for d in (run_dir, tmp):
        os.makedirs(d, exist_ok=True)
    out = os.path.join(WORK, tag + ".json")
    if os.path.exists(out):
        os.remove(out)
    env = dict(os.environ, SPARK_GRAFT_CPUS="4",
               SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    cmd = (["java"] + flags + ["-Djava.io.tmpdir=" + tmp, "-cp", cp, "eltbench.Main"]
           + args + ["--out", out])
    spawned = time.time()
    with open(os.path.join(WORK, tag + ".log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("%s JVM timed out after %d s" % (tag, timeout_s))
    if code != 0 or not os.path.exists(out):
        fail("%s JVM exited with %d, see %s" % (tag, code, os.path.join(WORK, tag + ".log")))
    with open(out) as f:
        return spawned, json.load(f)


def setup_seconds(spawned, res):
    return res["session_returned_epoch_s"] - spawned


def refresh_digests(data):
    """Rewrite the queries_mix digest table from `data`, then check the same
    outputs against their DuckDB oracles with the repository's tools/check.py."""
    dump = os.path.join(WORK, "oracle")
    shutil.rmtree(dump, ignore_errors=True)
    os.makedirs(dump)
    jvm(["--mode", "digests", "--data", data, "--digests", DIGESTS, "--work", dump], "digests",
        WORKLOADS["queries_mix"][1])
    print("wrote %s" % os.path.relpath(DIGESTS, ROOT))
    check = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"), data, dump],
                           stdin=subprocess.DEVNULL)
    if check.returncode != 0:
        fail("DuckDB oracle cross-check failed")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", help="queries_mix only: the read-only sf0.1 table directory")
    ap.add_argument("--refresh-digests", action="store_true",
                    help="queries_mix only: rewrite the digest table and cross-check it with DuckDB")
    a = ap.parse_args()
    queries = a.workload == "queries_mix"
    if queries and not (a.data and os.path.isdir(a.data)):
        fail("queries_mix needs --data, the directory of the sf0.1 parquet tables")

    build()
    if a.refresh_digests:
        refresh_digests(os.path.abspath(a.data))
    nominal, timeout_s = WORKLOADS[a.workload]
    timed = max(3, int(round(a.seconds / nominal)))
    before = cpu_sample()
    setups = [setup_seconds(*jvm(["--mode", "setup"], "setup%d" % i)) for i in range(SETUP_JVMS)]
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--trace", str(a.trace), "--timed", str(timed)]
    args += (["--data", os.path.abspath(a.data), "--digests", DIGESTS] if queries
             else ["--work", os.path.join(WORK, "run")])
    spawned, res = jvm(args, "run", timeout_s)
    setups.append(setup_seconds(spawned, res))
    after = cpu_sample()

    metrics = dict(res["metrics"])
    metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s", "n": len(setups),
                          "note": "JVM spawn to GraftSession.local() returning, median of "
                                  "%d fresh JVMs" % len(setups)}

    print("eltbench %s seed=%d trace=%d timed_passes=%d" % (a.workload, a.seed, a.trace, timed))
    for n in res["notes"]:
        print("  " + n)
    series = {}
    for p in res["passes"]:
        series.setdefault(p["kind"], []).append("fail" if p["s"] is None else "%.3f" % p["s"])
    for kind, xs in series.items():
        print("  passes %-20s %s" % (kind, " ".join(xs)))
    print("  setup samples (s): " + " ".join("%.3f" % s for s in setups))
    for c in res["checks"]:
        print("  check %-4s %s (%s)" % ("ok" if c["ok"] else "FAIL", c["name"], c["detail"]))
    for name in sorted(metrics):
        m = metrics[name]
        print("  metric %-26s %14s %-6s n=%-4d %s" % (
            name, "null" if m["value"] is None else "%.6g" % m["value"], m["unit"], m["n"],
            m["note"]))
    attempted, failed = res["attempted"], res["failed"]
    print("  metric %-26s %14.6g %-6s n=%-4d %s" % (
        "failed_frac", failed / attempted, "ratio", attempted, "failed / attempted operations"))
    if before and after:
        total = max(1, after[1] - before[1])
        print("  context steal %.2f%% of CPU time, loadavg %.2f -> %.2f (not gating)" % (
            100.0 * (after[0] - before[0]) / total, before[2], after[2]))

    if queries:
        wanted = QUERIES_LAYER_METRICS if a.trace else QUERIES_END_TO_END
    else:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [m for m in wanted if m not in metrics]
    if missing:
        fail("metrics not measured: %s" % ", ".join(missing))
    correct = failed == 0 and all(c["ok"] for c in res["checks"])
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {m: {"value": metrics[m]["value"], "unit": metrics[m]["unit"]}
                    for m in wanted}}))


# queries_mix reads data outside the checkout, so it is not in BENCHMARK.json
QUERIES_END_TO_END = ["setup_s", "cold_batch_s", "batch_s", "query_p50_s", "query_tail_s",
                      "peak_exec_mem_mb"]
QUERIES_LAYER_METRICS = [
    "session.start_s", "queries.build_s", "queries.plan_s", "queries.exec_s",
    "queries.codegen_s", "queries.eager_jobs", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.task_cpu_s", "spark.task_run_s", "spark.gc_s", "spark.input_mb", "spark.shuffle_mb",
    "spark.spill_mb", "spark.driver_gap_s", "ops.release_s", "trace.overhead_frac"]

if __name__ == "__main__":
    main()
