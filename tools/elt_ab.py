#!/usr/bin/env python3
"""A/B runs of the ELT benchmark: two revisions, paired runs in ABBA order.

    python3 tools/elt_ab.py --base HEAD~1 --change HEAD --workload elt_day \\
        --workload elt_backfill --pairs 10 --seed 11 --work /tmp/elt_ab

Each revision is exported with `git archive` into its own directory under
--work (outside the checkout), so each side builds and runs from its own
committed sources; an uncommitted tree can be compared by passing the commit
that `git stash create` prints (after `git add -A` for new files). An
export is reused while it holds the same commit.

For every workload, pair k (k = 0, 1, ...) runs `eltbench/run.py` once per
side with seed --seed + k, the base first in even pairs and the change first
in odd pairs (A B, B A, A B, ...). Each metric of the runs' JSON lines is then
printed with the base's median and range, the change's median and range,
the pairs in which the change is better (by the metric's direction in
BENCHMARK.json) and whether the change's median lies outside the base's
range. A run that is not `correct` is named. --json writes every run's
result.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export(rev, dest):
    """Export `rev` into `dest` (once); returns the resolved commit id."""
    commit = subprocess.run(["git", "rev-parse", "--verify", rev + "^{commit}"], cwd=ROOT,
                            check=True, capture_output=True, text=True).stdout.strip()
    stamp = os.path.join(dest, ".elt_ab_commit")
    if not os.path.exists(stamp) or open(stamp).read().strip() != commit:
        shutil.rmtree(dest, ignore_errors=True)
        os.makedirs(dest)
        archive = subprocess.Popen(["git", "archive", commit], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit("elt_ab: git archive %s failed" % rev)
        with open(stamp, "w") as f:
            f.write(commit + "\n")
    return commit


def run(tree, workload, seed, seconds, log):
    """One eltbench run in `tree`; returns its JSON result line."""
    cmd = [sys.executable, "eltbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds)]
    p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, stdin=subprocess.DEVNULL)
    with open(log, "w") as f:
        f.write(p.stdout + p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit("elt_ab: %s failed (exit %d), see %s" % (" ".join(cmd), p.returncode, log))
    return json.loads(lines[-1])


def directions():
    """metric name -> "lower" or "higher", from the checkout's BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}


def report(workload, results, better):
    """Print one line per metric; `results` is a list of (base, change) pairs."""
    print("%s: %d pairs" % (workload, len(results)))
    for side, i in (("base", 0), ("change", 1)):
        bad = [k for k, r in enumerate(results) if not r[i]["correct"] or r[i]["failed"]]
        if bad:
            print("  %s runs not correct in pairs %s" % (side, bad))
    print("  %-26s %-28s %-28s %-8s %s" % ("metric", "base median (range)",
                                          "change median (range)", "better", "outside"))
    for name in results[0][0]["metrics"]:
        a = [r[0]["metrics"][name]["value"] for r in results]
        b = [r[1]["metrics"][name]["value"] for r in results]
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        mb = statistics.median(b)
        where = ("below" if mb < min(a) else "above" if mb > max(a) else "no")
        print("  %-26s %-28s %-28s %-8s %s" % (
            name, "%.4g (%.4g-%.4g)" % (statistics.median(a), min(a), max(a)),
            "%.4g (%.4g-%.4g)" % (mb, min(b), max(b)), "%d/%d" % (wins, len(results)), where))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="base revision (any git commit-ish)")
    ap.add_argument("--change", required=True, help="changed revision")
    ap.add_argument("--workload", action="append", required=True,
                    choices=("elt_day", "elt_backfill"))
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=11, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--work", required=True, help="work directory, outside the checkout")
    ap.add_argument("--json", help="write every run's result to this file")
    a = ap.parse_args()
    work = os.path.abspath(a.work)
    if os.path.commonpath([work, ROOT]) == ROOT:
        sys.exit("elt_ab: --work must be outside the checkout")

    trees = {}
    for side, rev in (("base", a.base), ("change", a.change)):
        trees[side] = os.path.join(work, side)
        print("%s: %s -> %s" % (side, rev, export(rev, trees[side])))
    better = directions()
    everything = {}
    for workload in a.workload:
        results = []
        for k in range(a.pairs):
            seed = a.seed + k
            order = ("base", "change") if k % 2 == 0 else ("change", "base")
            got = {}
            for side in order:
                log = os.path.join(work, "%s_%s_%d.log" % (workload, side, seed))
                got[side] = run(trees[side], workload, seed, a.seconds, log)
                m = got[side]["metrics"]
                print("  pair %d seed %d %-6s %s" % (k, seed, side, " ".join(
                    "%s=%.4g" % (n, m[n]["value"]) for n in m)), flush=True)
            results.append((got["base"], got["change"]))
        report(workload, results, better)
        everything[workload] = [{"seed": a.seed + k, "base": b, "change": c}
                                for k, (b, c) in enumerate(results)]
    if a.json:
        with open(a.json, "w") as f:
            json.dump(everything, f, indent=1)


if __name__ == "__main__":
    main()
