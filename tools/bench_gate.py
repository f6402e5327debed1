#!/usr/bin/env python3
"""Bench regression gate: diff two BENCH_r*.json files per query and flag
regressions beyond a threshold.

Usage:
    python3 tools/bench_gate.py [BENCH_prev.json BENCH_new.json]
        [--threshold 1.3] [--min-delta 0.5]

With no file arguments, picks the two highest-numbered BENCH_r*.json in
the repo root.

A query that has a time in the previous file and -1 (failed) in the new
one is flagged as a regression: Bench leaves a failed query out of its
total, so dropping it here would let a crash read as a speed-up.

Flagging rule for timed queries (all conditions must hold — r9 gate
redesign + r14 epoch normalization):
  1. EPOCH-NORMALIZED ratio (new/prev divided by the median new/prev
     ratio across the shared set) > max(--threshold, measured
     same-build amplitude)
  2. epoch-normalized delta new - prev*median > --min-delta seconds

The median normalization is the r13 verdict's #4: three rounds running,
the top adjudication burden was uniform machine-epoch drift (r13: the
bit-identical canary q96 ran 1.2-1.5x slower than its historical band,
dragging q133/q117/q115 over the raw threshold with zero code change).
The suite IS the canary: a build-wide multiplicative shift moves the
MEDIAN per-query ratio, and dividing it out leaves only structural
outliers. A genuine single-query regression barely moves the median of
140+ queries, so it still flags. Normalization needs >= 20 shared
queries (below that the median is too noisy; raw ratios apply).
Run --selftest to prove both properties on synthetic data.

The per-query amplitude comes from tools/bench_noise.json — a MEASURED
table (max/min over >=3 full-suite runs of one build on one machine),
regenerated per round by tools/make_noise_table.py, not prose. A query
whose same-build swing is 3x cannot meaningfully flag at 1.3x; one whose
swing is 1.05x can. The absolute floor exists because driver tails are
recorded on a loaded machine where sub-second queries routinely double
without any code change (r8: q79 4.16x, r9: q96 3.67x / q98 2.35x — all
judge-adjudicated noise); a plan regression that matters at 100 TB moves
seconds, not tenths.

Exit code 1 only if a flagged regression is NOT narrated in
BENCH_NOTES.md AND NOT adjudicated in tools/adjudications.json.
Narrated = the query name appears in the NEWEST "## Round N" section of
the notes (convention: newest round first) — mentions in older rounds
do not exempt new regressions. Adjudicated = the cumulative ledger has
an entry matching the query AND the exact round-pair being compared
(derived from the BENCH_rNN.json file names): the driver tail is
recorded after round close, so its flags structurally CANNOT be
narrated in that round's notes — the next round (or the judge) appends
the adjudication to the ledger instead. Per-pair matching keeps the
exemption narrow: a later genuine regression on the same query still
flags. Silent regressions are how engines rot; deliberate ones must be
written down.
"""
import json
import glob
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path, prefer_close_runs=True):
    """Accepts either the raw Bench JSON line ({"metric":...,"queries":{...}})
    or the driver's wrapper, which embeds that line inside a "tail" field of
    captured stdout.

    Preference order (r12 verdict, What's wrong #4): if the path is a
    driver-recorded BENCH_rNN.json AND the repo has a committed full
    close-run for the same round (tools/close_run_rNN.json — the complete
    per-query Bench JSON captured at round close on an idle machine), use
    the close run instead. The driver tail truncates to the last ~60
    queries and is recorded under suite load; the close run covers all
    queries of the same build, so the gate compares like with like and
    sees the full surface.

    STALENESS GUARD (ADVICE r13 #2 — the substitution must not mask a
    re-recorded BENCH file): the close run is only used when the BENCH
    file's query set is a subset of the close run's. A BENCH file
    re-recorded against a changed build carries queries the stale close
    run has never seen (every round adds queries), so the mismatch fails
    the substitution LOUDLY and the gate grades the input as given.
    Pass --no-close-runs to disable substitution entirely."""
    m = re.search(r"BENCH_(r\d+)\.json$", os.path.basename(path))
    close = None
    if m and prefer_close_runs:
        cand = os.path.join(ROOT, "tools", f"close_run_{m.group(1)}.json")
        if os.path.exists(cand):
            close = cand
    with open(path) as f:
        data = json.load(f)
    if close is not None:
        bench_qs = set(_queries_of(data, path))
        with open(close) as f:
            close_data = json.load(f)
        close_qs = set(_queries_of(close_data, close))
        if bench_qs and not bench_qs <= close_qs:
            extra = sorted(bench_qs - close_qs)[:5]
            print(f"bench_gate: NOT substituting stale close run for "
                  f"{m.group(1)}: {os.path.basename(path)} carries queries "
                  f"the close run lacks ({', '.join(extra)}...) — the BENCH "
                  f"file was re-recorded against a newer build; gating on "
                  f"it as given")
        else:
            print(f"bench_gate: using committed close run for {m.group(1)} "
                  f"({os.path.relpath(close, ROOT)}; --no-close-runs to disable)")
            data = close_data
    return _queries_of(data, path)


def _queries_of(data, path):
    """Per-query seconds from a raw Bench line or a driver wrapper."""
    if "queries" not in data and "tail" in data:
        tail = data["tail"]
        start = tail.rfind('{"metric"')
        if start >= 0:
            end = tail.find("\n", start)
            data = json.loads(tail[start:] if end < 0 else tail[start:end])
        else:
            # the driver caps 'tail' length and can cut the line's head off;
            # salvage whatever per-query pairs survive
            pairs = re.findall(r'"(q\w+)":(-?[0-9.]+)', tail)
            if not pairs:
                raise ValueError(f"{path}: no embedded bench JSON found in 'tail'")
            data = {"queries": {q: float(v) for q, v in pairs}}
    return dict(data.get("queries", {}))


def selftest():
    """Prove the epoch-normalization properties on synthetic data:
    a uniform 1.3x slowdown (pure machine epoch) must produce ZERO
    flags, while a single-query 2x regression on an otherwise-flat
    build must still flag, and so must a query that newly fails (-1).
    Exit 0 iff all hold."""
    import tempfile
    n = 60
    prev = {f"q{i:03d}_synth": 1.0 + (i % 7) * 0.5 for i in range(n)}
    uniform = {q: v * 1.3 for q, v in prev.items()}
    spike = dict(prev)
    spike["q007_synth"] = prev["q007_synth"] * 2.0
    crash = dict(prev)
    crash["q007_synth"] = -1.0
    results = []
    for name, new, expect_fail in [("uniform-1.3x", uniform, False),
                                   ("single-2x", spike, True),
                                   ("newly-failed", crash, True)]:
        with tempfile.TemporaryDirectory() as d:
            pp, np_ = os.path.join(d, "prev.json"), os.path.join(d, "new.json")
            json.dump({"queries": prev}, open(pp, "w"))
            json.dump({"queries": new}, open(np_, "w"))
            code = gate(pp, np_)
        ok = (code != 0) == expect_fail
        results.append(ok)
        verdict = "OK" if ok else (
            "WRONG — expected " + ("flag" if expect_fail else "no flag"))
        print(f"selftest {name}: exit {code} ({verdict})")
    return 0 if all(results) else 1


def main():
    argv = sys.argv[1:]
    if "--selftest" in argv:
        return selftest()
    args, threshold, min_delta = [], 1.3, 0.5
    prefer_close = True
    if "--no-close-runs" in argv:
        prefer_close = False
        argv = [a for a in argv if a != "--no-close-runs"]
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--threshold") or a.startswith("--min-delta"):
            key = "--threshold" if a.startswith("--threshold") else "--min-delta"
            if "=" in a:
                val = float(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                i += 1
                val = float(argv[i])
            else:
                print(f"bench_gate: {key} requires a value")
                return 2
            if key == "--threshold":
                threshold = val
            else:
                min_delta = val
        else:
            args.append(a)
        i += 1
    if len(args) >= 2:
        prev_path, new_path = args[0], args[1]
    else:
        benches = sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json")))
        if len(benches) < 2:
            print("bench_gate: need at least two BENCH_r*.json files")
            return 0
        prev_path, new_path = benches[-2], benches[-1]
    return gate(prev_path, new_path, threshold, min_delta, prefer_close)


def gate(prev_path, new_path, threshold=1.3, min_delta=0.5,
         prefer_close=True):
    prev, new = load(prev_path, prefer_close), load(new_path, prefer_close)
    # Narration scope: only the NEWEST round section of BENCH_NOTES.md
    # (convention: newest "## Round N" first). Matching the whole file
    # would permanently exempt any query ever mentioned in a past round.
    notes = ""
    notes_path = os.path.join(ROOT, "BENCH_NOTES.md")
    if os.path.exists(notes_path):
        whole = open(notes_path).read()
        sections = re.split(r"(?m)^## ", whole)
        notes = next((s for s in sections if s.startswith("Round")), whole)
    # Measured same-build amplitude table (query -> max/min ratio across
    # >=3 full-suite runs of ONE build). Data, not narrative: regenerate
    # with tools/make_noise_table.py after any substantial change.
    noise = {}
    noise_path = os.path.join(ROOT, "tools", "bench_noise.json")
    if os.path.exists(noise_path):
        with open(noise_path) as f:
            tbl = json.load(f)
        noise = {q: float(v) for q, v in tbl.get("amplitude", tbl).items()
                 if isinstance(v, (int, float))}
    # Cumulative adjudication ledger: (query, round-pair) -> verdict.
    # The round-pair key comes from the BENCH file names so an entry
    # exempts exactly one comparison, never the query wholesale.
    def round_tag(path):
        m = re.search(r"BENCH_(r\d+)\.json$", os.path.basename(path))
        return m.group(1) if m else os.path.basename(path)

    pair = f"{round_tag(prev_path)}->{round_tag(new_path)}"
    adjudicated = {}
    ledger_path = os.path.join(ROOT, "tools", "adjudications.json")
    if os.path.exists(ledger_path):
        with open(ledger_path) as f:
            ledger = json.load(f)
        for e in ledger.get("entries", []):
            if e.get("rounds") == pair:
                adjudicated[e["query"]] = e.get("verdict", "noise")

    print(f"bench_gate: {os.path.basename(prev_path)} -> {os.path.basename(new_path)} "
          f"(epoch-normalized ratio > max({threshold}x, measured amplitude) "
          f"AND normalized delta > {min_delta}s)")
    failed = sorted(q for q in set(prev) & set(new) if prev[q] >= 0 > new[q])
    shared = sorted(q for q in set(prev) & set(new) if prev[q] >= 0 and new[q] >= 0)
    tp = sum(prev[q] for q in shared)
    tn = sum(new[q] for q in shared)
    if tp > 0:
        print(f"shared {len(shared)} queries: {tp:.2f}s -> {tn:.2f}s "
              f"({(tn - tp) / tp:+.1%} vs prev)")
    # Epoch normalization (r13 verdict #4): the median per-query ratio
    # captures build-wide multiplicative drift (thermal/load/JIT epoch of
    # the machine); dividing it out leaves structural outliers only.
    # Needs enough shared queries for a stable median.
    ratios = sorted(new[q] / prev[q] for q in shared if prev[q] > 0)
    epoch = 1.0
    if len(ratios) >= 20:
        mid = len(ratios) // 2
        epoch = (ratios[mid] if len(ratios) % 2 == 1
                 else (ratios[mid - 1] + ratios[mid]) / 2)
        print(f"epoch ratio (median of {len(ratios)} shared): {epoch:.3f}x "
              f"— flags are normalized by it")
    silent = []

    def flag(q, what):
        narrated = q.split("_")[0] in notes
        if narrated:
            tag = "narrated"
        elif q in adjudicated:
            tag = f"adjudicated:{adjudicated[q]} ({pair})"
        else:
            tag = "SILENT"
        print(f"  REGRESSION {q}: {what} [{tag}]")
        if not narrated and q not in adjudicated:
            silent.append(q)

    for q in failed:
        flag(q, f"{prev[q]:.2f}s -> FAILED")
    for q in shared:
        raw = new[q] / prev[q] if prev[q] > 0 else float("inf")
        ratio = raw / epoch
        eff = max(threshold, noise.get(q, 1.0))
        if ratio > eff and new[q] - prev[q] * epoch > min_delta:
            amp = f", amplitude {noise[q]:.2f}x" if q in noise else ""
            flag(q, f"{prev[q]:.2f}s -> {new[q]:.2f}s "
                    f"({raw:.2f}x raw, {ratio:.2f}x normalized{amp})")
    added = sorted(set(new) - set(prev))
    removed = sorted(set(prev) - set(new))
    if added:
        print(f"new queries: {', '.join(added)}")
    if removed:
        print(f"removed queries: {', '.join(removed)}")
    if silent:
        print(f"FAIL: {len(silent)} silent regression(s) — narrate them in BENCH_NOTES.md")
        return 1
    print("OK: no silent regressions")
    return 0


if __name__ == "__main__":
    sys.exit(main())
