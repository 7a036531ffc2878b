#!/usr/bin/env python3
"""Interleaved A/B of perfbench between a parent revision and this checkout.

  python3 tools/perfbench_ab.py --parent <rev> --workload rm3_k100 \
      [--pairs 10] [--seed0 101] [--seconds 10] [--work DIR] [--out runs.jsonl]

The parent revision is exported with `git archive` into DIR/parent-<sha>
(reused when it is already there); the change side is this checkout's
working tree. Pair i runs `perfbench/run.py --trace 0` once on each side
with seed seed0 + i, parent first on even pairs and change first on odd
ones, so drift in host speed falls on both sides alike.

For every end-to-end metric of BENCHMARK.json it prints each side's
median and quartiles, the median ratio, the share of pairs the change
wins (by the metric's `better` direction), and whether the medians differ
by more than the parent's interquartile range, and a no-regression
verdict against the metric's BENCHMARK.json `bound` (a relative change):
`worse` when the change's median is worse than the parent's by more than
the bound, else `unresolved` when the parent's IQR/median exceeds the
bound (its runs spread too widely to tell), else `ok`. A second table
gives `heap_retained_mb` over only the pairs whose two sides ran the same
number of calls (`attempted` - 1): the retained heap grows with the calls a
run makes in its window, so over all pairs a throughput gain reads as a heap
rise. Raw run results go
to --out as JSON lines. Exit status 1 when any run fails or is incorrect.

Noise guard: each run prints `calibration_ms=`, a fixed CPU-bound loop timed
before its set-up. A pair where either side's calibration reads more than
1.15x the session median (over every run of both sides) ran on a slowed
host; a second table gives the same columns over the remaining pairs, under
the all-pairs table, which stays the one the claim and no-regression rules
read.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NOISY = 1.15  # calibration_ms over this multiple of the session median


def export(rev, work):
    sha = subprocess.run(["git", "-C", REPO, "rev-parse", "--short", rev],
                         check=True, capture_output=True, text=True).stdout.strip()
    dest = os.path.join(work, f"parent-{sha}")
    if not os.path.isdir(dest):
        os.makedirs(dest)
        archive = subprocess.Popen(["git", "-C", REPO, "archive", sha],
                                   stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {rev} failed")
    return sha, dest


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    last = p.stdout.rstrip("\n").split("\n")[-1] if p.stdout else ""
    if p.returncode != 0 or not last.startswith("{"):
        return {"error": (p.stderr or p.stdout)[-2000:]}
    r = json.loads(last)
    calib = re.search(r"calibration_ms=([0-9.]+)", p.stdout)
    if calib:
        r["calibration_ms"] = float(calib.group(1))
    return r


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def verdict(pmed, piqr, cmed, direction, bound):
    """`worse`, `unresolved` or `ok` for one metric; see the module doc."""
    if pmed == 0:
        return "unresolved"
    worse_by = (cmed - pmed if direction == "lower" else pmed - cmed) / abs(pmed)
    if worse_by > bound:
        return "worse"
    if piqr / abs(pmed) > bound:
        return "unresolved"
    return "ok"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True, help="parent revision (e.g. HEAD~1)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=101)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--work", default=None,
                    help="scratch dir for the parent export (default: a new temp dir)")
    ap.add_argument("--out", default=None, help="JSON-lines file for raw results")
    a = ap.parse_args()

    work = a.work or tempfile.mkdtemp(prefix="perfbench-ab-")
    sha, parent_dir = export(a.parent, work)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        metrics = {m["name"]: m for m in json.load(f)["end_to_end"]}
    sides = {"parent": parent_dir, "change": REPO}
    results = {"parent": [], "change": []}
    ok = True
    out = open(a.out, "a") if a.out else None
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            r = run_once(sides[side], a.workload, seed, a.seconds)
            good = "error" not in r and r.get("correct") and r.get("failed") == 0
            ok = ok and bool(good)
            results[side].append(r if good else None)
            if out:
                out.write(json.dumps({"side": side, "rev": sha if side == "parent" else "worktree",
                                      "workload": a.workload, "seed": seed, "result": r}) + "\n")
                out.flush()
            qps = r.get("metrics", {}).get("queries_per_s", {}).get("value")
            print(f"pair {i} seed {seed} {side}: "
                  + (f"queries_per_s {qps:.2f}" if good else f"FAILED {r}"), file=sys.stderr)
    if out:
        out.close()

    print(f"{a.workload}: parent {sha} vs working tree, {a.pairs} interleaved pairs")
    both = [(p, c) for p, c in zip(results["parent"], results["change"]) if p and c]
    table(metrics, both)
    # heap_retained_mb grows with the calls a run makes in its window, so a
    # throughput change moves it; the pairs whose sides ran the same number
    # of calls compare the heap alone
    even = [(p, c) for p, c in both if p.get("attempted") == c.get("attempted")]
    print(f"equal calls: {len(even)} of {len(both)} pairs ran the same number of "
          f"calls (attempted - 1) on both sides" + (":" if even else "."))
    if even:
        table({"heap_retained_mb": metrics["heap_retained_mb"]}, even)
    calibs = [r["calibration_ms"] for pc in both for r in pc if "calibration_ms" in r]
    if calibs:
        med = statistics.median(calibs)
        quiet = [(p, c) for p, c in both
                 if all(r.get("calibration_ms", 0.0) <= NOISY * med for r in (p, c))]
        print(f"noise guard: {len(both) - len(quiet)} of {len(both)} pairs have a side with "
              f"calibration_ms > {NOISY} x the session median {med:.1f} ms; the other "
              f"{len(quiet)} pairs:")
        table(metrics, quiet)
    sys.exit(0 if ok else 1)


def table(metrics, both):
    """The per-metric table over `both`, a list of (parent, change) results."""
    print(f"{'metric':18} {'parent med [q1, q3]':>28} {'change med [q1, q3]':>28}"
          f" {'ratio':>7} {'wins':>6} {'>IQR':>5} {'verdict':>10}")
    for name, m in metrics.items():
        direction, bound = m["better"], m["bound"]
        pairs = [(p["metrics"][name]["value"], c["metrics"][name]["value"])
                 for p, c in both if name in p["metrics"] and name in c["metrics"]]
        if not pairs:
            continue
        pv = [p for p, _ in pairs]
        cv = [c for _, c in pairs]
        pq1, pmed, pq3 = quartiles(pv)
        cq1, cmed, cq3 = quartiles(cv)
        wins = sum((c > p) if direction == "higher" else (c < p) for p, c in pairs)
        sep = abs(cmed - pmed) > (pq3 - pq1)
        ratio = cmed / pmed if pmed else float("nan")
        print(f"{name:18} {pmed:10.3f} [{pq1:7.3f}, {pq3:7.3f}] {cmed:10.3f} "
              f"[{cq1:7.3f}, {cq3:7.3f}] {ratio:7.3f} {wins:3d}/{len(pairs):<2d} {str(sep):>5}"
              f" {verdict(pmed, pq3 - pq1, cmed, direction, bound):>10}")


if __name__ == "__main__":
    main()
