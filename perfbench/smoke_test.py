#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at fixture scale (600 docs).

  python3 perfbench/smoke_test.py

Checks that
  - every workload in BENCHMARK.json emits exactly the declared end-to-end
    metrics (--trace 0) and per-layer metrics (--trace 1), each with its
    declared unit, with correct=true and failed=0;
  - the output check rejects a perturbed result (--perturb: one sampled
    top score raised by ten times the tolerance);
  - the command fails, without printing a result, in a directory holding
    only BENCHMARK.json and the benchmark's own files.
Exits non-zero on the first failed check.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args, cwd=ROOT):
    p = subprocess.run([sys.executable, os.path.join("perfbench", "run.py")] + args,
                       cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().split("\n")
    result = json.loads(lines[-1]) if lines[-1].startswith("{") else None
    return p.returncode, result


def check(cond, what):
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    declared = {"0": {m["name"]: m["unit"] for m in bench["end_to_end"]},
                "1": {m["name"]: m["unit"] for m in bench["per_layer"]}}
    fixture = ["--seed", "7", "--seconds", "1", "--scale", "fixture"]

    for w in [w["name"] for w in bench["workloads"]]:
        for trace in ("0", "1"):
            rc, r = run(["--workload", w, "--trace", trace] + fixture)
            check(rc == 0 and r is not None, f"{w} trace={trace}: exits 0 with a result")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            check(got == declared[trace],
                  f"{w} trace={trace}: declared metrics and units "
                  f"(missing {sorted(set(declared[trace]) - set(got))}, "
                  f"extra {sorted(set(got) - set(declared[trace]))})")
            check(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
                  f"{w} trace={trace}: correct, failed_ops_frac = 0")

    rc, r = run(["--workload", "batch_k1000", "--trace", "0", "--perturb"] + fixture)
    check(rc == 0 and r is not None and not r["correct"] and r["failed"] >= 1,
          "output check rejects a perturbed result")

    bare = os.path.join(ROOT, ".bench_build", "perfbench-smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, r = run(["--workload", "batch_k1000", "--trace", "0"] + fixture, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and r is None, "fails without a result when the engine sources are absent")


if __name__ == "__main__":
    main()
