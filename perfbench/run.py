#!/usr/bin/env python3
"""Benchmark command: builds the engine and the benchmark from source if
needed, then runs one workload in one local[4] Spark JVM.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--scale full|fixture] [--perturb]

The last line of stdout is the JSON result. Everything the run writes stays
under .bench_build/perfbench in the checkout; the per-run work directory
is removed when the run ends.
"""
import argparse
import glob
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["batch_k1000", "rm3_k100"]
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=["0", "1"])
    p.add_argument("--scale", default="full", choices=["full", "fixture"])
    p.add_argument("--perturb", action="store_true")
    a = p.parse_args()

    classes, jars = build.build()
    for old in glob.glob(os.path.join(build.BUILD, "run-*")):
        shutil.rmtree(old, ignore_errors=True)
    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    traces = os.path.join(build.BUILD, "traces")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    trace_out = os.path.join(traces, f"{a.workload}-seed{a.seed}.json")
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in JAVA_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", work,
              "--trace-out", trace_out, "--scale", a.scale]
           + (["--perturb"] if a.perturb else []))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"run: timed out after {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    if proc.returncode != 0 or not lines[-1].startswith("{"):
        sys.stdout.write("".join(l + "\n" for l in lines if not l.startswith("{")))
        sys.exit(f"run: benchmark JVM exited with {proc.returncode}")
    sys.stdout.write(out)


if __name__ == "__main__":
    main()
