#!/usr/bin/env python3
"""Check that a parent revision and this checkout build the same index.

  python3 tools/same_index.py --parent <rev> [--seed 4001] [--work DIR]

Exports the parent with `git archive` into DIR/parent-<sha> (as
tools/perfbench_ab.py does, and reused from it), builds perfbench on each
side, and runs one short `rm3_k100` perfbench pass per side whose work
directory is kept, so the index it built stays at DIR/index-<side>. Then
compares the two index directories with pyarrow: postings (term, salt, df,
count, maxImpact and block bytes), docs rows, docmap ids, termstats and the
(docIntId, term, tf) pair sets of `docvecs` (or of `segments`, where a side
still has that table). Prints each table's parquet bytes and file count.
Exit status 1 when any comparison differs.
"""
import argparse
import glob
import os
import shutil
import subprocess
import sys
import tempfile

import pyarrow.dataset as ds

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
from perfbench_ab import REPO, export  # noqa: E402

TABLES = ["postings", "docvecs", "segments", "docs", "docmap", "termstats"]


def build_index(checkout, seed, work):
    sys.path.insert(0, os.path.join(checkout, "perfbench"))
    import build
    import run
    sys.path.pop(0)
    classes, jars = build.build()
    del sys.modules["build"], sys.modules["run"]
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens=java.base/{m}=ALL-UNNAMED" for m in run.JAVA_OPENS]
           + ["-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "graft.perfbench.Main", "--workload", "rm3_k100", "--seed", str(seed),
              "--seconds", "1", "--trace", "0", "--work", work,
              "--trace-out", os.path.join(work, "trace.json"), "--scale", "full"])
    out = subprocess.run(cmd, capture_output=True, text=True).stdout.strip()
    if not out.endswith("}"):
        sys.exit(f"perfbench run in {checkout} gave no result")
    return os.path.join(work, "index")


def rows(index, table):
    return ds.dataset(os.path.join(index, table), format="parquet",
                      partitioning="hive").to_table().to_pylist()


def pairs(index):
    if os.path.isdir(os.path.join(index, "segments")):
        return sorted((r["docIntId"], r["term"], r["tf"]) for r in rows(index, "segments"))
    return sorted((r["docIntId"], t, f) for r in rows(index, "docvecs")
                  for t, f in zip(r["terms"], r["tfs"]))


CHECKS = {
    "postings": lambda i: sorted(
        (r["term"], r["salt"], r["df"], r["count"], r["maxImpact"],
         tuple((b["first"], b["last"], b["max"], b["n"], b["ids"], b["imps"])
               for b in r["blocks"])) for r in rows(i, "postings")),
    "docs": lambda i: sorted((r["docIntId"], r["docId"], r["len"], r["salt"])
                             for r in rows(i, "docs")),
    "docmap": lambda i: sorted((r["docId"], r["docIntId"], r["salt"])
                               for r in rows(i, "docmap")),
    "termstats": lambda i: sorted((r["term"], r["df"], r["ctf"])
                                  for r in rows(i, "termstats")),
    "(docIntId, term, tf) pairs": pairs,
}


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--parent", required=True)
    p.add_argument("--seed", type=int, default=4001)
    p.add_argument("--work")
    a = p.parse_args()
    work = a.work or tempfile.mkdtemp(prefix="same-index-")
    sha, parent = export(a.parent, work)
    sides = {"parent": build_index(parent, a.seed, os.path.join(work, "index-parent")),
             "change": build_index(REPO, a.seed, os.path.join(work, "index-change"))}
    for side, index in sides.items():
        print(f"{side} ({sha if side == 'parent' else 'worktree'}):")
        for t in TABLES:
            files = glob.glob(os.path.join(index, t, "**", "*.parquet"), recursive=True)
            if files:
                mb = sum(os.path.getsize(f) for f in files) / 1e6
                print(f"  {t:10s} {mb:.3f} MB in {len(files)} files")
    same = True
    for name, f in CHECKS.items():
        x, y = f(sides["parent"]), f(sides["change"])
        print(f"{name}: {len(x)} vs {len(y)} rows, identical={x == y}")
        same &= x == y
    sys.exit(0 if same else 1)


if __name__ == "__main__":
    main()
