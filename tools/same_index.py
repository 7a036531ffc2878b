#!/usr/bin/env python3
"""Check that a parent revision and this checkout build the same index.

  python3 tools/same_index.py --parent <rev> [--seed 4001] [--work DIR]
  python3 tools/same_index.py --dirs <parent index> <change index>

Exports the parent with `git archive` into DIR/parent-<sha> (as
tools/perfbench_ab.py does, and reused from it), builds perfbench on each
side, and runs one short `rm3_k100` perfbench pass per side whose work
directory is kept, so the index it built stays at DIR/index-<side>
(`--dirs` compares two existing index directories instead). Prints each
table's parquet bytes and file count, then compares the two indexes with
pyarrow, keyed by docId: postings impacts per (term, docId) with the ids
resolved through the docs dimension, (docId, term, tf) pairs of `docvecs`
(or of `segments`, where a side still has that table), docs (docId, len)
rows and termstats. The docs dimension is the `docs` table where a side
has one, else the (docIntId, docId, len, salt) projection of `docvecs`.
Exit status 1 when any of these differs. A second block compares by raw
docIntId (postings with their block bytes, docs rows, pairs). It is
informational: it holds while both sides number each doc by its docId rank
in its hash partition of P, as the docmap table did and the segment groups
now do at any numSegmentGroups; top-k ties break by docIntId, so it shows
whether tied results keep their order.
"""
import struct
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


def docs(index):
    """The docs table, or the docs projection of the packed docvecs rows."""
    table = "docs" if os.path.isdir(os.path.join(index, "docs")) else "docvecs"
    return [{c: r[c] for c in ("docIntId", "docId", "len", "salt")}
            for r in rows(index, table)]


def doc_ids(index):
    return {r["docIntId"]: r["docId"] for r in docs(index)}


def decode_ids(data, n):
    """Codec.decodeDeltaVarByte: n delta-coded 7-bit varints."""
    out, pos, prev = [], 0, 0
    for i in range(n):
        v = shift = 0
        while True:
            b = data[pos]
            pos += 1
            v |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        prev = v if i == 0 else prev + v
        out.append(prev)
    return out


def doc_pairs(index):
    ids = doc_ids(index)
    return sorted((ids[d], t, f) for d, t, f in pairs(index))


def impacts(index):
    ids = doc_ids(index)
    return sorted((r["term"], ids[d], imp) for r in rows(index, "postings")
                  for b in r["blocks"]
                  for d, imp in zip(decode_ids(b["ids"], b["n"]),
                                    struct.unpack(f"<{b['n']}f", b["imps"])))


BY_DOC_ID = {
    "postings impacts per (term, docId)": impacts,
    "(docId, term, tf) pairs": doc_pairs,
    "docs (docId, len)": lambda i: sorted((r["docId"], r["len"]) for r in docs(i)),
    "termstats": lambda i: sorted((r["term"], r["df"], r["ctf"])
                                  for r in rows(i, "termstats")),
}

BY_RAW_ID = {
    "postings": lambda i: sorted(
        (r["term"], r["salt"], r["df"], r["count"], r["maxImpact"],
         tuple((b["first"], b["last"], b["max"], b["n"], b["ids"], b["imps"])
               for b in r["blocks"])) for r in rows(i, "postings")),
    "docs": lambda i: sorted((r["docIntId"], r["docId"], r["len"], r["salt"])
                             for r in docs(i)),
    "(docIntId, term, tf) pairs": pairs,
}


def compare(checks, sides):
    same = True
    for name, f in checks.items():
        x, y = f(sides["parent"]), f(sides["change"])
        print(f"  {name}: {len(x)} vs {len(y)} rows, identical={x == y}")
        same &= x == y
    return same


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--parent")
    p.add_argument("--dirs", nargs=2, metavar=("PARENT_INDEX", "CHANGE_INDEX"))
    p.add_argument("--seed", type=int, default=4001)
    p.add_argument("--work")
    a = p.parse_args()
    if a.dirs:
        sides = dict(zip(["parent", "change"], a.dirs))
    elif a.parent:
        work = a.work or tempfile.mkdtemp(prefix="same-index-")
        sha, parent = export(a.parent, work)
        sides = {"parent": build_index(parent, a.seed, os.path.join(work, "index-parent")),
                 "change": build_index(REPO, a.seed, os.path.join(work, "index-change"))}
    else:
        p.error("give --parent or --dirs")
    for side, index in sides.items():
        print(f"{side} ({index}):")
        for t in TABLES:
            files = glob.glob(os.path.join(index, t, "**", "*.parquet"), recursive=True)
            if files:
                mb = sum(os.path.getsize(f) for f in files) / 1e6
                print(f"  {t:10s} {mb:.3f} MB in {len(files)} files")
    print("by docId:")
    same = compare(BY_DOC_ID, sides)
    print("by raw docIntId (informational):")
    compare(BY_RAW_ID, sides)
    sys.exit(0 if same else 1)


if __name__ == "__main__":
    main()
