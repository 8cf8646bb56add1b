"""Interleaved A/B bench for the optimization rounds (guide §1): time the
same query list under two repo checkouts (A = current tree, B = a baseline
worktree), alternating A/B per lap so ambient noise hits both sides, and
report per-query MIN across laps (bench.py's own discipline) plus the lap
matrix.

Each side runs in a fresh subprocess (own SparkSession) with bench.py's
warmup: parquet footer prime, python-worker pool prime, one untimed lap.

Usage: python tools/ab_bench.py --b-root /tmp/r11_base [--laps 3]
           [--cpus 32] [--sf /root/testdata/sf0.1] query...
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

RUNNER = r"""
import json, sys, time
sys.path.insert(0, {root!r})
from imagingdb_spark import registry
from imagingdb_spark.session import get_spark

names = {names!r}
sf_dir = {sf!r}
registry.load_all()
spark = get_spark("ab")
spark.read.parquet(f"{{sf_dir}}/lineitem.parquet").count()
def _w(it):
    for p in it:
        yield p
import os
spark.range(0, 3200, 1, numPartitions=int(os.environ.get("SPARK_GRAFT_CPUS", "32"))).mapInPandas(_w, schema="id long").count()
for n in names:  # untimed codegen lap
    registry.QUERIES[n](spark, sf_dir).count()
    spark.catalog.clearCache()
out = {{}}
for n in names:
    t0 = time.perf_counter()
    df = registry.QUERIES[n](spark, sf_dir)
    df.count()
    out[n] = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
print("ABJSON:" + json.dumps(out))
"""


def run_side(root: str, names: list[str], sf: str, cpus: str) -> dict:
    code = RUNNER.format(root=root, names=names, sf=sf)
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, PYTHONPATH=root)
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as f:
        f.write(code)
        path = f.name
    try:
        r = subprocess.run(
            [sys.executable, path], env=env, capture_output=True, text=True,
            timeout=1800,
        )
        for line in r.stdout.splitlines():
            if line.startswith("ABJSON:"):
                return json.loads(line[len("ABJSON:"):])
        print(r.stdout[-2000:], file=sys.stderr)
        print(r.stderr[-2000:], file=sys.stderr)
        raise RuntimeError(f"side {root} produced no ABJSON")
    finally:
        os.unlink(path)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--b-root", required=True)
    ap.add_argument(
        "--a-root", default=str(Path(__file__).resolve().parents[1])
    )
    ap.add_argument("--laps", type=int, default=3)
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    a_laps, b_laps = [], []
    for lap in range(args.laps):
        a_laps.append(run_side(args.a_root, args.queries, args.sf, args.cpus))
        print(f"lap {lap+1} A: {json.dumps(a_laps[-1])}", flush=True)
        b_laps.append(run_side(args.b_root, args.queries, args.sf, args.cpus))
        print(f"lap {lap+1} B: {json.dumps(b_laps[-1])}", flush=True)

    summary = {}
    for n in args.queries:
        a = min(l[n] for l in a_laps)
        b = min(l[n] for l in b_laps)
        summary[n] = {"A_min": a, "B_min": b, "ratio": round(a / b, 3) if b else None}
    print("SUMMARY " + json.dumps(summary, indent=1))


if __name__ == "__main__":
    main()
