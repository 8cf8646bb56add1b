"""Per-query phase profiler for the optimization rounds (guide §1).

For each requested query (default: bench.py's HEADLINE list) this times,
separately, with the same warmup discipline as bench.py:

- build_s: the Python call ``QUERIES[name](spark, sf_dir)`` — plan
  construction INCLUDING any driver-side work the query does internally
  (training collects, histogram collects, codebook fits).
- exec_s: the terminal action. ``--sink noop`` computes every column of
  every row via the no-op data source (guide §1.4); default ``count``
  matches bench.py's timed action so numbers line up with BENCH_rNN.

Usage: python tools/profile_bench.py [--sf DIR] [--sink noop|count]
           [--reps N] [query ...]
Prints one line per query and a JSON tail, sorted by total desc.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, "/root/repo")

from bench import HEADLINE
from imagingdb_spark import registry
from imagingdb_spark.session import get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--sink", choices=["count", "noop"], default="count")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    registry.load_all()
    names = args.queries or HEADLINE
    spark = get_spark("profile")
    sc = spark.sparkContext

    # same warmup as bench.py: parquet footers + python worker pool
    spark.read.parquet(f"{args.sf}/lineitem.parquet").count()

    def _warm(it):
        for pdf in it:
            yield pdf

    spark.range(0, 3200, 1, numPartitions=32).mapInPandas(
        _warm, schema="id long"
    ).count()
    for name in names:  # untimed lap: codegen/JIT
        registry.QUERIES[name](spark, args.sf).count()
        spark.catalog.clearCache()

    out = {}
    for _ in range(args.reps):
        for name in names:
            sc.setJobDescription(f"profile:{name}")
            t0 = time.perf_counter()
            df = registry.QUERIES[name](spark, args.sf)
            t1 = time.perf_counter()
            if args.sink == "noop":
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            t2 = time.perf_counter()
            spark.catalog.clearCache()
            sc.setJobDescription(None)
            b, e = t1 - t0, t2 - t1
            prev = out.get(name)
            if prev is None or b + e < prev["build_s"] + prev["exec_s"]:
                out[name] = {"build_s": round(b, 3), "exec_s": round(e, 3)}

    for name in sorted(out, key=lambda n: -(out[n]["build_s"] + out[n]["exec_s"])):
        r = out[name]
        print(
            f"# {name}: total={r['build_s'] + r['exec_s']:.3f}s "
            f"build={r['build_s']:.3f}s exec={r['exec_s']:.3f}s",
            file=sys.stderr,
        )
    print(json.dumps({"sink": args.sink, "sf": args.sf, "queries": out}))


if __name__ == "__main__":
    main()
