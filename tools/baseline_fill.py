"""Measure every oracle-checked query on Spark (local[32]) and DuckDB at a
given SF and rewrite the per-query table at the end of BASELINE.md.

Usage: python tools/baseline_fill.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb

from imagingdb_spark import registry
from imagingdb_spark.catalog import TPCH_TABLES
from imagingdb_spark.session import get_spark

MARKER = "| query | sf | spark (s) | duckdb oracle (s) | ratio | notes |"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    sf = sf_dir.rstrip("/").split("sf")[-1]
    registry.load_all()
    spark = get_spark()

    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    # Warm both engines (JIT, file cache) on one cheap query, and the
    # python worker pool (one worker per core imports pandas — the cold
    # fork+import otherwise lands on the first wide pandas stage; see
    # SCALING.md finding 8).
    next(iter(registry.QUERIES.values()))(spark, sf_dir).count()
    spark.range(0, 3200, 1, numPartitions=32).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    # min-of-N per query ACROSS INTERLEAVED LAPS — the same protocol
    # bench.py uses, for the same two reasons: (a) a single sample in an
    # 80+-query sweep picks up one-off GC pauses / worker-pool churn
    # (r2 x_dedup_simhash 16.75s-vs-4s, r3 x_bm25 15.9s-vs-3.5s);
    # (b) BACK-TO-BACK reps sit inside one contention window, so they
    # systematically under-read sub-second queries relative to bench.py's
    # lap-interleaved mins (measured: an x_retention row of 0.25 s from
    # back-to-back reps vs 0.44 s from the interleaved bench in the SAME
    # session — a phantom 1.8x "regression" that was pure protocol
    # mismatch). Matching protocols makes the ratio an estimator of code
    # change, not of sweep scheduling.
    reps = 2
    names = sorted(registry.QUERIES)
    spark_min: dict[str, float] = {}
    duck_min: dict[str, float] = {}
    for _ in range(reps):
        for name in names:
            spark.catalog.clearCache()
            t0 = time.time()
            registry.QUERIES[name](spark, sf_dir).count()
            s = time.time() - t0
            spark_min[name] = min(s, spark_min.get(name, s))
        for name in names:
            if name not in registry.ORACLE:
                continue
            t0 = time.time()
            con.execute(registry.ORACLE[name]).fetchall()
            s = time.time() - t0
            duck_min[name] = min(s, duck_min.get(name, s))
    spark.catalog.clearCache()
    lines = []
    total_s = total_d = 0.0
    for name in names:
        spark_s = spark_min[name]
        if name in registry.ORACLE:
            duck_s = duck_min[name]
            ratio = f"{spark_s / duck_s:.1f}x" if duck_s > 0 else "-"
            duck_cell = f"{duck_s:.2f}"
            total_d += duck_s
        else:
            duck_cell, ratio = "n/a (rows-only)", "-"
        total_s += spark_s
        lines.append(f"| {name} | {sf} | {spark_s:.2f} | {duck_cell} | {ratio} | |")
        print(lines[-1], flush=True)
    lines.append(
        f"| **total** | {sf} | **{total_s:.2f}** | **{total_d:.2f}** "
        f"(oracle-checked only) | | single process, local[32], warm |"
    )

    path = ROOT / "BASELINE.md"
    text = path.read_text()
    head = text.split(MARKER)[0]
    table = MARKER + "\n|---|---|---|---|---|---|\n" + "\n".join(lines) + "\n"
    note = (
        "\nSpark per-query times are the MIN across 2 INTERLEAVED full laps\n"
        "(cache cleared before every run) of full plan build + execution in\n"
        "a warm session — the same lap protocol as bench.py, so the\n"
        "bench-vs-baseline ratio measures code change, not sweep scheduling\n"
        "(back-to-back reps sit inside one contention window and under-read\n"
        "sub-second queries by up to ~1.8x relative to interleaved mins).\n"
        "DuckDB (same interleaved min-of-2) is the single-node embedded\n"
        "oracle on identical parquet; Spark carries JVM task-scheduling\n"
        "overhead at this tiny SF that amortizes away at real scale.\n"
    )
    path.write_text(head + table + note)
    print("BASELINE.md updated")


if __name__ == "__main__":
    main()
