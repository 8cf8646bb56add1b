"""Durability probe of the ingest workload, run as a separate process with
its own JVM that never takes part in the writes:

    python3 perfbench/reopen.py <catalog_dir>

It starts its session, warms it on generated rows (never on the catalog),
prints ``ready``, then waits for the path of a JSON
file on stdin naming the dataset serials the writer acknowledged. It prints
one JSON line: the frame count of each of those serials as read back
through the catalog tip, and the number of published catalog versions.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)


def main(catalog: str) -> int:
    from pyspark.sql import functions as F

    from imagingdb_spark import snapcatalog
    from imagingdb_spark.catalog import IMAGING_SCHEMAS
    from imagingdb_spark.session import get_spark
    from run import stop_spark

    spark = get_spark("perfbench-reopen")
    try:
        spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
        print("ready", flush=True)
        line = sys.stdin.readline().strip()
        if not line:
            return 1
        with open(line) as f:
            serials = sorted(json.load(f))
        v = snapcatalog.catalog_views(spark, catalog, IMAGING_SCHEMAS)
        rows = (
            v["frames"]
            .join(v["frames_global"], v["frames"].frames_global_id == v["frames_global"].id)
            .join(v["data_set"], v["frames_global"].dataset_id == v["data_set"].id)
            .filter(F.col("dataset_serial").isin(serials))
            .groupBy("dataset_serial")
            .count()
            .collect()
        )
    finally:
        stop_spark()
    print(json.dumps({
        "frames": {r["dataset_serial"]: r["count"] for r in rows},
        "versions": len(snapcatalog.catalog_versions(catalog)),
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
