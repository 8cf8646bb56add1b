"""Per-trigger latency + state-size evidence for the mergeable-HLL
streaming job (streaming/jobs.streaming_distinct_hll): drive it over N
file-based micro-batches of events and record the engine's own
triggerExecution per batch plus the state-table row count after each —
the claims under test are FLAT trigger latency (the merge is state ×
partial, both window-bounded, never input-history-sized) and BOUNDED
state (≤ 4096 register rows per window at any key cardinality).

Usage: python tools/stream_bench_hll.py [sf_dir] [n_batches]
Prints ONE JSON line and rewrites tools/STREAM_BENCH_HLL.json.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import functions as F

from imagingdb_spark import snapshots as S
from imagingdb_spark.operators.sketches import HLL_M
from imagingdb_spark.session import get_spark
from imagingdb_spark.streaming.jobs import streaming_distinct_hll


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    spark = get_spark()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    work = Path(tempfile.mkdtemp(prefix="hll_bench_"))
    watch = work / "incoming"
    watch.mkdir()
    try:
        events = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            F.col("ts").cast("timestamp").alias("ts"), "event_type", "user_id"
        )
        # the LAST batch replays batch 0's rows: the idempotent-merge
        # path's cost shows up in the recorded latencies
        for i in range(n_batches):
            part = events.filter(
                F.col("user_id") % max(1, n_batches - 1)
                == i % max(1, n_batches - 1)
            )
            part.coalesce(1).write.parquet(str(work / f"stage{i}"))
            src = next((work / f"stage{i}").glob("part-*.parquet"))
            shutil.move(str(src), str(watch / f"batch{i:03d}.parquet"))

        stream = (
            spark.readStream.schema("ts timestamp, event_type string, user_id long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(watch))
        )
        table = str(work / "hll_state")
        t0 = time.time()
        q = streaming_distinct_hll(stream, table, str(work / "ckpt"))
        q.processAllAvailable()
        wall = time.time() - t0
        progress = list(q.recentProgress)
        q.stop()

        batches = [
            {
                "batch_id": p["batchId"],
                "input_rows": p["numInputRows"],
                "trigger_ms": p["durationMs"]["triggerExecution"],
            }
            for p in progress
            if p["numInputRows"] > 0
        ]
        lat = sorted(b["trigger_ms"] for b in batches)
        state = S.snapshot_read(spark, table)
        n_windows = state.select("window_start", "event_type").distinct().count()
        state_rows = state.count()
        out = {
            "metric": "stream_hll_trigger_latency",
            "unit": "ms",
            "sf": sf_dir.rstrip("/").split("sf")[-1],
            "n_batches": len(batches),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "batches": batches,
            "state_rows": state_rows,
            "n_windows": n_windows,
            "max_rows_per_window_bound": HLL_M,
            "state_rows_per_window": round(state_rows / max(1, n_windows), 1),
        }
        line = json.dumps(out)
        print(line)
        (ROOT / "tools/STREAM_BENCH_HLL.json").write_text(line + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
