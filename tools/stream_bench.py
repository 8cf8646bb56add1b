"""Streaming-gate latency evidence (VERDICT r2 item 8): drive the St7
crawl-ingest dedup gate (streaming/jobs.streaming_dedup_gate) over N
file-based micro-batches and record per-batch trigger latency straight
from the StreamingQuery progress feed.

Usage: python tools/stream_bench.py [sf_dir] [n_batches]

Prints ONE JSON line and rewrites tools/STREAM_BENCH.json. Latencies are
the engine's own `durationMs.triggerExecution` per micro-batch — the
end-to-end foreachBatch time including the exact-dedup, the asymmetric
PPJoin against the growing corpus, and both parquet appends.
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

from imagingdb_spark.session import get_spark
from imagingdb_spark.streaming.jobs import DOCS_RAW_SCHEMA, streaming_dedup_gate


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    spark = get_spark()
    work = Path(tempfile.mkdtemp(prefix="stream_bench_"))
    watch = work / "incoming"
    watch.mkdir()
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "lang", "source"
        )
        # N micro-batch files; the LAST batch replays batch 0's docs so the
        # gate's idempotency path (match-against-own-twin) is exercised and
        # its cost shows up in the recorded latencies.
        for i in range(n_batches):
            part = docs.filter(
                F.col("doc_id") % max(1, n_batches - 1)
                == i % max(1, n_batches - 1)
            )
            part.coalesce(1).write.parquet(str(work / f"stage{i}"))
            src = next((work / f"stage{i}").glob("part-*.parquet"))
            shutil.move(str(src), str(watch / f"batch{i:03d}.parquet"))

        stream = (
            spark.readStream.schema(DOCS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)  # one file = one micro-batch
            .parquet(str(watch))
        )
        t0 = time.time()
        q = streaming_dedup_gate(
            stream,
            corpus_path=str(work / "corpus"),
            matches_path=str(work / "matches"),
            checkpoint_dir=str(work / "ckpt"),
        )
        q.processAllAvailable()
        wall = time.time() - t0
        # StreamingQueryProgress is dict-like in PySpark 4
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
        corpus_rows = spark.read.parquet(str(work / "corpus")).count()
        matches = spark.read.parquet(str(work / "matches"))
        out = {
            "metric": "stream_gate_trigger_latency",
            "unit": "ms",
            "sf": sf_dir.rstrip("/").split("sf")[-1],
            "n_batches": len(batches),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "batches": batches,
            "corpus_rows": corpus_rows,
            "match_rows": matches.count(),
        }
        line = json.dumps(out)
        print(line)
        (ROOT / "tools/STREAM_BENCH.json").write_text(line + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
