"""Per-trigger latency + state-size evidence for the two NON-idempotent
sketch streams (streaming_heavy_hitters / streaming_quantiles): drive each
over N file-based micro-batches and record the engine's triggerExecution
per batch plus the state-table row count after the run. Claim under
test: FLAT trigger latency (the fold is state × batch-partial, both
bounded, never input-history-sized — the state table is <= k+1 counter
rows / groups × O(log range / alpha) bucket rows). Batches are all
DISTINCT slices: re-delivering a slice under a NEW batch_id would not be
a replay (the txn marker keys on batch_id) and would double-count these
non-idempotent folds — replay behavior is pinned by the fresh-checkpoint
tests in tests/test_sketches.py, not measured here. The theta section
keeps a wrapped final batch on purpose: KMV union+truncate is
idempotent on ROW CONTENT, so the duplicate slice exercises the
algebraic-absorption path and must leave the sample set unchanged.

Usage: python tools/stream_bench_sketches.py [sf_dir] [n_batches]
Prints ONE JSON line and rewrites tools/STREAM_BENCH_SKETCHES.json.
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
from imagingdb_spark.operators.text import HH_SKETCH_K
from imagingdb_spark.session import get_spark
from imagingdb_spark.operators.sketches import KMV_K
from imagingdb_spark.streaming.jobs import (
    streaming_heavy_hitters,
    streaming_perplexity,
    streaming_quantiles,
    streaming_theta_sketch,
)


def _stage_batches(work: Path, parts: list, name: str) -> Path:
    watch = work / f"incoming_{name}"
    watch.mkdir()
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(work / f"stage_{name}{i}"))
        src = next((work / f"stage_{name}{i}").glob("part-*.parquet"))
        shutil.move(str(src), str(watch / f"batch{i:03d}.parquet"))
    return watch


def _run(spark, stream_factory, watch: Path, schema: str) -> tuple[list, float]:
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(watch))
    )
    t0 = time.time()
    q = stream_factory(stream)
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
    return batches, wall


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    spark = get_spark()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    work = Path(tempfile.mkdtemp(prefix="sketch_bench_"))
    out: dict = {"metric": "stream_sketch_trigger_latency", "unit": "ms",
                 "sf": sf_dir.rstrip("/").split("sf")[-1]}
    try:
        # --- heavy hitters over documents (all batches distinct) ---
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        parts = [docs.filter(F.pmod("doc_id", F.lit(n_batches)) == i)
                 for i in range(n_batches)]
        watch = _stage_batches(work, parts, "mg")
        table = str(work / "mg_state")
        batches, wall = _run(
            spark,
            lambda s: streaming_heavy_hitters(s, table, str(work / "ck_mg")),
            watch,
            "doc_id long, text string",
        )
        lat = sorted(b["trigger_ms"] for b in batches)
        state_rows = S.snapshot_read(spark, table).count()
        out["heavy_hitters"] = {
            "n_batches": len(batches),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "batches": batches,
            "state_rows": state_rows,
            "state_rows_bound": HH_SKETCH_K + 1,
        }
        assert state_rows <= HH_SKETCH_K + 1, state_rows

        # --- quantiles over lineitem prices per return flag ---
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_returnflag", "l_extendedprice"
        )
        parts = [
            li.filter(
                F.pmod(F.abs(F.xxhash64("l_extendedprice")),
                       F.lit(n_batches)) == i
            )
            for i in range(n_batches)
        ]
        watch = _stage_batches(work, parts, "dd")
        table = str(work / "dd_state")
        batches, wall = _run(
            spark,
            lambda s: streaming_quantiles(
                s, table, str(work / "ck_dd"),
                "l_extendedprice", ("l_returnflag",),
            ),
            watch,
            "l_returnflag string, l_extendedprice double",
        )
        lat = sorted(b["trigger_ms"] for b in batches)
        state = S.snapshot_read(spark, table)
        n_groups = state.select("l_returnflag").distinct().count()
        state_rows = state.count()
        out["quantiles"] = {
            "n_batches": len(batches),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "batches": batches,
            "state_rows": state_rows,
            "n_groups": n_groups,
            "state_rows_per_group": round(state_rows / max(1, n_groups), 1),
        }
        # --- theta sketches over events (user_id per event_type) ---
        ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
            "event_type", "user_id"
        )
        # the LAST batch re-delivers slice 0's ROWS under a new batch_id:
        # legitimate here (and only here) because the KMV fold is
        # idempotent on content — the duplicate slice exercises the
        # algebraic absorption path
        m = max(1, n_batches - 1)
        parts = [
            ev.filter(F.pmod(F.abs(F.xxhash64("user_id")), F.lit(m)) == i % m)
            for i in range(n_batches)
        ]
        watch = _stage_batches(work, parts, "kmv")
        table = str(work / "kmv_state")
        batches, wall = _run(
            spark,
            lambda s: streaming_theta_sketch(s, table, str(work / "ck_kmv")),
            watch,
            "event_type string, user_id long",
        )
        lat = sorted(b["trigger_ms"] for b in batches)
        state = S.snapshot_read(spark, table)
        n_groups = state.select("event_type").distinct().count()
        state_rows = state.count()
        out["theta"] = {
            "n_batches": len(batches),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "batches": batches,
            "state_rows": state_rows,
            "n_groups": n_groups,
            "state_rows_bound_per_group": KMV_K,
        }
        assert state_rows <= n_groups * KMV_K, state_rows

        # --- maintained per-language LM over documents (St18) ---
        ldocs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "lang", "text"
        )
        parts = [ldocs.filter(F.pmod("doc_id", F.lit(n_batches)) == i)
                 for i in range(n_batches)]
        watch = _stage_batches(work, parts, "lm")
        table = str(work / "lm_state")
        batches, wall = _run(
            spark,
            lambda s: streaming_perplexity(s, table, str(work / "ck_lm")),
            watch,
            "doc_id long, lang string, text string",
        )
        lat = sorted(b["trigger_ms"] for b in batches)
        state = S.snapshot_read(spark, table)
        vocab_rows = state.count()
        n_langs = state.select("lang").distinct().count()
        out["perplexity_lm"] = {
            "n_batches": len(batches),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "batches": batches,
            # state = language-conditional vocabulary (Heaps-sized), the
            # one monitor whose state IS the model, not a fixed sketch
            "state_rows": vocab_rows,
            "n_langs": n_langs,
        }

        line = json.dumps(out)
        print(line)
        (ROOT / "tools/STREAM_BENCH_SKETCHES.json").write_text(
            line + "\n"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
