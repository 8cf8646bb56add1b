"""Manifest-pruned gate-index read evidence (round-7 verdict item 5):
build a snapshot-format band index of ~1k files clustered on bkey (the
pHash/audio gates' one index form, as their periodic snapshot_compact
leaves it), then measure — for a series of micro-batch
sized probes — how many manifest files a trigger's
``snapshot_read(..., where=[("bkey", "in", <batch keys>)])`` actually
opens, and that the pruned match set equals the unpruned one.

Usage: python tools/stream_bench_idx.py [sf_dir] [n_probes]

Prints ONE JSON line and rewrites tools/STREAM_BENCH_IDX.json.
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
from imagingdb_spark.multimodal import phash_band_col, phash_frames, synth_frames
from imagingdb_spark.session import get_spark


def _band_rows(hashed):
    return (
        hashed.select(
            "frame_id", "phash", F.explode(phash_band_col("phash")).alias("b")
        )
        .select("frame_id", "phash", "b.band_idx", "b.band_value")
        .withColumn(
            "bkey", (F.col("band_idx") * 256 + F.col("band_value")).cast("long")
        )
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_probes = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    spark = get_spark()
    work = Path(tempfile.mkdtemp(prefix="stream_bench_idx_"))
    idx_dir = str(work / "idx_bands")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        id_cols = [
            "dataset_serial", "channel_idx", "slice_idx", "time_idx", "pos_idx"
        ]
        frames = synth_frames(docs)
        hashed = (
            frames.join(F.broadcast(phash_frames(frames)), id_cols)
            .withColumn("frame_id", F.concat_ws("_", *id_cols))
            .select("frame_id", "phash")
            .persist()
        )
        n_corpus = hashed.count()
        # corpus index: commit then CLUSTER on bkey into ~1k files (the
        # "compacted 1k-file corpus" shape) — pruning power comes from
        # each file covering only ~2 of the 2048 bkey values, which is
        # exactly the shape a 100 TB index has at the production 256 KB
        # target (here the target is scaled down to reach 1k files on
        # toy data)
        S.snapshot_commit(spark, idx_dir, _band_rows(hashed))
        total_bytes = S.snapshot_versions(idx_dir)[-1]["bytes"]
        S.snapshot_compact(
            spark,
            idx_dir,
            target_file_bytes=max(1, total_bytes // 1024),
            cluster_cols=["bkey"],
        )
        files_total = S.snapshot_scan_plan(idx_dir, [("bkey", ">=", 0)])[
            "files_total"
        ]

        full_idx = S.snapshot_read(spark, idx_dir)
        probes = []
        # trigger sizes sweep small -> large: a gate's steady-state
        # trigger is tens of rows, where the manifest skip is strongest
        sizes = [8, 25, 75, 200][:n_probes] or [25]
        for p, size in enumerate(sizes):
            batch = hashed.filter(
                F.pmod(F.xxhash64("frame_id"), F.lit(max(1, n_corpus // size)))
                == p
            )
            bkeys = sorted(
                r["bkey"]
                for r in _band_rows(batch).select("bkey").distinct().collect()
            )
            t0 = time.perf_counter()
            plan = S.snapshot_scan_plan(idx_dir, [("bkey", "in", bkeys)])
            plan_ms = round((time.perf_counter() - t0) * 1000, 1)
            pruned = S.snapshot_read(
                spark, idx_dir, where=[("bkey", "in", bkeys)]
            )
            n_pruned = pruned.count()
            n_full = full_idx.filter(F.col("bkey").isin(bkeys)).count()
            assert n_pruned == n_full, (n_pruned, n_full)
            probes.append(
                {
                    "probe": p,
                    "batch_rows": batch.count(),
                    "n_bkeys": len(bkeys),
                    "files_total": plan["files_total"],
                    "files_kept": plan["files_kept"],
                    "groups_opened": plan["groups_opened"],
                    "plan_ms": plan_ms,
                    "rows_match": True,
                }
            )
        # ---- text gate: token-keyed prefix index (unbounded key domain:
        # pruning comes from range-clustered hash keys, not a fixed key
        # space — the probe keeps ~(probe tokens)/(files) × total files)
        from imagingdb_spark.operators.dedup import (
            canonical_prefixes,
            canonical_toksets,
        )

        pref_dir = str(work / "idx_prefix")
        full_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "lang", "source"
        )
        toksets = canonical_toksets(full_docs).persist()
        n_docs = toksets.count()
        S.snapshot_commit(spark, pref_dir, canonical_prefixes(toksets))
        pref_bytes = S.snapshot_versions(pref_dir)[-1]["bytes"]
        S.snapshot_compact(
            spark,
            pref_dir,
            target_file_bytes=max(1, pref_bytes // 1024),
            cluster_cols=["token"],
        )
        pref_total = S.snapshot_scan_plan(pref_dir, [("doc_id", ">=", 0)])[
            "files_total"
        ]
        full_pref = S.snapshot_read(spark, pref_dir)
        pref_probes = []
        for p, size in enumerate(sizes):
            batch = toksets.filter(
                F.pmod(F.xxhash64(F.col("doc_id").cast("string")),
                       F.lit(max(1, n_docs // size))) == p
            )
            ptoks = sorted(
                r["token"]
                for r in canonical_prefixes(batch)
                .select("token")
                .distinct()
                .collect()
            )
            if not ptoks:
                continue
            plan = S.snapshot_scan_plan(pref_dir, [("token", "in", ptoks)])
            n_pruned = S.snapshot_read(
                spark, pref_dir, where=[("token", "in", ptoks)]
            ).count()
            n_full = full_pref.filter(F.col("token").isin(ptoks)).count()
            assert n_pruned == n_full, (n_pruned, n_full)
            pref_probes.append(
                {
                    "probe": p,
                    "batch_docs": batch.count(),
                    "n_tokens": len(ptoks),
                    "files_total": plan["files_total"],
                    "files_kept": plan["files_kept"],
                    "rows_match": True,
                }
            )
        out = {
            "metric": "gate_index_manifest_pruning",
            "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
            "corpus_rows": n_corpus,
            "index_rows": n_corpus * 8,
            "files_total": files_total,
            "kept_over_total": round(
                sum(pr["files_kept"] for pr in probes)
                / max(1, sum(pr["files_total"] for pr in probes)),
                4,
            ),
            "probes": probes,
            "prefix_index": {
                "docs": n_docs,
                "files_total": pref_total,
                "probes": pref_probes,
            },
        }
        line = json.dumps(out)
        print(line)
        (Path(__file__).parent / "STREAM_BENCH_IDX.json").write_text(
            line + "\n"
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
