"""Streaming image-gate latency evidence (St10): drive the pHash ingest
gate (streaming/jobs.streaming_phash_gate) over N file-based micro-batches
of REAL PNG frames (multimodal.synth_frames over the documents table) and
record per-batch trigger latency from the StreamingQuery progress feed —
the image twin of tools/stream_bench.py.

Usage: python tools/stream_bench_phash.py [sf_dir] [n_batches]

Prints ONE JSON line and rewrites tools/STREAM_BENCH_PHASH.json. Latencies
are the engine's own `durationMs.triggerExecution` per micro-batch — the
end-to-end foreachBatch time including PNG decode + DCT pHash, the
batch-internal exact collapse, the broadcast band-index match, and all
three parquet appends. The LAST batch replays batch 0's frames so the
idempotency path's cost shows up in the recorded latencies.

A second CRAWL-MODE section re-runs the gate over the same frames with
the payload mix a fetcher produces — PNG/BMP/GIF/JPEG by magic bytes
(multimodal.decode_any), planted CROSS-FORMAT duplicates (the same
picture as PNG in one batch and BMP/GIF in a later one), and poisoned
truncated payloads — with on_decode_error="skip". Recorded: per-batch
latency, the cross-format matches caught, and the poison rows skipped
without failing a trigger.
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

from imagingdb_spark.multimodal import synth_frames
from imagingdb_spark.session import get_spark
from imagingdb_spark.streaming.jobs import read_frames_stream, streaming_phash_gate


_FMTS = ("png", "bmp", "gif", "jpeg")


def _reencode_frames(frames):
    """PNG-payload frames → mixed-format payloads (format by doc serial
    hash; executor-side, the same mapInPandas shape the gate uses)."""

    def conv(it):
        from imagingdb_spark import jpeg as jpegc
        from imagingdb_spark import png as pngc
        from imagingdb_spark import webimg

        for pdf in it:
            payloads = []
            for serial, p in zip(pdf["dataset_serial"], pdf["payload"]):
                fmt = _FMTS[hash(serial) % 4]
                if fmt == "png":
                    payloads.append(p)
                    continue
                im = pngc.decode_png(p)
                if fmt == "bmp":
                    payloads.append(webimg.encode_bmp(im))
                elif fmt == "gif":
                    payloads.append(webimg.encode_gif(im))
                else:
                    payloads.append(jpegc.encode_jpeg(im, quality=95))
            pdf = pdf.copy()
            pdf["payload"] = payloads
            yield pdf

    return frames.mapInPandas(conv, schema=frames.schema)


def _crawl_mode(spark, sf_dir: str, n_batches: int) -> dict:
    """The crawl-mode gate run: mixed formats, cross-format dups,
    poisoned rows, decode_any + skip."""
    from imagingdb_spark.multimodal import FRAME_SCHEMA, decode_any

    work = Path(tempfile.mkdtemp(prefix="stream_bench_crawl_"))
    watch = work / "incoming"
    watch.mkdir()
    n_dups, n_poison = 12, 5
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        base0 = None
        for i in range(n_batches):
            part = _reencode_frames(
                synth_frames(
                    docs.filter(
                        F.col("doc_id") % max(1, n_batches - 1)
                        == i % max(1, n_batches - 1)
                    )
                )
            )
            if i == 0:
                base0 = part.limit(n_dups).collect()
            if i == 1:
                # cross-format duplicates of batch-0 pictures: LOSSLESS
                # re-container (PNG/BMP/GIF) under NEW identities — the
                # gate must catch "same picture, different container"
                from imagingdb_spark import png as pngc
                from imagingdb_spark import webimg

                dup_rows = []
                for r in base0:
                    im = webimg.decode_image(bytes(r["payload"]))
                    alt = (
                        webimg.encode_bmp(im)
                        if _FMTS[hash(r["dataset_serial"]) % 4] != "bmp"
                        else pngc.encode_png(im)
                    )
                    d = list(r)
                    d[0] = r["dataset_serial"] + "-CRAWLDUP"
                    d[-1] = alt
                    dup_rows.append(tuple(d))
                poison = [
                    (f"POISON-{j}", 0, 0, 0, 0, 32, 32, "uint8",
                     b"GIF89a" if j % 2 else b"\xff\xd8\xffjunk")
                    for j in range(n_poison)
                ]
                part = part.unionByName(
                    spark.createDataFrame(dup_rows + poison, FRAME_SCHEMA)
                )
            part.coalesce(1).write.parquet(str(work / f"stage{i}"))
            srcf = next((work / f"stage{i}").glob("part-*.parquet"))
            shutil.move(str(srcf), str(watch / f"batch{i:03d}.parquet"))

        stream = (
            spark.readStream.schema(
                read_frames_stream(spark, str(watch)).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(watch))
        )
        t0 = time.time()
        q = streaming_phash_gate(
            stream,
            corpus_path=str(work / "corpus"),
            matches_path=str(work / "matches"),
            checkpoint_dir=str(work / "ckpt"),
            decoder=decode_any,
            on_decode_error="skip",
        )
        q.processAllAvailable()
        wall = time.time() - t0
        progress = list(q.recentProgress)
        q.stop()
        lat = sorted(
            p["durationMs"]["triggerExecution"]
            for p in progress
            if p["numInputRows"] > 0
        )
        matches = spark.read.parquet(str(work / "matches"))
        cross = matches.filter(
            F.col("new_frame").contains("-CRAWLDUP")
        ).count()
        corpus = spark.read.parquet(str(work / "corpus"))
        poisoned_in_corpus = corpus.filter(
            F.col("frame_id").startswith("POISON-")
        ).count()
        return {
            "n_batches": len(lat),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "planted_cross_format_dups": n_dups,
            "cross_format_matches": cross,
            "poison_rows": n_poison,
            "poison_rows_in_corpus": poisoned_in_corpus,
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_batches = int(sys.argv[2]) if len(sys.argv) > 2 else 4

    spark = get_spark()
    work = Path(tempfile.mkdtemp(prefix="stream_bench_phash_"))
    watch = work / "incoming"
    watch.mkdir()
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text"
        )
        for i in range(n_batches):
            part = synth_frames(
                docs.filter(
                    F.col("doc_id") % max(1, n_batches - 1)
                    == i % max(1, n_batches - 1)
                )
            )
            part.coalesce(1).write.parquet(str(work / f"stage{i}"))
            src = next((work / f"stage{i}").glob("part-*.parquet"))
            shutil.move(str(src), str(watch / f"batch{i:03d}.parquet"))

        stream = (
            spark.readStream.schema(
                read_frames_stream(spark, str(watch)).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(watch))
        )
        t0 = time.time()
        q = streaming_phash_gate(
            stream,
            corpus_path=str(work / "corpus"),
            matches_path=str(work / "matches"),
            checkpoint_dir=str(work / "ckpt"),
        )
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
        corpus_rows = spark.read.parquet(str(work / "corpus")).count()
        match_rows = spark.read.parquet(str(work / "matches")).count()
        out = {
            "metric": "stream_phash_gate_trigger_latency",
            "unit": "ms",
            "sf": sf_dir.rstrip("/").split("sf")[-1],
            "n_batches": len(batches),
            "p50_ms": lat[len(lat) // 2] if lat else None,
            "max_ms": lat[-1] if lat else None,
            "wall_sec": round(wall, 2),
            "batches": batches,
            "corpus_rows": corpus_rows,
            "match_rows": match_rows,
            "crawl_mixed_formats": _crawl_mode(spark, sf_dir, n_batches),
        }
        line = json.dumps(out)
        print(line)
        (ROOT / "tools/STREAM_BENCH_PHASH.json").write_text(line + "\n")
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
