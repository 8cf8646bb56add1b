"""Parquet data-layout maintenance — the table-management side of running
this engine at 100 TB, which the reference never needed (Postgres + one
PNG per frame, local_storage.py:85-136).

Two operations matter at scale:

- **Small-file compaction.** Streaming ingest (streaming/jobs.py gate) and
  per-batch plain-parquet appends each land one
  file per task per trigger; after a day a table holds millions of KB-sized
  files and every scan pays per-file open/footer costs (and the driver pays
  listing). Compaction rewrites the table into ~target-sized files.

- **Clustered writes.** Parquet row-group min/max statistics only prune
  when each file/row-group covers a NARROW key range. A clustered write
  (range-repartition + sort within partitions on the cluster key) makes
  point/range predicates on that key skip almost every row group; an
  append-ordered table has every file spanning the whole key range and
  prunes nothing. This is the poor-man's Z-order: single-key clustering,
  which covers the engine's dominant access paths (dataset_serial,
  user_id, doc_id).

Both write to a temp dir and swap via rename, mirroring the sink's
atomic-publish pattern (sinks.write_blobs). The swap is atomic per rename
but not transactional across concurrent writers — snapshots.py is that
transactional layer (manifest commit log, Delta/Iceberg-style); these
utilities are the engine-level mechanics underneath it, for tables that
opt out of the manifest log.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import uuid
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def _local_path(uri: str) -> str:
    """file:-URI or plain path → filesystem path (local backend only)."""
    p = urlparse(uri)
    return p.path if p.scheme in ("file", "") else uri


def table_file_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of a parquet table's data files, from the
    public inputFiles() listing. Local-FS sizes via os.stat; an object-store
    backend would swap in its own stat call (same seam as BlobBackend)."""
    files = spark.read.parquet(path).inputFiles()
    total = sum(os.path.getsize(_local_path(f)) for f in files)
    return len(files), total


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> dict:
    """Rewrite a parquet table into ceil(total_bytes / target) files.

    Round-robin repartition (not coalesce): coalesce(n) would chain the
    narrow dependency into the rewrite scan and leave the n output tasks
    reading skewed subsets; repartition balances output file sizes, which
    is the point of compaction. Returns before/after stats.

    Failure ordering (round-3 fix, ADVICE r2): the rewritten copy is
    validated (row count vs source — a parquet-footer metadata read, no
    data scan) BEFORE the live table is touched, and the old directory is
    deleted only AFTER the post-swap stats read proves the new table
    readable in place; a failed validation rolls the swap back. A crash
    exactly between the two renames still leaves the table path briefly
    absent, but the data now always survives under ``<path>.old.*`` —
    cross-directory rename pairs can't be made atomic on POSIX without a
    table format on top; snapshots.snapshot_compact is that upgrade
    (manifest-committed rewrite that also detects interleaved appends)."""
    n_before, total = table_file_stats(spark, path)
    n_out = max(1, math.ceil(total / target_file_bytes))
    # mergeSchema: compaction must preserve the UNION schema across mixed-
    # vintage files — a streaming gate compacting a pre-seeded corpus whose
    # old files lack _gate_batch would otherwise let inference pick an old
    # footer and silently strip the provenance column from every row
    # (ADVICE r6), reopening the replay-divergence window the phantom
    # screen exists to close.
    df = spark.read.option("mergeSchema", "true").parquet(path)
    rows_before = df.count()
    base = _local_path(path)
    tmp = f"{base}.compact.{uuid.uuid4().hex[:8]}"
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    rows_tmp = spark.read.parquet(tmp).count()
    if rows_tmp != rows_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"compaction rewrite of {path} dropped rows "
            f"({rows_before} -> {rows_tmp}); old table left untouched"
        )
    old = f"{base}.old.{uuid.uuid4().hex[:8]}"
    os.rename(base, old)
    os.rename(tmp, base)
    try:
        n_after, total_after = table_file_stats(spark, path)
    except Exception:
        # new copy unreadable in place: swap the old table back
        os.rename(base, tmp)
        os.rename(old, base)
        raise
    shutil.rmtree(old)
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes_total": total_after,
    }


def find_orphan_blobs(
    spark: SparkSession,
    frames: DataFrame,
    frames_global: DataFrame,
    storage_root: str,
) -> DataFrame:
    """Storage/catalog reconciliation: blobs on disk that no catalog row
    references — the debris a crashed upload leaves behind (the blob
    write lands before the catalog insert in flows.upload_dataset, and
    the idempotent sink never deletes). Returns (path, storage_key,
    length) rows for the orphans; deletion is left to the caller (an
    irreversible op that should be a separate, audited step).

    Shape: one binaryFile LISTING scan of the store (recursive glob,
    metadata only — payloads are never read because only path/length are
    projected) anti-joined against the catalog's (storage_dir, file_name)
    keys. Both sides are slim key columns; at 100 TB the anti-join
    shuffles keys, not data, and AQE broadcasts the catalog side when it
    fits."""
    from pyspark.sql import functions as F

    listed = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", True)
        .load(storage_root)
        .select("path", "length")
        .withColumn(
            "storage_key",
            F.regexp_replace(
                F.regexp_replace("path", "^file:/*", "/"),
                re.escape(_local_path(storage_root).rstrip("/")) + "/",
                "",
            ),
        )
    )
    referenced = frames.join(
        frames_global.select(
            F.col("id").alias("frames_global_id"), "storage_dir"
        ),
        "frames_global_id",
    ).select(
        F.concat_ws("/", "storage_dir", "file_name").alias("storage_key")
    )
    return listed.join(referenced, "storage_key", "left_anti").select(
        "path", "storage_key", "length"
    )


Z_BITS = 16  # bucket resolution per dimension (2^16 buckets each)


def zorder_col(df: DataFrame, cols: list[str]):
    """Z-value column for 2-D clustering: equi-width bucket each key into
    2^{Z_BITS} bins over its [min, max] (one tiny agg for the bounds),
    then bit-interleave the bucket ids — the Morton curve (public
    technique; Delta OSS / Databricks OPTIMIZE ZORDER use the same
    interleave-of-ranks idea). Locality on the curve implies locality in
    BOTH keys, so a range-partitioned write on the z-value gives every
    file a narrow min/max envelope in each dimension.

    Equi-width (not equi-depth) bucketing keeps the map side stateless —
    heavily skewed keys would want quantile-based ranks instead; the
    engine's z-order targets are id-like columns (user_id, orderkey,
    doc_id) where equi-width is fine."""
    from pyspark.sql import functions as F

    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"mn_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"mx_{c}") for c in cols],
    ).collect()[0]
    nbins = (1 << Z_BITS) - 1
    buckets = []
    for c in cols:
        mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
        span = (mx - mn) or 1.0
        b = F.least(
            F.lit(nbins),
            F.floor((F.col(c).cast("double") - mn) / span * nbins).cast("long"),
        )
        buckets.append(b)
    z = F.lit(0).cast("long")
    for i in range(Z_BITS):
        for d, b in enumerate(buckets):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)),
                    i * len(buckets) + d,
                )
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int | None = None,
) -> None:
    """Multi-key clustered write: range-repartition + sort on the Morton
    z-value of `cols`, so parquet footer min/max stats prune point/range
    predicates on EVERY clustered key — the multi-key upgrade of
    write_clustered (which gives perfect pruning on one key and none on
    the others). tests/test_layout.py measures per-file key envelopes for
    both columns straight from the footers."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    z = zorder_col(df, cols)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed-AT-REST write (SCALING.md partitioning table, backed by an
    artifact since round 6): hash-partition the table into ``n_buckets``
    files per write-task partition group by ``bucket_cols`` and record the
    bucket spec in the catalog, so every subsequent join/aggregation ON
    THE BUCKET KEY reads the table already hash-distributed and Catalyst
    DROPS the Exchange — the layout IS the index (the same rationale as
    the reference's derived-column indexing, README.md:53-55, applied to
    distribution instead of lookup).

    What this buys at 100 TB, proven by plan tests (tests/test_layout.py):
    - fact⋈fact joins on the bucket key (lineitem⋈orders on orderkey)
      become zero-Exchange sort-merge joins — neither 100 TB side ever
      shuffles;
    - groupBy(bucket key) aggregates skip the partial/final split's
      Exchange entirely;
    - MERGE (x_merge_upsert's full-outer join) shuffles ONLY the change
      batch: the corpus side's Exchange disappears, which at a 100 TB
      corpus vs a GB-sized batch is the whole cost of the merge.

    ``sortBy`` additionally orders rows inside each bucket file so the
    sort-merge join's per-task sort is a no-op and footer min/max stats
    stay narrow per bucket. Spark's bucketing requires a catalog table
    (saveAsTable — parquet files + bucket spec in the metastore); read it
    back with ``spark.table(table_name)``, NOT spark.read.parquet, or the
    bucket metadata is invisible and the Exchange returns. The bucket
    count is the co-location contract: joins only skip the shuffle when
    both sides bucket on the join key (equal counts, or one a multiple of
    the other under spark.sql.bucketing.coalesceBucketsInJoin)."""
    writer = (
        df.write.format("parquet")
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*(sort_cols or bucket_cols))
    )
    if path is not None:  # external table at an explicit location
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def write_clustered(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int | None = None,
) -> None:
    """Write `df` clustered on `cluster_cols`: range-repartition so each
    output file owns a disjoint slice of the key space, then sort within
    partitions so every ROW GROUP inside a file is narrow too. Range
    boundaries come from Spark's reservoir sample of the key column —
    balanced output without a full sort's single-stage bottleneck.

    Reading back with a predicate on the cluster key then prunes at two
    levels: file skip via footer min/max, row-group skip inside surviving
    files — tests/test_layout.py asserts the disjointness that makes both
    fire."""
    n = n_files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cluster_cols)
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .parquet(path)
    )
