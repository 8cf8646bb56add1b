"""Ingest: the reference's upload path (cli/data_uploader.py:61-256 →
db_operations.insert_frames:150-223) re-expressed as batch dataflow.

The reference stages each upload in one Postgres transaction (SQLAlchemy
session, single commit, rollback on assert — db_operations.py:14-38).
Its twin here is the atomic catalog commit (flows.upload_dataset →
flows.insert_frames_atomic / insert_file_atomic → snapcatalog.catalog_commit):
every table of an upload publishes in one link, and the anti-join on the
natural key is recomputed against the exact catalog tip the commit lands
on, so concurrent overlapping uploads converge to exactly-once by key.
This module holds the row-level pieces those builders share: manifest
reading and validation, parent normalization and resolution, frame
naming and checksums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from imagingdb_spark.api import serial_to_date_time, validate_serial


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """S2: CSV upload manifest, one dataset per row (data_uploader.py:
    106-108: columns dataset_id, file_name, description, parent_dataset_id,
    positions). Header + explicit non-inferred types."""
    return (
        spark.read.option("header", True)
        .csv(path)
        .withColumn("dataset_serial", F.col("dataset_id"))
        .drop("dataset_id")
    )


def validate_manifest(manifest: DataFrame) -> DataFrame:
    """F6 as a CHECK constraint: all serials must validate
    (cli_utils.py:4-41); invalid rows are returned for the caller to raise
    on (count()==0 is the pass condition) — batch semantics instead of the
    reference's per-row AssertionError."""
    return manifest.filter(~validate_serial(F.col("dataset_serial")))


def normalize_parent(parent_col: Column) -> Column:
    """P9: parent id normalization (db_operations.py:127-136,
    data_uploader.py:176-179): None / '' / 'none' (case-insensitive) / NaN
    → null (no parent)."""
    s = F.trim(parent_col.cast("string"))
    return F.when(
        parent_col.isNull() | (s == "") | (F.lower(s) == "none") | (s == "NaN"),
        F.lit(None).cast("string"),
    ).otherwise(s)


def frame_file_name(
    channel_idx: Column, slice_idx: Column, time_idx: Column, pos_idx: Column
) -> Column:
    """F2: canonical frame name `im_c%03d_z%03d_t%03d_p%03d.png`
    (file_splitter.py:114-125)."""
    return F.format_string(
        "im_c%03d_z%03d_t%03d_p%03d.png", channel_idx, slice_idx, time_idx, pos_idx
    )


def with_sha256(frames: DataFrame, payload_col: str = "payload") -> DataFrame:
    """F4: integrity checksum in the ingest plan (meta_utils.py:72-102
    hashes per-frame in Python; sha2 is a codegen'd JVM expression evaluated
    in the same stage as the scan)."""
    return frames.withColumn("sha256", F.sha2(F.col(payload_col), 256))


REQUIRED_GLOBAL_META = [
    "storage_dir",
    "nbr_frames",
    "im_width",
    "im_height",
    "nbr_slices",
    "nbr_channels",
    "im_colors",
    "nbr_timepoints",
    "nbr_positions",
    "bit_depth",
]


def validate_global_meta(frames_global: DataFrame) -> DataFrame:
    """`validate_global_meta` (utils/meta_utils.py:45-69): every required
    global-metadata field must be present and non-null. Batch form: returns
    the VIOLATING rows (count()==0 is the pass condition, same contract as
    validate_manifest) instead of the reference's per-dict AssertionError.
    Missing columns count as all-null — the `key in global_meta` check."""
    cond = None
    for key in REQUIRED_GLOBAL_META:
        c = (
            F.col(key).isNull()
            if key in frames_global.columns
            else F.lit(True)  # column absent -> every row violates
        )
        cond = c if cond is None else (cond | c)
    return frames_global.filter(cond)


def reject_invalid_metadata(
    frames: DataFrame, schema: dict | None = None, json_col: str = "metadata_json"
) -> tuple[DataFrame, DataFrame]:
    """S3 schema-on-write: split incoming frame rows on metadata_json
    validity against a JSON Schema (default: the reference's MicroManager
    frame schema, metadata_schema.json / json_operations.py:30-67). The
    reference validates per-frame and raises ValidationError
    (json_operations.py:70-98, applied at ometif_splitter.py:85-90); the
    batch form returns (valid_rows + typed `parsed` struct, rejected_rows)
    so one bad frame quarantines instead of killing a 100 TB ingest."""
    from imagingdb_spark.jsonio import MICROMETA_SCHEMA, split_valid

    return split_valid(frames, json_col, schema or MICROMETA_SCHEMA)


def build_data_set_rows(manifest: DataFrame) -> DataFrame:
    """DataSet row construction (db_operations.py:119-148, 185-204):
    serial → derived date_time; parent serial resolved to parent_id by a
    later join against the existing catalog (resolve_parent_ids)."""
    return manifest.select(
        F.col("dataset_serial"),
        F.col("description"),
        F.coalesce(F.col("microscope"), F.lit(None).cast("string")).alias("microscope"),
        F.lit(True).alias("frames"),
        serial_to_date_time(F.col("dataset_serial")).alias("date_time"),
        normalize_parent(F.col("parent_dataset_id")).alias("parent_serial"),
    )


def resolve_parent_ids(new_rows: DataFrame, data_set: DataFrame) -> DataFrame:
    """Parent resolve by serial (db_operations.py:137-140) as a broadcast
    left join against the catalog (catalog side is datasets-sized: small)."""
    parents = F.broadcast(
        data_set.select(
            F.col("dataset_serial").alias("parent_serial"),
            F.col("id").alias("parent_id"),
        )
    )
    return new_rows.join(parents, "parent_serial", "left").drop("parent_serial")
