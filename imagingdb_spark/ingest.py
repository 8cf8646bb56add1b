"""Ingest: the reference's upload path (cli/data_uploader.py:61-256 →
db_operations.insert_frames:150-223) re-expressed as batch dataflow.

The reference stages each upload in one Postgres transaction (SQLAlchemy
session, single commit, rollback on assert — db_operations.py:14-38).
Its twin here is the atomic catalog commit (``CatalogTarget`` →
flows.insert_frames_atomic / insert_file_atomic → snapcatalog.catalog_commit):
every table of an upload publishes in one link, and the anti-join on the
natural key is recomputed against the exact catalog tip the commit lands
on, so concurrent overlapping uploads converge to exactly-once by key.
The plain-parquet path (insert_file, flows.insert_frames) keeps the
weaker IDEMPOTENT APPEND contract: an anti-join on the natural key drops
rows already present, so re-running a failed ingest converges instead of
duplicating, but concurrent writers can both pass the check.
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


def insert_file(
    new_files: DataFrame,
    data_set: DataFrame,
    file_global: DataFrame,
    data_set_path: str | None = None,
    file_global_path: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """`insert_file` (db_operations.py:225-274): the un-split upload path —
    file stored as-is, one DataSet row (frames=False) + one FileGlobal row
    (storage_dir, file_name, metadata_json, sha256) per file, batch form.

    `new_files` columns: dataset_serial, description, microscope,
    parent_dataset_id, storage_dir, file_name, metadata_json, sha256
    (the sha256 computed upstream over the raw file, data_uploader.py:
    222-256 / file_splitter.py:82-93 — or via with_sha256 when the payload
    rides the DataFrame).

    The rows come from the builder flows.insert_file_atomic commits, run
    once against the caller's views (the same ids: one data_set and one
    file_global id per serial, above each table's max(id)); the
    reference's uniqueness assert becomes the idempotent anti-join
    append on both tables, written to the given paths. Returns the
    appended (data_set_rows, file_global_rows)."""
    from imagingdb_spark.flows import FILE_KEYS, _file_upload
    from imagingdb_spark.snapcatalog import CatalogViews

    views = CatalogViews({"data_set": data_set, "file_global": file_global}, {})
    deltas = _file_upload(views, new_files)
    return (
        idempotent_append(
            deltas["data_set"], data_set, FILE_KEYS["data_set"], data_set_path
        ),
        idempotent_append(
            deltas["file_global"], file_global, FILE_KEYS["file_global"],
            file_global_path,
        ),
    )


class CatalogTarget:
    """Marker routing an upload's catalog inserts through ONE atomic
    multi-table commit (snapcatalog.catalog_commit) instead of
    plain-parquet appends. Pass an instance AS the whole ``paths``
    argument of flows.upload_dataset to get the reference's full
    transaction scope (db_operations.py:14-38 — one Postgres
    transaction spans data_set + frames_global + frames): a
    crash at ANY point leaves readers (snapcatalog.catalog_read) seeing
    either no dataset or the whole dataset, because all tables' manifests
    publish in one hard-link. It is the only snapshot-backed write path;
    a directory already holding per-table snapshot tables or legacy
    ``<name>.parquet`` files is refused until snapcatalog.migrate_catalog
    has moved it into a fresh catalog.

    ``bloom_columns`` (table → columns) additionally sets the bloom
    point-lookup index property on those catalog tables (blooms.py):
    e.g. ``{"frames": ["sha256"]}`` makes every later
    ``catalog_read(..., "frames", where=[("sha256", "=", h)])`` a
    file-skipping probe — the Postgres-b-tree lookup shape
    (db_operations.py filter_by sha256) on an append-ordered table
    whose min/max stats cannot prune."""

    def __init__(
        self,
        catalog_dir: str,
        bloom_columns: dict[str, list[str]] | None = None,
    ):
        self.catalog_dir = catalog_dir
        self.bloom_columns = bloom_columns

    def __repr__(self) -> str:
        return f"CatalogTarget({self.catalog_dir!r})"


def idempotent_append(
    new_rows: DataFrame,
    existing: DataFrame,
    key_cols: list[str],
    target_path: str | None = None,
) -> DataFrame:
    """S7/D1: anti-join-guarded append — the uniqueness assert + staged
    commit (db_operations.py:111-117, 176-181, 14-38) as idempotent batch
    append. Returns the deduplicated new rows; writes parquet when
    target_path is given.

    Scale: the anti-join shuffles on the key unless the existing-keys side
    is small enough for AQE to broadcast; for a catalog keyed by
    dataset_serial that side is one row per dataset — always broadcastable.
    dropDuplicates(key) guards against dup keys WITHIN the incoming batch.
    The rows keep ``new_rows``' column order (a join on key names would
    move the keys first), so a delta appended to a snapshot table carries
    the table's schema."""
    deduped = (
        new_rows.dropDuplicates(key_cols)
        .join(existing.select(*key_cols), key_cols, "left_anti")
        .select(*new_rows.columns)
    )
    if target_path is not None:
        deduped.write.mode("append").parquet(target_path)
    return deduped
