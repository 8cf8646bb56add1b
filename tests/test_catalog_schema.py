"""``catalog.parquet_schema`` reads the schema Spark would infer from one
parquet footer on the driver, so ``catalog.table`` runs no schema-inference
job. Each case pins the footer schema equal to ``spark.read.parquet(p)
.schema`` under the session's conf. Also here: ``eager_checkpoint``'s
reliable mode fails loudly where a driver tmpdir cannot work."""

from __future__ import annotations

import glob
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_DIR
from imagingdb_spark import catalog
from imagingdb_spark.catalog import TPCH_TABLES, eager_checkpoint, parquet_schema

TABLE_PATHS = sorted(
    p
    for sf in ("sf0.001", "sf0.01")
    for p in glob.glob(os.path.join(os.path.dirname(SF_DIR), sf, "*.parquet"))
)


@pytest.mark.parametrize(
    "path", TABLE_PATHS, ids=["/".join(p.split("/")[-2:]) for p in TABLE_PATHS]
)
def test_driver_tables_match_inference(spark, path):
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_spark_written_directory_tables(spark, tmp_path):
    """The documents/embeddings shapes tests write: several part files
    plus _SUCCESS and .crc files in one directory."""
    docs = spark.range(7).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
    )
    emb = spark.range(7).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias(
            "embedding"
        ),
        (F.col("id") % 3).cast("int").alias("label"),
    )
    for name, df in (("documents", docs), ("embeddings", emb)):
        path = str(tmp_path / f"{name}.parquet")
        df.repartition(3).write.parquet(path)
        assert any(n.startswith((".", "_")) for n in os.listdir(path))
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema


def test_spark_written_empty_table(spark, tmp_path):
    path = str(tmp_path / "lineitem.parquet")
    spark.range(0).select(
        F.col("id").alias("l_orderkey"), F.lit(1.5).alias("l_quantity")
    ).write.parquet(path)
    assert parquet_schema(spark, path) == spark.read.parquet(path).schema
    assert catalog.table(spark, str(tmp_path), "lineitem").count() == 0


def test_non_null_fields_read_nullable(spark, tmp_path):
    """A Spark footer with non-null fields: Spark reads every field as
    nullable, and so does the footer schema."""
    path = str(tmp_path / "t.parquet")
    catalog.values_df(spark, [(1, "a")], "id bigint, s string").write.parquet(path)
    part = sorted(n for n in os.listdir(path) if n.startswith("part-"))[0]
    assert not pq.read_schema(os.path.join(path, part)).field("id").nullable
    got = parquet_schema(spark, path)
    assert got == spark.read.parquet(path).schema
    assert all(f.nullable for f in got.fields)


def test_nanos_ts_reaches_table_as_micros(spark, tmp_path):
    """A pyarrow-written ``timestamp[ns]`` ts: LongType under nanosAsLong,
    converted by catalog.table to a microsecond timestamp (truncating)."""
    ns = np.array(
        [1_700_000_000_123_456_789, 1_600_000_000_000_000_999, 5], dtype=np.int64
    )
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(ns, pa.timestamp("ns")),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    path = str(tmp_path / "events.parquet")
    schema = parquet_schema(spark, path)
    assert schema == spark.read.parquet(path).schema
    assert schema["ts"].dataType == T.LongType()
    df = catalog.table(spark, str(tmp_path), "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = {
        r.event_id: r.us
        for r in df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    }
    assert got == {i + 1: int(v) // 1000 for i, v in enumerate(ns)}


def test_timestamp_conf_is_read_per_call(spark, tmp_path):
    """Tz-naive micros follow inferTimestampNTZ as set at call time."""
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({"t": pa.array([1], pa.timestamp("us"))}), path
    )
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        assert parquet_schema(spark, path)["t"].dataType == T.TimestampNTZType()
        assert parquet_schema(spark, path) == spark.read.parquet(path).schema
        spark.conf.set(key, "false")
        assert parquet_schema(spark, path)["t"].dataType == T.TimestampType()
    finally:
        spark.conf.set(key, old)


def test_unsupported_type_names_column(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(
        pa.table({"ok": pa.array([1]), "clock": pa.array([1], pa.time64("us"))}),
        path,
    )
    with pytest.raises(TypeError, match="'clock'"):
        parquet_schema(spark, path)


def test_partitioned_directory_raises(spark, tmp_path):
    path = str(tmp_path / "p.parquet")
    spark.range(4).select(
        F.col("id"), (F.col("id") % 2).alias("h")
    ).write.partitionBy("h").parquet(path)
    with pytest.raises(ValueError, match="subdirectories"):
        parquet_schema(spark, path)


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"catalog-schema-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "catalog.table job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def test_table_runs_no_spark_job(spark):
    # the probe sees the inference job a schema-less read submits
    assert _jobs_in_group(
        spark, lambda: spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    ) >= 1
    for name in TPCH_TABLES:
        assert _jobs_in_group(spark, lambda: catalog.table(spark, SF_DIR, name)) == 0


class TestEagerCheckpoint:
    def test_default_is_local_checkpoint(self, spark, monkeypatch):
        monkeypatch.delenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", raising=False)
        df = spark.range(5)
        out = eager_checkpoint(df)
        assert sorted(r.id for r in out.collect()) == list(range(5))

    def test_reliable_mode_needs_dir_off_local(self, spark, monkeypatch):
        sc = spark.sparkContext
        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
        monkeypatch.setattr(sc, "getCheckpointDir", lambda: None)
        monkeypatch.setattr(sc, "master", "spark://cluster:7077")
        with pytest.raises(RuntimeError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
            eager_checkpoint(spark.range(3))

    def test_reliable_mode_local_tmpdir_fallback(self, spark, monkeypatch):
        sc = spark.sparkContext
        assert sc.master.startswith("local[")
        monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
        monkeypatch.setattr(sc, "getCheckpointDir", lambda: None)
        dirs = []
        real_set = sc.setCheckpointDir
        monkeypatch.setattr(
            sc, "setCheckpointDir", lambda d: (dirs.append(d), real_set(d))
        )
        out = eager_checkpoint(spark.range(3))
        assert len(dirs) == 1 and os.path.basename(dirs[0]).startswith(
            "imagingdb_ckpt_"
        )
        assert sorted(r.id for r in out.collect()) == [0, 1, 2]
