"""Small driver-side frames stay JVM-side: ``catalog.empty_df`` for typed
empty frames, ``catalog.values_df`` for driver lists. A frame built by
``spark.createDataFrame`` from a Python list is a Python RDD, so every job
touching it runs tasks through Python workers, even when it has no rows."""

from __future__ import annotations

import re
from pathlib import Path

from pyspark.sql import types as T

from imagingdb_spark import snapshots as S
from imagingdb_spark.catalog import FRAMES_SCHEMA, empty_df, values_df

PKG = Path(__file__).resolve().parent.parent / "imagingdb_spark"


def _plan_root(df) -> str:
    """Root of the optimized logical plan (LocalRelation: no RDD)."""
    return df._jdf.queryExecution().optimizedPlan().nodeName()


class TestEmptyDf:
    def test_exact_schema_and_no_rows(self, spark):
        df = empty_df(spark, FRAMES_SCHEMA)
        # non-null fields stay non-null: the schema is taken as given
        assert df.schema == FRAMES_SCHEMA
        assert not FRAMES_SCHEMA["id"].nullable
        assert df.count() == 0
        assert df.collect() == []
        assert _plan_root(df) == "LocalRelation"

    def test_ddl_string(self, spark):
        df = empty_df(spark, "k long, v string, d decimal(12,2)")
        assert df.schema == T.StructType(
            [
                T.StructField("k", T.LongType()),
                T.StructField("v", T.StringType()),
                T.StructField("d", T.DecimalType(12, 2)),
            ]
        )
        assert df.count() == 0

    def test_unions_with_a_snapshot_read(self, spark, tmp_path):
        t = str(tmp_path / "t")
        rows = spark.range(5).selectExpr("id AS k", "string(id) AS v")
        S.snapshot_commit(spark, t, rows)
        snap = S.snapshot_read(spark, t)
        empty = empty_df(spark, snap.schema)
        assert empty.schema == snap.schema
        # by name, either side first, column order of the empty side
        # reversed: the union is exactly the snapshot's rows
        flipped = empty.select("v", "k")
        got = snap.unionByName(flipped)
        assert sorted(tuple(r) for r in got.collect()) == [
            (i, str(i)) for i in range(5)
        ]
        assert flipped.unionByName(snap).count() == 5


class TestValuesDf:
    def test_rows_and_empty_are_local_relations(self, spark):
        ddl = "dataset_serial string, dataset_id long"
        df = values_df(spark, [("A", 1), ("B", 2)], ddl)
        assert [tuple(r) for r in df.collect()] == [("A", 1), ("B", 2)]
        assert _plan_root(df) == "LocalRelation"
        assert df.schema.simpleString() == (
            "struct<dataset_serial:string,dataset_id:bigint>"
        )
        empty = values_df(spark, [], ddl)
        assert empty.schema.simpleString() == df.schema.simpleString()
        assert empty.count() == 0
        assert _plan_root(empty) == "LocalRelation"


def test_no_python_backed_empty_frame_in_package():
    """``createDataFrame([], ...)`` must not come back: empty frames go
    through ``catalog.empty_df``."""
    pat = re.compile(r"createDataFrame\(\s*\[\s*\]")
    hits = [
        f"{p.relative_to(PKG.parent)}:{src.count(chr(10), 0, m.start()) + 1}"
        for p in sorted(PKG.rglob("*.py"))
        for src in [p.read_text()]
        for m in pat.finditer(src)
    ]
    assert hits == []
