"""Catalog: table loaders for the driver's parquet tables + the imaging-domain
StructType schemas (the reference's 4 Postgres tables re-typed for Parquet).

Reference schemas: /root/reference/imaging_db/database/{dataset,frames_global,
frames,file_global}.py (SQLAlchemy ORM declarations); see SURVEY.md §1.

Scale notes:
- Dimension tables that are *fixed size* regardless of data volume (region,
  nation) are always broadcast-joinable. Tables that grow with scale factor
  (customer, part, orders, lineitem, events, documents, embeddings) must not
  be hard-broadcast; AQE decides from runtime sizes.
- At 100 TB the fact tables (lineitem / frames / events) would be written
  partitioned by a time or dataset bucket so partition pruning applies; the
  loaders below read whatever layout the directory has and rely on parquet
  row-group pushdown for the rest.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TPCH_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Fixed-cardinality dims (5 and 25 rows at every SF) — always broadcastable.
FIXED_DIMS = {"region", "nation"}


# Columns stored as TIMESTAMP(NANOS) in the driver's parquet — Spark reads
# them as long (spark.sql.legacy.parquet.nanosAsLong) and we convert to
# microsecond timestamps here (truncation matches DuckDB's nanos→micros).
NANOS_TS_COLS: dict[str, list[str]] = {"events": ["ts"]}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Column pruning + predicate pushdown reach the
    parquet scan because callers chain .select/.filter on the returned DF.

    The schema is read from the parquet footer on the driver
    (``parquet_schema``) on every call and handed to the reader, so the
    read runs no Spark job: without it, ``spark.read.parquet`` submits a
    one-task schema-inference job per table (a median lineitem read took
    0.11 s that way against 0.016 s with the footer schema, on a 4-core
    VM). There is no memo: a table rewritten between calls is read with
    its new schema."""
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.schema(parquet_schema(spark, path)).parquet(path)
    for c in NANOS_TS_COLS.get(name, []):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
    return df


_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """The StructType ``spark.read.parquet(path).schema`` infers under this
    session's conf, read from one parquet footer on the driver with pyarrow
    (no Spark job).

    - A directory is read from the footer of its first data file in name
      order; ``_``/``.``-prefixed names are skipped, as Spark's file index
      does. A directory with subdirectories (a partitioned layout) raises.
    - A footer written by Spark carries its schema under the key
      ``org.apache.spark.sql.parquet.row.metadata``, which Spark uses as is.
    - Any other footer is converted from its Arrow schema: TIMESTAMP(NANOS)
      is LongType under ``spark.sql.legacy.parquet.nanosAsLong``, tz-naive
      timestamps are TIMESTAMP_NTZ only under
      ``spark.sql.parquet.inferTimestampNTZ.enabled``, INT96 is TimestampType.
      A type with no Spark mapping raises naming its column.
    - Every field is nullable, as Spark makes every file-source schema."""
    import json
    import os

    import pyarrow.parquet as pq

    footer = path
    if os.path.isdir(path):
        names = sorted(
            n for n in os.listdir(path)
            if not n.startswith(("_", ".")) and not n.endswith("._COPYING_")
        )
        if any(os.path.isdir(os.path.join(path, n)) for n in names):
            raise ValueError(f"parquet_schema: {path} has subdirectories")
        if not names:
            raise ValueError(f"parquet_schema: {path} has no data files")
        footer = os.path.join(path, names[0])
    md = pq.read_metadata(footer)
    spark_json = (md.metadata or {}).get(_SPARK_ROW_METADATA.encode())
    if spark_json is not None:
        schema = T.StructType.fromJson(json.loads(spark_json))
    else:
        conf = {
            "nanos_as_long": spark.conf.get(
                "spark.sql.legacy.parquet.nanosAsLong", "false"
            ).lower() == "true",
            "infer_ntz": spark.conf.get(
                "spark.sql.parquet.inferTimestampNTZ.enabled", "true"
            ).lower() == "true",
        }
        int96 = {
            md.schema.column(i).path
            for i in range(md.num_columns)
            if md.schema.column(i).physical_type == "INT96"
        }
        schema = T.StructType(
            [
                T.StructField(
                    f.name,
                    T.TimestampType()
                    if f.name in int96
                    else _arrow_to_spark(f.type, f.name, conf),
                )
                for f in md.schema.to_arrow_schema()
            ]
        )
    return _as_nullable(schema)


def _arrow_to_spark(t, column: str, conf: dict) -> T.DataType:
    """Spark's ParquetToSparkSchemaConverter, over the Arrow schema pyarrow
    derives from a parquet footer."""
    import pyarrow as pa
    import pyarrow.types as pt

    simple = {
        pa.bool_(): T.BooleanType(),
        pa.int8(): T.ByteType(),
        pa.int16(): T.ShortType(),
        pa.int32(): T.IntegerType(),
        pa.int64(): T.LongType(),
        pa.uint8(): T.ShortType(),
        pa.uint16(): T.IntegerType(),
        pa.uint32(): T.LongType(),
        pa.uint64(): T.DecimalType(20, 0),
        pa.float32(): T.FloatType(),
        pa.float64(): T.DoubleType(),
        pa.date32(): T.DateType(),
        pa.string(): T.StringType(),
        pa.large_string(): T.StringType(),
        pa.binary(): T.BinaryType(),
        pa.large_binary(): T.BinaryType(),
        # an all-null column is stored as INT32 (logical type UNKNOWN)
        pa.null(): T.IntegerType(),
    }
    if pt.is_dictionary(t):
        t = t.value_type
    if t in simple:
        return simple[t]
    if pt.is_fixed_size_binary(t):
        return T.BinaryType()
    if pt.is_decimal128(t):
        return T.DecimalType(t.precision, t.scale)
    if pt.is_timestamp(t):
        if t.unit != "ns":
            ntz = t.tz is None and conf["infer_ntz"]
            return T.TimestampNTZType() if ntz else T.TimestampType()
        if conf["nanos_as_long"]:
            return T.LongType()
    if pt.is_list(t) or pt.is_large_list(t) or pt.is_fixed_size_list(t):
        return T.ArrayType(_arrow_to_spark(t.value_type, column, conf))
    if pt.is_struct(t):
        return T.StructType(
            [
                T.StructField(f.name, _arrow_to_spark(f.type, column, conf))
                for f in t
            ]
        )
    if pt.is_map(t):
        return T.MapType(
            _arrow_to_spark(t.key_type, column, conf),
            _arrow_to_spark(t.item_type, column, conf),
        )
    raise TypeError(f"parquet_schema: column {column!r} has unsupported type {t}")


def _as_nullable(t: T.DataType) -> T.DataType:
    """Spark's ``DataType.asNullable``: every field, array element and map
    value nullable, recursively."""
    if isinstance(t, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
                for f in t.fields
            ]
        )
    if isinstance(t, T.ArrayType):
        return T.ArrayType(_as_nullable(t.elementType), True)
    if isinstance(t, T.MapType):
        return T.MapType(_as_nullable(t.keyType), _as_nullable(t.valueType), True)
    return t


def eager_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly materialize a corpus-scale intermediate that several
    INDEPENDENT downstream stages will read (the dedup token tables, the
    perplexity fold's per-doc counts) — a lazy persist is raced by
    concurrent leaf stages and recomputed per stage (measured r11:
    tokenize re-ran per verify side in x_containment/x_dedup_incremental).

    Default is ``localCheckpoint(eager=True)``: blocks live in executor
    storage, no DFS round trip — right for the local bench. Two traits to
    know (VERDICT r11 items 5/7 + ADVICE):

    - RELIABILITY: localCheckpoint truncates lineage INTO executor-local
      blocks — an executor loss kills the job instead of recomputing. At
      cluster scale set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` to flip
      every call site to ``DataFrame.checkpoint`` against
      ``spark.sparkContext.setCheckpointDir`` storage (set
      ``SPARK_GRAFT_CHECKPOINT_DIR`` to a durable path; on a ``local[…]``
      master a local tmpdir is the fallback so the flag works out of the
      box, on any other master a missing dir raises, because executors on
      other hosts cannot share a driver tmpdir). Flip condition: a
      job long enough, on a cluster flaky enough, that recompute-on-loss
      matters more than the extra DFS write — the same trade Spark's own
      docs draw between the two operators.
    - LIFECYCLE: ``spark.catalog.clearCache()`` (bench.py / selfcheck
      between queries) does NOT free checkpoint blocks — they are
      released when the RDD is GC'd on the driver (the session factory's
      2-min periodic-GC + ContextCleaner reaps them); reliable-mode files
      are removed with the checkpoint dir. Neither accumulates across
      bench laps: each query invocation builds a fresh checkpoint and
      drops the old reference."""
    import os as _os
    import tempfile as _tempfile

    if _os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT", "") == "1":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            ckpt_dir = _os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            if not ckpt_dir:
                if sc.master != "local" and not sc.master.startswith("local["):
                    raise RuntimeError(
                        "eager_checkpoint: SPARK_GRAFT_RELIABLE_CHECKPOINT=1 "
                        f"on master {sc.master!r} needs "
                        "SPARK_GRAFT_CHECKPOINT_DIR set to storage every "
                        "executor can reach"
                    )
                ckpt_dir = _tempfile.mkdtemp(prefix="imagingdb_ckpt_")
            sc.setCheckpointDir(ckpt_dir)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def values_df(spark: SparkSession, rows: list, schema_ddl: str) -> DataFrame:
    """Small driver-local DataFrame as an inline VALUES table (LocalRelation).

    ``spark.createDataFrame(python_rows)`` parallelizes a Python RDD over
    the default parallelism: every materialization (e.g. the broadcast
    build these frames exist for) runs a 32-task job whose tasks each pay
    a Python-worker round trip — measured ~0.3-0.4 s of blocked time per
    such job inside x_perplexity_bucket, ~2 s of its wall clock. An inline
    table is a JVM LocalRelation: broadcast builds collect it driver-side
    with NO job and NO Python workers (micro-bench: 696 ms -> 217 ms per
    broadcast-join materialization).

    The rule for small driver-side frames in this package: driver lists
    go through ``values_df``, empty frames through ``empty_df``, not
    through ``spark.createDataFrame`` of a Python list
    (tests/test_local_frames.py scans the source for the empty form).

    ``schema_ddl`` uses simple comma-separated ``name type`` pairs (no
    parameterized types). Values may be str/int/float/bool/None; each
    column is cast to its declared type."""
    fields = []
    depth = 0
    cur = ""
    for ch in schema_ddl + ",":
        if ch == "," and depth == 0:
            name, typ = cur.strip().split(None, 1)
            if "<" in typ:
                raise ValueError(f"values_df: nested type {typ!r} unsupported")
            fields.append((name, typ))
            cur = ""
        else:
            depth += ch in "(<"
            depth -= ch in ")>"
            cur += ch
    if not rows:
        return empty_df(spark, schema_ddl)

    def lit(v, typ: str) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, int):
            return f"{v}L"
        if isinstance(v, float):
            return f"CAST('{v!r}' AS DOUBLE)"
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, Decimal):
            return f"CAST('{v}' AS {typ})"
        raise TypeError(f"values_df: unsupported literal {type(v).__name__}")

    vals = ", ".join(
        "(" + ", ".join(lit(v, fields[i][1]) for i, v in enumerate(r)) + ")"
        for r in rows
    )
    cols = ", ".join(
        f"CAST(c{i} AS {typ}) AS {name}" for i, (name, typ) in enumerate(fields)
    )
    names = ", ".join(f"c{i}" for i in range(len(fields)))
    return spark.sql(f"SELECT {cols} FROM VALUES {vals} AS T({names})")


def empty_df(spark: SparkSession, schema: T.StructType | str) -> DataFrame:
    """Typed empty DataFrame: an empty JVM LocalRelation with exactly
    ``schema`` (names, types and nullability; a DDL string is parsed
    first).

    The rule for small driver-side frames in this package: empty frames
    go through ``empty_df``, driver lists through ``values_df``.
    ``spark.createDataFrame`` of an empty list is a Python RDD over the
    default parallelism, so every job that touches it (a ``count()``, a
    union branch, a broadcast build) sends tasks through
    ``pyspark.daemon`` workers although there is no row to ship:
    ~0.3-0.4 s per ``count()`` on a 4-core box, against ~0.05-0.1 s here.
    An empty LocalRelation needs no Python worker, and the optimizer sees
    that it is empty, so unions and joins with it are pruned at planning
    time."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    js = spark._jsparkSession
    return DataFrame(
        js.createDataFrame(
            spark._jvm.java.util.ArrayList(), js.parseDataType(schema.json())
        ),
        spark,
    )


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every driver table as a temp view for spark.sql queries."""
    for name in TPCH_TABLES:
        table(spark, sf_dir, name).createOrReplaceTempView(name)


# ---------------------------------------------------------------------------
# Imaging-domain schemas (reference: imaging_db/database/*.py; SURVEY.md §1.1)
# ---------------------------------------------------------------------------
# JSONB columns (frames_global.py:29, frames.py:25, file_global.py:22) become
# a raw JSON string column queried with get_json_object / from_json — the
# reference only ever uses flat single-key containment and field extraction
# (notebooks/jsonb_queries.ipynb cells 4-6), which get_json_object covers.

DATA_SET_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("dataset_serial", T.StringType(), False),
        T.StructField("description", T.StringType(), True),
        T.StructField("microscope", T.StringType(), True),
        T.StructField("frames", T.BooleanType(), False),
        # Derived from dataset_serial at ingest (dataset.py:9-18) so date-range
        # queries are a pushed-down timestamp predicate, not string parsing.
        T.StructField("date_time", T.TimestampType(), True),
        T.StructField("parent_id", T.LongType(), True),
    ]
)

FRAMES_GLOBAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("nbr_frames", T.IntegerType(), True),
        T.StructField("im_width", T.IntegerType(), True),
        T.StructField("im_height", T.IntegerType(), True),
        T.StructField("nbr_slices", T.IntegerType(), True),
        T.StructField("nbr_channels", T.IntegerType(), True),
        T.StructField("im_colors", T.IntegerType(), True),
        T.StructField("nbr_timepoints", T.IntegerType(), True),
        T.StructField("nbr_positions", T.IntegerType(), True),
        T.StructField("bit_depth", T.StringType(), True),
        T.StructField("storage_dir", T.StringType(), True),
        T.StructField("metadata_json", T.StringType(), True),
        T.StructField("dataset_id", T.LongType(), False),
    ]
)

FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("channel_idx", T.IntegerType(), True),
        T.StructField("slice_idx", T.IntegerType(), True),
        T.StructField("time_idx", T.IntegerType(), True),
        T.StructField("pos_idx", T.IntegerType(), True),
        T.StructField("channel_name", T.StringType(), True),
        T.StructField("file_name", T.StringType(), True),
        T.StructField("sha256", T.StringType(), True),
        T.StructField("metadata_json", T.StringType(), True),
        T.StructField("frames_global_id", T.LongType(), False),
    ]
)

FILE_GLOBAL_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("storage_dir", T.StringType(), True),
        T.StructField("file_name", T.StringType(), True),
        T.StructField("metadata_json", T.StringType(), True),
        T.StructField("dataset_id", T.LongType(), False),
        T.StructField("sha256", T.StringType(), True),
    ]
)

IMAGING_SCHEMAS = {
    "data_set": DATA_SET_SCHEMA,
    "frames_global": FRAMES_GLOBAL_SCHEMA,
    "frames": FRAMES_SCHEMA,
    "file_global": FILE_GLOBAL_SCHEMA,
}


# ---------------------------------------------------------------------------
# Multi-format table IO (S-ops: sources/sinks beyond parquet)
# ---------------------------------------------------------------------------
# The reference reads CSV manifests and JSON configs and stores rows in
# Postgres; the engine's canonical table format is parquet. These helpers
# add the remaining Spark-native columnar/interchange formats behind one
# call so a deployment can land tables where its ecosystem needs them:
# ORC (the other pushdown-capable columnar format — Hive/Trino
# interchange), CSV and JSON-lines (interchange exports, schema required
# on read — never inferred, inference is a full extra scan at 100 TB).

TABLE_FORMATS = ("parquet", "orc", "csv", "json")


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Write a table in any supported format. CSV gets a header (the
    manifest convention, data_uploader.py:106-108); partition_by produces
    hive-style directory partitioning (partition pruning on read — see
    tests/test_bucketing.py for the pruning evidence)."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"unsupported table format: {fmt}")
    w = df.write.mode(mode).format(fmt)
    if fmt == "csv":
        w = w.option("header", True)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read a table written by write_table. Parquet/ORC carry their own
    schema; CSV/JSON REQUIRE the explicit schema — type inference would
    silently widen/narrow types and costs a full extra pass."""
    if fmt not in TABLE_FORMATS:
        raise ValueError(f"unsupported table format: {fmt}")
    r = spark.read.format(fmt)
    if fmt in ("csv", "json"):
        if schema is None:
            raise ValueError(f"{fmt} read requires an explicit schema")
        r = r.schema(schema)
        if fmt == "csv":
            r = r.option("header", True)
    elif schema is not None:
        r = r.schema(schema)
    return r.load(path)
