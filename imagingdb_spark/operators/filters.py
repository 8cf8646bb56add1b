"""Projection / filter / predicate operators (SURVEY.md §2.2, P1-P9).

Reference semantics: the conditional filter chaining of
``db_operations.get_datasets`` (db_operations.py:68-90) — substring LIKE,
inclusive date range, equality, IN-lists, JSONB extraction, existence checks.
Re-expressed declaratively so every predicate reaches the parquet scan
(check ``.explain``: PushedFilters lists them; client-side pandas residual
filtering in the reference at db_operations.py:350-388 is deliberately NOT
replicated — see SURVEY.md §4).
"""

from __future__ import annotations

import json
import re

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from imagingdb_spark.catalog import table
from imagingdb_spark.registry import query


@query(
    "f_substring",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE p_name LIKE '%old%' AND p_type LIKE '%O%'
    """,
)
def f_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: `col.contains(x)` — the reference's LIKE '%x%' search over
    dataset_serial / microscope / description (db_operations.py:70-77).
    'old' matches both 'old anvil' and 'cold widget' — substring, not word,
    semantics. Substring predicates can't use parquet min/max stats but
    still push to the scan as a row-level filter."""
    part = table(spark, sf_dir, "part")
    return part.filter(
        F.col("p_name").contains("old") & F.col("p_type").contains("O")
    ).select("p_partkey", "p_name", "p_type")


@query(
    "f_daterange",
    oracle="""
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <= TIMESTAMP '1997-12-31 23:59:59'
    """,
)
def f_daterange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: inclusive-both-ends date range (db_operations.py:78-85).
    Timestamp predicates push down to parquet row-group min/max stats —
    at 100 TB with date-partitioned layout this becomes partition pruning."""
    orders = table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1997-12-31 23:59:59").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_totalprice")


@query(
    "f_equality",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_custkey = 7
    """,
)
def f_equality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: equality point filters (`dataset_serial == id`, `frames == True` —
    db_operations.py:113, 300)."""
    orders = table(spark, sf_dir, "orders")
    return orders.filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_custkey") == 7)
    ).select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")


@query(
    "f_inlist",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
    FROM lineitem
    WHERE l_returnflag IN ('A', 'R') AND l_linenumber IN (1, 2, 3)
    """,
)
def f_inlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: IN-list subset filters — the reference's channels/slices/times/
    positions subset selection (db_operations.py:355-388), which it runs
    client-side in pandas; here the isin predicates stay in the plan and
    push down to the scan. The str-vs-int channel polymorphism lives in the
    domain API layer (imagingdb_spark.api.select_frames_subset)."""
    li = table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_returnflag").isin("A", "R") & F.col("l_linenumber").isin(1, 2, 3)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


@query(
    "f_json_extract",
    oracle="""
    SELECT event_id, user_id, event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 80
    """,
)
def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+P6: JSONB containment/extraction — `metadata_json @> {...}` and
    `metadata_json['k']` (jsonb_queries.ipynb cells 4-6) become
    get_json_object over the raw JSON string column. The flat single-key
    case (all the reference uses) needs no UDF.

    Path selection for the general `@>` form: ``jsonb_contains`` below
    compiles a FLAT needle with identifier keys and unambiguous string
    values to this same JVM get_json_object conjunction; nested needles,
    non-string scalars, or string values that parse as JSON literals
    (where get_json_object's unquoted rendering is ambiguous) fire the
    exact recursive pandas_udf path instead."""
    events = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        events.withColumn("k_value", k)
        .filter(F.col("k_value") > 80)
        .select("event_id", "user_id", "event_type", "k_value")
    )


@query(
    "p_project",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    """,
)
def p_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: column projection/drop (db_operations.py:393-396). The point at
    scale: ReadSchema on the parquet scan must list only these 3 columns."""
    cust = table(spark, sf_dir, "customer")
    return cust.drop("c_nationkey", "c_acctbal").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "f_not_exists",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def f_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: existence/uniqueness check — the reference asserts count==0 before
    insert (db_operations.py:111-117). Distributed form: left-anti join, the
    same primitive the catalog commit uses for idempotent append
    (snapcatalog.catalog_commit).
    The anti join shuffles on the key unless one side broadcasts; AQE picks
    broadcast when the probe side is small."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "f_null_handling",
    oracle="""
    SELECT e.event_id,
           COALESCE(CAST(json_extract_string(e.props, '$.missing') AS BIGINT), -1)
             AS parent_key,
           CASE WHEN e.value IS NULL OR isnan(e.value) THEN 0.0
                ELSE round(e.value, 4) END AS value_clean
    FROM events e
    """,
)
def f_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: null/NaN normalization — the reference maps None/'none'/NaN parent
    ids to "no parent" (db_operations.py:127-136, data_uploader.py:176-179).
    coalesce/when/isnan are all codegen'd JVM expressions."""
    events = table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.coalesce(
            F.get_json_object(F.col("props"), "$.missing").cast("bigint"),
            F.lit(-1),
        ).alias("parent_key"),
        F.when(
            F.col("value").isNull() | F.isnan(F.col("value")), F.lit(0.0)
        )
        .otherwise(F.round(F.col("value"), 4))
        .alias("value_clean"),
    )


# ---------------------------------------------------------------------------
# Recursive JSONB containment (VERDICT r3 item 4): Postgres `@>` as a real
# Column predicate with a JVM fast path. Reference: metadata_json @> {...}
# (notebooks/jsonb_queries.ipynb cell 4; SURVEY.md §4).
# ---------------------------------------------------------------------------

_FAST_KEY = re.compile(r"^[A-Za-z0-9_]+$")


def _fast_path_eligible(needle: dict) -> bool:
    """True when the flat get_json_object conjunction is EXACT Postgres
    `@>`: every key is a plain identifier (JSONPath-safe without escaping)
    and every value is a string that is NOT itself parseable as a JSON
    literal. get_json_object renders doc strings unquoted, so a doc number
    1 and a doc string "1" both render as "1" — values like "1", "true",
    "null" are ambiguous and must take the exact recursive path."""
    for k, v in needle.items():
        if not isinstance(k, str) or not _FAST_KEY.match(k):
            return False
        if not isinstance(v, str):
            return False
        try:
            json.loads(v)
            return False  # parseable → ambiguous with a non-string scalar
        except ValueError:
            continue
    return True


def jsonb_contains(col: Column, needle: dict) -> Column:
    """Postgres `@>` containment over a JSON string column.

    Fast path (flat needle, identifier keys, unambiguous string values —
    everything the reference's own queries use): a conjunction of
    ``get_json_object(col, '$.k') == v`` comparisons — pure JVM
    expressions inside whole-stage codegen, no Python in the hot path.

    General path (nested objects/arrays, or any scalar whose JSON
    rendering collides with a string): an Arrow-batched pandas_udf over
    ``sinks.json_contains`` — full recursive Postgres semantics: objects
    descend key-by-key, arrays must contain every needle element (any
    order), scalars compare typed. Per-row cost only on the rows that
    survive whatever JVM-side predicates Catalyst pushed before it."""
    if not isinstance(needle, dict):
        raise TypeError("needle must be a dict (Postgres `@>` rhs object)")
    if not needle:
        # Postgres: every JSON object contains the empty object; null
        # documents contain nothing
        return col.isNotNull()
    if _fast_path_eligible(needle):
        pred = None
        for k, v in needle.items():
            c = F.get_json_object(col, f"$.{k}") == F.lit(v)
            pred = c if pred is None else (pred & c)
        return pred

    from imagingdb_spark.sinks import json_contains

    @F.pandas_udf("boolean")
    def _contains_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda doc: json_contains(doc, needle))

    return _contains_udf(col)
