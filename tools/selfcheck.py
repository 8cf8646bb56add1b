"""Self-check harness mirroring the driver's correctness gate: run every
registered query on Spark AND its DuckDB oracle on the same parquet tables,
compare row count + column names + order-insensitive value hash.

Usage: python tools/selfcheck.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import duckdb
import pandas as pd

from imagingdb_spark import registry
from imagingdb_spark.catalog import TPCH_TABLES
from imagingdb_spark.session import get_spark


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize values, sort rows — same spirit as
    the driver's order-insensitive value hash."""
    df = df.reindex(sorted(df.columns), axis=1)

    def canon(v):
        # arrays first: `v != v` is ambiguous on ndarrays
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(canon(x) for x in v) + "]"
        if v is None or v != v:  # None/NaN/NaT
            return "␀"
        if isinstance(v, float):
            return f"{v:.6g}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        if isinstance(v, bool):
            return str(int(v))
        return str(v)

    out = df.map(canon)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    scols, ocols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if scols != ocols:
        problems.append(f"columns spark={scols} oracle={ocols}")
        return problems
    a, b = normalize(spark_df), normalize(oracle_df)
    if len(a) == len(b) and not a.equals(b):
        neq = (a != b).any(axis=1)
        idx = list(a.index[neq])[:3]
        for i in idx:
            problems.append(f"row {i}: spark={a.loc[i].to_dict()} oracle={b.loc[i].to_dict()}")
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    registry.load_all()
    spark = get_spark("selfcheck")
    con = duckdb.connect()
    for t in TPCH_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    names = [n for n in sorted(registry.QUERIES) if not only or n in only]
    failed = []
    for name in names:
        t0 = time.time()
        try:
            spark_q = registry.QUERIES[name](spark, sf_dir)
            if name in registry.ORACLE:
                # The driver's canonicalizer hashes via pandas sort_values,
                # which crashes on list cells (CORRECTNESS_r04's two red
                # rows). Oracle-exact queries must serialize array outputs.
                bad = [
                    f.name
                    for f in spark_q.schema.fields
                    if f.dataType.typeName() in ("array", "map", "struct")
                ]
                if bad:
                    print(f"FAIL {name}: driver-unhashable output columns {bad}")
                    failed.append(name)
                    continue
            sdf = spark_q.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failed.append(name)
            continue
        if name not in registry.ORACLE:
            # rows-only queries get no value oracle, so the strongest
            # machine check available is RUN-TO-RUN DETERMINISM: build the
            # plan twice and require identical canonicalized content
            # (VERDICT r5 item 8). Catches nondeterministic sampling,
            # unordered LIMIT, and unstable floats that a row count can't.
            spark.catalog.clearCache()  # re-run must not reuse run 1's cache
            try:
                sdf2 = registry.QUERIES[name](spark, sf_dir).toPandas()
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: rerun error: {e}")
                failed.append(name)
                continue
            det = len(sdf) == len(sdf2) and (
                len(sdf) == 0 or normalize(sdf).equals(normalize(sdf2))
            )
            verdict = "deterministic" if det else "NONDETERMINISTIC"
            print(
                f"ok?  {name}: rows-only, {verdict} "
                f"({len(sdf)} rows, {time.time()-t0:.1f}s)"
            )
            if len(sdf) == 0:
                print(f"     WARNING {name}: 0 rows")
            if not det:
                failed.append(name)
            spark.catalog.clearCache()  # minhash/simhash persist intermediates
            continue
        try:
            odf = con.sql(registry.ORACLE[name]).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: oracle error: {e}")
            failed.append(name)
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failed.append(name)
        else:
            print(f"PASS {name} ({len(sdf)} rows, {time.time()-t0:.1f}s)")
        # queries that persist intermediates (dedup shingle/token tables)
        # must not leave cache occupancy behind to degrade later queries
        spark.catalog.clearCache()
    print(f"\n{len(names) - len(failed)}/{len(names)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
