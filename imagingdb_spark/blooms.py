"""Bloom-filter sidecar indexes for snapshot tables — point-lookup file
skipping where min/max zone maps cannot prune.

Why: footer min/max stats (snapshots.py) prune range/point predicates on
CLUSTERED columns, but a point lookup on a high-cardinality UNCLUSTERED
key — `sha256 = ?` over an append-ordered frames table, a dataset_serial
probe before a clustering compact has run — matches every file's
[min, max] and prunes nothing. The reference gets these lookups for free
from Postgres b-trees (db_operations.py `filter_by(sha256=...)` shape);
at 100 TB the Spark-native answer is the Databricks/Iceberg bloom-index
design (public): a per-file Bloom filter on the key, consulted at scan
planning, so a probe opens only the files whose filter claims the key.

Shape:

- **Build** (distributed): after a commit lands its data files, one Spark
  job reads back JUST the indexed columns (`input_file_name()` +
  `applyInPandas` per file) and writes one parquet **sidecar directory
  per commit** under `_blooms/<commit-id>/` with rows
  ``(file, col, n, m, k, bits)``. Data pages are read once, column-
  pruned, on executors — the driver never sees row values.
- **Manifest**: each file entry gains ``bloom: {sc, cols, kinds}``
  pointing at its commit's sidecar; the manifest itself carries the
  table property ``blooms: [col, ...]`` (set once via
  ``snapshot_commit(..., bloom_columns=[...])``, carried forward like
  ``txns``) so every later writer — append, RMW, MERGE, compact — keeps
  the index fresh without the caller re-stating it.
- **Probe** (driver, planning time): `_resolve_pruned` hands candidates
  that survived min/max here; for ``=``/``in`` conjuncts on indexed
  columns the candidate's sidecar rows are loaded (pyarrow, filtered to
  the candidate file names — never the whole index) and definite
  negatives are dropped. False positives only ever KEEP a file, and the
  predicate is re-applied in Spark, so pruning stays an optimization,
  never the semantics.

Soundness rules (each one closes a real false-ABSENCE hazard — the
direction that silently loses rows):

- Only string / binary / integer-typed columns are indexable; the build
  side reads the Spark SCHEMA, not the pandas dtype, so an int64 column
  that pandas coerces to float64 (any NULL in the batch does this) still
  indexes its values as integers. Float/bool/timestamp columns are never
  indexed — equality through Spark's cast semantics cannot be mirrored
  byte-wise.
- Each indexed column records its type KIND ('s'/'i'/'b') on the entry;
  a probe value whose encoding kind differs (a string probe against an
  int column — Spark's re-applied filter would CAST and match) keeps the
  file instead of consulting the filter, mirroring `_comparable` in the
  min/max path.
- NULLs are simply not inserted (no equality predicate matches NULL);
  any OTHER unencodable value marks that (file, column) filter unusable
  (written with m=0 ⇒ probe keeps), because a filter missing a live
  value would prove present keys absent.
- A malformed sidecar row (m ≤ 0, truncated bits, alien k) and a failed
  sidecar read both degrade to "keep" — never to an error, never to a
  wrong skip.

Hashing is double-hashing (Kirsch–Mitzenmacher, public) over a 16-byte
BLAKE2b digest of a type-tagged canonical encoding — pure-Python on both
sides, so the probe needs no Spark job and no JVM-hash parity. Sizing
targets ~1% FPP (m ≈ 9.6 n bits, k = 7), capped at 1 MiB of bits per
(file, column) — past ~875k distinct keys per file the FPP degrades
gracefully instead of the sidecar growing unboundedly.
"""

from __future__ import annotations

import os
from hashlib import blake2b

import numpy as np

BLOOM_DIR = "_blooms"

_K = 7  # optimal hash count for the ~1% FPP target
_BITS_PER_KEY = 10  # ceil(-ln(0.01) / ln(2)^2) = 9.585, rounded up
_MAX_BITS = 8 * 1024 * 1024 * 1  # 1 MiB of bits per (file, column)
_CACHE_CAP = 4096  # probe-side (sidecar, file, col) entries


def _probe_encode(v) -> tuple[str, bytes] | None:
    """(kind, canonical bytes) for a probe value, or None when no bloom
    can answer it (null / bool / non-integral float / exotic). Integral
    floats encode as ints: Spark's `int_col = 42.0` matches 42, so the
    int filter is the right oracle for it."""
    if v is None or isinstance(v, (bool, np.bool_)):
        return None
    if isinstance(v, str):
        return "s", b"s:" + v.encode("utf-8")
    if isinstance(v, (int, np.integer)):
        return "i", b"i:%d" % int(v)
    if isinstance(v, (bytes, bytearray)):
        return "b", b"b:" + bytes(v)
    if isinstance(v, float):
        if v != v:  # NaN
            return None
        if float(v).is_integer():
            return "i", b"i:%d" % int(v)
        return None
    return None


def _build_encode(v, kind: str) -> bytes | None | bool:
    """Canonical bytes for a stored value of a column whose Spark type
    has `kind`; None for nulls (legitimately skipped — equality never
    matches NULL); False for a value that SHOULD have been encodable but
    was not (the filter must then be marked unusable)."""
    if v is None or (isinstance(v, float) and v != v):
        return None
    if kind == "i":
        if isinstance(v, (int, np.integer)) and not isinstance(v, bool):
            return b"i:%d" % int(v)
        # pandas coerces int64-with-nulls to float64: values stay
        # integral BUT only exact below 2^53 — a rounded key would index
        # the wrong value and falsely prove the true key absent, so past
        # the mantissa the filter must be marked unusable
        if isinstance(v, float) and float(v).is_integer():
            if abs(v) >= 2.0**53:
                return False
            return b"i:%d" % int(v)
        return False
    if kind == "s":
        if isinstance(v, str):
            return b"s:" + v.encode("utf-8")
        return False
    if kind == "b":
        if isinstance(v, (bytes, bytearray)):
            return b"b:" + bytes(v)
        return False
    return False


def _positions(data: bytes, m: int) -> list[int]:
    d = blake2b(data, digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1  # odd: full-cycle stride
    return [((h1 + i * h2) % m) for i in range(_K)]


def _size_for(n: int) -> int:
    """Filter size in bits for n keys: multiple of 8, >= 64, capped."""
    return max(64, min(_MAX_BITS, ((n * _BITS_PER_KEY + 7) // 8) * 8))


def _build_filter(values, kind: str) -> tuple[int, int, bytes, int]:
    """(m, k, bits, n_indexed) over an iterable of python values; m=0
    marks an UNUSABLE filter (some non-null value failed to encode —
    probing it would wrongly prove present keys absent)."""
    encoded = []
    for v in values:
        e = _build_encode(v, kind)
        if e is None:
            continue
        if e is False:
            return 0, _K, b"", 0
        encoded.append(e)
    m = _size_for(len(encoded))
    bits = np.zeros(m // 8, dtype=np.uint8)
    for e in encoded:
        for p in _positions(e, m):
            bits[p >> 3] |= 1 << (p & 7)
    return m, _K, bits.tobytes(), len(encoded)


def _might_contain(m: int, k: int, bits: bytes, data: bytes) -> bool:
    """False only when a WELL-FORMED filter proves the encoded value
    absent; malformed rows (m<=0, truncated bits, alien k) keep."""
    if m <= 0 or k != _K or len(bits) * 8 < m:
        return True
    arr = memoryview(bits)
    for p in _positions(data, m):
        if not (arr[p >> 3] >> (p & 7)) & 1:
            return False
    return True


# ---------------------------------------------------------------------------
# Build side (one Spark job per commit, executors only)
# ---------------------------------------------------------------------------

_KINDS = {
    "string": "s",
    "binary": "b",
    "byte": "i",
    "short": "i",
    "integer": "i",
    "long": "i",
}


def build_sidecar(
    spark,
    table_dir: str,
    rel_dir: str,
    file_entries: list[dict],
    columns: list[str],
    schema,
) -> None:
    """Build bloom sidecars for a commit's freshly written files and stamp
    each entry with ``bloom: {sc, cols, kinds}``. ``rel_dir`` is the
    commit's ``data/<commit-id>`` directory; the sidecar lands in
    ``_blooms/<commit-id>``. ``schema`` is the StructType the files were
    written with; reading with it costs no schema-inference job. Columns
    absent from the written schema, or of a non-indexable type
    (float/bool/timestamp — see the soundness rules above), are skipped:
    their absence keeps files conservative, never wrong."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BinaryType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if not file_entries or not columns:
        return
    out_dir = os.path.join(table_dir, rel_dir)
    types = {f.name: f.dataType.typeName() for f in schema.fields}
    kinds = {
        c: _KINDS[types[c]]
        for c in columns
        if c in types and types[c] in _KINDS
    }
    if not kinds:
        return
    present = sorted(kinds)
    out_schema = StructType(
        [
            StructField("file", StringType()),
            StructField("col", StringType()),
            StructField("n", LongType()),
            StructField("m", LongType()),
            StructField("k", IntegerType()),
            StructField("bits", BinaryType()),
        ]
    )

    def _per_file(pdf):
        import pandas as pd

        fname = os.path.basename(pdf["__f"].iloc[0])
        rows = []
        for c in present:
            m, k, bits, n = _build_filter(pdf[c].tolist(), kinds[c])
            rows.append((fname, c, n, m, k, bits))
        return pd.DataFrame(
            rows, columns=["file", "col", "n", "m", "k", "bits"]
        )

    commit_id = os.path.basename(rel_dir)
    sc_rel = os.path.join(BLOOM_DIR, commit_id)
    (
        spark.read.schema(schema)
        .parquet(out_dir)
        .select(F.input_file_name().alias("__f"), *present)
        .groupBy("__f")
        .applyInPandas(_per_file, out_schema)
        .write.mode("overwrite")
        .parquet(os.path.join(table_dir, sc_rel))
    )
    for fe in file_entries:
        fe["bloom"] = {"sc": sc_rel, "cols": present, "kinds": kinds}


# ---------------------------------------------------------------------------
# Probe side (driver, planning time)
# ---------------------------------------------------------------------------

_cache: dict[tuple, tuple[int, int, bytes] | None] = {}


def _load_sidecar_rows(
    table_dir: str, sc_rel: str, files: list[str], cols: list[str]
) -> dict:
    """One filtered pyarrow read for the candidate (file, col) rows —
    row-group stats keep it from materializing the whole index. Results
    cache on SUCCESS only (a transient read failure must not pin "keep"
    forever); the per-call dict is authoritative for this probe."""
    import pyarrow.parquet as pq

    keys = [(table_dir, sc_rel, f, c) for f in files for c in cols]
    todo = [k for k in keys if k not in _cache]
    view = {k: _cache[k] for k in keys if k in _cache}
    if not todo:
        return view
    try:
        t = pq.read_table(
            os.path.join(table_dir, sc_rel),
            filters=[("file", "in", sorted({k[2] for k in todo}))],
        )
        found = {}
        for file, col, m, k, bits in zip(
            t["file"].to_pylist(),
            t["col"].to_pylist(),
            t["m"].to_pylist(),
            t["k"].to_pylist(),
            t["bits"].to_pylist(),
        ):
            found[(file, col)] = (m, k, bits)
    except Exception:
        # failed read: answer "unknown" (keep) for THIS call, cache nothing
        view.update({k: None for k in todo})
        return view
    if len(_cache) + len(todo) > _CACHE_CAP:
        _cache.clear()
    for key in todo:
        flt = found.get((key[2], key[3]))
        _cache[key] = flt
        view[key] = flt
    return view


def prune_candidates(
    table_dir: str, entries: list[dict], where: list, plan: dict | None = None
) -> list[dict]:
    """Drop entries whose bloom filters PROVE no ``=``/``in`` conjunct
    value is present. Entries without a filter for a probed column, and
    probe values whose type kind differs from the indexed column's, are
    kept; range conjuncts are ignored (min/max already handled them)."""
    probes = [
        (col, [v] if op == "=" else list(v))
        for col, op, v in where
        if op in ("=", "in")
    ]
    # only columns some entry actually indexes are worth a sidecar read
    indexed_cols: set[str] = set()
    for e in entries:
        b = e.get("bloom")
        if b:
            indexed_cols.update(b["cols"])
    probes = [(c, vals) for c, vals in probes if c in indexed_cols]
    if not probes:
        if plan is not None:
            plan["files_bloom_dropped"] = 0
        return entries
    # pre-encode probe values once: (col) -> list of (kind, bytes), or
    # the None sentinel when ANY value is unencodable — Spark's coerced
    # IN-list can match rows through values the bloom never probed
    # (e.g. 2.5 against a string column matching '2.5'), so one
    # unencodable member disables pruning for the whole conjunct
    enc: dict[str, list] = {}
    for col, vals in probes:
        pairs = [_probe_encode(v) for v in vals]
        enc[col] = [None] if any(p is None for p in pairs) else pairs
    by_sc: dict[str, list[str]] = {}
    for e in entries:
        b = e.get("bloom")
        if b:
            by_sc.setdefault(b["sc"], []).append(
                os.path.basename(e["path"])
            )
    probe_cols = [c for c, _ in probes]
    view: dict = {}
    for sc_rel, files in by_sc.items():
        view.update(
            _load_sidecar_rows(table_dir, sc_rel, files, probe_cols)
        )
    kept = []
    for e in entries:
        b = e.get("bloom")
        if not b:
            kept.append(e)
            continue
        fname = os.path.basename(e["path"])
        kinds = b.get("kinds") or {}
        alive = True
        for col, _vals in probes:
            if col not in b["cols"] or col not in kinds:
                continue  # entry predates kinds or lacks the column: keep
            pairs = enc[col]
            if pairs == [None]:
                continue  # no probe value this filter can answer
            # a value of a DIFFERENT kind may still match through Spark's
            # casts — its presence cannot be ruled out, so the file stays
            if any(kind != kinds[col] for kind, _ in pairs):
                continue
            flt = view.get((table_dir, b["sc"], fname, col))
            if flt is None:
                continue  # sidecar row unavailable: keep
            if not any(
                _might_contain(*flt, data) for _kind, data in pairs
            ):
                alive = False  # every probed value provably absent
                break
        if alive:
            kept.append(e)
    if plan is not None:
        plan["files_bloom_dropped"] = len(entries) - len(kept)
    return kept
