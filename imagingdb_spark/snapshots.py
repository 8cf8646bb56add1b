"""Manifest-based snapshot table format — the transactional layer that
layout.py's docstring defers to "a table format (Delta/Iceberg) on top".
This is that layer, minimally: an immutable commit log of JSON manifests
over plain parquet data files, giving the engine what rename-swap alone
cannot (layout.compact_parquet's documented gap):

- **Atomic multi-file commits.** A writer lands any number of data files
  under ``data/<commit-uuid>/`` — invisible to every reader until ONE
  manifest file appears. Readers therefore never see a torn write, no
  matter how many files or tasks the write involved.
- **Snapshot-isolated reads + time travel.** A reader resolves the latest
  manifest once and reads exactly that file set; concurrent commits
  change the NEXT reader's view, never an in-flight one. Any retained
  version stays readable (``snapshot_read(..., version=N)``).
- **Optimistic concurrency.** The commit point is a hard link of the
  fully-written manifest to ``v<NNNNNNNN>.json`` — ``os.link`` is atomic
  and fails with EEXIST when the slot is taken, which is exactly
  put-if-absent (object stores expose the same primitive as
  If-None-Match / precondition puts; this module keeps every commit
  behind the single ``_publish`` seam so that swap is one function).
  Every writer commits through the one retry loop ``_pinned_commit``,
  which drops a lost or failed attempt's files whole. Losing appends
  REBASE (appends commute: relink the same data files onto the newer
  parent — no data rewrite); losing overwrites and compactions raise
  ``SnapshotConflict`` because their result depends on the parent they
  read.
- **Crash safety by construction.** Every mutation is (1) write data
  files, (2) write manifest to a dot-temp, (3) link. A crash anywhere
  leaves either the old table exactly, or the new version exactly —
  plus possibly unreferenced debris that ``snapshot_vacuum`` removes by
  set-difference against every retained manifest (the reconciliation
  idea of layout.find_orphan_blobs turned into a safe delete, because
  the manifests are the complete reference set).

Scale notes (100 TB): the live file list is a TWO-LEVEL manifest tree
(the Iceberg manifest-list/manifest-file split, public design): each
commit writes its delta as ONE immutable manifest-group file under
``_manifests/groups/`` and publishes a small version manifest that lists
group REFERENCES (name + n_files + bytes), reusing the parent's groups
untouched. Per-commit cost is therefore O(delta + group count), never
O(live files) — at ~800k live files (100 TB at 128 MB) the old flat
format copied tens of MB of JSON per commit; the tree copies a ≤32-entry
ref list. The group count is bounded by LSM-style geometric coalescing:
when a commit would exceed MAX_GROUPS refs it merges the smallest groups
into one, so every file entry is rewritten O(log commits) times total.
Reads resolve the tree once and hand Spark the exact file list, so
planning never pays a recursive directory listing. File entries carry
footer-derived min/max/null column stats and group refs carry merged
ranges, so a predicate read (``snapshot_read(..., where=...)``) skips
whole groups without opening them and prunes files before Spark ever
sees a path — the Iceberg data-skipping design; ``snapshot_scan_plan``
exposes the skip counters. A second pruning stage covers the predicate
class zone maps cannot: per-file bloom sidecars on configured
high-cardinality columns answer ``=``/``in`` probes on UNCLUSTERED keys
(imagingdb_spark/blooms.py — the table property rides the manifest like
``txns``, so every writer keeps the index fresh). Compaction
(``snapshot_compact``) is the transactional upgrade of
layout.compact_parquet: a concurrent append can no longer be silently
dropped — the compact commit detects the new parent and retries against
it.

Reference parity: the reference relies on Postgres transactions for
dataset-registration atomicity (/root/reference/imaging_db/database/
db_operations.py); at Spark scale the table data itself needs the same
all-or-nothing visibility, which is this module.

Scope: commits are SINGLE-TABLE (same as Delta/Iceberg). The streaming
gates' corpus+band-index pairs need cross-table consistency and keep
their own discipline instead — individually idempotent appends plus
torn-write healing that rebuilds the index from the corpus (streaming/
jobs.py), which tolerates any crash interleaving without a two-table
transaction.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from imagingdb_spark.catalog import empty_df, values_df

MANIFEST_DIR = "_manifests"
GROUPS_DIR = "groups"  # manifest-group files, under MANIFEST_DIR
DATA_DIR = "data"
# positional-delete sidecars (merge-on-read DELETE; Iceberg v2 position
# deletes / Delta deletion vectors, public design): parquet dirs of
# (path, pos) rows, one dir per delete commit, referenced by file entries
DELETES_DIR = "_deletes"
# equality-delete sidecars (Iceberg v2 equality deletes, public design):
# parquet dirs of one-column (key) rows, one dir per eqput commit,
# referenced by the file entries the commit's key set could touch
EQDELETES_DIR = "_eqdeletes"
_FMT = "v{:08d}.json"
# Ref-list ceiling before geometric coalescing kicks in. 32 keeps the
# per-commit manifest at a few KB while the merge schedule bounds total
# entry rewrites at O(log commits) per entry.
MAX_GROUPS = 32
# Column-name prefix the format reserves for its own read-path helper
# columns (the DV anti-join keys __dv_path/__dv_pos). A user table that
# carried one would collide with the select("*", ...) attachment in
# _read_entries/_delete_dv and the subsequent join would resolve the
# wrong column — rejected at schema canonicalization, the one seam every
# writer's schema passes through.
RESERVED_COL_PREFIX = "__dv_"
# Total manifest-recorded DV positions above which _read_entries stops
# broadcasting the sidecar union and falls back to a shuffled anti-join:
# positions are delete-batch-sized in the common case, but nothing caps
# a broad predicate delete or many accumulated commits, and a
# corpus-scale broadcast would OOM the driver before the executors.
# ~20M (path,pos) rows is a few hundred MB serialized — safely under
# executor memory as a shuffle, far past sane broadcast territory.
DV_BROADCAST_MAX_POSITIONS = 4_000_000
# Rows per physical sidecar file a DV write targets: small deletes stay
# the one-file fast path every reader opens cheaply; a corpus-scale
# position set (broad predicate) spreads over tasks instead of funneling
# through one coalesce(1) writer.
DV_SIDECAR_ROWS_PER_FILE = 4_000_000
# Accumulated-positions ceiling for a dv-mode delete (new hits + every
# position the touched entries already carry). Past it the delete is a
# corpus-scale mutation: the sidecar would tax every later scan more
# than a rewrite costs once, so snapshot_delete falls back to
# copy-on-write for that attempt (recorded in the audit) instead of
# publishing a standing read tax.
DV_MAX_POSITIONS = 50_000_000


class DVPositionsOverflow(RuntimeError):
    """A dv-mode delete matched more positions than ``dv_max_positions``
    allows; the caller falls back to copy-on-write (snapshot_delete does
    this automatically) or raises to the user (catalog_delete, where the
    multi-table strategy is the caller's explicit choice)."""


class SnapshotConflict(RuntimeError):
    """A concurrent commit took the version this writer targeted and the
    operation cannot be rebased (overwrite/compact read a parent that is
    no longer the tip)."""


def _canon_schema_json(schema: StructType | str) -> str:
    """ONE canonical schema string for every comparison and every store:
    every nullability flag forced True recursively (parquet cannot
    enforce non-null on read, so two logically-identical commits can
    otherwise disagree on nothing but expression-derived nullable flags —
    a row_number-built id is non-null; the same id read back from the
    committed files is nullable) and keys/spacing normalized via
    sort_keys json.dumps. Accepts a StructType OR any stored schema JSON
    string, so manifests written by OLDER code (compact separators,
    original nullable flags) compare equal to their canonical form —
    comparing raw strings from two serializer vintages was a confirmed
    round-7 review bug that spuriously refused appends to legacy and
    schema-widened tables. Types and field order stay strict."""

    def _relax(node):
        if isinstance(node, dict):
            return {
                k: (True if k in ("nullable", "containsNull",
                                  "valueContainsNull") else _relax(v))
                for k, v in node.items()
            }
        if isinstance(node, list):
            return [_relax(v) for v in node]
        return node

    raw = schema if isinstance(schema, str) else schema.json()
    parsed = json.loads(raw)
    bad = [
        f["name"]
        for f in parsed.get("fields", [])
        if f["name"].startswith(RESERVED_COL_PREFIX)
    ]
    if bad:
        raise ValueError(
            f"column names {bad} collide with the format's reserved "
            f"{RESERVED_COL_PREFIX}* read-path helpers; rename them"
        )
    return json.dumps(_relax(parsed), sort_keys=True)


def _merged_schema(base_json: str, new_json: str) -> str | None:
    """Additive schema merge (the Delta ``mergeSchema`` rule, public):
    every field the two schemas SHARE must have an identical type; the
    merged schema is the base's fields followed by the new fields the
    base lacks, all original types preserved. Returns the merged schema
    in CANONICAL form (the one format every comparison uses), or None
    when the schemas conflict on a shared field (type change / drop are
    migrations.py territory, never an append). New-in-merge fields read
    as NULL from pre-evolution files — Spark's by-name parquet resolution
    under an explicit read schema."""
    base = StructType.fromJson(json.loads(base_json))
    new = StructType.fromJson(json.loads(new_json))
    by_name = {f.name: f for f in base.fields}
    for f in new.fields:
        if f.name in by_name and by_name[f.name].dataType != f.dataType:
            return None
    merged = list(base.fields) + [f for f in new.fields if f.name not in by_name]
    return _canon_schema_json(StructType(merged))


def _mdir(table_dir: str) -> str:
    return os.path.join(table_dir, MANIFEST_DIR)


# ---------------------------------------------------------------------------
# The version chain: one directory of immutable ``v<NNNNNNNN>.json``
# objects, published by put-if-absent. A table's ``_manifests`` holds one
# manifest per version; an atomic catalog's ``_commits`` (snapcatalog.py)
# holds one {table: manifest} commit object per version. Both chains are
# listed, read, published, resolved and expired by these five functions.


def _chain_versions(chain_dir: str) -> list[int]:
    """Retained version numbers of the chain, oldest first."""
    if not os.path.isdir(chain_dir):
        return []
    out = []
    for n in os.listdir(chain_dir):
        if n.startswith("v") and n.endswith(".json"):
            try:
                out.append(int(n[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _chain_read(chain_dir: str, version: int) -> dict:
    with open(os.path.join(chain_dir, _FMT.format(version))) as f:
        return json.load(f)


def _chain_publish(chain_dir: str, version: int, obj: dict) -> None:
    """Atomic put-if-absent of one version: write the full JSON to a
    dot-temp in the chain directory, fsync, hard-link it to the version
    slot (atomic; EEXIST = lost race), then drop the temp. Readers can
    never observe a partially-written version because the link only
    exists after the temp is complete."""
    os.makedirs(chain_dir, exist_ok=True)
    tmp = os.path.join(chain_dir, f".tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(chain_dir, _FMT.format(version)))
    except FileExistsError:
        raise SnapshotConflict(
            f"version {version} of {chain_dir} was committed concurrently"
        )
    finally:
        os.unlink(tmp)


def _chain_resolve(
    chain_dir: str, version: int | None = None, then=lambda obj: obj
):
    """``then(obj)`` of ONE version, the latest or the
    pinned ``version``, with the expire-race retry shared by every reader:
    a LATEST read that loses the list-then-open race to a concurrent
    commit+expire (or whose ``then`` finds a group file vacuumed under
    it) re-resolves, as the newer tip is by definition retained; a PINNED
    read of an expired version fails, as it must (see snapshot_expire's
    retention contract)."""
    for _ in range(3):
        vs = _chain_versions(chain_dir)
        if not vs:
            raise FileNotFoundError(f"{chain_dir} has no committed versions")
        v = vs[-1] if version is None else version
        if v not in vs:
            raise FileNotFoundError(f"{chain_dir} has no version {v}")
        try:
            return then(_chain_read(chain_dir, v))
        except FileNotFoundError:
            if version is not None:
                raise
    raise FileNotFoundError(f"{chain_dir}: tip kept expiring during resolution")


def _chain_expire(chain_dir: str, keep_last: int) -> list[int]:
    """Unlink every version but the newest ``keep_last``; a version a
    concurrent expire already removed counts as expired. Returns the
    expired version numbers."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the tip must survive)")
    drop = _chain_versions(chain_dir)[:-keep_last]
    for v in drop:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(os.path.join(chain_dir, _FMT.format(v)))
    return drop


def _chain_window(
    chain_dir: str, since_version: int, version: int | None, empty: dict
):
    """The changelog window ``(since_version, version]`` of one chain:
    resolves the end version (the tip, or the pinned ``version``),
    refuses a ``since_version`` past it, and returns ``(end, pairs)`` —
    the end object and a lazy walk yielding ``(v, baseline, obj)`` for
    each version in the window, ``baseline`` being version ``v - 1``'s
    object (``empty`` for version 0). A version expired before the walk
    reaches it raises FileNotFoundError naming the chain dir."""
    end = _chain_resolve(chain_dir, version)
    end_v = end["version"]
    if since_version > end_v:
        raise ValueError(
            f"since_version {since_version} is ahead of {chain_dir} "
            f"version {end_v}"
        )

    def pairs():
        prev = empty
        for v in range(max(1, since_version), end_v + 1):
            try:
                cur = _chain_read(chain_dir, v)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"{chain_dir} version {v} expired before it was "
                    "consumed; retention must cover the changelog cursor lag"
                ) from None
            if v > since_version:
                yield v, prev, cur
            prev = cur

    return end, pairs()


def _txn_seen(m: dict | None, txn: tuple[str, int] | None) -> bool:
    """True when version object ``m`` already records ``txn=(app_id,
    seq)``: each version carries the highest seq committed per app_id, so
    a writer replaying a seq at or below it has nothing left to do."""
    return (
        txn is not None
        and m is not None
        and txn[1] <= m.get("txns", {}).get(txn[0], -1)
    )


class _Attempt:
    """What one commit attempt has put on disk, each path recorded the
    moment its write returns, so ``_pinned_commit`` can drop an attempt
    that does not publish: group files and the data, DV and eq sidecar
    dirs, each as (table dir, relative path). A data dir takes its bloom
    sidecar with it. A ``relink`` dir outlives a lost race:
    snapshot_commit's append writes its data once and links the same
    files onto each new tip. The per-table landing threads of one
    catalog attempt share a record; each write is one list append."""

    def __init__(self):
        self.paths: list[tuple[str, str, bool]] = []

    def group(self, table_dir: str, files: list[dict]) -> dict:
        ref = _write_group(table_dir, files)
        self.paths.append(
            (table_dir, os.path.join(MANIFEST_DIR, GROUPS_DIR, ref["name"]),
             False)
        )
        return ref

    def data(
        self, df: DataFrame, table_dir: str, relink: bool = False
    ) -> tuple[list[dict], int, str]:
        files, rows, rel = _write_data_files(df, table_dir)
        self.paths.append((table_dir, rel, relink))
        return files, rows, rel

    def dir(self, table_dir: str, rel: str) -> str:
        self.paths.append((table_dir, rel, False))
        return rel

    def drop(self, lost_race: bool = False) -> None:
        kept = []
        for table_dir, rel, relink in self.paths:
            if lost_race and relink:
                kept.append((table_dir, rel, relink))
            elif os.path.isdir(os.path.join(table_dir, rel)):
                _drop_delta(table_dir, rel)
            else:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(os.path.join(table_dir, rel))
        self.paths = kept


def _pinned_commit(
    chain_dir: str,
    read,  # Callable[[int], dict]: one version object of the chain
    publish,  # Callable[[int, dict], None]: put-if-absent of one version
    attempt,  # Callable[[int, dict | None, _Attempt], tuple[dict | None, R]]
    txn: tuple[str, int] | None = None,
    max_retries: int = 5,
    pinned: bool = False,
):
    """THE optimistic commit loop of every snapshot and catalog writer.
    Each round resolves the tip ``parent`` (0 and ``base`` None before
    the first version) and runs ``attempt(parent, base, record)``, which
    writes what it needs, records each path in ``record`` and returns
    ``(next version object, result)``; the object is published at
    ``parent + 1``, so every commit is pinned to the tip its attempt
    read. Returns ``(version, result)``:

    1. The tip already records ``txn``: the tip and None, nothing
       written.
    2. The attempt raises: everything recorded is dropped, the error
       re-raised.
    3. The attempt returns no object (nothing to commit): everything
       recorded is dropped; the tip and the result.
    4. A lost publish race drops the attempt and re-runs it against the
       winner's tip, up to ``max_retries`` rounds.
    5. ``pinned`` writers (overwrite, compact) cannot be re-run: a lost
       race drops the attempt and raises SnapshotConflict, unless the
       winner is a replica that recorded the same ``txn``.
    6. A publish error other than a lost race leaves the files to
       vacuum: the link may have landed."""
    record = _Attempt()
    for _ in range(max_retries):
        vs = _chain_versions(chain_dir)
        parent = vs[-1] if vs else 0
        base = read(parent) if parent else None
        if _txn_seen(base, txn):
            record.drop()
            return parent, None
        try:
            obj, result = attempt(parent, base, record)
        except BaseException:
            record.drop()
            raise
        if obj is None:
            record.drop()
            return parent, result
        try:
            publish(parent + 1, obj)
        except SnapshotConflict:
            record.drop(lost_race=not pinned)
            if pinned:
                tip = _chain_versions(chain_dir)[-1]
                if _txn_seen(read(tip), txn):
                    return tip, None
                raise
            continue
        return parent + 1, result
    record.drop()
    raise SnapshotConflict(
        f"commit to {chain_dir} lost {max_retries} straight races"
    )


def snapshot_exists(table_dir: str) -> bool:
    """True when the table has at least one committed version — the
    public existence probe (callers should not reach for _versions)."""
    return bool(_versions(table_dir))


def _versions(table_dir: str) -> list[int]:
    return _chain_versions(_mdir(table_dir))


def _gdir(table_dir: str) -> str:
    return os.path.join(_mdir(table_dir), GROUPS_DIR)


def _read_manifest_raw(table_dir: str, version: int) -> dict:
    """The PHYSICAL manifest: group refs, not file entries. Internal
    callers that only need counts/txns/schema use this to stay O(groups)
    instead of paying the full tree resolution. A legacy flat manifest
    (pre-tree, inline ``files``) reads with ``groups`` None."""
    return _legacy_flat(_chain_read(_mdir(table_dir), version))


def _legacy_flat(m: dict) -> dict:
    m.setdefault("groups", None)
    return m


def _resolve_manifest_raw(
    table_dir: str, version: int | None, then=lambda m: m
):
    """``then(manifest)`` of ONE physical manifest, latest or pinned,
    under the chain's expire-race retry (_chain_resolve)."""
    return _chain_resolve(
        _mdir(table_dir), version, lambda m: then(_legacy_flat(m))
    )


def _read_manifest(table_dir: str, version: int) -> dict:
    """The LOGICAL manifest: `files` is the fully-resolved live file list
    (concatenated group contents). Legacy flat manifests (pre-tree, inline
    `files`, and the concurrency tests' injected interlopers) read
    unchanged with `groups = None`; the next commit folds them into the
    tree."""
    m = _read_manifest_raw(table_dir, version)
    if m["groups"] is not None:
        m["files"] = [
            fe
            for g in m["groups"]
            for fe in _read_group(table_dir, g["name"])
        ]
    return m


def _read_group(table_dir: str, name: str) -> list[dict]:
    with open(os.path.join(_gdir(table_dir), name)) as f:
        return json.load(f)["files"]


# ---------------------------------------------------------------------------
# Column statistics + predicate file pruning (the Iceberg min/max data-skip
# design, public). Stats are harvested ONCE, at write time, from the parquet
# footers the commit just produced (metadata-only — no data pages read), and
# ride the manifest tree at both levels:
#   - file entries carry {col: {min, max, nulls, rows}} so a pruned read can
#     drop individual files;
#   - group refs carry the merged {col: [min, max]} of their member files so
#     a pruned read can skip WHOLE groups without opening them — at 100 TB
#     the group summary is what keeps scan planning O(groups + matching
#     files) instead of O(live files).
# Pruning is conservative by construction: a column missing from the stats
# (nested field, unsupported type, legacy pre-stats entry, truncated upper
# bound) keeps the file. snapshot_read re-applies the predicate in Spark, so
# pruning can only ever remove files that PROVABLY contain no matching row.

# Upper bounds for long strings cannot be truncated safely (a prefix of the
# max underestimates it), so past this cap the max is dropped and only the
# (prefix-truncated, still valid) min survives — same rule as Iceberg's
# truncate(16) lower/upper asymmetry.
_STAT_STR_CAP = 64

_PRUNE_OPS = ("=", "<", "<=", ">", ">=", "in")


def _stat_value(v):
    """JSON-safe scalar for a footer min/max, or None when the type has no
    sound total order for pruning (binary, nested, timestamps)."""
    if isinstance(v, bool) or v is None:
        return None  # bool ranges prune nothing useful; nulls handled apart
    if isinstance(v, (int, float)):
        # NaN min/max bounds nothing (parquet writers disagree on NaN
        # ordering); keep the file by dropping the stat
        return None if isinstance(v, float) and v != v else v
    if isinstance(v, bytes):
        try:
            v = v.decode("utf-8")
        except UnicodeDecodeError:
            return None
    if isinstance(v, str):
        return v
    return None


def _file_stats(abs_path: str) -> dict | None:
    """Per-column {min, max, nulls, rows} for one parquet file, merged
    across its row groups, from footer metadata only. Columns whose
    statistics are absent or unsupported are omitted (⇒ never pruned on).
    Returns None when the footer is unreadable — the entry then simply
    carries no stats, which is always safe."""
    return _file_footer(abs_path)[0]


def _footers(paths: list[str]) -> list[tuple[dict | None, int | None]]:
    """_file_footer over many files in a thread pool — footer reads are
    independent I/O and must not serialize on the driver inside a commit
    critical section / CAS conflict window (the _write_data_files
    discipline, shared by the DELETE/UPDATE candidate paths, whose
    candidate set is O(all files) exactly in the unclustered-key case
    DV mode exists for)."""
    if not paths:
        return []
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(paths))) as pool:
        return list(pool.map(_file_footer, paths))


def _file_footer(abs_path: str) -> tuple[dict | None, int | None]:
    """(stats, num_rows) from one parquet footer, or (None, None) when it
    is unreadable. Split from _file_stats so commit paths can take the
    file's row count from the same footer read instead of a second scan."""
    try:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(abs_path).metadata
        return _footer_stats(md), md.num_rows
    except Exception:
        # best-effort CONTRACT: any stats failure (unreadable footer OR
        # malformed per-column statistics) degrades to "no stats", never
        # to a failed commit
        return None, None


def _footer_stats(md) -> dict | None:
    out: dict[str, dict] = {}
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaf: not a top-level column
                continue
            s = col.statistics
            rows = g.num_rows
            nulls = s.null_count if s is not None and s.null_count is not None else None
            mn = mx = None
            if s is not None and s.has_min_max:
                mn, mx = _stat_value(s.min), _stat_value(s.max)
            if isinstance(mn, str) and len(mn) > _STAT_STR_CAP:
                mn = mn[:_STAT_STR_CAP]  # prefix is a valid LOWER bound
            if isinstance(mx, str) and len(mx) > _STAT_STR_CAP:
                mx = None  # a prefix is NOT a valid upper bound
            cur = out.get(name)
            if cur is None:
                out[name] = {"min": mn, "max": mx, "nulls": nulls, "rows": rows}
            else:
                cur["rows"] += rows
                cur["nulls"] = (
                    None
                    if cur["nulls"] is None or nulls is None
                    else cur["nulls"] + nulls
                )
                cur["min"] = (
                    None
                    if cur["min"] is None or mn is None
                    else min(cur["min"], mn)
                )
                cur["max"] = (
                    None
                    if cur["max"] is None or mx is None
                    else max(cur["max"], mx)
                )
    return out or None


def _comparable(a, b) -> bool:
    """Same comparison domain: numeric-vs-numeric or str-vs-str. A
    mismatched predicate value (e.g. '5' against an int column) prunes
    nothing — Spark's cast semantics decide, not the manifest. A NaN
    predicate value also prunes nothing: Spark orders NaN GREATER than
    every value while Python comparisons make it unmatchable, so range
    logic on it would prune files whose rows Spark's filter keeps."""
    if isinstance(b, float) and b != b:
        return False
    num = (int, float)
    if isinstance(a, num) and isinstance(b, num):
        return not isinstance(a, bool) and not isinstance(b, bool)
    return isinstance(a, str) and isinstance(b, str)


class _SortedIn(tuple):
    """Marker for an 'in' value list _check_where pre-sorted and proved
    homogeneous (all numeric sans bool/NaN, or all str) — the flag that
    lets _range_matches answer each group/file with two bisects instead
    of a linear scan. Manifest resolution evaluates the predicate once
    per entry, so at ~800k entries × a few thousand batch tokens the
    linear form would be 10^9 driver-side comparisons per read."""


def _in_matches(vals, mn, mx) -> bool:
    """Can ANY listed value fall inside [mn, mx]? (None = unbounded.)"""
    if mn is None and mx is None:
        return True
    if isinstance(vals, _SortedIn):
        ref = mn if mn is not None else mx
        if not _comparable(ref, vals[0]):
            return True  # class mismatch: stats cannot prune
        import bisect

        i = 0 if mn is None else bisect.bisect_left(vals, mn)
        return i < len(vals) and (mx is None or vals[i] <= mx)
    # mixed/unsortable list: the definitional disjunction of point checks
    return any(_range_matches("=", v, mn, mx) for v in vals)


def _range_matches(op: str, value, mn, mx) -> bool:
    """Can ANY x with mn <= x <= mx satisfy ``x <op> value``? Missing
    bounds (None) are treated as unbounded on that side."""
    if op == "in":
        # the file can be skipped only when EVERY listed value is
        # provably outside the range — what makes a micro-batch's
        # band/bucket set prunable at the manifest level
        return _in_matches(value, mn, mx)
    if op == "=":
        return (mn is None or not _comparable(mn, value) or value >= mn) and (
            mx is None or not _comparable(mx, value) or value <= mx
        )
    if op in ("<", "<="):
        if mn is None or not _comparable(mn, value):
            return True
        return mn < value if op == "<" else mn <= value
    if op in (">", ">="):
        if mx is None or not _comparable(mx, value):
            return True
        return mx > value if op == ">" else mx >= value
    return True


def _check_where(where: list) -> list:
    out: list = []
    for c in where:
        if len(c) != 3 or c[1] not in _PRUNE_OPS or not isinstance(c[0], str):
            raise ValueError(
                f"predicate must be (col, op, value) with op in "
                f"{_PRUNE_OPS}, got {c!r}"
            )
        v = c[2]
        # reject non-literal values HERE, at the caller's predicate, not
        # later as an opaque F.lit error deep in the scan; bool is a
        # valid Spark literal but prunes nothing (stats drop bools), and
        # None is rejected outright because =/</in etc. never match NULL
        # — a silent always-empty filter is a bug in the caller
        if c[1] == "in":
            if not isinstance(v, (list, tuple, set, _SortedIn)) or not v:
                raise ValueError(
                    f"'in' predicate needs a non-empty list of scalar "
                    f"literals, got {v!r}"
                )
            bad = [
                x
                for x in v
                if x is None or not isinstance(x, (int, float, str, bool))
            ]
            if bad:
                raise ValueError(
                    f"'in' predicate values must be non-null scalar "
                    f"literals, got {bad[:3]!r} in {c!r}"
                )
            # pre-sort homogeneous lists so pruning bisects instead of
            # scanning (the _SortedIn contract); bools and NaNs make a
            # list unprunable-by-order, so those keep the linear form
            vals = list(dict.fromkeys(v))
            clean = not any(
                isinstance(x, bool) or (isinstance(x, float) and x != x)
                for x in vals
            )
            num = all(isinstance(x, (int, float)) for x in vals)
            strs = all(isinstance(x, str) for x in vals)
            out.append(
                (
                    c[0],
                    "in",
                    _SortedIn(sorted(vals))
                    if clean and (num or strs)
                    else tuple(vals),
                )
            )
            continue
        if v is None:
            raise ValueError(
                f"predicate value may not be None ({c!r}): comparison "
                "operators never match NULL; filter nulls explicitly"
            )
        if not isinstance(v, (int, float, str, bool)):
            raise ValueError(
                f"predicate value must be a scalar literal "
                f"(int/float/str/bool), got {type(v).__name__} in {c!r}"
            )
        out.append((c[0], c[1], v))
    return out


def _file_matches(entry: dict, where: list) -> bool:
    """False only when the entry's stats PROVE no row satisfies the
    conjunction. Entries without stats always match."""
    stats = entry.get("stats") or {}
    for col, op, value in where:
        s = stats.get(col)
        if not s:
            continue
        nulls, rows = s.get("nulls"), s.get("rows")
        if nulls is not None and rows is not None and nulls == rows and rows > 0:
            return False  # all-null column: no comparison ever matches
        if not _range_matches(op, value, s.get("min"), s.get("max")):
            return False
    return True


def _group_matches(ref: dict, where: list) -> bool:
    """Group-level skip using the ref's merged ranges; refs without a
    summary (legacy, or a column any member file lacks) always match."""
    ranges = ref.get("stats") or {}
    for col, op, value in where:
        r = ranges.get(col)
        if r and not _range_matches(op, value, r[0], r[1]):
            return False
    return True


def _group_summary(files: list[dict]) -> dict:
    """Merged {col: [min, max]} over member files — a column appears only
    when EVERY member carries both bounds for it (otherwise the summary
    would not bound the stat-less members and group skips would be
    unsound)."""
    out: dict[str, list] = {}
    for i, fe in enumerate(files):
        stats = fe.get("stats") or {}
        if i == 0:
            for col, s in stats.items():
                if s.get("min") is not None and s.get("max") is not None:
                    out[col] = [s["min"], s["max"]]
            continue
        for col in list(out):
            s = stats.get(col)
            if not s or s.get("min") is None or s.get("max") is None:
                del out[col]
            else:
                out[col][0] = min(out[col][0], s["min"])
                out[col][1] = max(out[col][1], s["max"])
        if not out:
            break
    return out


def manifest_upper_bound(m: dict | None, col: str):
    """Largest value of the non-negative numeric column ``col`` (a
    surrogate id) over every file a manifest references, read from its
    group refs' merged stats without opening a group or a data file: 0
    for an absent table (``m`` None) or one without files. None when a
    ref has no bound for ``col`` (stats are best-effort) or ``m`` is a
    legacy flat manifest without group refs; the caller then aggregates.

    The bound covers rows a deletion vector has hidden, since their file
    stays referenced; a file whose every row is dead leaves the manifest,
    and its bound with it."""
    if m is None:
        return 0
    groups = m.get("groups")
    if groups is None:
        return None
    out = 0
    for g in groups:
        r = (g.get("stats") or {}).get(col)
        if not r:
            return None
        out = max(out, r[1])
    return out


def _write_group(table_dir: str, files: list[dict]) -> dict:
    """Write one immutable manifest-group file (tmp + fsync + rename; the
    name is a fresh uuid so there is no slot to race for) and return its
    ref: {name, n_files, bytes}. Refs carry the summary so version
    listings and coalescing decisions never open the group."""
    d = _gdir(table_dir)
    os.makedirs(d, exist_ok=True)
    name = f"g-{uuid.uuid4().hex}.json"
    tmp = os.path.join(d, f".tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump({"files": files}, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(d, name))
    ref = {
        "name": name,
        "n_files": len(files),
        "bytes": sum(fe["bytes"] for fe in files),
    }
    summary = _group_summary(files)
    if summary:
        ref["stats"] = summary
    return ref


def _child_groups(
    table_dir: str,
    base_groups: list[dict],
    delta_files: list[dict],
    record: _Attempt,
) -> list[dict]:
    """Groups list for a child commit: the parent's refs untouched + ONE
    new group holding the delta — the O(delta + groups) commit shape.
    When the list would exceed MAX_GROUPS, the smallest groups merge into
    one (geometric/LSM schedule: each entry is rewritten O(log commits)
    times over the table's life). Every group file written is recorded
    in the attempt ``record``."""
    groups = list(base_groups)
    if delta_files:
        groups.append(record.group(table_dir, delta_files))
    if len(groups) > MAX_GROUPS:
        groups.sort(key=lambda g: g["n_files"])
        k = len(groups) - MAX_GROUPS // 2
        merged: list[dict] = []
        for g in groups[:k]:
            merged.extend(_read_group(table_dir, g["name"]))
        groups = groups[k:] + [record.group(table_dir, merged)]
    return groups


def _base_delta(base: dict | None) -> tuple[list[dict], list[dict]]:
    """(parent group refs, extra delta entries) for a child commit. A
    legacy flat parent (groups is None) contributes its inline file list
    as delta, migrating the table into the tree at its next commit."""
    if base is None:
        return [], []
    if base["groups"] is not None:
        return base["groups"], []
    return [], list(base["files"])


def _publish(table_dir: str, version: int, manifest: dict) -> None:
    """Publish one manifest version (_chain_publish): every commit path
    goes through this seam."""
    _chain_publish(_mdir(table_dir), version, manifest)


def _table_commit(
    table_dir: str,
    attempt,
    txn: tuple[str, int] | None = None,
    max_retries: int = 5,
    pinned: bool = False,
):
    """``_pinned_commit`` over the table's own ``_manifests`` chain."""
    return _pinned_commit(
        _mdir(table_dir),
        lambda v: _read_manifest_raw(table_dir, v),
        lambda v, m: _publish(table_dir, v, m),
        attempt, txn, max_retries, pinned,
    )


def _tip_version(table_dir: str) -> int:
    """The table's latest version; FileNotFoundError when it has none."""
    vs = _versions(table_dir)
    if not vs:
        raise FileNotFoundError(f"{table_dir} has no committed snapshots")
    return vs[-1]


def _write_data_files(
    df: DataFrame, table_dir: str
) -> tuple[list[dict], int, str]:
    """Land df's rows as parquet under data/<commit-uuid>/ (a fresh dir per
    commit — task files can never collide across writers) and return
    ([{path, bytes}], rows, commit_dir_relpath). Rows are counted from the
    written files' footers (metadata-only), so the manifest's row count is
    the truth of what landed, not of a recomputed plan."""
    commit_id = uuid.uuid4().hex
    rel = os.path.join(DATA_DIR, commit_id)
    out = os.path.join(table_dir, rel)
    df.write.mode("overwrite").parquet(out)
    names = [
        n
        for n in sorted(os.listdir(out))
        if n.endswith(".parquet") and not n.startswith((".", "_"))
    ]
    # footer reads are independent I/O — harvest them in a thread pool so
    # a wide commit (hundreds of task files) doesn't serialize O(files)
    # driver I/O inside the commit critical section / CAS conflict window
    from concurrent.futures import ThreadPoolExecutor

    if names:
        with ThreadPoolExecutor(max_workers=min(16, len(names))) as pool:
            footers = list(
                pool.map(lambda n: _file_footer(os.path.join(out, n)), names)
            )
    else:
        footers = []
    files = []
    rows = 0
    rows_known = True
    for n, (stats, n_rows) in zip(names, footers):
        fe = {
            "path": os.path.join(rel, n),
            "bytes": os.path.getsize(os.path.join(out, n)),
        }
        if stats:
            fe["stats"] = stats
        if n_rows is None:
            rows_known = False
        else:
            rows += n_rows
        files.append(fe)
    if not rows_known:
        # a footer was unreadable for metadata purposes; fall back to the
        # authoritative (slower) count of what actually landed
        rows = df.sparkSession.read.parquet(out).count()
    return files, rows, rel


def _next_manifest(
    base: dict | None,
    mode: str,
    groups: list[dict],
    rows: int,
    schema_json: str,
    txn: tuple[str, int] | None = None,
    blooms: list[str] | None = None,
    cluster: list[str] | None = None,
) -> dict:
    """The ONE place a manifest is shaped. Every commit path goes through
    here so an added field cannot be propagated in one writer and
    forgotten in another (txn markers nearly suffered exactly that) —
    in particular, txns ALWAYS carry forward from the parent or replay
    protection would silently lapse after an interleaved write. The
    physical manifest carries group REFS only; _read_manifest resolves
    them to the logical file list.

    ``blooms`` is the bloom-index table property (imagingdb_spark/
    blooms.py): None carries the parent's column list forward like txns
    do; a list SETS it (empty list clears). ``cluster`` is the DECLARED
    clustering spec (round-11: the Iceberg hidden-partitioning step —
    the sort/partition key lives in the table's metadata, not in call
    sites), same inherit/set/clear contract."""
    txns = dict(base.get("txns", {})) if base else {}
    if txn is not None:
        txns[txn[0]] = txn[1]
    bcols = (
        list(blooms)
        if blooms is not None
        else (base.get("blooms") if base else None)
    )
    ccols = (
        list(cluster)
        if cluster is not None
        else (base.get("cluster") if base else None)
    )
    m = {
        "version": (base["version"] if base else 0) + 1,
        "parent": base["version"] if base else 0,
        "mode": mode,
        "groups": groups,
        "rows": rows,
        "schema": schema_json,
        "txns": txns,
    }
    if bcols:
        m["blooms"] = bcols
    if ccols:
        m["cluster"] = ccols
    return m


def _drop_delta(table_dir: str, rel_dir: str) -> None:
    """Remove an unpublished commit's data (or sidecar) dir and the bloom
    sidecar paired with a data dir."""
    from imagingdb_spark.blooms import BLOOM_DIR

    shutil.rmtree(os.path.join(table_dir, rel_dir), ignore_errors=True)
    shutil.rmtree(
        os.path.join(table_dir, BLOOM_DIR, os.path.basename(rel_dir)),
        ignore_errors=True,
    )


def _live_rows(
    spark: SparkSession, table_dir: str, entries: list[dict], schema
) -> int:
    """Live rows of ``entries``: footer row counts minus the positions
    their deletion vectors record. An unreadable footer, or an
    equality-delete ref (eq-dead rows are not recorded per file), takes
    the authoritative slow count instead."""
    footers = _footers([os.path.join(table_dir, fe["path"]) for fe in entries])
    if any(n is None for _s, n in footers) or any(
        fe.get("eq") for fe in entries
    ):
        return _read_entries(spark, table_dir, entries, schema).count()
    return sum(
        n - (fe.get("dv") or {}).get("n", 0)
        for fe, (_s, n) in zip(entries, footers)
    )


def _nonempty(table_dir: str, files: list[dict]) -> list[dict]:
    """The entries of ``files`` that hold rows: empty task outputs stay
    out of the manifest (the physical files are vacuum debris)."""
    footers = _footers([os.path.join(table_dir, fe["path"]) for fe in files])
    return [fe for fe, (_s, n) in zip(files, footers) if n != 0]


def _build_blooms(
    spark: SparkSession,
    table_dir: str,
    rel_dir: str,
    new_files: list[dict],
    cols: list[str] | None,
    schema: StructType,
) -> None:
    """Bloom sidecars for one commit's new files; ``schema`` is the
    schema the files were written with (no inference job on read)."""
    if cols:
        from imagingdb_spark import blooms

        blooms.build_sidecar(
            spark, table_dir, rel_dir, new_files, cols, schema
        )


# ---------------------------------------------------------------------------
# Merge-on-read DELETE: positional-delete sidecars ("deletion vectors").
# A DV delete commit rewrites NO data bytes — it writes one small parquet
# sidecar of (path, pos) rows under _deletes/<uuid>/ and republishes the
# touched file ENTRIES with a {"dv": {"sc": <ref>, "n": count}} ref
# (untouched groups carry by reference, exactly like the CoW delete).
# Every reader anti-applies the referenced positions via the parquet
# source's _metadata.row_index (the physical row position within a file —
# stable for immutable files, which manifest-referenced files are).
# ``sc`` is a sidecar rel dir OR a CHAIN of them (the Iceberg delete-file
# list shape): a later DV delete on the same file APPENDS its own
# positions as a new sidecar instead of rewriting a merged one, so K
# successive takedowns on a hot file cost O(total positions) across all
# K, not O(K * positions). Readers union the chain (each sidecar read
# once per scan); compaction materializes chains away, and
# snapshot_maintain's DV-debt tick bounds how long they grow.


def _dv_scs(ref: dict) -> list[str]:
    """Sidecar rel-dir CHAIN of one dv ref — ``sc`` is a single dir
    (common case, stored as str) or a list (repeat deletes on the same
    file append rather than rewrite). The one normalization seam every
    dv consumer uses."""
    sc = ref["sc"]
    return list(sc) if isinstance(sc, list) else [sc]
# snapshot_compact reads through the DVs and writes fresh entries, which
# MATERIALIZES the deletes; expire+vacuum then reclaims unreferenced
# sidecars by the same set-difference rule as data files and blooms.
# This is the Iceberg-v2 position-delete / Delta deletion-vector shape
# (public design): write cost O(deleted rows + pruned candidate scan)
# instead of CoW's O(bytes of every touched file) — the difference between
# a takedown on an UNCLUSTERED key rewriting most of a 100 TB table and it
# appending a few KB of positions.


def _dv_union(
    spark: SparkSession,
    table_dir: str,
    pairs: list,
    scan_cache: dict | None = None,
) -> "DataFrame":
    """One (path, pos) frame for [(rel_path, sidecar_rel_dir)] refs: each
    sidecar read once, filtered to the paths that still reference it (a
    merged sidecar may carry positions for files whose ref has since been
    superseded or dropped). ``scan_cache`` (r12, guide §1.4): an optional
    per-CALLER memo — a multi-leg reader (x_snapshot_scan's seven reads)
    passes one dict so identical sidecar unions are built once; each
    DataFrameReader.parquet call is a py4j round trip + JVM file-index
    build (~40-80 ms measured), pure driver time. Keys carry the exact
    (pair-set) identity, so two legs share a frame ONLY when their
    resolved refs are identical — never across differing dv chains. The
    key carries ``table_dir`` too: relative paths repeat across tables."""
    key = ("dv", table_dir, tuple(sorted(pairs)))
    if scan_cache is not None and key in scan_cache:
        return scan_cache[key]
    from pyspark.sql import functions as F

    by_sc: dict[str, list[str]] = {}
    for p, sc in pairs:
        by_sc.setdefault(sc, []).append(p)
    pos = None
    for sc, ps in sorted(by_sc.items()):
        d = spark.read.parquet(os.path.join(table_dir, sc)).filter(
            F.col("path").isin(ps)
        )
        pos = d if pos is None else pos.unionByName(d)
    if scan_cache is not None:
        scan_cache[key] = pos
    return pos


def _eq_union(
    spark: SparkSession,
    table_dir: str,
    pairs: list,
    scan_cache: dict | None = None,
) -> "DataFrame":
    """One (path, key) frame for [(rel_path, sidecar_rel_dir)] equality-
    delete refs: each sidecar read once, its delete keys expanded to the
    referencing paths (a sidecar is commit-scoped and shared by every
    candidate entry of its commit). Expanded size = Σ_entry ref.n by
    construction — what the broadcast ceiling is checked against.
    ``scan_cache``: same exact-pair-set memo as ``_dv_union``."""
    key = ("eq", table_dir, tuple(sorted(pairs)))
    if scan_cache is not None and key in scan_cache:
        return scan_cache[key]
    by_sc: dict[str, list[str]] = {}
    for p, sc in pairs:
        by_sc.setdefault(sc, []).append(p)
    out = None
    for sc, ps in sorted(by_sc.items()):
        keys = spark.read.parquet(os.path.join(table_dir, sc))
        paths = values_df(spark, [(p,) for p in sorted(set(ps))], "path string")
        d = keys.crossJoin(paths).select("path", "key")
        out = d if out is None else out.unionByName(d)
    if scan_cache is not None:
        scan_cache[key] = out
    return out


def _eq_scs(ref: dict) -> list[str]:
    """Sidecar chain of one equality-delete ref (same shape rule as
    ``_dv_scs``: str for a single element, list for a chain)."""
    sc = ref["sc"]
    return list(sc) if isinstance(sc, list) else [sc]


def _apply_eq_refs(
    spark: SparkSession,
    table_dir: str,
    tagged: DataFrame,
    entries: list[dict],
    scan_cache: dict | None = None,
) -> DataFrame:
    """Anti-apply equality-delete refs to an already-``__dv_path``-tagged
    scan of ``entries``: per ref column, rows whose (path, key) pair
    appears in the union of the referencing entries' sidecar chains are
    dead. NULL keys never match an equality delete (SQL join semantics —
    delete keys are non-null by construction). Same broadcast ceiling as
    the positional probe."""
    from pyspark.sql import functions as F

    by_col: dict[str, list[dict]] = {}
    for fe in entries:
        if fe.get("eq"):
            by_col.setdefault(fe["eq"]["col"], []).append(fe)
    for col, fes in sorted(by_col.items()):
        pairs = [
            (fe["path"], sc) for fe in fes for sc in _eq_scs(fe["eq"])
        ]
        eq = (
            _eq_union(spark, table_dir, pairs, scan_cache)
            .withColumnRenamed("path", "__eq_path")
            .withColumnRenamed("key", "__eq_key")
        )
        n = sum(fe["eq"].get("n", 0) for fe in fes)
        if n <= DV_BROADCAST_MAX_POSITIONS:
            eq = F.broadcast(eq)
        tagged = tagged.join(
            eq,
            (tagged["__dv_path"] == eq["__eq_path"])
            & (tagged[col] == eq["__eq_key"]),
            "left_anti",
        )
    return tagged


def _rel_path_col():
    """The manifest-relative path (data/<commit>/<name>) of each row's
    source file, derived from the parquet source's _metadata.file_path —
    the join key between data rows and DV sidecar rows. Commit dirs are
    fresh uuids, so the last two path components identify a file no matter
    where the table root lives."""
    from pyspark.sql import functions as F

    parts = F.split(F.col("_metadata.file_path"), "/")
    return F.concat_ws(
        "/", F.lit(DATA_DIR), F.element_at(parts, -2), F.element_at(parts, -1)
    )


def _read_entries(
    spark: SparkSession,
    table_dir: str,
    entries: list[dict],
    schema: StructType,
    scan_cache: dict | None = None,
) -> DataFrame:
    """THE entry-list reader every consumer goes through: scan exactly the
    entries' files and anti-apply their positional-delete sidecars. The
    read tax is DELTA-proportional, not scan-proportional: entries with
    no dv ref scan plain (whole-stage-codegen parquet, zero join — the
    overwhelming majority of a 100 TB table after a takedown), and ONLY
    the dv-bearing files' scan branch pays the anti-join on
    (path, row_index). Positions are delete-batch-sized in the common
    case, so the join is a broadcast and adds no shuffle — but the
    batch size is a convention, not an invariant (a broad predicate
    delete or many accumulated commits can record corpus-scale
    positions), so the manifest-recorded per-entry ``dv.n`` counts are
    summed first and past ``DV_BROADCAST_MAX_POSITIONS`` the probe
    falls back to a shuffled anti-join instead of a driver-size-bounded
    broadcast."""
    if not entries:
        return empty_df(spark, schema)
    plain = [
        fe for fe in entries if not fe.get("dv") and not fe.get("eq")
    ]
    refd = [fe for fe in entries if fe.get("dv") or fe.get("eq")]

    def _scan(fes: list[dict]) -> DataFrame:
        # memoized per caller-supplied cache (r12): two legs of one
        # multi-read query resolving the SAME files of the SAME table
        # (same schema — the key carries all three) share one
        # reader/file-index build
        key = (
            "scan",
            table_dir,
            schema.json(),
            tuple(sorted(fe["path"] for fe in fes)),
        )
        if scan_cache is not None and key in scan_cache:
            return scan_cache[key]
        df = spark.read.schema(schema).parquet(
            *[os.path.join(table_dir, fe["path"]) for fe in fes]
        )
        if scan_cache is not None:
            scan_cache[key] = df
        return df

    if not refd:
        return _scan(plain)
    from pyspark.sql import functions as F

    tagged = _scan(refd).select(
        "*",
        _rel_path_col().alias("__dv_path"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    dved = [fe for fe in refd if fe.get("dv")]
    if dved:
        pos = (
            _dv_union(
                spark,
                table_dir,
                [
                    (fe["path"], sc)
                    for fe in dved
                    for sc in _dv_scs(fe["dv"])
                ],
                scan_cache,
            )
            .withColumnRenamed("path", "__dv_path")
            .withColumnRenamed("pos", "__dv_pos")
        )
        n_pos = sum(fe["dv"].get("n", 0) for fe in dved)
        if n_pos <= DV_BROADCAST_MAX_POSITIONS:
            pos = F.broadcast(pos)
        tagged = tagged.join(pos, ["__dv_path", "__dv_pos"], "left_anti")
    tagged = _apply_eq_refs(spark, table_dir, tagged, refd, scan_cache)
    live = tagged.drop("__dv_path", "__dv_pos")
    return live if not plain else _scan(plain).unionByName(live)


def _write_dv_sidecar(
    spark: SparkSession,
    table_dir: str,
    positions: DataFrame,
    n_positions: int | None = None,
) -> str:
    """Land a (path, pos) frame as one immutable sidecar parquet dir and
    return its relative path. Crash debris (a sidecar no entry ever came
    to reference) is vacuum's, same as data files.

    Small position sets (the takedown common case) land as ONE physical
    file — every reader opens the whole sidecar, so task-count parquet
    fragments would tax each subsequent read. Past
    ``DV_SIDECAR_ROWS_PER_FILE`` (callers pass the measured
    ``n_positions``) the write spreads over proportionally many tasks
    instead of funneling a corpus-scale frame through one writer."""
    rel = os.path.join(DELETES_DIR, uuid.uuid4().hex)
    n_files = (
        1
        if n_positions is None
        else max(1, -(-n_positions // DV_SIDECAR_ROWS_PER_FILE))
    )
    out = positions.select("path", "pos")
    # coalesce narrows to the one-file fast path; a genuine spread needs
    # repartition (coalesce cannot grow a 1-partition upstream)
    out = out.coalesce(1) if n_files == 1 else out.repartition(n_files)
    out.write.mode("overwrite").parquet(os.path.join(table_dir, rel))
    return rel


def snapshot_commit(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    mode: str = "append",
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
    merge_schema: bool = False,
    bloom_columns: list[str] | None = None,
    cluster_cols: list[str] | None = None,
) -> int:
    """Commit df to the snapshot table as one atomic version; returns the
    committed version number. ``append`` adds to the live set; its data
    files are written once, and a lost race links the same files onto
    the winner's tip. ``overwrite`` replaces the live set and is pinned
    to the tip it read (``_pinned_commit`` rule 5).

    ``merge_schema=True`` lets an append ADD columns (the Delta
    mergeSchema rule): shared fields must keep identical types, the
    manifest's schema widens, pre-evolution files read the new columns
    as NULL, and time travel to pre-evolution versions keeps the narrow
    schema — the snapshot-native complement to migrations.py (which owns
    type changes and drops).

    ``txn=(app_id, seq)`` makes the commit an exactly-once transaction
    (the Delta-style idempotent-writer marker, public pattern): a seq
    the tip already records is a no-op returning the tip. This is what a
    Structured Streaming foreachBatch sink needs: a replayed micro-batch
    (same batch_id after a crash, or a zombie executor's double-fire)
    lands zero duplicate rows even when rows have no natural key to
    anti-join on.

    ``bloom_columns`` sets the table's bloom-index property (see
    imagingdb_spark/blooms.py): this and every LATER commit — any
    writer: append, RMW, MERGE, compact — builds point-lookup bloom
    sidecars for the listed columns, and ``=``/``in`` predicates in
    ``snapshot_read(where=...)`` skip files the filters prove empty.
    None (default) inherits the tip's property; ``[]`` clears it
    (existing sidecars keep pruning until their files are rewritten).

    ``cluster_cols`` DECLARES the table's clustering spec in the
    manifest (round-11, the Iceberg hidden-partitioning step): the
    commit does not re-lay the data out — it records the key the
    maintenance loop clusters on, so ``snapshot_maintain(spark, dir)``
    and ``snapshot_compact`` need no per-call-site key and readers can
    ask ``snapshot_cluster_report(dir)`` how healthy the DECLARED
    layout is. Same inherit/set/clear contract as ``bloom_columns``."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be append|overwrite, got {mode!r}")
    os.makedirs(table_dir, exist_ok=True)
    # canonicalize (and thereby validate: reserved __dv_* names fail
    # here) BEFORE the data lands — a rejected schema must cost nothing
    # and leave nothing behind
    schema_json = _canon_schema_json(df.schema)
    written: list = []  # (files, rows): landed by the first attempt

    def attempt(parent, base, record):
        if not written:
            files, rows, rel_dir = record.data(df, table_dir, relink=True)
            _build_blooms(
                spark, table_dir, rel_dir, files,
                bloom_columns if bloom_columns is not None
                else (base or {}).get("blooms"),
                df.schema,
            )
            written.append((files, rows))
        files, rows = written[0]
        commit_schema, base_groups, delta = schema_json, [], []
        if mode == "append" and base:
            # canonicalize the STORED side too: manifests written by older
            # serializer vintages (compact JSON, strict nullable flags)
            # must compare equal to their canonical form
            if _canon_schema_json(base["schema"]) != schema_json:
                merged = (
                    _merged_schema(base["schema"], schema_json)
                    if merge_schema
                    else None
                )
                if merged is None:
                    raise ValueError(
                        f"append schema differs from {table_dir} tip "
                        f"v{parent}; additive widening needs "
                        "merge_schema=True, type changes/drops go through "
                        "migrations.py"
                    )
                commit_schema = merged
            base_groups, delta = _base_delta(base)
            rows += base["rows"]
        groups = _child_groups(table_dir, base_groups, delta + files, record)
        return _next_manifest(
            base, mode, groups, rows, commit_schema, txn,
            blooms=bloom_columns, cluster=cluster_cols,
        ), None

    return _table_commit(
        table_dir, attempt, txn, max_retries, pinned=mode == "overwrite"
    )[0]


def snapshot_stream_sink(table_dir: str, app_id: str):
    """foreachBatch sink writing a stream into a snapshot table with
    exactly-once semantics: every micro-batch commits atomically with
    ``txn=(app_id, batch_id)``, so a post-crash replay of an already-
    committed batch is a manifest-level no-op — no rows re-land, no
    natural key required, and readers of the table only ever see whole
    batches. Use one app_id per (query, table) pair — Spark's batch_id
    is monotone within a checkpointed query, which is exactly the seq
    contract the txn marker needs.

        stream.writeStream.foreachBatch(
            snapshot_stream_sink(table, "my-query")).start()
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_commit(
            batch_df.sparkSession,
            table_dir,
            batch_df,
            mode="append",
            txn=(app_id, int(batch_id)),
        )

    return _sink


def snapshot_idempotent_append(
    spark: SparkSession,
    table_dir: str,
    new_rows: DataFrame,
    key_cols: list[str],
    max_retries: int = 5,
) -> int:
    """Serializable idempotent append — the Postgres-grade guarantee an
    anti-join-guarded append to bare parquet cannot give (two concurrent
    writers can both pass the anti-join check and double-insert). Here
    the anti-join runs against the EXACT tip the commit publishes onto
    (``_pinned_commit``): a lost race re-runs it against the winner's
    tip, so concurrent ingests of overlapping batches converge to
    exactly-once by keys. Returns the tip version (unchanged when the
    whole batch was already present). Unlike snapshot_commit's append,
    a retry rewrites the data files: idempotence is a READ-dependent
    claim, and relinking files checked against an older tip would
    reintroduce the double-insert. Rows derived from several tables'
    state (surrogate ids, parent ids) belong in one
    snapcatalog.catalog_commit, whose builder re-runs against the exact
    tip of every table and lands each table through the same
    _land_keyed_append."""

    def attempt(parent, base, record):
        tip = _manifest_read(spark, table_dir, base) if base else None
        _, manifest, _ = _land_keyed_append(
            spark, table_dir, new_rows, key_cols, base, tip, record
        )
        return manifest, None

    return _table_commit(table_dir, attempt, max_retries=max_retries)[0]


def _known_empty(df: DataFrame) -> bool:
    """True when the optimizer has already reduced ``df`` to an empty
    LocalRelation (an empty driver-built delta, guarded or not): writing
    it would run a job only to land a file with no rows."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return (
        plan.getClass().getSimpleName() == "LocalRelation"
        and plan.data().isEmpty()
    )


def _land_keyed_append(
    spark: SparkSession,
    table_dir: str,
    rows_df: DataFrame,
    key_cols: list[str],
    base: dict | None,
    tip: DataFrame | None,
    record: _Attempt,
    blooms: list[str] | None = None,
) -> tuple[DataFrame, dict | None, int]:
    """Land one keyed append onto the tip manifest ``base`` (None: the
    table has no version yet), whose rows ``tip`` reads, WITHOUT
    publishing: the one landing both snapshot_idempotent_append and
    snapcatalog.catalog_commit publish. In order: reorder to the tip's
    column order, drop duplicate keys, check the canonical schema
    against the tip, anti-join the tip's keys, write the data files
    (nothing when the optimizer already knows the delta is empty), build
    the bloom sidecars (``blooms`` sets the table property, None
    inherits the tip's), write the child group and shape the next
    manifest. The data dir and group files are recorded in the attempt
    ``record`` (``_pinned_commit`` drops an unpublished attempt).

    Returns (the delta read back from its own files, the next manifest,
    rows landed). An empty delta returns a typed empty frame and no
    manifest, except on the table's first version, where the manifest
    records the typed empty table so readers get its schema."""
    if base is not None:
        tip_cols = StructType.fromJson(json.loads(base["schema"])).fieldNames()
        if rows_df.columns != tip_cols and sorted(rows_df.columns) == sorted(
            tip_cols
        ):
            # the tip's columns in another order: catalogs published by
            # earlier code store data_set with ``id`` last
            rows_df = rows_df.select(*tip_cols)
    rows_df = rows_df.dropDuplicates(key_cols)
    schema = rows_df.schema
    schema_json = _canon_schema_json(schema)
    if base is not None:
        if _canon_schema_json(base["schema"]) != schema_json:
            raise ValueError(
                f"append schema differs from {table_dir} tip "
                f"v{base['version']}"
            )
        rows_df = rows_df.join(tip.select(*key_cols), key_cols, "left_anti")
    n = 0
    if not _known_empty(rows_df):
        os.makedirs(table_dir, exist_ok=True)
        files, n, rel_dir = record.data(rows_df, table_dir)
        if n == 0:
            # a catalog commit may still publish other tables' deltas
            _drop_delta(table_dir, rel_dir)
    if n == 0:
        # typed as the tip stores it (every field nullable), the schema a
        # non-empty delta reads back from its files
        delta = empty_df(spark, StructType.fromJson(json.loads(schema_json)))
        if base is not None:
            return delta, None, 0
        return delta, _next_manifest(
            None, "append", [], 0, schema_json, blooms=blooms
        ), 0
    _build_blooms(
        spark, table_dir, rel_dir, files,
        blooms if blooms is not None else (base or {}).get("blooms"),
        rows_df.schema,
    )
    base_groups, legacy_delta = _base_delta(base)
    groups = _child_groups(table_dir, base_groups, legacy_delta + files, record)
    manifest = _next_manifest(
        base, "append", groups, (base["rows"] if base else 0) + n,
        schema_json, blooms=blooms,
    )
    delta = spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, f["path"]) for f in files]
    )
    return delta, manifest, n


def _resolve_pruned(
    table_dir: str, m: dict, where: list | None, plan: dict | None = None
) -> list[dict]:
    """The live file list under an optional predicate, skipping whole
    groups by their ref summary before opening them and then pruning
    file entries by footer stats. ``plan`` (when given) collects the
    skip counters the tests and bench read."""
    where = _check_where(where) if where else []
    if m["groups"] is None:
        entries = list(m["files"])
        total, groups, opened = len(entries), 0, 0
    else:
        groups, opened, total, entries = len(m["groups"]), 0, 0, []
        for g in m["groups"]:
            total += g["n_files"]
            if where and not _group_matches(g, where):
                continue
            opened += 1
            entries.extend(_read_group(table_dir, g["name"]))
    kept = [fe for fe in entries if not where or _file_matches(fe, where)]
    if plan is not None:
        # stable plan shape: the bloom counter is present even when the
        # min/max stage already dropped every file (or where is None) —
        # prune_candidates overwrites it when the bloom stage runs
        plan["files_bloom_dropped"] = 0
    if where and kept:
        # second pruning stage: bloom sidecars answer =/in probes on
        # indexed columns that min/max could not (unclustered keys)
        from imagingdb_spark import blooms

        kept = blooms.prune_candidates(table_dir, kept, where, plan)
    if plan is not None:
        plan.update(
            files_total=total,
            files_kept=len(kept),
            groups_total=groups,
            groups_opened=opened if m["groups"] is not None else None,
        )
    return kept


def snapshot_scan_plan(
    table_dir: str, where: list, version: int | None = None
) -> dict:
    """Planning-only view of a pruned read: how many manifest groups a
    ``snapshot_read(..., where=...)`` would open and how many files it
    would hand Spark. Cost is O(groups + files in matching groups) —
    never the data. This is the observability seam the pruning tests and
    SNAPSHOT_BENCH assert against."""
    plan: dict = {}
    _resolve_manifest_raw(
        table_dir, version, lambda m: _resolve_pruned(table_dir, m, where, plan)
    )
    return plan


def _where_column(where: list):
    """The Spark Column equivalent of the conjunctive triples — re-applied
    after pruning so a pruned read is ALWAYS semantically the filtered
    full read (pruning is an optimization, never the semantics)."""
    from pyspark.sql import functions as F

    ops = {
        "=": lambda c, v: c == v,
        "<": lambda c, v: c < v,
        "<=": lambda c, v: c <= v,
        ">": lambda c, v: c > v,
        ">=": lambda c, v: c >= v,
    }
    expr = None
    for col, op, value in where:
        if op == "in":  # the value is a literal LIST, not one literal
            term = F.col(col).isin(*list(value))
        else:
            term = ops[op](F.col(col), F.lit(value))
        expr = term if expr is None else (expr & term)
    return expr


def snapshot_read(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    where: list | None = None,
    scan_cache: dict | None = None,
) -> DataFrame:
    """Snapshot-isolated read: resolve ONE manifest (latest, or the pinned
    ``version`` for time travel) and read exactly its file list. An empty
    live set still returns a typed empty frame from the stored schema.

    ``where`` — an optional conjunction of ``(col, op, value)`` triples
    (ops ``= < <= > >=``) — turns the read into a DATA-SKIPPING scan:
    manifest groups whose merged column ranges exclude the predicate are
    never opened, file entries whose footer min/max/null stats prove no
    row can match are never given to Spark, and the surviving files are
    read with the predicate re-applied as a DataFrame filter (so Spark
    still pushes it to the row-group level and the result is exactly the
    filtered full scan). At 100 TB this is the difference between planning
    over ~800k file entries and planning over the handful of groups and
    files a selective predicate touches.

    ``scan_cache`` (r12): optional per-CALLER dict memoizing reader
    construction (file scans by table dir + exact path list + schema,
    dv/eq sidecar unions by table dir + exact ref set). A query that
    issues several reads of one table (x_snapshot_scan's seven legs)
    passes one dict so identical resolutions share one py4j reader
    build; semantics are unchanged — the memo key is the full identity
    of what would be constructed."""
    # group files resolve INSIDE the expire-race retry: a concurrent
    # expire+vacuum between the manifest read and the group read must
    # re-resolve (latest mode) exactly like a vanished manifest does
    return _resolve_manifest_raw(
        table_dir,
        version,
        lambda m: _manifest_read(spark, table_dir, m, where, scan_cache),
    )


def _manifest_read(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    where: list | None = None,
    scan_cache: dict | None = None,
) -> DataFrame:
    """DataFrame of one physical manifest ``m`` of the table at
    ``table_dir`` (its own chain's, or one a catalog commit holds): the
    pruned file list read with the predicate re-applied (pruning is an
    optimization, never the semantics)."""
    files = _resolve_pruned(table_dir, m, where)
    schema = StructType.fromJson(json.loads(m["schema"]))
    cond = _where_column(_check_where(where)) if where else None
    # DV-aware: files carrying positional-delete refs read minus their
    # deleted positions (tables without DVs take the plain-scan path)
    df = _read_entries(spark, table_dir, files, schema, scan_cache)
    return df.filter(cond) if cond is not None else df


def snapshot_versions(table_dir: str) -> list[dict]:
    """Commit log, oldest first: (version, parent, mode, n_files, bytes,
    rows) per retained manifest — the audit surface for time travel."""
    out = []
    for v in _versions(table_dir):
        # group refs carry the summary, so the log never resolves the
        # tree — O(versions × groups), not O(versions × live files)
        m = _read_manifest_raw(table_dir, v)
        if m.get("groups") is not None:
            n_files = sum(g["n_files"] for g in m["groups"])
            n_bytes = sum(g["bytes"] for g in m["groups"])
        else:  # legacy flat manifest
            n_files = len(m["files"])
            n_bytes = sum(f["bytes"] for f in m["files"])
        out.append(
            {
                "version": m["version"],
                "parent": m["parent"],
                "mode": m["mode"],
                "n_files": n_files,
                "bytes": n_bytes,
                "rows": m["rows"],
            }
        )
    return out


def snapshot_expire(table_dir: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` manifests (their data files
    become vacuum-eligible unless newer versions still reference them).
    Returns the expired version numbers. Expiring is what turns an
    overwritten table's old files into deletable debris — until then
    vacuum keeps them because time travel still needs them.

    Retention contract (the reader-side twin of vacuum's no-writer
    contract): expiring a version invalidates pinned time-travel reads
    of it — run expire+vacuum only when no reader still holds a pinned
    version older than the retention floor (Delta/Iceberg express the
    same contract as a retention WINDOW; this module states it in
    versions because it never consults the clock). Latest-readers are
    safe: snapshot_read re-resolves if the tip expires mid-read, and the
    version expire keeps (the tip) always has its files retained."""
    return _chain_expire(_mdir(table_dir), keep_last)


def snapshot_vacuum(spark: SparkSession, table_dir: str) -> list[str]:
    """Delete every file under data/ that NO retained manifest references
    (crash debris from uncommitted writes, overwritten files past their
    last retained version), the groups, delete sidecars and bloom
    sidecars no retained manifest references, and stale dot-temps
    (_vacuum). Returns the deleted relative paths. Safe by construction:
    the retained manifests are the complete reference set, and a
    concurrent in-flight commit's files only become referenced at its
    publish — so vacuum must only run when no write is in flight (the
    same contract as Delta VACUUM's retention window, stated instead of
    time-based because this module never consults the clock)."""
    return _vacuum(
        table_dir, MANIFEST_DIR, {"": _chain_retained(_mdir(table_dir))}
    )


def _chain_retained(chain_dir: str) -> list[dict]:
    """Every retained version object of the chain."""
    out = []
    for v in _chain_versions(chain_dir):
        with contextlib.suppress(FileNotFoundError):
            out.append(_chain_read(chain_dir, v))
    return out


def _live_paths(table_dir: str, manifests: list[dict]) -> set[str]:
    """Every path, relative to ``table_dir``, that one of ``manifests``
    references: group files, data files, and the bloom, positional-delete
    and equality-delete sidecar dirs of their entries. A group shared by
    several versions is read once (group files are immutable)."""
    live: set[str] = set()
    for m in manifests:
        if m.get("groups") is None:  # legacy flat manifest
            entries = m.get("files", [])
        else:
            entries = []
            for g in m["groups"]:
                rel = os.path.join(MANIFEST_DIR, GROUPS_DIR, g["name"])
                if rel not in live:
                    live.add(rel)
                    entries.extend(_read_group(table_dir, g["name"]))
        for fe in entries:
            live.add(fe["path"])
            if fe.get("bloom"):
                live.add(fe["bloom"]["sc"])
            if fe.get("dv"):
                live.update(_dv_scs(fe["dv"]))
            if fe.get("eq"):
                live.update(_eq_scs(fe["eq"]))
    return live


def _vacuum(
    root: str, chain: str, tables: dict[str, list[dict]]
) -> list[str]:
    """THE vacuum sweep. ``tables`` maps each table dir, relative to
    ``root`` ("" for a standalone table), to its retained manifests; every
    table's data files, group files and sidecar dirs outside the live set
    of those manifests go, and so do the dot-temps a crashed write left
    in its group dir and in the chain dir ``root/chain``. Returns the
    removed paths, relative to ``root``."""
    from imagingdb_spark.blooms import BLOOM_DIR

    removed: list[str] = []

    def drop(rel: str) -> None:
        path = os.path.join(root, rel)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
        else:
            os.unlink(path)
        removed.append(rel)

    def ls(rel: str) -> list[str]:
        path = os.path.join(root, rel)
        return sorted(os.listdir(path)) if os.path.isdir(path) else []

    def is_data(n: str) -> bool:
        # only DATA files are vacuum candidates — Spark's _SUCCESS markers
        # and .crc sidecars are bookkeeping, never manifest-referenced
        return n.endswith(".parquet") and not n.startswith((".", "_"))

    for name, manifests in tables.items():
        live = _live_paths(os.path.join(root, name), manifests)
        droot = os.path.join(name, DATA_DIR)
        for commit_id in ls(droot):
            cdir = os.path.join(droot, commit_id)
            if not os.path.isdir(os.path.join(root, cdir)):
                continue
            for n in filter(is_data, ls(cdir)):
                if os.path.join(DATA_DIR, commit_id, n) not in live:
                    drop(os.path.join(cdir, n))
                    crc = os.path.join(root, cdir, f".{n}.crc")
                    if os.path.exists(crc):
                        os.unlink(crc)
            # commit dir holds no data files anymore -> only bookkeeping
            # remains; drop the whole directory
            if not any(map(is_data, ls(cdir))):
                shutil.rmtree(os.path.join(root, cdir), ignore_errors=True)
        gdir = os.path.join(MANIFEST_DIR, GROUPS_DIR)
        for n in ls(os.path.join(name, gdir)):
            if n.startswith(".tmp.") or (
                n.startswith("g-") and os.path.join(gdir, n) not in live
            ):
                drop(os.path.join(name, gdir, n))
        # sidecar dirs (positional deletes, equality deletes, blooms):
        # crashed commits' debris, and (the erasure endgame) sidecars
        # whose last referencing version expired after a compact
        # materialized them
        for sdir in (DELETES_DIR, EQDELETES_DIR, BLOOM_DIR):
            for n in ls(os.path.join(name, sdir)):
                if os.path.join(sdir, n) not in live:
                    drop(os.path.join(name, sdir, n))
    for n in ls(chain):
        if n.startswith(".tmp."):
            drop(os.path.join(chain, n))
    return removed


def snapshot_rmw(
    spark: SparkSession,
    table_dir: str,
    transform,
    mode: str = "rmw",
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
) -> int:
    """Serializable read-modify-write: ``transform(tip_df) -> new_df``
    replaces the table, committed as one atomic version pinned to the
    tip the transform read (``_pinned_commit``): a lost race re-reads
    and re-runs the transform, never a blind retry, because publishing
    against a re-read tip would silently discard the winner's commit.
    MERGE (snapshot_merge) and streaming CDC state maintenance are the
    two shipped instances.

    ``txn=(app_id, seq)`` makes the RMW EXACTLY-ONCE (the same marker
    snapshot_commit carries): a transform whose seq the tip already
    records is skipped entirely and the tip returned. This is what
    NON-IDEMPOTENT streaming folds need — HLL register max converges
    under replay by algebra, but a Misra–Gries counter sum or a quantile
    bucket sum applied twice double-counts, so the replay screen must
    happen BEFORE the fold, at the state table itself (the checkpoint
    alone cannot promise it: foreachBatch can fire twice for one
    batch_id around a crash)."""
    _tip_version(table_dir)

    def attempt(parent, m, record):
        out = transform(snapshot_read(spark, table_dir, version=parent))
        # validate (reserved __dv_* names fail here) before bytes land
        out_schema_json = _canon_schema_json(out.schema)
        new_files, new_rows, rel_dir = record.data(out, table_dir)
        _build_blooms(
            spark, table_dir, rel_dir, new_files, m.get("blooms"),
            out.schema,
        )
        groups = _child_groups(table_dir, [], new_files, record)
        return _next_manifest(
            m, mode, groups, new_rows, out_schema_json, txn
        ), None

    return _table_commit(table_dir, attempt, txn, max_retries)[0]


def snapshot_apply_keyed(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str,
    transform,
    mode: str = "merge",
    max_retries: int = 5,
    max_keys: int = 100_000,
    txn: tuple[str, int] | None = None,
    plan: dict | None = None,
) -> int:
    """File-PRUNED keyed read-modify-write — the execution core of
    ``snapshot_merge`` and the streaming CDC-apply sink, and the closer
    of the format's last non-delta-proportional write path (round-11
    task 1): instead of rewriting the whole table per change batch (the
    ``snapshot_rmw`` shape), only the files that can contain the
    batch's keys are rewritten.

    ``transform(candidate_rows, source) -> DataFrame`` must be a pure
    keyed transition with the PASS-THROUGH property: rows whose ``key``
    is not among ``source``'s keys come back unchanged (merge_upsert
    and the CDC LWW fold both qualify). Given that property, applying
    it to the candidate slice equals applying it to the whole table,
    because the carried-by-reference files PROVABLY contain none of the
    batch's keys:

    1. The batch's distinct keys drive the same three-stage prune as
       DELETE/UPDATE (group stats → footer min/max → bloom sidecars,
       the shared ``_delete_candidates`` core — a table clustered or
       bloom-indexed on the merge key turns an upsert batch into a
       few-files rewrite; the public Delta/Iceberg MERGE
       candidate-pruning design).
    2. Candidate files are read (through any deletion vectors,
       materializing them), transformed with ``source``, and rewritten;
       unmatched source keys land in the same fresh files as inserts.
    3. Everything else carries by reference in the manifest. The
       commit goes through ``_pinned_commit``: a keyed apply's file set
       is a read-dependent claim, so a lost race re-resolves and
       re-applies.

    The key set is collected driver-side BOUNDED by ``max_keys`` (the
    ``propagate_deletes`` contract): a batch with more distinct keys
    falls back to the full-rewrite ``snapshot_rmw`` path — at that
    width most files are candidates anyway, and the fallback keeps the
    driver out of the data path. NULL-key source rows prune nothing
    (NULL matches no stored key under ``=``) and ride the transform as
    inserts. ``snapshot_row_changes(key=...)`` diffs the commit from
    ONLY the rewritten files, so the CDF is delta-proportional because
    the commit itself now is.

    An EMPTY source publishes nothing and returns the tip version.
    ``txn=(app_id, seq)`` is the exactly-once replay marker of
    ``_pinned_commit``. ``plan`` (optional dict) collects the audit:
    strategy, n_source_keys, files_total/files_rewritten/files_kept/
    groups_kept_by_ref/files_bloom_cleared, rows_before/rows_after."""
    if plan is None:
        plan = {}
    if key not in source.columns:
        raise ValueError(f"source has no key column {key!r}")

    def _rewrite_fallback() -> int:
        plan["strategy"] = "rewrite"
        return snapshot_rmw(
            spark,
            table_dir,
            lambda tip_df: transform(tip_df, source),
            mode=mode,
            max_retries=max_retries,
            txn=txn,
        )

    # ONE job harvests the key set AND detects overflow: limit(max+2)
    # bounds the collect structurally — the driver never holds more than
    # max_keys+2 values no matter the batch width. +2, not +1: NULL is
    # at most one distinct value and does not count against the budget
    # (null keys prune nothing), so the sample must have room for
    # max_keys non-null keys AND a null AND one overflow witness.
    sample = source.select(key).distinct().limit(max_keys + 2).collect()
    keys = sorted(r[0] for r in sample if r[0] is not None)
    plan["n_source_keys"] = len(keys)
    if not sample:
        plan["strategy"] = "noop"
        return _tip_version(table_dir)
    if len(keys) > max_keys:
        # wide batch: most files are candidates anyway — full rewrite,
        # zero driver materialization of the key set
        plan["n_source_keys"] = None  # truncated at the sample bound
        return _rewrite_fallback()
    plan["strategy"] = "pruned"
    try:
        # only NULL keys: an empty predicate, nothing can match
        checked = _check_where([(key, "in", keys)]) if keys else []
    except ValueError:
        # a key type the pruning predicate grammar cannot carry
        # (date/decimal/binary): correctness over pruning — full rewrite
        return _rewrite_fallback()
    _tip_version(table_dir)

    def attempt(parent, m, record):
        ref_groups, keep, cand, audit = _delete_candidates(
            table_dir, m, checked
        )
        schema = StructType.fromJson(json.loads(m["schema"]))
        cand_live = _live_rows(spark, table_dir, cand, schema)
        out = transform(_read_entries(spark, table_dir, cand, schema), source)
        missing = set(schema.fieldNames()) - set(out.columns)
        if missing:
            raise ValueError(
                f"keyed apply on {table_dir} dropped columns "
                f"{sorted(missing)}; the transform must preserve the "
                "table schema"
            )
        # manifest column order is strict: realign (a merge emits
        # key-first) without changing the stored schema
        out = out.select(*schema.fieldNames())
        new_files, new_rows, rel_dir = record.data(out, table_dir)
        nonempty = _nonempty(table_dir, new_files)
        _build_blooms(
            spark, table_dir, rel_dir, nonempty, m.get("blooms"),
            out.schema,
        )
        groups = _child_groups(table_dir, ref_groups, keep + nonempty, record)
        rows_after = m["rows"] - cand_live + new_rows
        audit.update(
            files_rewritten=len(cand), rows_before=m["rows"],
            rows_after=rows_after,
        )
        return _next_manifest(
            m, mode, groups, rows_after, m["schema"], txn
        ), audit

    v, audit = _table_commit(table_dir, attempt, txn, max_retries)
    plan.update(audit or {})
    return v


def snapshot_merge(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str,
    max_retries: int = 5,
    strategy: str = "pruned",
    max_keys: int = 100_000,
    txn: tuple[str, int] | None = None,
    plan: dict | None = None,
) -> int:
    """MERGE INTO a snapshot table (the operation merge.py's docstring and
    the CDC job defer to "a table format's MERGE"): source rows replace
    same-key tip rows, unmatched source rows insert, untouched tip rows
    carry through — operators.merge.merge_upsert's SCD-1 semantics under
    a pinned-tip commit, so an interleaved commit is never lost (it
    forces a re-merge instead).

    ``strategy="pruned"`` (default, round-11): only the files whose
    stats/blooms say they can contain the batch's keys are rewritten —
    ``snapshot_apply_keyed``'s three-stage prune; a narrow upsert on a
    clustered or bloom-indexed key touches a few files of a 100 TB
    table instead of rewriting it (the Delta/Iceberg MERGE file-pruning
    design; reference anchor: the upsert transaction scope of
    db_operations.py:150-223 at format scale). Batches wider than
    ``max_keys`` distinct keys fall back automatically.
    ``strategy="rewrite"`` forces the historical full-rewrite path
    (one full-outer join against the whole live set) — kept for
    equivalence testing and for callers that know the batch touches
    everything.

    Scale shape (pruned): one candidate-file scan + one key shuffle of
    (candidate rows ∪ batch) for the full-outer join + one manifest
    publish; the untouched corpus is never read, written, or shuffled."""
    from imagingdb_spark.operators.merge import merge_upsert

    if strategy not in ("pruned", "rewrite"):
        raise ValueError(f"strategy must be pruned|rewrite, got {strategy!r}")
    vs = _versions(table_dir)
    if vs:
        m = _read_manifest_raw(table_dir, vs[-1])
        table_cols = set(
            f["name"] for f in json.loads(m["schema"])["fields"]
        )
        if set(source.columns) != table_cols:
            raise ValueError(
                "merge source columns "
                f"{sorted(source.columns)} != table columns "
                f"{sorted(table_cols)}"
            )

    def _apply(tip_df: DataFrame, src: DataFrame) -> DataFrame:
        return merge_upsert(tip_df, src, key).drop("action")

    if strategy == "rewrite":
        if plan is not None:
            plan["strategy"] = "rewrite"
        return snapshot_rmw(
            spark,
            table_dir,
            lambda tip_df: _apply(tip_df, source),
            mode="merge",
            max_retries=max_retries,
            txn=txn,
        )
    return snapshot_apply_keyed(
        spark,
        table_dir,
        source,
        key,
        _apply,
        mode="merge",
        max_retries=max_retries,
        max_keys=max_keys,
        txn=txn,
        plan=plan,
    )


def _write_eq_sidecar(
    spark: SparkSession,
    table_dir: str,
    keys: DataFrame,
    n_keys: int,
) -> str:
    """Land a one-column (key) frame as one immutable equality-delete
    sidecar dir and return its relative path — the eq twin of
    ``_write_dv_sidecar``, same one-file fast path / spread-past-cap
    write discipline, same crash-debris contract."""
    rel = os.path.join(EQDELETES_DIR, uuid.uuid4().hex)
    n_files = max(1, -(-n_keys // DV_SIDECAR_ROWS_PER_FILE))
    out = keys.toDF("key")
    out = out.coalesce(1) if n_files == 1 else out.repartition(n_files)
    out.write.mode("overwrite").parquet(os.path.join(table_dir, rel))
    return rel


def snapshot_upsert_eq(
    spark: SparkSession,
    table_dir: str,
    source: DataFrame,
    key: str,
    deletes: DataFrame | None = None,
    max_retries: int = 5,
    max_keys: int = 100_000,
    txn: tuple[str, int] | None = None,
    plan: dict | None = None,
) -> int:
    """Row-replacing upsert via EQUALITY-DELETE sidecars (round-11
    stretch; the Iceberg-v2 equality-delete shape, public design):
    every table row whose ``key`` appears in ``source`` (or in the
    optional ``deletes`` key frame) is superseded, and ``source``'s
    rows land as fresh files — but NO standing data file is rewritten.
    The commit writes (a) the batch as new data files, (b) one
    ``_eqdeletes/`` sidecar holding the batch's key set, and (c)
    republishes the CANDIDATE entries (same stats→footer→bloom prune as
    every keyed mutation) with an ``eq`` ref appended to their chain;
    readers anti-join those entries' rows on the key at scan time, and
    compaction / the maintenance tick materializes refs away.

    This is the streaming-upsert write shape the keyed APPLY cannot
    reach: ``snapshot_apply_keyed`` rewrites candidate files per batch
    (read + write of their bytes); this path's DATA WRITE is O(batch)
    at any corpus size — the trigger cost a CDC sink wants. The honest
    residual: manifest row counts stay EXACT (compaction's
    row-preservation invariant depends on it), which costs ONE
    key-column-pruned counting scan over the candidates per commit —
    read-only, columnar, no shuffle of data rows.

    Semantics note: this is ROW replacement (the CDC/LWW shape —
    ``cdc_apply``'s update semantics), not ``merge_upsert``'s
    column-level coalesce; a NULL attribute in ``source`` lands as
    NULL. NULL-key source rows are pure inserts (NULL matches no stored
    key). Duplicate source keys: all duplicates land (dedupe upstream —
    the CDC sink reduces to the max-seq winner per key first).

    Same commit discipline as every keyed mutation (``_pinned_commit``):
    a lost race re-resolves, ``txn`` replays are no-ops, time travel +
    expire/vacuum unchanged. Batches wider than ``max_keys`` distinct
    keys fall back to the full-rewrite replace under ``snapshot_rmw``.
    Returns the committed version; ``plan`` collects the audit."""
    from pyspark.sql import functions as F

    if plan is None:
        plan = {}
    if key not in source.columns:
        raise ValueError(f"source has no key column {key!r}")
    if deletes is not None and len(deletes.columns) != 1:
        raise ValueError("deletes must be a one-column key frame")
    vs0 = _versions(table_dir)
    if not vs0:
        raise FileNotFoundError(f"{table_dir} has no committed snapshots")
    m0 = _read_manifest_raw(table_dir, vs0[-1])
    table_cols = {f["name"] for f in json.loads(m0["schema"])["fields"]}
    if set(source.columns) != table_cols:
        raise ValueError(
            f"upsert source columns {sorted(source.columns)} != "
            f"table columns {sorted(table_cols)}"
        )
    key_src = source.select(F.col(key).alias("key"))
    if deletes is not None:
        key_src = key_src.unionByName(
            deletes.toDF("key").select(F.col("key").cast(key_src.schema[0].dataType))
        )
    sample = key_src.distinct().limit(max_keys + 2).collect()
    keys = sorted(r[0] for r in sample if r[0] is not None)
    plan["n_keys"] = len(keys)
    if not sample:
        plan["strategy"] = "noop"
        return vs0[-1]

    def _replace(tip_df: DataFrame) -> DataFrame:
        kf = key_src.distinct().withColumnRenamed("key", "__del_key")
        survivors = tip_df.join(
            kf, tip_df[key] == F.col("__del_key"), "left_anti"
        )
        return survivors.unionByName(source)

    if len(keys) > max_keys:
        plan["strategy"] = "rewrite"
        plan["n_keys"] = None  # truncated at the sample bound
        return snapshot_rmw(
            spark, table_dir, _replace, mode="eqput",
            max_retries=max_retries, txn=txn,
        )
    plan["strategy"] = "eq"
    try:
        # only NULL keys: an empty predicate, nothing can match
        checked = _check_where([(key, "in", keys)]) if keys else []
    except ValueError:
        plan["strategy"] = "rewrite"
        return snapshot_rmw(
            spark, table_dir, _replace, mode="eqput",
            max_retries=max_retries, txn=txn,
        )
    keys_df = (
        spark.createDataFrame([(k,) for k in keys], ["__k"]) if keys else None
    )

    def attempt(parent, m, record):
        schema = StructType.fromJson(json.loads(m["schema"]))
        ref_groups, keep, cand, audit = _delete_candidates(
            table_dir, m, checked
        )
        # the one standing read: per-candidate-file live/matched counts,
        # key column only, through every prior dv/eq ref — what keeps
        # the manifest row count exact and finds fully-dead entries
        cnt: dict[str, tuple[int, int]] = {}
        if cand:
            need = {key} | {
                fe["eq"]["col"] for fe in cand if fe.get("eq")
            }
            tagged = spark.read.schema(schema).parquet(
                *[os.path.join(table_dir, fe["path"]) for fe in cand]
            ).select(
                *[F.col(c) for c in sorted(need)],
                _rel_path_col().alias("__dv_path"),
                F.col("_metadata.row_index").alias("__dv_pos"),
            )
            dved = [fe for fe in cand if fe.get("dv")]
            if dved:
                pos = (
                    _dv_union(
                        spark, table_dir,
                        [
                            (fe["path"], sc)
                            for fe in dved
                            for sc in _dv_scs(fe["dv"])
                        ],
                    )
                    .withColumnRenamed("path", "__dv_path")
                    .withColumnRenamed("pos", "__dv_pos")
                )
                if sum(
                    fe["dv"].get("n", 0) for fe in dved
                ) <= DV_BROADCAST_MAX_POSITIONS:
                    pos = F.broadcast(pos)
                tagged = tagged.join(
                    pos, ["__dv_path", "__dv_pos"], "left_anti"
                )
            tagged = _apply_eq_refs(spark, table_dir, tagged, cand)
            hit = tagged.join(
                F.broadcast(keys_df),
                tagged[key] == F.col("__k"),
                "left",
            )
            rows_cnt = (
                hit.groupBy("__dv_path")
                .agg(
                    F.count(F.lit(1)).alias("live"),
                    F.count("__k").alias("matched"),
                )
                .collect()
            )
            cnt = {r["__dv_path"]: (r["live"], r["matched"]) for r in rows_cnt}
        rows_matched = sum(v[1] for v in cnt.values())
        # batch lands as fresh files (column order realigned)
        batch = source.select(*schema.fieldNames())
        new_files, new_rows, rel_dir = record.data(batch, table_dir)
        nonempty = _nonempty(table_dir, new_files)
        if rows_matched == 0 and not nonempty:
            # nothing deleted, nothing inserted: publish nothing
            audit.update(rows_replaced=0, files_eq=0, files_dropped=0)
            return None, audit
        _build_blooms(
            spark, table_dir, rel_dir, nonempty, m.get("blooms"),
            batch.schema,
        )
        eq_rel = None
        new_cand: list[dict] = []
        files_eq = 0
        dropped = 0
        for fe in cand:
            live, matched = cnt.get(fe["path"], (0, 0))
            if matched == 0:
                new_cand.append(fe)  # candidate but no physical hit
                continue
            if matched >= live:
                dropped += 1  # every live row superseded
                continue
            if eq_rel is None:
                eq_rel = record.dir(table_dir, _write_eq_sidecar(
                    spark, table_dir, keys_df, len(keys)
                ))
            old = fe.get("eq")
            chain = (_eq_scs(old) if old else []) + [eq_rel]
            fe2 = dict(fe)
            fe2["eq"] = {
                "sc": chain[0] if len(chain) == 1 else chain,
                "col": key,
                "n": (old or {}).get("n", 0) + len(keys),
            }
            new_cand.append(fe2)
            files_eq += 1
        groups = _child_groups(
            table_dir, ref_groups, keep + new_cand + nonempty, record
        )
        manifest = _next_manifest(
            m, "eqput", groups, m["rows"] - rows_matched + new_rows,
            m["schema"], txn,
        )
        # the commit knows its own key column — the CDF needs it even
        # when no surviving entry carries a ref (a commit that only
        # drops fully-superseded entries and adds batch files)
        manifest["eq_col"] = key
        audit.update(
            rows_replaced=rows_matched,
            rows_inserted=new_rows,
            files_eq=files_eq,
            files_dropped=dropped,
            files_rewritten=0,
        )
        return manifest, audit

    v, audit = _table_commit(table_dir, attempt, txn, max_retries)
    plan.update(audit or {})
    return v


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_cols: list[str] | None = None,
    declare: bool = True,
) -> int:
    """Transactional small-file compaction: read the tip snapshot, rewrite
    it into ~target-sized files, and commit the rewrite AGAINST THAT TIP —
    if any commit (e.g. a streaming append) lands in between, the publish
    loses the version race and raises SnapshotConflict instead of silently
    discarding the newcomer's rows, which is precisely the hazard
    layout.compact_parquet documents it cannot close with renames. The
    commit is one pinned ``_pinned_commit`` attempt: a lost race drops
    the rewrite and raises, and the caller retries.

    ``cluster_cols`` turns the rewrite into the OPTIMIZE-ZORDER analog:
    one key clusters via range-repartition + in-partition sort (disjoint
    per-file key slices — footer min/max prunes point/range predicates),
    two+ keys via the Morton z-value (layout.zorder_col), all under the
    same transactional commit. Streaming appends land time-ordered; the
    periodic clustered compact is what restores predicate pruning on the
    QUERY key — at 100 TB this is the difference between a point lookup
    touching one file or every file the stream ever wrote.

    Round-11: the spec is TABLE METADATA. ``cluster_cols=None``
    (default) resolves the manifest's declared ``cluster`` property —
    a compact can never accidentally destroy a declared layout because
    the call site forgot the key; passing a list RECORDS it as the new
    declaration (``[]`` unclusters and clears the property) unless
    ``declare=False``, which clusters this rewrite physically but
    leaves the declared metadata untouched (what a health tick given an
    explicit ad-hoc key must do — recording is an intentional act, not
    a side effect)."""
    import math

    _tip_version(table_dir)

    def attempt(parent, m, record):
        cols = m.get("cluster") if cluster_cols is None else cluster_cols
        files = _resolve_pruned(table_dir, m, None)
        if not files:
            return None, None  # nothing to compact
        n_out = max(1, math.ceil(
            sum(f["bytes"] for f in files) / target_file_bytes
        ))
        df = snapshot_read(spark, table_dir, version=parent)
        if not cols:
            df = df.repartition(n_out)
        elif len(cols) == 1:
            df = df.repartitionByRange(n_out, *cols).sortWithinPartitions(
                *cols
            )
        else:
            from imagingdb_spark.layout import zorder_col

            df = (
                df.withColumn("__z", zorder_col(df, cols))
                .repartitionByRange(n_out, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        new_files, new_rows, rel_dir = record.data(df, table_dir)
        if new_rows != m["rows"]:
            raise RuntimeError(
                f"compaction rewrite of {table_dir} changed rows "
                f"({m['rows']} -> {new_rows}); nothing was published"
            )
        _build_blooms(
            spark, table_dir, rel_dir, new_files, m.get("blooms"), df.schema
        )
        groups = _child_groups(table_dir, [], new_files, record)
        return _next_manifest(
            m, "compact", groups, new_rows, m["schema"],
            cluster=cols if declare else None,
        ), None

    return _table_commit(table_dir, attempt, max_retries=1, pinned=True)[0]


def snapshot_cluster_report(
    table_dir: str, col: str | None = None, version: int | None = None
) -> dict:
    """How well the live files are clustered on ``col`` — the "when to
    re-cluster" signal a maintenance loop reads (the OPTIMIZE-scheduling
    analogue of Delta's file-skipping metrics, from manifest stats only,
    no data reads).

    The metric is POINT OVERLAP: for each file's own min, how many live
    files' [min, max] ranges contain it. Perfectly clustered (disjoint
    ranges, what snapshot_compact(cluster_cols=[col]) produces) scores
    1.0; K time-ordered stream appends of the same key range score ~K —
    a point predicate on col must open that many files. Comparison-only,
    so it works for strings exactly like numbers (no midpoint
    arithmetic). Returns {files_total, files_with_stats, max_overlap,
    avg_overlap}; files lacking stats on col are counted in files_total
    but excluded from the overlap measure (they match every predicate,
    so they degrade skipping regardless of layout).

    ``col=None`` (round-11) reads the manifest's DECLARED ``cluster``
    spec and measures its primary column — callers need not re-state
    the key the table already declares; raises if the table declares
    none."""
    # same expire-race retry as snapshot_read/snapshot_scan_plan: a group
    # vacuumed between manifest and group reads must re-resolve, not leak
    # FileNotFoundError into the maintenance tick (which swallows only
    # SnapshotConflict)
    m, entries = _resolve_manifest_raw(
        table_dir, version, lambda m: (m, _resolve_pruned(table_dir, m, None))
    )
    if col is None:
        spec = m.get("cluster")
        if not spec:
            raise ValueError(
                f"{table_dir} declares no cluster spec; pass col=... or "
                "declare one (snapshot_commit/compact cluster_cols)"
            )
        col = spec[0]
    ranges = []
    for fe in entries:
        s = (fe.get("stats") or {}).get(col)
        if s and s.get("min") is not None and s.get("max") is not None:
            ranges.append((s["min"], s["max"]))
    out = {
        "files_total": len(entries),
        "files_with_stats": len(ranges),
        "max_overlap": 0,
        "avg_overlap": 0.0,
    }
    if not ranges:
        return out
    # stabbing count per file: how many ranges g contain the point
    # r.min, i.e. g.min <= r.min <= g.max. Sort the mins and maxes once
    # and answer each point with two binary searches — O(n log n), not
    # the O(n^2) double loop this used to be; this runs inside the
    # streaming maintenance tick, so it must stay cheap at ~800k files.
    # Comparison-only (bisect), so strings work exactly like numbers.
    import bisect

    mins = sorted(r[0] for r in ranges)
    maxes = sorted(r[1] for r in ranges)
    total = 0
    worst = 0
    for r in ranges:
        p = r[0]
        n = bisect.bisect_right(mins, p) - bisect.bisect_left(maxes, p)
        total += n
        if n > worst:
            worst = n
    out["max_overlap"] = worst
    out["avg_overlap"] = round(total / len(ranges), 3)
    return out


def snapshot_dv_report(table_dir: str, version: int | None = None) -> dict:
    """How much merge-on-read debt (positional DVs AND equality-delete
    refs) the live files carry — the "when to materialize" signal the
    maintenance loop reads beside the clustering overlap (round-11
    task 2), from manifest entries only, no data reads. Every
    ref-bearing file pays an anti-join on each scan (measured worst
    case: ~6.5x on a metadata-cheap aggregate when EVERY file carries
    one, tools/DV_BENCH.json), and sidecar chains grow one link per
    repeat delete/upsert — all reclaimed by one ``snapshot_compact``,
    which reads through the refs and publishes fresh ref-free entries.
    Returns {files_total, files_dv, files_eq, files_ref, dv_file_frac
    (ref-union fraction), dv_positions, eq_keys, rows,
    dv_position_frac, max_chain}."""
    m, entries = _resolve_manifest_raw(
        table_dir, version, lambda m: (m, _resolve_pruned(table_dir, m, None))
    )
    dved = [fe for fe in entries if fe.get("dv")]
    eqd = [fe for fe in entries if fe.get("eq")]
    refd = [fe for fe in entries if fe.get("dv") or fe.get("eq")]
    positions = sum(fe["dv"].get("n", 0) for fe in dved)
    rows = m.get("rows", 0)
    return {
        "files_total": len(entries),
        "files_dv": len(dved),
        "files_eq": len(eqd),
        "files_ref": len(refd),  # union: what the scan tax tracks
        "dv_file_frac": (
            round(len(refd) / len(entries), 4) if entries else 0.0
        ),
        "dv_positions": positions,
        "eq_keys": sum(fe["eq"].get("n", 0) for fe in eqd),
        "rows": rows,
        "dv_position_frac": (
            round(positions / (rows + positions), 4)
            if rows + positions
            else 0.0
        ),
        "max_chain": max(
            [len(_dv_scs(fe["dv"])) for fe in dved]
            + [len(_eq_scs(fe["eq"])) for fe in eqd],
            default=0,
        ),
    }


def snapshot_maintain(
    spark: SparkSession,
    table_dir: str,
    cluster_col: str | None = None,
    max_avg_overlap: float = 2.0,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_dv_file_frac: float = 0.2,
    max_dv_chain: int = 4,
) -> int | None:
    """One step of the table-maintenance loop: transactionally rewrite
    the table when EITHER health signal trips, else do nothing (the
    cheap common case: two manifest resolutions, no data touched).

    - **Clustering**: point overlap on ``cluster_col`` past
      ``max_avg_overlap`` (stream appends land time-ordered; without
      the tick a point lookup eventually opens every file).
    - **DV debt** (round-11): the fraction of live files carrying
      deletion vectors past ``max_dv_file_frac``, or any sidecar chain
      longer than ``max_dv_chain``. Accumulated DVs tax every scan
      (the measured all-files-DV worst case is ~6.5x) and chains add a
      sidecar open per link; compaction materializes both away. Either
      threshold can be disabled with None.

    ``cluster_col=None`` (round-11) maintains the manifest's DECLARED
    ``cluster`` spec — the maintenance loop needs no per-call-site key
    once the table declares one (the Iceberg hidden-partitioning
    direction); raises if the table declares none.

    The rewrite is one clustered ``snapshot_compact`` — it re-clusters
    AND materializes DVs in the same atomic commit, so whichever signal
    fired, both debts clear. Returns the compact commit's version or
    None. A SnapshotConflict from a racing append propagates — the loop
    just runs again next tick, exactly like the streaming gates'
    compaction discipline."""
    spec = _read_manifest_raw(table_dir, _tip_version(table_dir)).get("cluster")
    if cluster_col is None:
        if not spec:
            raise ValueError(
                f"{table_dir} declares no cluster spec; pass "
                "cluster_col=... or declare one (snapshot_commit/compact "
                "cluster_cols)"
            )
        cluster_cols = list(spec)
    else:
        # a health tick must never REWRITE the declaration as a side
        # effect: an explicit key conflicting with a declared spec is a
        # misconfiguration, surfaced loudly; on an undeclared table the
        # compact clusters physically without implanting metadata
        if spec and list(spec) != [cluster_col]:
            raise ValueError(
                f"{table_dir} declares cluster={list(spec)} but the "
                f"maintenance call names {cluster_col!r}; omit "
                "cluster_col to maintain the declaration, or re-declare "
                "via snapshot_compact(cluster_cols=...)"
            )
        cluster_cols = [cluster_col]
    report = snapshot_cluster_report(table_dir, cluster_cols[0])
    need_cluster = (
        report["files_with_stats"] >= 2
        and report["avg_overlap"] > max_avg_overlap
    )
    dv = snapshot_dv_report(table_dir)
    need_dv = dv["files_ref"] > 0 and (
        (
            max_dv_file_frac is not None
            and dv["dv_file_frac"] > max_dv_file_frac
        )
        or (max_dv_chain is not None and dv["max_chain"] > max_dv_chain)
    )
    if not (need_cluster or need_dv):
        return None
    return snapshot_compact(
        spark,
        table_dir,
        target_file_bytes=target_file_bytes,
        cluster_cols=cluster_cols,
        declare=bool(spec),  # never implant a declaration from a tick
    )


def snapshot_diff(
    spark: SparkSession,
    table_dir: str,
    v_old: int,
    v_new: int,
    key: str,
    cmp: str,
) -> DataFrame:
    """What changed between two retained versions of one snapshot table:
    (key, status ∈ added/removed/changed/unchanged) — time travel
    composed with operators.merge.table_diff, so "what did yesterday's
    pipeline run actually change" is two manifest resolutions and ONE
    full-outer join on the key, never a data copy. ``cmp`` names the
    column compared for change detection (pass a content hash for wide
    rows). Both versions must still be retained (snapshot_expire's
    contract); reading them is snapshot-isolated, so the diff is exact
    even under concurrent commits."""
    from imagingdb_spark.operators.merge import table_diff

    return table_diff(
        snapshot_read(spark, table_dir, version=v_old),
        snapshot_read(spark, table_dir, version=v_new),
        key,
        cmp,
    )


def snapshot_delete(
    spark: SparkSession,
    table_dir: str,
    where: list,
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
    mode: str = "cow",
    dv_max_positions: int | None = DV_MAX_POSITIONS,
) -> dict:
    """Targeted row-level DELETE on a snapshot table — the takedown /
    opt-out primitive a training-data pipeline needs (GDPR erasure, DMCA
    removal, poisoned-source excision) and the one mutation the format
    lacked: ``snapshot_compact`` rewrites the whole corpus and MERGE
    upserts but cannot surgically remove. The reference deletes dataset
    rows through a Postgres transaction (/root/reference/imaging_db/
    database/db_operations.py); at table scale the same all-or-nothing
    contract has to hold over data FILES, which is this function.

    ``where`` is the same conjunctive ``(col, op, value)`` triple list
    snapshot_read takes. Execution is the copy-on-write DELETE of the
    public Delta/Iceberg design, with BOTH pruning stages finding the
    affected files before any data is read:

    1. Manifest groups whose merged stats exclude the predicate are
       carried into the child commit BY REFERENCE — never opened.
    2. Within touched groups, file entries whose footer stats prove no
       row matches are carried as entries (their bytes never move).
    3. Bloom sidecars on indexed columns clear ``=``/``in`` probes on
       unclustered keys — a sha256 takedown on a bloom-indexed corpus
       rewrites 1–2 files out of hundreds (tools/SNAPSHOT_BENCH.json).
    4. Only the surviving candidate files are read, filtered to the rows
       the predicate does NOT match, and rewritten; zero-row outputs are
       dropped from the manifest entirely.

    The rewrite publishes as ONE atomic version (mode ``delete``)
    through ``_pinned_commit``: a lost race re-runs the prune against
    the winner's tip (a delete's file set is a read-dependent claim, so
    a blind relink would resurrect rows a racing writer just added to a
    rewritten file's key range).

    Time travel keeps every retained pre-delete version readable (the
    legal-hold window); ``snapshot_expire`` + ``snapshot_vacuum`` make
    the erasure PHYSICAL — after they run, no retained manifest
    references the rewritten files and the bytes are gone.

    ``txn=(app_id, seq)`` is the exactly-once replay marker of
    ``_pinned_commit`` (a replayed seq is a no-op returning the tip).

    ``mode`` picks the execution strategy, never the semantics (both
    publish one atomic ``delete`` commit with identical surviving rows):

    - ``"cow"`` (default) — copy-on-write: candidate files are rewritten
      minus the matching rows. Best when the key is clustered/bloomed
      (few files touched) or when read-path purity matters (no sidecars
      to anti-apply).
    - ``"dv"`` — merge-on-read deletion vectors: candidate files stay
      put; matching rows' physical positions land in a parquet sidecar
      anti-applied at read (``_read_entries``). O(deleted rows) write
      cost regardless of clustering — the takedown path for derived
      tables NOT clustered on the key, where CoW would rewrite most
      files. ``snapshot_compact`` materializes DVs (fresh entries carry
      none); expire+vacuum makes the erasure physical either way. A
      repeat dv delete on an already-touched file APPENDS to the
      entry's sidecar chain — O(new positions), never a rewrite of the
      accumulated set; ``snapshot_maintain``'s DV-debt tick bounds the
      chains.

    ``dv_max_positions`` (None disables) caps the table's ACCUMULATED
    position debt under ``mode="dv"``: a delete whose new hits plus the
    touched entries' existing positions would exceed it falls back to
    copy-on-write for that attempt — a standing read tax that size
    costs every later scan more than one rewrite costs once. The audit
    records ``mode_used``.

    Returns the audit record the caller logs: ``{version, rows_deleted,
    files_total, files_rewritten, files_kept, groups_kept_by_ref,
    files_bloom_cleared}`` — ``version`` is the tip when nothing matched
    (no empty commit is published). files_kept counts entries carried
    through rewritten groups; groups_kept_by_ref counts refs never
    opened. ``mode="dv"`` adds ``files_dv``/``files_dropped`` and keeps
    ``files_rewritten`` 0."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be cow|dv, got {mode!r}")
    checked = _check_where(where)
    if not checked:
        raise ValueError(
            "snapshot_delete needs a non-empty predicate; to truncate, "
            "commit an empty overwrite instead"
        )

    _tip_version(table_dir)

    def attempt(parent, m, record):
        if mode == "dv":
            try:
                manifest, out = _delete_dv(
                    spark, table_dir, m, checked, record, txn,
                    dv_max_positions=dv_max_positions,
                )
                out["mode_used"] = "dv"
                return manifest, out
            except DVPositionsOverflow:
                # accumulated-position debt past the cap: the rewrite is
                # the cheaper physical strategy — same semantics, same
                # atomic commit, recorded in the audit (nothing landed
                # before the raise)
                pass
        manifest, out = _delete_rewrite(
            spark, table_dir, m, checked, record, txn
        )
        if mode == "dv":  # keep the dv-mode audit contract for callers
            out.setdefault("files_dv", 0)
            out.setdefault("files_dropped", 0)
        out["mode_used"] = "cow"
        return manifest, out

    v, out = _table_commit(table_dir, attempt, txn, max_retries)
    if out is None:  # replayed txn
        out = {
            "rows_deleted": 0, "files_total": None, "files_rewritten": 0,
            "files_kept": 0, "groups_kept_by_ref": None,
            "files_bloom_cleared": 0,
        }
    out["version"] = v
    return out


def _delete_candidates(
    table_dir: str, m: dict, checked: list
) -> tuple[list[dict], list[dict], list[dict], dict]:
    """Stages 1–3 of every DELETE flavor — group-ref skip by merged stats,
    per-file footer-stat skip, bloom-sidecar clearing of =/in probes —
    shared by the copy-on-write and deletion-vector paths so the pruning
    semantics cannot drift between them. Returns (groups carried by ref,
    entries carried through touched groups, candidate entries, audit).
    An empty ``checked`` matches nothing (a keyed batch of only NULL
    keys): every group carries by ref."""
    # --- stage 1+2: group-ref skip, then per-file stats skip -----------
    if m["groups"] is None:
        ref_groups: list[dict] = []
        touched = list(
            _read_manifest(table_dir, m["version"])["files"]
            if "files" not in m
            else m["files"]
        )
        files_total = len(touched)
    else:
        ref_groups, touched = [], []
        files_total = sum(g["n_files"] for g in m["groups"])
        for g in m["groups"]:
            if checked and _group_matches(g, checked):
                touched.extend(_read_group(table_dir, g["name"]))
            else:
                ref_groups.append(g)
    keep, cand = [], []
    for fe in touched:
        (cand if checked and _file_matches(fe, checked) else keep).append(fe)
    # --- stage 3: bloom sidecars clear =/in probes ----------------------
    bloom_cleared = 0
    if cand:
        from imagingdb_spark import blooms

        survivors = blooms.prune_candidates(table_dir, cand, checked)
        if len(survivors) < len(cand):
            alive = {fe["path"] for fe in survivors}
            keep.extend(fe for fe in cand if fe["path"] not in alive)
            bloom_cleared = len(cand) - len(survivors)
            cand = survivors
    out = {
        "rows_deleted": 0,
        "files_total": files_total,
        "files_rewritten": len(cand) if cand else 0,
        "files_kept": len(keep),
        "groups_kept_by_ref": (
            len(ref_groups) if m["groups"] is not None else None
        ),
        "files_bloom_cleared": bloom_cleared,
    }
    return ref_groups, keep, cand, out


def _delete_dv(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    checked: list,
    record: _Attempt,
    txn: tuple[str, int] | None = None,
    dv_max_positions: int | None = DV_MAX_POSITIONS,
) -> tuple[dict | None, dict]:
    """The merge-on-read DELETE core (``snapshot_delete(mode="dv")``): the
    same three pruning stages as the CoW path find the candidate files,
    but instead of rewriting their bytes this scans ONLY the candidates
    for matching rows' physical positions (``_metadata.row_index``),
    writes THIS DELETE'S positions as one sidecar parquet under
    ``_deletes/``, and republishes the touched entries with updated
    ``dv`` refs — untouched groups carry by reference, data files never
    move. Entries whose every row is dead drop out of the manifest
    entirely. A repeat delete on an already-dv-bearing file APPENDS the
    new sidecar to the entry's chain instead of rewriting a merged one
    (the Iceberg delete-file-list shape), so K successive takedowns on
    one hot file cost O(total positions) across all K; compaction and
    the maintenance tick's DV-debt trigger bound chain length. Write
    cost is O(deleted positions + pruned candidate scan); on an
    UNCLUSTERED key where CoW must rewrite most files, this is the
    difference between a corpus rewrite and a few KB of positions.

    ``dv_max_positions`` bounds the table's ACCUMULATED position debt:
    when this delete's hits plus every position the touched entries
    already carry exceed it, ``DVPositionsOverflow`` raises (before any
    sidecar lands) — ``snapshot_delete`` catches it and falls back to
    copy-on-write; the catalog path lets it surface.

    Returns ``(child manifest, audit)`` with the same caller contract as
    ``_delete_rewrite``; the audit adds ``files_dv`` (entries whose dv
    ref was written/updated) and ``files_dropped`` (fully-dead entries
    removed)."""
    ref_groups, keep, cand, out = _delete_candidates(table_dir, m, checked)
    out["files_rewritten"] = 0
    out["files_dv"] = 0
    out["files_dropped"] = 0
    if not cand:
        return None, out  # predicate provably touches nothing
    from pyspark.sql import functions as F

    schema = StructType.fromJson(json.loads(m["schema"]))
    cond = _where_column(checked)
    scan = spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, fe["path"]) for fe in cand]
    ).select(
        "*",
        _rel_path_col().alias("__dv_path"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    old_pairs = [
        (fe["path"], sc)
        for fe in cand
        if fe.get("dv")
        for sc in _dv_scs(fe["dv"])
    ]
    if old_pairs:
        old_pos = (
            _dv_union(spark, table_dir, old_pairs)
            .withColumnRenamed("path", "__dv_path")
            .withColumnRenamed("pos", "__dv_pos")
        )
        # already-deleted positions must not re-match (and re-count);
        # prior positions are batch-sized per commit but unbounded in
        # total, so the probe obeys the same broadcast ceiling as reads
        old_total = sum((fe.get("dv") or {}).get("n", 0) for fe in cand)
        if old_total <= DV_BROADCAST_MAX_POSITIONS:
            old_pos = F.broadcast(old_pos)
        scan = scan.join(old_pos, ["__dv_path", "__dv_pos"], "left_anti")
    # rows already dead by an EQUALITY-delete ref must not re-match (and
    # re-count) either — same rule as the positional probe above
    scan = _apply_eq_refs(spark, table_dir, scan, cand)
    # SQL DELETE semantics: NULL predicate keeps the row (same rule as
    # the CoW path)
    hits = scan.filter(F.coalesce(cond, F.lit(False))).select(
        F.col("__dv_path").alias("path"), F.col("__dv_pos").alias("pos")
    )
    hits = hits.persist()
    try:
        # per-file authoritative counts BEFORE anything lands — the
        # collect is O(candidate files), never O(positions), and a
        # no-op or overflow is decided with zero bytes written
        cnt = {
            r["path"]: r["n"]
            for r in hits.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        rows_deleted = sum(cnt.values())
        if rows_deleted == 0:
            # stats/bloom kept the files but no physical row matched
            out["files_kept"] = len(keep) + len(cand)
            return None, out
        old_n = sum((fe.get("dv") or {}).get("n", 0) for fe in cand)
        if dv_max_positions is not None and (
            rows_deleted + old_n > dv_max_positions
        ):
            raise DVPositionsOverflow(
                f"dv delete on {table_dir} would accumulate "
                f"{rows_deleted + old_n} positions "
                f"(> dv_max_positions={dv_max_positions}); a standing "
                "read tax that size costs more than one copy-on-write "
                "rewrite — use mode='cow'"
            )
        rel = record.dir(
            table_dir, _write_dv_sidecar(spark, table_dir, hits, rows_deleted)
        )
    finally:
        hits.unpersist()
    new_cand: list[dict] = []
    files_dv = 0
    dropped = 0
    totals = _footers([os.path.join(table_dir, fe["path"]) for fe in cand])
    for fe, (_s, total) in zip(cand, totals):
        n_new = cnt.get(fe["path"], 0)
        if n_new == 0:  # bloom/stats false positive: entry rides
            new_cand.append(fe)  # unchanged — audited under files_kept
            out["files_kept"] += 1  # so the counts tile files_total
            continue
        old_ref = fe.get("dv")
        n_total = n_new + (old_ref or {}).get("n", 0)
        if total is not None and n_total >= total:
            dropped += 1  # every row dead: the entry leaves the manifest
            continue
        chain = (_dv_scs(old_ref) if old_ref else []) + [rel]
        fe2 = dict(fe)
        fe2["dv"] = {"sc": chain[0] if len(chain) == 1 else chain,
                     "n": n_total}
        new_cand.append(fe2)
        files_dv += 1
    groups = _child_groups(table_dir, ref_groups, keep + new_cand, record)
    manifest = _next_manifest(
        m, "delete", groups, m["rows"] - rows_deleted, m["schema"], txn
    )
    out.update(
        rows_deleted=rows_deleted, files_dv=files_dv, files_dropped=dropped
    )
    return manifest, out


def _delete_rewrite(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    checked: list,
    record: _Attempt,
    txn: tuple[str, int] | None = None,
) -> tuple[dict | None, dict]:
    """The pruning + copy-on-write core shared by ``snapshot_delete`` and
    the catalog-level ``snapcatalog.catalog_delete``: given a resolved
    manifest ``m``, find the files the validated predicate could touch
    (group stats → file stats → bloom sidecars), rewrite only those minus
    the matching rows, and return ``(child manifest, audit dict)``. What
    it writes goes into the attempt ``record``; publication is the
    caller's (single-table version link vs one atomic multi-table
    catalog commit). Manifest is None when no physical row matched (the
    no-op rewrite is already dropped)."""
    ref_groups, keep, cand, out = _delete_candidates(table_dir, m, checked)
    if not cand:
        return None, out  # predicate provably touches nothing
    # --- stage 4: rewrite ONLY the candidate files ----------------------
    schema = StructType.fromJson(json.loads(m["schema"]))
    # LIVE rows only: positions an existing DV already deleted must not
    # count as candidate rows (the rewrite below reads through the DVs,
    # so they would otherwise inflate rows_deleted)
    cand_rows = _live_rows(spark, table_dir, cand, schema)
    from pyspark.sql import functions as F

    cond = _where_column(checked)
    # SQL DELETE semantics: remove rows where the predicate is TRUE;
    # a NULL predicate (null-valued column under =) keeps the row —
    # bare ~cond would silently delete them. Reading through _read_entries
    # anti-applies existing DVs, so the rewrite MATERIALIZES them: the
    # fresh entries carry no dv ref and the sidecars become vacuum debris
    # once the pre-delete versions expire.
    survivors_df = _read_entries(spark, table_dir, cand, schema).filter(
        ~F.coalesce(cond, F.lit(False))
    )
    new_files, new_rows, rel_dir = record.data(survivors_df, table_dir)
    rows_deleted = cand_rows - new_rows
    if rows_deleted == 0:
        # stats/bloom kept the files but no physical row matched: drop
        # the no-op rewrite now (a catalog delete may still publish
        # other tables), publish nothing for this table
        _drop_delta(table_dir, rel_dir)
        out.update(files_rewritten=0, files_kept=len(keep) + len(cand))
        return None, out
    nonempty = _nonempty(table_dir, new_files)
    _build_blooms(
        spark, table_dir, rel_dir, nonempty, m.get("blooms"),
        survivors_df.schema,
    )
    groups = _child_groups(table_dir, ref_groups, keep + nonempty, record)
    manifest = _next_manifest(
        m, "delete", groups, m["rows"] - rows_deleted, m["schema"], txn
    )
    out["rows_deleted"] = rows_deleted
    return manifest, out


def snapshot_update(
    spark: SparkSession,
    table_dir: str,
    where: list,
    set_exprs: dict,
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
) -> dict:
    """Targeted row-level UPDATE — the third leg of the DML triple
    (append/MERGE, DELETE, UPDATE) over the SAME three-stage pruning
    core as ``snapshot_delete``: group stats → footer min/max → bloom
    sidecars find the candidate files, ONLY those are rewritten with
    ``set_exprs`` applied to predicate-matching rows (non-matching rows
    carried verbatim), and the rewrite publishes as one atomic
    ``update`` commit through ``_pinned_commit`` (the snapshot_delete
    discipline, row-count-preserving instead of row-removing).

    ``where`` is the conjunctive triple list every pruned operation
    takes; SQL UPDATE semantics — a NULL predicate leaves the row
    untouched. ``set_exprs`` maps column name → SQL expression string
    (or Column); expressions may reference any column of the row and
    are CAST to the column's existing type, so the table schema never
    drifts. Rewritten files get fresh stats and bloom sidecars (an
    update can move indexed values); existing deletion vectors on
    touched files are read through and materialized, exactly like the
    CoW delete. ``snapshot_row_changes(key=...)`` turns an update
    commit into update_preimage/postimage rows read from ONLY the
    rewritten files — delta-proportional because the commit itself is.

    Returns ``{version, rows_updated, files_total, files_rewritten,
    files_kept, groups_kept_by_ref, files_bloom_cleared}`` — the tip
    version unchanged when no physical row matched."""
    checked = _check_where(where)
    if not checked:
        raise ValueError("snapshot_update needs a non-empty predicate")
    if not set_exprs:
        raise ValueError("snapshot_update needs at least one SET expression")

    _tip_version(table_dir)
    v, out = _table_commit(
        table_dir,
        lambda parent, m, record: _update_rewrite(
            spark, table_dir, m, checked, set_exprs, record, txn
        ),
        txn, max_retries,
    )
    if out is None:  # replayed txn
        out = {
            "rows_updated": 0, "files_total": None, "files_rewritten": 0,
            "files_kept": 0, "groups_kept_by_ref": None,
            "files_bloom_cleared": 0,
        }
    out["version"] = v
    return out


def _update_rewrite(
    spark: SparkSession,
    table_dir: str,
    m: dict,
    checked: list,
    set_exprs: dict,
    record: _Attempt,
    txn: tuple[str, int] | None = None,
) -> tuple[dict | None, dict]:
    """The UPDATE core: shared candidate pruning, then a row-count-
    preserving rewrite of only the candidate files with the SET
    expressions applied to matching rows. Caller contract identical to
    ``_delete_rewrite``."""
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    ref_groups, keep, cand, out = _delete_candidates(table_dir, m, checked)
    out["rows_updated"] = out.pop("rows_deleted")
    if not cand:
        return None, out
    schema = StructType.fromJson(json.loads(m["schema"]))
    bad = set(set_exprs) - set(schema.fieldNames())
    if bad:
        raise ValueError(
            f"SET names columns {sorted(bad)} absent from {table_dir}"
        )
    cand_rows = _live_rows(spark, table_dir, cand, schema)
    cond = _where_column(checked)
    upd = F.coalesce(cond, F.lit(False))  # NULL predicate: row untouched
    src = _read_entries(spark, table_dir, cand, schema)
    n_match = src.filter(upd).count()
    if n_match == 0:
        out.update(files_rewritten=0, files_kept=len(keep) + len(cand))
        return None, out
    by_type = {f.name: f.dataType for f in schema.fields}
    cols = []
    for f in schema.fields:
        if f.name in set_exprs:
            e = set_exprs[f.name]
            e = e if isinstance(e, Column) else F.expr(str(e))
            cols.append(
                F.when(upd, e.cast(by_type[f.name]))
                .otherwise(F.col(f.name))
                .alias(f.name)
            )
        else:
            cols.append(F.col(f.name))
    updated = src.select(*cols)
    new_files, new_rows, rel_dir = record.data(updated, table_dir)
    if new_rows != cand_rows:
        # row-count-preserving invariant: publish nothing, surface loudly
        raise RuntimeError(
            f"update rewrite of {table_dir} changed candidate rows "
            f"({cand_rows} -> {new_rows}); nothing was published"
        )
    nonempty = _nonempty(table_dir, new_files)
    _build_blooms(
        spark, table_dir, rel_dir, nonempty, m.get("blooms"),
        updated.schema,
    )
    groups = _child_groups(table_dir, ref_groups, keep + nonempty, record)
    manifest = _next_manifest(
        m, "update", groups, m["rows"], m["schema"], txn
    )
    out["rows_updated"] = n_match
    return manifest, out


def _added_entries(table_dir: str, prev: dict, cur: dict) -> list[dict]:
    """File entries live in ``cur`` but not in ``prev``, by GROUP diff:
    shared group refs contribute identically to both sides, so only
    groups added/removed between the two manifests are ever opened —
    O(changed groups), which for an append is the delta group (plus the
    occasional coalescing merge), never the live file list. Legacy flat
    manifests fall back to a full path-set diff."""
    if prev.get("groups") is None or cur.get("groups") is None:
        prev_paths = (
            set()
            if prev["version"] == 0  # the since_version=0 baseline
            else {
                fe["path"]
                for fe in _read_manifest(table_dir, prev["version"])["files"]
            }
        )
        return [
            fe
            for fe in _read_manifest(table_dir, cur["version"])["files"]
            if fe["path"] not in prev_paths
        ]
    prev_names = {g["name"] for g in prev["groups"]}
    cur_names = {g["name"] for g in cur["groups"]}
    removed_paths = {
        fe["path"]
        for g in prev["groups"]
        if g["name"] not in cur_names
        for fe in _read_group(table_dir, g["name"])
    }
    return [
        fe
        for g in cur["groups"]
        if g["name"] not in prev_names
        for fe in _read_group(table_dir, g["name"])
        if fe["path"] not in removed_paths
    ]


def _dv_changed(
    table_dir: str, prev: dict, cur: dict, field: str = "dv"
) -> list[tuple[dict, dict | None, dict]]:
    """[(cur entry, old ref | None, new ref)] for paths whose
    merge-on-read ref (``field``: positional ``dv`` or equality ``eq``)
    changed between two CONSECUTIVE manifests — the row-diff companion
    of ``_added_entries`` for ref updates, by the same group diff (only
    groups in the symmetric difference are opened). A path present on
    both sides with an unchanged ref, or with no ref at all,
    contributes nothing."""

    def _by_path(m: dict, other_names: set | None) -> dict:
        if m.get("groups") is None:
            if m["version"] == 0:
                return {}
            return {
                fe["path"]: fe
                for fe in _read_manifest(table_dir, m["version"])["files"]
            }
        return {
            fe["path"]: fe
            for g in m["groups"]
            if other_names is None or g["name"] not in other_names
            for fe in _read_group(table_dir, g["name"])
        }

    if prev.get("groups") is None or cur.get("groups") is None:
        prev_e = _by_path(prev, None)
        cur_e = _by_path(cur, None)
    else:
        prev_names = {g["name"] for g in prev["groups"]}
        cur_names = {g["name"] for g in cur["groups"]}
        prev_e = _by_path(prev, cur_names)
        cur_e = _by_path(cur, prev_names)
    out = []
    for p, fe in cur_e.items():
        old = (prev_e.get(p) or {}).get(field)
        new = fe.get(field)
        if p in prev_e and new and new != old:
            out.append((fe, old, new))
    return out


def _dv_delta_rows(
    spark: SparkSession,
    table_dir: str,
    changed: list[tuple[dict, dict | None, dict]],
    schema: StructType,
) -> DataFrame:
    """The rows a DV delete commit deleted: data rows of the changed
    entries at positions in (new dv ∖ old dv) — read from ONLY those
    files, joined by physical position; delta-proportional like every
    other changelog leg. Chain-appended refs (new chain ⊇ old chain —
    what ``_delete_dv`` publishes) resolve the delta WITHOUT opening the
    old sidecars at all: per-path positions are disjoint across a
    chain's sidecars by construction (the delete scan anti-joins prior
    positions), so the delta is exactly the appended sidecars' rows.
    Refs rewritten some other way (a legacy merged sidecar) fall back to
    the multiset difference."""
    from pyspark.sql import functions as F

    appended: list[tuple[str, str]] = []
    rewritten: list[tuple[dict, dict | None, dict]] = []
    for fe, old, new in changed:
        old_scs = set(_dv_scs(old)) if old else set()
        new_scs = _dv_scs(new)
        if old_scs <= set(new_scs):
            appended.extend(
                (fe["path"], sc) for sc in new_scs if sc not in old_scs
            )
        else:
            rewritten.append((fe, old, new))
    new_pos = None
    if appended:
        new_pos = _dv_union(spark, table_dir, appended)
    if rewritten:
        rw_pos = _dv_union(
            spark,
            table_dir,
            [
                (fe["path"], sc)
                for fe, _o, new in rewritten
                for sc in _dv_scs(new)
            ],
        )
        old_pairs = [
            (fe["path"], sc)
            for fe, old, _n in rewritten
            if old
            for sc in _dv_scs(old)
        ]
        if old_pairs:
            rw_pos = rw_pos.exceptAll(_dv_union(spark, table_dir, old_pairs))
        new_pos = rw_pos if new_pos is None else new_pos.unionByName(rw_pos)
    if new_pos is None:  # every changed ref kept its chain (n-only drift)
        return empty_df(spark, schema)
    pos = new_pos.select(
        F.col("path").alias("__dv_path"), F.col("pos").alias("__dv_pos")
    )
    # the delta is one commit's positions — batch-sized in the common
    # case, but a single legal commit can record up to dv_max_positions
    # of them, so the semi-join obeys the same broadcast ceiling as
    # every other DV probe (manifest-recorded counts, no extra job)
    n_delta = sum(
        new.get("n", 0) - (old or {}).get("n", 0) for _fe, old, new in changed
    )
    if n_delta <= DV_BROADCAST_MAX_POSITIONS:
        pos = F.broadcast(pos)
    data = spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, fe["path"]) for fe, _o, _n in changed]
    ).select(
        "*",
        _rel_path_col().alias("__dv_path"),
        F.col("_metadata.row_index").alias("__dv_pos"),
    )
    return data.join(
        pos, ["__dv_path", "__dv_pos"], "left_semi"
    ).drop("__dv_path", "__dv_pos")


def changelog_mode_action(
    mode: str | None,
    ignore_deletes: bool,
    ignore_changes: bool,
    ctx: str,
) -> str:
    """ONE mode dispatch for every changelog walker (the per-table
    snapshot_changes and the catalog-level snapcatalog.catalog_changes):
    'skip' for dataChange=false commits and (under ignore_deletes)
    delete rewrites, 'emit' for appends and (under ignore_changes)
    full rewrites, loud ValueError otherwise. A new commit mode added
    to the format is handled HERE or nowhere — two hand-rolled copies
    of this block were a confirmed divergence hazard."""
    if mode == "compact":
        return "skip"  # bytes moved, rows identical
    if mode == "delete":
        if not ignore_deletes:
            raise ValueError(
                f"{ctx} is a delete commit; pass ignore_deletes=True "
                "if removals may be skipped"
            )
        return "skip"  # rewritten files hold only surviving OLD rows
    if mode == "eqput":
        # equality-delete upsert = inserts (new files) + deletions
        # (eq refs on carried entries): the adds-only walker can emit
        # the inserts but must be told the deletions may be skipped
        if not ignore_deletes:
            raise ValueError(
                f"{ctx} is an equality-delete upsert commit; pass "
                "ignore_deletes=True to emit its inserts and skip its "
                "deletions, or consume snapshot_row_changes for both"
            )
        return "emit"
    if mode != "append" and not ignore_changes:
        raise ValueError(
            f"{ctx} is a {mode!r} commit (rewrites rows); pass "
            "ignore_changes=True to re-deliver them"
        )
    return "emit"


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    version: int | None = None,
    ignore_deletes: bool = False,
    ignore_changes: bool = False,
    plan: dict | None = None,
) -> DataFrame:
    """Incremental changelog read — the rows ADDED to the table after
    ``since_version`` (exclusive) up to ``version`` (default: the tip,
    inclusive). This is the Delta/Iceberg streaming-source shape
    (public design): a consumer keeps a cursor version and per poll
    reads only the manifest GROUPS that commits after the cursor added,
    so per-trigger manifest work is O(delta commits × changed groups) —
    flat in the table's version count and live-file count, where
    re-resolving the full manifest per trigger grows with live files.

    Commit modes along the walk are handled by their data semantics:

    - ``append`` — its delta files are emitted (the group diff is exact
      even across coalescing merges: a merged group's old entries also
      appear in the removed groups and cancel out).
    - ``compact`` — skipped always: a compaction rewrites bytes but
      changes no rows (dataChange=false in Delta terms).
    - ``delete`` — skipped when ``ignore_deletes=True`` (its rewritten
      files hold only pre-existing surviving rows, nothing new); raises
      otherwise so a consumer that cannot tolerate removals fails loudly
      — the Delta ``ignoreDeletes`` contract.
    - ``overwrite`` / ``merge`` / ``rmw`` — raise unless
      ``ignore_changes=True``, which emits the commit's full new file
      set (rewritten rows may re-deliver — the Delta ``ignoreChanges``
      contract; consumers must be idempotent, which the streaming gates
      already are by doc-id screening).

    Every manifest in ``(since_version, version]`` must still be
    retained: expiring versions a consumer has not read yet breaks the
    cursor, so retention must cover the maximum consumer lag (stated in
    versions, like every retention contract in this module). A missing
    manifest raises FileNotFoundError naming the gap.

    The returned frame uses the END manifest's schema (the widest under
    additive evolution); files written before a widening read the new
    columns as NULL. ``plan`` (when given) collects {commits_walked,
    groups_opened, files_added} — the observability seam the stream
    bench asserts flatness against."""
    end, window = _chain_window(
        _mdir(table_dir), since_version, version,
        {"version": 0, "groups": [], "files": []},
    )
    schema = StructType.fromJson(json.loads(end["schema"]))
    entries: list[dict] = []
    commits_walked = 0
    groups_opened = 0
    for v, prev, cur in window:
        commits_walked += 1
        if changelog_mode_action(
            cur.get("mode"), ignore_deletes, ignore_changes,
            f"{table_dir} v{v}",
        ) == "skip":
            continue
        added = _added_entries(table_dir, prev, cur)
        if cur.get("groups") is not None and prev.get("groups") is not None:
            groups_opened += len(
                {g["name"] for g in cur["groups"]}
                ^ {g["name"] for g in prev["groups"]}
            )
        entries.extend(added)
    if plan is not None:
        plan.update(
            commits_walked=commits_walked,
            groups_opened=groups_opened,
            files_added=len(entries),
        )
    if not entries:
        return empty_df(spark, schema)
    return spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, fe["path"]) for fe in entries]
    )


def _commit_row_changes(
    spark: SparkSession,
    table_dir: str,
    prev: dict,
    cur: dict,
    end_schema: StructType,
    stamp_v: int,
    key: str | None,
    ctx: str,
) -> tuple[DataFrame | None, int]:
    """ONE commit's row-level CDF — the per-mode channel semantics
    shared by ``snapshot_row_changes`` (stamping table versions) and
    ``snapcatalog.catalog_row_changes`` (stamping catalog versions), so
    the two feeds cannot drift (the same single-seam rule as
    ``changelog_mode_action``). Returns ``(aligned frame | None when
    the commit changes no rows, files read)``; raises for keyless
    rewrites. ``stamp_v`` lands in ``_commit_version``; ``ctx`` names
    the commit in errors."""
    from pyspark.sql import functions as F

    mode = cur.get("mode")
    if mode == "compact":
        return None, 0
    v_schema = StructType.fromJson(json.loads(cur["schema"]))

    def _read(entries: list[dict]) -> DataFrame:
        # DV-aware: entries carried with positional-delete refs read as
        # their LIVE rows (e.g. a CoW delete's removed side on a table
        # that had prior DV deletes — the already-dead rows must not
        # resurface as newly deleted)
        return _read_entries(spark, table_dir, entries, v_schema)

    def _aligned(df: DataFrame, ctype: str) -> DataFrame:
        cols = [
            F.col(f.name) if f.name in v_schema.fieldNames()
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in end_schema.fields
        ]
        return df.select(
            *cols,
            F.lit(ctype).alias("_change_type"),
            F.lit(stamp_v).alias("_commit_version"),
        )

    if mode == "append":
        added = _added_entries(table_dir, prev, cur)
        return _aligned(_read(added), "insert"), len(added)
    if mode == "delete":
        # CoW leg: files physically removed minus files added hold the
        # deleted rows. DV leg: entries whose positional-delete ref
        # changed contribute the rows at (new ∖ old) positions. A
        # dv-updated entry shares its path across the group diff, so
        # the two legs partition the commit's deletions exactly.
        added = _added_entries(table_dir, prev, cur)
        removed = _added_entries(table_dir, cur, prev)
        files_read = len(added) + len(removed)
        deleted = _read(removed).exceptAll(_read(added))
        dv_changed = _dv_changed(table_dir, prev, cur)
        if dv_changed:
            files_read += len(dv_changed)
            deleted = deleted.unionByName(
                _dv_delta_rows(spark, table_dir, dv_changed, v_schema)
            )
        return _aligned(deleted, "delete"), files_read
    if mode == "eqput":
        # equality-delete upsert: the commit ADDS the batch's files and
        # appends an eq ref to candidate entries (paths unchanged — the
        # group-diff companion _dv_changed(field="eq") finds them, the
        # same way the delete branch finds positional-ref updates).
        # Superseded rows = changed/dropped entries' PREV-live rows
        # matching the delta sidecars' keys, read through their OLD
        # refs; channel split against the added files is the same
        # key-level classification as the keyed-rewrite branch.
        added = _added_entries(table_dir, prev, cur)
        dropped = _added_entries(table_dir, cur, prev)
        eq_changed = _dv_changed(table_dir, prev, cur, field="eq")
        files_read = len(added) + len(dropped) + len(eq_changed)
        if not eq_changed and not dropped:
            # pure-insert eqput (no key matched anything)
            return _aligned(_read(added), "insert"), files_read
        cols = {new["col"] for _fe, _old, new in eq_changed}
        if len(cols) > 1:
            raise ValueError(
                f"{ctx}: eqput commit carries multiple eq key columns "
                f"{sorted(cols)}"
            )
        # the commit records its key column; changed refs and the caller
        # param are fallbacks (pre-field manifests)
        kcol = cur.get("eq_col") or (cols.pop() if cols else key)
        if kcol is None:
            raise ValueError(
                f"{ctx}: cannot resolve the eq key column; pass key=..."
            )
        from pyspark.sql import functions as F

        delta_scs = sorted(
            {
                sc
                for _fe, old, new in eq_changed
                for sc in _eq_scs(new)
                if sc not in (set(_eq_scs(old)) if old else set())
            }
        )
        keys_df = None
        for sc in delta_scs:
            d = spark.read.parquet(os.path.join(table_dir, sc))
            keys_df = d if keys_df is None else keys_df.unionByName(d)
        prev_entries = [
            (
                {k: v for k, v in dict(fe).items() if k != "eq"}
                | ({"eq": old} if old else {})
            )
            for fe, old, _new in eq_changed
        ] + dropped
        old_rows = _read(prev_entries)
        if keys_df is not None:
            keys_df = keys_df.select(F.col("key")).distinct()
            gone = old_rows.join(
                F.broadcast(keys_df),
                old_rows[kcol] == F.col("key"),
                "left_semi",
            )
        else:
            gone = old_rows  # dropped entries only: every live row died
        new_rows = _read(added)
        # change-proportional like the keyed branch: identical (key,
        # value) rows on both sides cancel
        gone = gone.exceptAll(new_rows)
        fresh = new_rows.exceptAll(old_rows)
        fresh_keys = fresh.select(kcol).distinct()
        gone_keys = gone.select(kcol).distinct()
        frame = (
            _aligned(
                gone.join(fresh_keys, kcol, "left_semi"), "update_preimage"
            )
            .unionByName(
                _aligned(
                    fresh.join(gone_keys, kcol, "left_semi"),
                    "update_postimage",
                )
            )
            .unionByName(
                _aligned(gone.join(fresh_keys, kcol, "left_anti"), "delete")
            )
            .unionByName(
                _aligned(fresh.join(gone_keys, kcol, "left_anti"), "insert")
            )
        )
        return frame, files_read
    if key is not None:
        if key not in v_schema.fieldNames():
            raise ValueError(
                f"{ctx} has no column {key!r} to diff a {mode!r} commit on"
            )
        added = _added_entries(table_dir, prev, cur)
        removed = _added_entries(table_dir, cur, prev)
        # both sides read under THIS commit's schema (pre-widening files
        # fill new columns with NULL); unchanged rows cancel in the
        # multiset diff, so only changed keys survive
        old_rows = _read(removed)
        new_rows = _read(added)
        gone = old_rows.exceptAll(new_rows)
        fresh = new_rows.exceptAll(old_rows)
        fresh_keys = fresh.select(key).distinct()
        gone_keys = gone.select(key).distinct()
        frame = (
            _aligned(gone.join(fresh_keys, key, "left_semi"), "update_preimage")
            .unionByName(
                _aligned(fresh.join(gone_keys, key, "left_semi"), "update_postimage")
            )
            .unionByName(
                _aligned(gone.join(fresh_keys, key, "left_anti"), "delete")
            )
            .unionByName(
                _aligned(fresh.join(gone_keys, key, "left_anti"), "insert")
            )
        )
        return frame, len(added) + len(removed)
    raise ValueError(
        f"{ctx} is a {mode!r} commit — a keyless rewrite has no row "
        "identity to diff on; pass key=... for CDF update images, or "
        "use snapshot_diff(v_old, v_new, key, cmp)"
    )


def _cdf_empty(spark: SparkSession, end_schema: StructType) -> DataFrame:
    from pyspark.sql.types import IntegerType, StringType, StructField

    return empty_df(
        spark,
        StructType(
            list(end_schema.fields)
            + [
                StructField("_change_type", StringType(), False),
                StructField("_commit_version", IntegerType(), False),
            ]
        ),
    )


def snapshot_row_changes(
    spark: SparkSession,
    table_dir: str,
    since_version: int,
    version: int | None = None,
    plan: dict | None = None,
    key: str | None = None,
) -> DataFrame:
    """ROW-level change-data-feed — the table's columns plus
    ``_change_type`` ('insert' | 'delete') and ``_commit_version`` for
    every row added or removed in ``(since_version, version]`` (the
    Delta CDF shape, public design). This is what ``snapshot_changes``
    (adds only) cannot express and what TAKEDOWN PROPAGATION needs: a
    ``snapshot_delete`` on the corpus must reach every derived artifact
    — gate indexes, embeddings, shards — and the deleted rows' keys are
    exactly this feed's ``_change_type = 'delete'`` slice.

    Cost is delta-proportional by construction:

    - ``append`` — its added files (group diff) read as inserts.
    - ``delete`` — the commit's removed files hold (kept + deleted)
      rows and its added files hold exactly the kept rows (carried
      entries cancel in the group diff), so the deleted rows are
      ``read(removed) EXCEPT ALL read(added)`` — a multiset difference
      over ONLY the files the delete physically rewrote, never the
      carried-by-reference corpus. Duplicate physical rows delete one
      occurrence per match, exactly like the rewrite did.
    - ``compact`` — skipped (dataChange=false).
    - ``overwrite``/``merge``/``rmw`` — with ``key`` given, the commit's
      REWRITTEN files (removed vs added, the same group-diff core) are
      keyed-diffed into the Delta CDF update channels:
      ``update_preimage``/``update_postimage`` for keys present on both
      sides whose rows changed, ``insert``/``delete`` for keys on one
      side only; unchanged rows cancel in the multiset difference and
      emit NOTHING — the output is change-proportional even though the
      commit rewrote everything (this format's MERGE is a full rewrite,
      so the read side is the rewritten file set; a file-level MERGE
      would narrow it with no consumer change). Without ``key`` they
      raise, as a keyless rewrite has no row identity to diff on.

    Rows read from pre-widening files align to the END schema (new
    columns NULL). ``plan`` collects {commits_walked, files_read}."""
    end, window = _chain_window(
        _mdir(table_dir), since_version, version,
        {"version": 0, "groups": [], "files": []},
    )
    end_schema = StructType.fromJson(json.loads(end["schema"]))
    out: DataFrame | None = None
    commits_walked = 0
    files_read = 0
    for v, prev, cur in window:
        commits_walked += 1
        frame, fr = _commit_row_changes(
            spark, table_dir, prev, cur, end_schema, v, key,
            f"{table_dir} v{v}",
        )
        files_read += fr
        if frame is not None:
            out = frame if out is None else out.unionByName(frame)
    if plan is not None:
        plan.update(commits_walked=commits_walked, files_read=files_read)
    if out is None:
        return _cdf_empty(spark, end_schema)
    return out


def _net_delete_keys(cdf: DataFrame, col: str) -> DataFrame:
    """Keys whose LAST change in the CDF window is a delete — the
    version-ordered net-effect rule, per key COLUMN (never per joint
    tuple: a doc re-inserted under a different shard is live under
    doc_id). One aggregate over the CDF; returned as a one-column frame
    so callers choose driver collect vs distributed anti-join.
    ``update_postimage`` rows count as (re)inserts: an upserted key is
    live."""
    from pyspark.sql import functions as F

    return (
        cdf.groupBy(col)
        .agg(
            F.max(
                F.when(
                    F.col("_change_type") == "delete",
                    F.col("_commit_version"),
                )
            ).alias("__del_v"),
            F.max(
                F.when(
                    F.col("_change_type").isin("insert", "update_postimage"),
                    F.col("_commit_version"),
                )
            ).alias("__ins_v"),
        )
        .filter(
            F.col("__del_v").isNotNull()
            & (
                F.col("__ins_v").isNull()
                | (F.col("__del_v") > F.col("__ins_v"))
            )
        )
        .select(col)
    )


def _apply_key_deletes(
    spark: SparkSession,
    cdf: DataFrame,
    targets: dict[str, str],
    max_keys: int,
    on_overflow: str,
    mode: str,
    ctx: str,
) -> dict:
    """The propagation core shared by ``propagate_deletes`` and
    ``snapcatalog.catalog_propagate_deletes``: net-deleted keys per key
    column from one CDF frame, pushed into every target table. Small
    key sets (≤ ``max_keys`` per column) collect to the driver and run
    the three-stage-pruned ``snapshot_delete(key IN ...)``; larger sets
    either raise (``on_overflow="error"``, the guard the round-9 review
    asked for — an unbounded collect could OOM the driver) or fall back
    to a DISTRIBUTED anti-join rewrite per target under
    ``snapshot_rmw`` (``on_overflow="rewrite"`` — full-table rewrite
    cost, zero driver materialization). Each target's audit records the
    ``path`` taken.

    A target's key spec is either a column name shared by the CDF and
    the derived table, or a ``(source_col, derived_col)`` pair when the
    derived table renames it (frames_global.id → derived.fg_id)."""
    from pyspark.sql import functions as F

    if on_overflow not in ("error", "rewrite"):
        raise ValueError(
            f"on_overflow must be error|rewrite, got {on_overflow!r}"
        )
    specs = {
        tdir: (spec if isinstance(spec, (tuple, list)) else (spec, spec))
        for tdir, spec in targets.items()
    }
    by_col: dict = {}
    frames: dict = {}
    counts: dict = {}
    null_keys: dict = {}
    for col in sorted({src for src, _dst in specs.values()}):
        last = _net_delete_keys(cdf, col)
        row = last.agg(
            F.count(F.lit(1)).alias("n"), F.count(col).alias("nn")
        ).collect()[0]
        # NULL keys (pre-widening rows read the new column as NULL)
        # cannot be propagated by an IN predicate — surface them in the
        # audit instead of silently overstating the push
        null_keys[col] = row["n"] - row["nn"]
        counts[col] = row["nn"]
        if row["nn"] <= max_keys:
            by_col[col] = sorted(
                r[col]
                for r in last.filter(F.col(col).isNotNull()).collect()
            )
        else:
            by_col[col] = None  # overflow: never materialized on driver
            frames[col] = last.filter(F.col(col).isNotNull())
    out: dict = {
        "deleted_keys": sum(counts.values()),
        "targets": {},
    }
    if any(null_keys.values()):
        out["null_keys"] = {c: n for c, n in null_keys.items() if n}
    for tdir, (src_col, dst_col) in specs.items():
        if counts[src_col] == 0:
            continue
        if by_col[src_col] is not None:
            audit = snapshot_delete(
                spark, tdir, [(dst_col, "in", by_col[src_col])], mode=mode
            )
            audit["path"] = "pruned_delete"
            out["targets"][tdir] = audit
            continue
        if on_overflow == "error":
            raise ValueError(
                f"{ctx}: {counts[src_col]} deleted keys on {src_col!r} "
                f"exceed max_keys={max_keys}; narrow the propagation "
                "window, raise max_keys, or pass on_overflow='rewrite' "
                "for a distributed anti-join rewrite"
            )
        kf = frames[src_col].withColumnRenamed(src_col, "__del_key")
        v = snapshot_rmw(
            spark,
            tdir,
            lambda tip, dst=dst_col, kf=kf: tip.join(
                kf, tip[dst] == kf["__del_key"], "left_anti"
            ),
        )
        m = _read_manifest_raw(tdir, v)
        parent_rows = _read_manifest_raw(tdir, m["parent"])["rows"]
        out["targets"][tdir] = {
            "path": "antijoin_rewrite",
            "version": v,
            "rows_deleted": parent_rows - m["rows"],
        }
    return out


def propagate_deletes(
    spark: SparkSession,
    src_table: str,
    since_version: int,
    targets: dict[str, str],
    version: int | None = None,
    max_keys: int = 100_000,
    on_overflow: str = "error",
    mode: str = "cow",
    cdf_key: str | None = None,
) -> dict:
    """Takedown PROPAGATION: push the keys deleted from ``src_table``
    after ``since_version`` into every derived table — ``targets`` maps
    ``derived_table_dir -> key_column`` (the column in the derived table
    holding the source key named by the CDF's deleted rows' same-named
    column). One ``snapshot_delete(dir, [(key, "in", ids)])`` per
    target, each its own atomic commit; the deleted-key list is
    collected driver-side (takedown batches are request-sized, not
    corpus-sized — the same bounded-collect contract as the gates'
    batch-id screens). Returns {"deleted_keys": n, "targets": {dir:
    audit}} — targets untouched when nothing was deleted. Derived
    tables indexed (bloom/clustered) on the key column turn each
    propagation into the measured few-files rewrite.

    Windows are applied by their NET effect, not change-by-change: a
    key deleted at v5 and re-inserted at v7 inside the same window is
    LIVE at the tip, and its derived rows (which a changelog consumer
    re-landed from v7's insert) must not be removed — so only keys
    whose LAST change in the window is a delete propagate (the
    version-ordered CDC rule), computed PER KEY COLUMN (never per joint
    tuple: a doc re-inserted under a different shard is live under
    doc_id).

    The key column must be ROW-IDENTIFYING in the source: every source
    row sharing a key value must share its fate (doc_id qualifies; a
    grouping column like shard_id does not — deleting ONE doc of a
    shard would net-delete the shard key and wrongly take down derived
    rows of its surviving docs).

    The driver collect is BOUNDED (round-10 task 5): a key column whose
    net-deleted set exceeds ``max_keys`` never materializes on the
    driver — ``on_overflow="error"`` (default) raises with the remedy;
    ``on_overflow="rewrite"`` switches those targets to a distributed
    anti-join rewrite under ``snapshot_rmw``. ``mode`` picks the
    pruned-delete strategy for the in-bounds path (``"dv"`` for derived
    tables not clustered on the key). Each target's audit carries the
    ``path`` taken.

    ``cdf_key`` names the SOURCE table's row identity so windows
    containing merge/rmw/update commits diff into update images instead
    of raising (an update_postimage counts as a re-insert — the key is
    live); without it such windows fail loudly, as the CDF documents."""
    cdf = snapshot_row_changes(
        spark, src_table, since_version, version=version, key=cdf_key
    ).persist()  # one pass per key COLUMN in the shared core
    try:
        return _apply_key_deletes(
            spark, cdf, targets, max_keys, on_overflow, mode,
            f"propagate_deletes from {src_table}",
        )
    finally:
        cdf.unpersist()
