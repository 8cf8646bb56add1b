"""Catalog-level ATOMIC multi-table commits over snapshot tables.

The reference's upload path runs inside ONE Postgres transaction spanning
data_set + frames_global + frames (db_operations.py:14-38, 150-223): a
crash at any point rolls the whole insert back, so readers never see a
dataset without its frames. The per-table snapshot format
(imagingdb_spark/snapshots.py) gives each table that guarantee
individually; three per-table commits one after another would still
leave windows in which a reader sees a dataset without its frames.

This module lifts the snapshot manifest ONE level to close those windows:
a catalog commit is a single JSON object mapping table name →
that table's full manifest (the same group-ref manifest shape
snapshots._next_manifest produces). The link is the only publication
point for every table at once, so readers resolving through the catalog
tip see either none of an upload's rows or all of them — in every table.
This is the public Nessie/"multi-table transaction" catalog design
re-expressed over the existing two-level manifest tree.

The storage rules are the snapshot format's own code, not a copy of it:
the ``_commits`` chain is listed, read, published (dot-temp + fsync +
hard-link put-if-absent), resolved and expired by the snapshots
``_chain_*`` functions that run every table's ``_manifests`` chain; each
table's keyed append lands (data files, bloom sidecars, child groups,
next manifest) through snapshots._land_keyed_append, the landing of
snapshot_idempotent_append; catalog_commit and catalog_delete commit
through snapshots._pinned_commit, the retry loop of every snapshot
writer; and catalog_vacuum is snapshots._vacuum run over every retained
commit's manifests. Footer-stats pruning, group
skipping and geometric group coalescing therefore apply unchanged.

Scale: a catalog commit object holds one manifest per table, each
O(MAX_GROUPS) group refs — publishing is O(tables × groups) bytes
regardless of live file count (the round-6 two-level-tree result carries
over). Readers pay one extra tiny JSON read per catalog resolution.

Layout:
    <catalog_dir>/_commits/v00000001.json     atomic commit objects
    <catalog_dir>/<table>/data/<uuid>/*.parquet
    <catalog_dir>/<table>/_manifests/groups/g-*.json
(per-table ``_manifests/v*.json`` chains are intentionally absent: the
catalog chain IS the version history, one version per multi-table
commit.)
"""

from __future__ import annotations

import functools
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from imagingdb_spark import snapshots as S
from imagingdb_spark.catalog import empty_df, run_concurrently

COMMITS_DIR = "_commits"


def _cdir(catalog_dir: str) -> str:
    return os.path.join(catalog_dir, COMMITS_DIR)


def catalog_exists(catalog_dir: str) -> bool:
    """True when at least one catalog commit has been published."""
    return bool(catalog_versions(catalog_dir))


def catalog_versions(catalog_dir: str) -> list[int]:
    return S._chain_versions(_cdir(catalog_dir))


def _read_commit(catalog_dir: str, version: int) -> dict:
    return S._chain_read(_cdir(catalog_dir), version)


def _publish_commit(catalog_dir: str, version: int, commit: dict) -> None:
    """THE one moment every table's new state becomes visible together."""
    S._chain_publish(_cdir(catalog_dir), version, commit)


def catalog_manifest(catalog_dir: str, version: int | None = None) -> dict:
    """One catalog commit object (latest, or pinned for time travel),
    with the expire-race retry every snapshot reader uses."""
    return S._chain_resolve(_cdir(catalog_dir), version)


def _table_dir(catalog_dir: str, name: str) -> str:
    return os.path.join(catalog_dir, name)


def refuse_per_table_catalog(catalog_dir: str, names) -> None:
    """Raise ValueError when ``catalog_dir`` holds any of the tables
    ``names`` in a per-table form: a standalone snapshot table
    ``<catalog_dir>/<name>`` or a legacy plain-parquet
    ``<catalog_dir>/<name>.parquet``. An atomic commit there would
    shadow the table's rows and an atomic read would miss them; only
    migrate_catalog reads those forms."""
    for name in names:
        snap = _table_dir(catalog_dir, name)
        legacy = os.path.join(catalog_dir, f"{name}.parquet")
        if S.snapshot_exists(snap):
            found = f"{snap} holds a standalone snapshot table"
        elif os.path.exists(legacy):
            found = f"{legacy} holds a legacy plain-parquet table"
        else:
            continue
        raise ValueError(
            f"{found}; the atomic catalog would shadow its rows. Move it "
            "into a fresh atomic catalog with snapcatalog.migrate_catalog "
            "first."
        )


def _manifest_df(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    m: dict,
    where: list | None = None,
    scan_cache: dict | None = None,
) -> DataFrame:
    """DataFrame for one embedded table manifest: snapshot_read's body
    (snapshots._manifest_read) over a manifest that came from a catalog
    commit instead of a per-table version chain."""
    return S._manifest_read(
        spark, _table_dir(catalog_dir, name), m, where, scan_cache
    )


def read_table_at(
    spark: SparkSession,
    catalog_dir: str,
    commit: dict,
    name: str,
    where: list | None = None,
    schema: StructType | None = None,
    scan_cache: dict | None = None,
) -> DataFrame:
    """PUBLIC pinned-commit table read: resolve ``name`` out of an
    already-fetched catalog commit object (catalog_manifest's return) —
    the stable surface for callers that read SEVERAL tables of one tip
    and need them mutually consistent without re-resolving per table
    (e.g. the CLI's catalog slice). Absent tables return a typed empty
    frame when ``schema`` is given, else raise."""
    m = commit["tables"].get(name)
    if m is None:
        if schema is not None:
            return empty_df(spark, schema)
        raise FileNotFoundError(
            f"catalog {catalog_dir} v{commit.get('version')} has no table "
            f"{name!r}"
        )
    return _manifest_df(spark, catalog_dir, name, m, where, scan_cache)


def catalog_read(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    version: int | None = None,
    where: list | None = None,
) -> DataFrame:
    """Catalog-isolated read of one table: resolve ONE catalog commit and
    read the table's manifest out of it. Two reads of different tables at
    the same pinned version are mutually consistent — the cross-table
    guarantee snapshot_read alone cannot give."""
    commit = catalog_manifest(catalog_dir, version)
    if name not in commit["tables"]:
        raise FileNotFoundError(
            f"catalog {catalog_dir} v{commit['version']} has no table "
            f"{name!r} (tables: {sorted(commit['tables'])})"
        )
    return _manifest_df(spark, catalog_dir, name, commit["tables"][name], where)


def catalog_views(
    spark: SparkSession,
    catalog_dir: str,
    schemas: dict[str, StructType],
    version: int | None = None,
) -> dict[str, DataFrame]:
    """Every table of ``schemas`` as a DataFrame from ONE catalog
    resolution — absent tables (or a catalog with no commits yet) come
    back as typed empty frames, which is what the upload flow's builders
    need on first run. All returned views are mutually consistent."""
    try:
        commit = catalog_manifest(catalog_dir, version)
    except FileNotFoundError:
        commit = {"tables": {}}
    out = {}
    for name, schema in schemas.items():
        m = commit["tables"].get(name)
        out[name] = (
            _manifest_df(spark, catalog_dir, name, m)
            if m is not None
            else empty_df(spark, schema)
        )
    return out


class CatalogViews(dict):
    """``{table: DataFrame}`` as ``catalog_commit`` hands it to a builder,
    plus ``manifests``: the ``{table: manifest}`` of the catalog tip the
    views were resolved from. A builder reads bounds such as
    ``snapshots.manifest_upper_bound`` off these instead of resolving
    the tip again, which could see a newer commit than its views."""

    def __init__(self, views: dict, manifests: dict[str, dict]):
        super().__init__(views)
        self.manifests = manifests


def _catalog_commit(catalog_dir: str, attempt, max_retries: int):
    """``snapshots._pinned_commit`` over the catalog's ``_commits``
    chain; ``attempt`` returns the next commit object, or None."""
    return S._pinned_commit(
        _cdir(catalog_dir),
        lambda v: _read_commit(catalog_dir, v),
        lambda v, commit: _publish_commit(catalog_dir, v, commit),
        attempt, max_retries=max_retries,
    )


def catalog_commit(
    spark: SparkSession,
    catalog_dir: str,
    build,  # Callable[[dict[str, DataFrame | None]], dict[str, DataFrame]]
    keys: dict[str, list[str]],
    max_retries: int = 5,
    bloom_columns: dict[str, list[str]] | None = None,
) -> tuple[int, dict[str, DataFrame]]:
    """ONE atomic, serializable, idempotent append across MANY tables.

    ``build(views)`` receives the current catalog-tip view of every table
    seen so far (``None``-free: only tables present in the tip appear;
    first-run callers see ``{}``) and returns ``{table: new_rows_df}``.
    ``views`` is a ``CatalogViews``: its ``manifests`` are the tip
    manifests the views read.
    It is re-invoked against the EXACT tip inside every retry, so
    cross-table derived values — surrogate ids allocated from one table
    and baked into another's rows — recompute against the state the
    commit actually publishes onto (snapshot_idempotent_append's
    discipline, lifted to the table set).

    Each table lands through snapshots._land_keyed_append, the landing
    of snapshot_idempotent_append: rows are deduplicated on
    ``keys[name]`` and anti-joined against the tip view, so a replay
    (same upload re-run) or a lost same-key race converges to an empty
    delta. A delta holding the tip's columns in another order is written
    in the tip's order (catalogs published by earlier code store
    ``data_set`` with ``id`` last); any other schema difference is
    refused. A table's first commit refuses a
    per-table form of it in the same directory
    (refuse_per_table_catalog). When EVERY table's delta is empty and no
    new table appears, nothing is published and the tip version is
    returned unchanged.

    Returns ``(version, {table: committed_delta_df})``. A reader
    through catalog_read sees the parent commit until the single publish
    link lands, at which instant it sees every table's new state.

    ``bloom_columns`` maps table name -> indexed columns (the per-table
    analog of snapshot_commit's parameter): this commit sets the
    property on those tables' manifests and builds point-lookup bloom
    sidecars for their new files; later commits inherit per table.

    Threads: tip resolution, the views and the builder run on the
    caller's thread. Each table the builder returned then lands on its
    own driver thread (``catalog.run_concurrently``, which keeps the
    caller's job group on every job): the dedup/schema/anti-join guard,
    the data-file write (skipped when the optimizer has reduced the
    delta to an empty LocalRelation), the bloom sidecar, the group file
    and the delta read-back. No table's landing reads another's. The
    manifests are assembled and the single publish link is made back on
    the caller's thread, after every table thread has finished.

    Cleanup is ``snapshots._pinned_commit``'s: every table thread
    records what it writes in the attempt's one record, and a landing
    that raises, a converged replay or a lost race drops it whole
    (``run_concurrently`` waits for every thread before it raises).
    """
    def attempt(parent, base, record):
        tables_base: dict[str, dict] = dict(base["tables"]) if base else {}
        # a table's first commit would hide a per-table form of it living
        # in the same directory and interleave new data files into its dirs
        refuse_per_table_catalog(
            catalog_dir, [n for n in keys if n not in tables_base]
        )
        views = CatalogViews(
            {
                name: _manifest_df(spark, catalog_dir, name, m)
                for name, m in tables_base.items()
            },
            tables_base,
        )
        new_rows = build(views)
        unknown = set(new_rows) - set(keys)
        if unknown:
            raise ValueError(f"no key columns declared for tables {unknown}")
        landed = run_concurrently(
            spark,
            [
                functools.partial(
                    S._land_keyed_append, spark,
                    _table_dir(catalog_dir, name), rows_df, keys[name],
                    tables_base.get(name), views.get(name), record,
                    (bloom_columns or {}).get(name),
                )
                for name, rows_df in new_rows.items()
            ],
        )
        new_tables = dict(tables_base)
        deltas: dict[str, DataFrame] = {}
        total_new = 0
        for name, (delta, manifest, n) in zip(new_rows, landed):
            deltas[name] = delta
            if manifest is not None:
                new_tables[name] = manifest
            total_new += n
        if total_new == 0 and set(new_tables) == set(tables_base):
            # fully converged replay: nothing written, nothing published
            return None, deltas
        return {
            "version": parent + 1, "parent": parent, "tables": new_tables,
        }, deltas

    return _catalog_commit(catalog_dir, attempt, max_retries)


def migrate_catalog(
    spark: SparkSession,
    src_dir: str,
    dest_dir: str,
    tables: dict[str, "StructType"],
    keys: dict[str, list[str]],
) -> int:
    """Migrate a per-table catalog (standalone snapshot tables and/or
    legacy ``<name>.parquet`` files under ``src_dir``) into a FRESH
    atomic catalog at ``dest_dir`` — the actionable path behind
    refuse_per_table_catalog, and the only reader of those forms.
    Every table's current
    content lands in ONE catalog commit (v1), in the field order of
    ``tables[name]``, so the destination starts
    with the cross-table consistency guarantee already holding; absent
    source tables become typed empty tables. The source is READ ONLY —
    cut over by pointing writers and readers at ``dest_dir`` and
    retiring the source when satisfied. Returns the committed version."""
    if os.path.abspath(src_dir) == os.path.abspath(dest_dir):
        raise ValueError(
            "migration needs a fresh destination directory (the source's "
            "per-table state must stay intact until cut-over)"
        )
    if catalog_exists(dest_dir):
        raise ValueError(f"{dest_dir} already holds an atomic catalog")

    def build(views):
        out = {}
        for name, schema in tables.items():
            legacy = os.path.join(src_dir, f"{name}.parquet")
            snap = _table_dir(src_dir, name)
            if os.path.exists(legacy):
                out[name] = spark.read.schema(schema).parquet(legacy)
            elif S.snapshot_exists(snap):
                # the declared field order, whatever the source stores
                out[name] = S.snapshot_read(spark, snap).select(
                    *schema.fieldNames()
                )
            else:
                out[name] = empty_df(spark, schema)
        return out

    v, _ = catalog_commit(spark, dest_dir, build, keys)
    return v


def catalog_expire(catalog_dir: str, keep_last: int = 1) -> list[int]:
    """Drop catalog commit objects older than the newest ``keep_last``;
    returns the expired version numbers. Data/group files they referenced
    become vacuum candidates exactly like the per-table format."""
    return S._chain_expire(_cdir(catalog_dir), keep_last)


def catalog_vacuum(spark: SparkSession, catalog_dir: str) -> list[str]:
    """Remove data files, group files, sidecar dirs and dot-temps not
    referenced by ANY retained catalog version — the crash-path backstop
    for aborted/torn attempts (whose writes are invisible by design).
    The sweep is snapshot_vacuum's (snapshots._vacuum), run per table
    over the manifests every retained commit holds for it. Returns
    removed paths (relative to catalog_dir)."""
    tables = {
        name: []
        for name in os.listdir(catalog_dir)
        if name != COMMITS_DIR
        and os.path.isdir(_table_dir(catalog_dir, name))
        # a standalone per-table snapshot table sharing the directory:
        # its own manifest chain defines its live set, and
        # snapshot_vacuum owns its garbage
        and not S.snapshot_exists(_table_dir(catalog_dir, name))
    }
    for commit in S._chain_retained(_cdir(catalog_dir)):
        for name, m in commit["tables"].items():
            if name in tables:
                tables[name].append(m)
    return S._vacuum(catalog_dir, COMMITS_DIR, tables)


def catalog_delete(
    spark: SparkSession,
    catalog_dir: str,
    where,  # dict[str, list] | Callable[[dict[str, DataFrame]], dict]
    max_retries: int = 5,
    mode: str = "cow",
) -> dict:
    """Targeted row-level DELETE across MANY catalog tables, published as
    ONE atomic catalog commit — the takedown primitive at the
    reference's actual transaction scope: removing a dataset means its
    data_set row, its frames_global row, AND its frames rows disappear
    together (db_operations.py:14–38's single-Postgres-transaction
    semantics), never a window where the dataset row is gone but its
    frames still answer queries.

    ``where`` maps table name → the same conjunctive ``(col, op, value)``
    triple list ``snapshot_delete`` takes; each table's affected files
    are found by the shared three-stage prune (group stats → footer
    min/max → bloom sidecars) and only those files are rewritten minus
    the matching rows (``snapshots._delete_rewrite`` — identical
    semantics, including NULL-predicate rows surviving). Each table
    lands on its own driver thread (``catalog.run_concurrently``, as in
    catalog_commit), and the new per-table manifests publish under one
    link through ``snapshots._pinned_commit``: a lost race re-resolves
    every table's candidates, and a table whose core raises drops the
    tables already rewritten.

    Returns ``{"version": v, "tables": {name: audit_dict}}`` with the
    per-table audit ``snapshot_delete`` returns (rows_deleted,
    files_rewritten, files_bloom_cleared, ...). When no table has a
    physically matching row, nothing is published and the tip version
    returns unchanged. Time travel keeps pre-delete catalog versions
    readable; ``catalog_expire`` + ``catalog_vacuum`` make the erasure
    physical.

    ``where`` may be a CALLABLE ``build(views) -> {table: triples}``: it
    receives the catalog-tip view of every table and is re-invoked
    against the EXACT tip inside every retry — required whenever the
    predicates are DERIVED from table state (surrogate-id chains): a
    racing commit can add child rows under the same parent, and
    predicates baked from a stale tip would delete the parent while
    publishing the new children as surviving orphans (the same builder
    discipline as catalog_commit).

    ``mode`` picks the per-table execution strategy exactly like
    ``snapshot_delete``: ``"cow"`` rewrites candidate files,
    ``"dv"`` writes positional-delete sidecars anti-applied at read —
    same atomic multi-table publish either way. Unlike the single-table
    path, a ``DVPositionsOverflow`` (accumulated positions past
    ``snapshots.DV_MAX_POSITIONS``) SURFACES here instead of silently
    switching one table of the batch to a different write strategy —
    the multi-table mode is the caller's explicit choice."""
    if mode not in ("cow", "dv"):
        raise ValueError(f"mode must be cow|dv, got {mode!r}")
    core = S._delete_dv if mode == "dv" else S._delete_rewrite
    build = where if callable(where) else None

    def _checked(w_map: dict) -> dict:
        out = {name: S._check_where(w) for name, w in w_map.items()}
        for name, w in out.items():
            if not w:
                raise ValueError(
                    f"catalog_delete needs a non-empty predicate for "
                    f"{name!r}"
                )
        return out

    static_checked = _checked(where) if build is None else None
    if not catalog_exists(catalog_dir):
        raise FileNotFoundError(
            f"{catalog_dir} has no committed catalog versions"
        )

    def attempt(parent, base, record):
        tables_base: dict[str, dict] = dict(base["tables"])
        if build is not None:
            views = {
                name: _manifest_df(spark, catalog_dir, name, m)
                for name, m in tables_base.items()
            }
            checked = _checked(build(views))
        else:
            checked = static_checked
        missing = set(checked) - set(tables_base)
        if missing:
            raise ValueError(
                f"catalog {catalog_dir} has no tables {sorted(missing)}"
            )
        landed = run_concurrently(
            spark,
            [
                functools.partial(
                    core, spark, _table_dir(catalog_dir, name),
                    {"groups": None, **tables_base[name]}, w, record,
                )
                for name, w in checked.items()
            ],
        )
        new_tables = dict(tables_base)
        outs: dict[str, dict] = {}
        for name, (manifest, out) in zip(checked, landed):
            outs[name] = out
            if manifest is not None:
                new_tables[name] = manifest
        if new_tables == tables_base:
            return None, outs
        return {
            "version": parent + 1, "parent": parent, "tables": new_tables,
        }, outs

    v, outs = _catalog_commit(catalog_dir, attempt, max_retries)
    return {"version": v, "tables": outs}


def catalog_delete_dataset(
    spark: SparkSession,
    catalog_dir: str,
    dataset_serial: str,
) -> dict:
    """Remove one dataset ACROSS the imaging FK chain as one atomic
    multi-table delete — the reference's dataset-removal shape
    (db_operations.py's data_set → frames_global/file_global → frames
    relationships): delete data_set by serial, frames_global /
    file_global by ``dataset_id``, and frames by ``frames_global_id``,
    all published under ONE commit — a reader never sees a dataset row
    without its frames or vice versa. Tables absent from the catalog
    are skipped.

    The id chain is resolved INSIDE catalog_delete's retry loop (the
    builder form): a racing commit can add new frames_global/frames
    rows under the same dataset between resolve and publish, and
    predicates baked from a stale tip would delete the parent while
    publishing the newcomers as surviving orphans — re-building against
    the winner's tip re-captures them. Raises ValueError when the
    serial is unknown."""
    tables = catalog_manifest(catalog_dir)["tables"]
    if "data_set" not in tables:
        raise ValueError(f"{catalog_dir} has no data_set table")
    # presence check once, loudly, before any retry machinery
    probe = catalog_read(spark, catalog_dir, "data_set")
    if probe.filter(probe.dataset_serial == dataset_serial).limit(1).count() == 0:
        raise ValueError(
            f"dataset {dataset_serial!r} not found in {catalog_dir}"
        )

    def build(views: dict) -> dict:
        ds = views["data_set"]
        ids = [
            r["id"]
            for r in ds.filter(ds.dataset_serial == dataset_serial)
            .select("id").collect()
        ]
        targets: dict[str, list] = {
            "data_set": [("dataset_serial", "=", dataset_serial)]
        }
        if ids and "frames_global" in views:
            targets["frames_global"] = [("dataset_id", "in", ids)]
            fg = views["frames_global"]
            fg_ids = [
                r["id"]
                for r in fg.filter(fg.dataset_id.isin(ids))
                .select("id").collect()
            ]
            if fg_ids and "frames" in views:
                targets["frames"] = [("frames_global_id", "in", fg_ids)]
        if ids and "file_global" in views:
            targets["file_global"] = [("dataset_id", "in", ids)]
        return targets

    return catalog_delete(spark, catalog_dir, build)


def catalog_changes(
    spark: SparkSession,
    catalog_dir: str,
    since_version: int,
    version: int | None = None,
    ignore_deletes: bool = False,
    ignore_changes: bool = False,
    plan: dict | None = None,
) -> dict[str, DataFrame]:
    """Multi-table incremental changelog: {table: rows ADDED} between
    ``since_version`` (exclusive) and ``version`` (default tip,
    inclusive) of the CATALOG chain — what a downstream mirror
    following the whole catalog consumes instead of re-reading every
    table per sync. Each table's delta resolves from only the manifest
    GROUPS later commits changed (snapshots._added_entries — the same
    group-diff as the per-table changelog, exact across coalescing
    merges), so one poll is O(changed tables × changed groups)
    regardless of catalog size. Because the deltas come from ONE
    commit-object walk, they are mutually consistent: a dataset's
    data_set/frames_global/frames rows appear in the SAME poll, never
    split across two (the atomicity the catalog commit guarantees,
    carried through to incremental readers).

    Per-table modes follow the per-table changelog contracts:
    delete-mode manifests (catalog_delete) are skipped under
    ``ignore_deletes=True`` and raise otherwise; full-rewrite modes
    raise unless ``ignore_changes`` re-delivers. Tables absent from the
    returned dict had no additions. ``plan`` collects
    {commits_walked, groups_opened, files_added}."""
    _, window = S._chain_window(
        _cdir(catalog_dir), since_version, version, {"tables": {}}
    )
    entries: dict[str, list] = {}
    schemas: dict[str, str] = {}
    commits_walked = 0
    groups_opened = 0
    for v, prev, commit in window:
        commits_walked += 1
        for name, m in commit["tables"].items():
            schemas[name] = m["schema"]
            pm = prev["tables"].get(name, {"version": 0, "groups": []})
            if m.get("groups") == pm.get("groups"):
                continue  # table untouched by this commit
            if S.changelog_mode_action(
                m.get("mode"), ignore_deletes, ignore_changes,
                f"catalog {catalog_dir} v{v} table {name!r}",
            ) == "skip":
                continue
            tdir = _table_dir(catalog_dir, name)
            added = S._added_entries(tdir, pm, m)
            if m.get("groups") is not None and pm.get("groups") is not None:
                groups_opened += len(
                    {g["name"] for g in m["groups"]}
                    ^ {g["name"] for g in pm["groups"]}
                )
            entries.setdefault(name, []).extend(added)
    if plan is not None:
        plan.update(
            commits_walked=commits_walked,
            groups_opened=groups_opened,
            files_added=sum(len(e) for e in entries.values()),
        )
    out: dict[str, DataFrame] = {}
    for name, fes in entries.items():
        if not fes:
            continue
        schema = StructType.fromJson(json.loads(schemas[name]))
        tdir = _table_dir(catalog_dir, name)
        out[name] = spark.read.schema(schema).parquet(
            *[os.path.join(tdir, fe["path"]) for fe in fes]
        )
    return out


def catalog_row_changes(
    spark: SparkSession,
    catalog_dir: str,
    since_version: int,
    version: int | None = None,
    keys: dict[str, str] | None = None,
    plan: dict | None = None,
    tables: list[str] | None = None,
) -> dict[str, DataFrame]:
    """ROW-level change-data-feed across the WHOLE catalog from ONE
    commit-object walk (round-10 task 4): ``{table: rows ± _change_type
    + _commit_version}`` for every table whose rows changed in
    ``(since_version, version]`` — the multi-table twin of
    ``snapshots.snapshot_row_changes``, sharing its per-commit channel
    core (``_commit_row_changes``) so the two feeds cannot drift.
    ``_commit_version`` is the CATALOG version, so a dataset takedown's
    data_set/frames_global/frames deletions carry the SAME version
    stamp — mutually consistent by construction, never split across
    polls (the asymmetry ``catalog_changes`` closed for adds, closed
    here for row-level deletes/updates).

    Per-table commit modes follow the per-table CDF contracts: appends
    read as inserts, delete manifests (``catalog_delete``, either
    strategy) yield their CoW+DV delete rows, compactions are skipped,
    and full-rewrite manifests keyed-diff into update images when
    ``keys[table]`` names the row identity (raise otherwise). ``plan``
    collects {commits_walked, files_read}. ``tables`` restricts the
    walk's group-diff work to the named tables (a consumer following
    two of fifty tables must not pay the other forty-eight's churn)."""
    keys = keys or {}
    end, window = S._chain_window(
        _cdir(catalog_dir), since_version, version, {"tables": {}}
    )
    end_v = end["version"]
    end_schemas = {
        name: StructType.fromJson(json.loads(m["schema"]))
        for name, m in end["tables"].items()
    }
    frames: dict[str, DataFrame] = {}
    commits_walked = 0
    files_read = 0
    for v, prev, commit in window:
        commits_walked += 1
        # a commit that DROPS a followed table ends the feed's ability
        # to deliver that table's implied deletions — even when the
        # table received no row changes beforehand (the changed-then-
        # dropped case is caught below at end-schema alignment; this
        # closes the unchanged-then-dropped one, which would otherwise
        # vanish from the feed silently)
        gone = [
            n
            for n in prev["tables"]
            if n not in commit["tables"]
            and (tables is None or n in tables)
        ]
        if gone:
            raise ValueError(
                f"catalog {catalog_dir}: tables {sorted(gone)} dropped at "
                f"v{v} — their rows' removal cannot be emitted as a row "
                "feed; end the CDF window at a commit before the drop"
            )
        for name, m in commit["tables"].items():
            if tables is not None and name not in tables:
                continue  # caller follows a subset: skip foreign churn
            pm = prev["tables"].get(name, {"version": 0, "groups": []})
            if m.get("groups") == pm.get("groups"):
                continue  # table untouched by this commit
            end_schema = end_schemas.get(name)
            if end_schema is None:
                # a table that CHANGED in the window but is absent from
                # the end commit has rows this feed cannot align or
                # deliver — silently skipping would under-propagate
                # takedowns (its delete rows never reach the consumer),
                # so fail loudly; end the window before the drop, or
                # after re-registering the table
                raise ValueError(
                    f"catalog {catalog_dir}: table {name!r} changed at "
                    f"v{v} but is absent from the end commit v{end_v}; "
                    "its changes cannot be emitted — end the CDF window "
                    "at a commit that still carries the table"
                )
            frame, fr = S._commit_row_changes(
                spark,
                _table_dir(catalog_dir, name),
                pm,
                m,
                end_schema,
                v,
                keys.get(name),
                f"catalog {catalog_dir} v{v} table {name!r}",
            )
            files_read += fr
            if frame is not None:
                frames[name] = (
                    frame
                    if name not in frames
                    else frames[name].unionByName(frame)
                )
    if plan is not None:
        plan.update(commits_walked=commits_walked, files_read=files_read)
    return frames


def catalog_propagate_deletes(
    spark: SparkSession,
    catalog_dir: str,
    since_version: int,
    targets: dict[str, dict[str, str]],
    version: int | None = None,
    max_keys: int = 100_000,
    on_overflow: str = "error",
    mode: str = "cow",
    keys: dict[str, str] | None = None,
) -> dict:
    """Takedown propagation from ONE mutually-consistent catalog feed
    (round-10 task 4): ``targets`` maps SOURCE table name →
    ``{derived_table_dir: key_column}``, and every derived standalone
    snapshot table (gate indexes, shards, embeddings) receives the
    net-deleted keys of its source table — harvested from a single
    ``catalog_row_changes`` walk, so a ``catalog_delete_dataset``
    takedown reaches every derived artifact from one feed instead of
    per-table cursors that could observe the chain mid-commit. Replay
    safe: re-running the same window re-computes the same net key sets
    and each ``snapshot_delete`` finds nothing left to remove.

    Same net-effect rule, bounded-collect guard (``max_keys`` /
    ``on_overflow``), and delete-strategy choice (``mode``) as
    ``snapshots.propagate_deletes`` — the application core is shared.
    ``keys`` maps source table → its row identity so windows containing
    merge/rmw/update manifests diff into update images instead of
    raising (a postimage counts as a re-insert). The CDF walk is
    restricted to the SOURCE tables named in ``targets``. Returns
    ``{"sources": {table: {"deleted_keys": n, "targets":
    {dir: audit}}}}``."""
    cdf = catalog_row_changes(
        spark, catalog_dir, since_version, version=version,
        keys=keys, tables=list(targets),
    )
    out: dict = {"sources": {}}
    for src, tmap in targets.items():
        frame = cdf.get(src)
        if frame is None:
            out["sources"][src] = {"deleted_keys": 0, "targets": {}}
            continue
        frame = frame.persist()
        try:
            out["sources"][src] = S._apply_key_deletes(
                spark, frame, tmap, max_keys, on_overflow, mode,
                f"catalog_propagate_deletes {catalog_dir}:{src}",
            )
        finally:
            frame.unpersist()
    return out
