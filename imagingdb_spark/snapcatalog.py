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
snapshots._next_manifest produces), published with the same dot-temp +
fsync + hard-link put-if-absent discipline as a per-table manifest. The
link is the only publication point for every table at once, so readers
resolving through the catalog tip see either none of an upload's rows or
all of them — in every table. This is the public Nessie/"multi-table
transaction" catalog design re-expressed over the existing two-level
manifest tree; per-table data and group files live in per-table subdirs
(``<catalog_dir>/<table>/data``, ``.../_manifests/groups``) and are
written by the SAME helpers the standalone format uses, so footer-stats
pruning, group skipping, and geometric group coalescing all apply
unchanged.

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
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from imagingdb_spark import snapshots as S
from imagingdb_spark.catalog import empty_df, run_concurrently
from imagingdb_spark.snapshots import SnapshotConflict

COMMITS_DIR = "_commits"
_FMT = "v{:08d}.json"


def _cdir(catalog_dir: str) -> str:
    return os.path.join(catalog_dir, COMMITS_DIR)


def catalog_exists(catalog_dir: str) -> bool:
    """True when at least one catalog commit has been published."""
    return bool(catalog_versions(catalog_dir))


def catalog_versions(catalog_dir: str) -> list[int]:
    d = _cdir(catalog_dir)
    if not os.path.isdir(d):
        return []
    out = []
    for n in os.listdir(d):
        if n.startswith("v") and n.endswith(".json") and not n.startswith("."):
            try:
                out.append(int(n[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def _read_commit(catalog_dir: str, version: int) -> dict:
    with open(os.path.join(_cdir(catalog_dir), _FMT.format(version))) as f:
        return json.load(f)


def _publish_commit(catalog_dir: str, version: int, commit: dict) -> None:
    """Atomic put-if-absent of one catalog version — byte-for-byte the
    discipline of snapshots._publish: full JSON to a dot-temp in the same
    directory, fsync, hard-link into the version slot (EEXIST = lost
    race), drop the temp. THE one moment every table's new state becomes
    visible together."""
    d = _cdir(catalog_dir)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".tmp.{uuid.uuid4().hex}")
    with open(tmp, "w") as f:
        json.dump(commit, f)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, os.path.join(d, _FMT.format(version)))
    except FileExistsError:
        raise SnapshotConflict(
            f"catalog version {version} of {catalog_dir} was committed "
            "concurrently"
        )
    finally:
        os.unlink(tmp)


def catalog_manifest(catalog_dir: str, version: int | None = None) -> dict:
    """One catalog commit object (latest, or pinned for time travel),
    with the expire-race retry every snapshot reader uses."""
    for _ in range(3):
        vs = catalog_versions(catalog_dir)
        if not vs:
            raise FileNotFoundError(
                f"{catalog_dir} has no committed catalog versions"
            )
        v = vs[-1] if version is None else version
        if v not in vs:
            raise FileNotFoundError(f"{catalog_dir} has no version {v}")
        try:
            return _read_commit(catalog_dir, v)
        except FileNotFoundError:
            if version is not None:
                raise
            continue
    raise FileNotFoundError(
        f"{catalog_dir}: tip kept expiring during resolution"
    )


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
    """DataFrame for one embedded table manifest — the snapshot_read body
    over a manifest that came from a catalog commit instead of a
    per-table version chain. Same group skipping, same footer-stats file
    pruning, same re-applied residual filter (pruning is an optimization,
    never the semantics)."""
    tdir = _table_dir(catalog_dir, name)
    files = S._resolve_pruned(tdir, m, where)
    schema = StructType.fromJson(json.loads(m["schema"]))
    cond = S.where_to_column(where) if where else None
    # DV-aware (entries carrying positional-delete refs read as their
    # live rows) — catalog_delete(mode="dv") manifests read correctly
    df = S._read_entries(spark, tdir, files, schema, scan_cache)
    return df.filter(cond) if cond is not None else df


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


def _known_empty(df: DataFrame) -> bool:
    """True when the optimizer has already reduced ``df`` to an empty
    LocalRelation (an empty driver-built delta, guarded or not): writing
    it would run a job only to land a file with no rows."""
    plan = df._jdf.queryExecution().optimizedPlan()
    return (
        plan.getClass().getSimpleName() == "LocalRelation"
        and plan.data().isEmpty()
    )


def _drop_attempt(
    catalog_dir: str,
    created: dict[str, list[str]],
    datadirs: list[tuple[str, str]],
) -> None:
    """Eagerly drop what an unpublished commit attempt landed: its group
    files, data dirs and their bloom sidecars (no-debris discipline;
    vacuum is the crash backstop)."""
    for name, cr in created.items():
        S._drop_groups(_table_dir(catalog_dir, name), cr)
    for tdir, rel_dir in datadirs:
        shutil.rmtree(os.path.join(tdir, rel_dir), ignore_errors=True)
        S._drop_sidecar(tdir, rel_dir)


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
    commit actually publishes onto (the same builder discipline as
    snapshot_idempotent_append_delta, lifted to the table set).

    Per table, rows are deduplicated on ``keys[name]`` and anti-joined
    against the tip view, so a replay (same upload re-run) or a lost
    same-key race converges to an empty delta. A delta holding the tip's
    columns in another order is written in the tip's order; any other
    schema difference is refused. A table's first commit refuses a
    per-table form of it in the same directory
    (refuse_per_table_catalog). When EVERY table's delta is empty and no
    new table appears, nothing is published and the tip version is
    returned unchanged.

    Returns ``(version, {table: committed_delta_df})``. Crash SAFETY is
    the point: data files and group files written before the publish link
    are unreachable debris (catalog_vacuum's job), never visible state —
    a reader through catalog_read sees the parent commit until the single
    os.link lands, at which instant it sees every table's new state.

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

    Cleanup: data dirs, sidecars and group files are recorded as soon as
    they exist. If any table's landing raises, every thread is waited
    for, everything the attempt recorded is dropped, exactly as on a
    lost publish race, and the first error is re-raised. An error from
    the publish link itself other than a lost race leaves its files to
    catalog_vacuum: the link may already have landed.
    """
    for _ in range(max_retries):
        vs = catalog_versions(catalog_dir)
        parent = vs[-1] if vs else 0
        base = _read_commit(catalog_dir, parent) if parent else None
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
        # what this attempt has put on disk, recorded the moment it exists
        # so a failed or lost attempt can drop it (each table's thread
        # touches only its own ``created`` entry; list.append is atomic)
        created: dict[str, list[str]] = {name: [] for name in new_rows}
        datadirs: list[tuple[str, str]] = []

        def land(name: str, rows_df: DataFrame):
            """One table's guard, data files, bloom sidecar, group file
            and delta read-back: (delta, manifest or None, rows)."""
            kcols = keys[name]
            bm = tables_base.get(name)
            if bm is not None:
                tip_cols = StructType.fromJson(
                    json.loads(bm["schema"])
                ).fieldNames()
                if rows_df.columns != tip_cols and sorted(
                    rows_df.columns
                ) == sorted(tip_cols):
                    # the tip's columns in another order (a table migrated
                    # from a per-table form keeps its source's order)
                    rows_df = rows_df.select(*tip_cols)
            rows_df = rows_df.dropDuplicates(kcols)
            schema = rows_df.schema
            schema_json = S._canon_schema_json(schema)
            if bm is not None:
                if S._canon_schema_json(bm["schema"]) != schema_json:
                    raise ValueError(
                        f"append schema differs from catalog tip for "
                        f"table {name!r}"
                    )
                deduped = rows_df.join(
                    views[name].select(*kcols), kcols, "left_anti"
                )
            else:
                deduped = rows_df
            tdir = _table_dir(catalog_dir, name)
            boverride = (bloom_columns or {}).get(name)
            if _known_empty(deduped):
                files, n = [], 0
            else:
                os.makedirs(tdir, exist_ok=True)
                files, n, rel_dir = S._write_data_files(deduped, tdir)
                if n == 0:
                    shutil.rmtree(
                        os.path.join(tdir, rel_dir), ignore_errors=True
                    )
                else:
                    datadirs.append((tdir, rel_dir))
            if n == 0:
                # typed as the tip stores it (every field nullable), the
                # schema a non-empty delta reads back from its files
                delta = empty_df(
                    spark, StructType.fromJson(json.loads(schema_json))
                )
                # first appearance with an empty delta: record the typed
                # empty manifest so readers get the schema
                manifest = (
                    S._next_manifest(
                        None, "append", [], 0, schema_json,
                        blooms=boverride,
                    )
                    if bm is None
                    else None
                )
                return delta, manifest, 0
            S._build_blooms(
                spark, tdir, rel_dir, files,
                boverride
                if boverride is not None
                else (bm.get("blooms") if bm else None),
                deduped.schema,
            )
            base_groups, legacy_delta = S._base_delta(bm)
            groups = S._child_groups(
                tdir, base_groups, legacy_delta + files, created[name]
            )
            manifest = S._next_manifest(
                bm,
                "append",
                groups,
                (bm["rows"] if bm else 0) + n,
                schema_json,
                blooms=boverride,
            )
            delta = spark.read.schema(schema).parquet(
                *[os.path.join(tdir, f["path"]) for f in files]
            )
            return delta, manifest, n

        try:
            landed = run_concurrently(
                spark,
                [
                    functools.partial(land, name, rows_df)
                    for name, rows_df in new_rows.items()
                ],
            )
        except Exception:
            # every thread has stopped: drop the tables that did land
            _drop_attempt(catalog_dir, created, datadirs)
            raise
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
            return parent, deltas
        commit = {
            "version": parent + 1,
            "parent": parent,
            "tables": new_tables,
        }
        try:
            _publish_commit(catalog_dir, parent + 1, commit)
            return parent + 1, deltas
        except SnapshotConflict:
            # lost the race: this attempt's groups and data dirs are
            # dropped eagerly (no-debris discipline; vacuum is the crash
            # backstop) and the builder re-runs against the winner's tip
            _drop_attempt(catalog_dir, created, datadirs)
            continue
    raise SnapshotConflict(
        f"catalog commit to {catalog_dir} lost {max_retries} straight races"
    )


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
    content lands in ONE catalog commit (v1), so the destination starts
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
                out[name] = S.snapshot_read(spark, snap)
            else:
                out[name] = empty_df(spark, schema)
        return out

    v, _ = catalog_commit(spark, dest_dir, build, keys)
    return v


def catalog_expire(catalog_dir: str, keep_last: int = 1) -> list[int]:
    """Drop catalog commit objects older than the newest ``keep_last``;
    returns the expired version numbers. Data/group files they referenced
    become vacuum candidates exactly like the per-table format."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    vs = catalog_versions(catalog_dir)
    drop = vs[:-keep_last]
    for v in drop:
        try:
            os.unlink(os.path.join(_cdir(catalog_dir), _FMT.format(v)))
        except FileNotFoundError:
            pass
    return drop


def catalog_vacuum(spark: SparkSession, catalog_dir: str) -> list[str]:
    """Remove data files and group files not referenced by ANY retained
    catalog version — the crash-path backstop for aborted/torn attempts
    (whose writes are invisible by design). Returns removed paths
    (relative to catalog_dir)."""
    live_groups: dict[str, set[str]] = {}
    live_files: dict[str, set[str]] = {}
    live_sidecars: dict[str, set[str]] = {}
    live_dvs: dict[str, set[str]] = {}
    live_eqs: dict[str, set[str]] = {}
    for v in catalog_versions(catalog_dir):
        try:
            commit = _read_commit(catalog_dir, v)
        except FileNotFoundError:
            continue
        for name, m in commit["tables"].items():
            tdir = _table_dir(catalog_dir, name)
            gset = live_groups.setdefault(name, set())
            fset = live_files.setdefault(name, set())
            scset = live_sidecars.setdefault(name, set())
            dvset = live_dvs.setdefault(name, set())
            eqset = live_eqs.setdefault(name, set())
            if m.get("groups") is not None:
                for g in m["groups"]:
                    gset.add(g["name"])
                for fe in S._resolve_pruned(tdir, m, None):
                    fset.add(fe["path"])
                    if fe.get("bloom"):
                        scset.add(fe["bloom"]["sc"])
                    if fe.get("dv"):
                        dvset.update(S._dv_scs(fe["dv"]))
                    if fe.get("eq"):
                        eqset.update(S._eq_scs(fe["eq"]))
            else:  # legacy flat manifest shape (not produced here)
                for fe in m.get("files", []):
                    fset.add(fe["path"])
    removed: list[str] = []
    for name in os.listdir(catalog_dir):
        tdir = _table_dir(catalog_dir, name)
        if name == COMMITS_DIR or not os.path.isdir(tdir):
            continue
        if S.snapshot_exists(tdir):
            # a standalone per-table snapshot table sharing the directory:
            # its live set is defined by ITS manifest chain, which this
            # vacuum does not read — never touch it (snapshot_vacuum owns
            # that table's garbage)
            continue
        gdir = S._gdir(tdir)
        if os.path.isdir(gdir):
            keep = live_groups.get(name, set())
            for n in os.listdir(gdir):
                if n.startswith("g-") and n not in keep:
                    os.unlink(os.path.join(gdir, n))
                    removed.append(os.path.join(name, "groups", n))
        ddir = os.path.join(tdir, S.DATA_DIR)
        if os.path.isdir(ddir):
            keep = live_files.get(name, set())
            for commit_id in os.listdir(ddir):
                cdir = os.path.join(ddir, commit_id)
                if not os.path.isdir(cdir):
                    continue
                # only DATA files are vacuum candidates — _SUCCESS
                # markers and .crc sidecars are bookkeeping, never
                # manifest-referenced, and deleting a live commit's
                # sidecars would make a clean table look dirty (same
                # rule as snapshots.snapshot_vacuum)
                data = [
                    n
                    for n in os.listdir(cdir)
                    if n.endswith(".parquet") and not n.startswith((".", "_"))
                ]
                for n in data:
                    rel = os.path.join(S.DATA_DIR, commit_id, n)
                    if rel not in keep:
                        os.unlink(os.path.join(cdir, n))
                        removed.append(os.path.join(name, rel))
                if not any(
                    n.endswith(".parquet") for n in os.listdir(cdir)
                ):
                    shutil.rmtree(cdir, ignore_errors=True)
        # positional-delete sidecar dirs: keep only dirs some retained
        # entry still anti-applies (same rule as snapshot_vacuum)
        dvroot = os.path.join(tdir, S.DELETES_DIR)
        if os.path.isdir(dvroot):
            keep_dv = live_dvs.get(name, set())
            for n in os.listdir(dvroot):
                rel = os.path.join(S.DELETES_DIR, n)
                if rel not in keep_dv:
                    shutil.rmtree(
                        os.path.join(dvroot, n), ignore_errors=True
                    )
                    removed.append(os.path.join(name, rel))
        # equality-delete sidecar dirs: same set-difference rule
        eqroot = os.path.join(tdir, S.EQDELETES_DIR)
        if os.path.isdir(eqroot):
            keep_eq = live_eqs.get(name, set())
            for n in os.listdir(eqroot):
                rel = os.path.join(S.EQDELETES_DIR, n)
                if rel not in keep_eq:
                    shutil.rmtree(
                        os.path.join(eqroot, n), ignore_errors=True
                    )
                    removed.append(os.path.join(name, rel))
        # bloom sidecar dirs: same set-difference rule as the per-table
        # vacuum — keep only dirs some retained entry still probes
        from imagingdb_spark.blooms import BLOOM_DIR

        broot = os.path.join(tdir, BLOOM_DIR)
        if os.path.isdir(broot):
            keep_sc = live_sidecars.get(name, set())
            for n in os.listdir(broot):
                rel = os.path.join(BLOOM_DIR, n)
                if rel not in keep_sc:
                    shutil.rmtree(
                        os.path.join(broot, n), ignore_errors=True
                    )
                    removed.append(os.path.join(name, rel))
    return removed


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
    semantics, including NULL-predicate rows surviving). The new
    per-table manifests publish under one hard-link, so a crash at ANY
    point — any table's rewrite, any group write, the publish itself —
    leaves every table at the pre-delete version; a racing catalog
    commit forces a full re-resolve of every table's candidates.

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

    if build is None:
        static_checked = _checked(where)
    for _ in range(max_retries):
        vs = catalog_versions(catalog_dir)
        if not vs:
            raise FileNotFoundError(
                f"{catalog_dir} has no committed catalog versions"
            )
        parent = vs[-1]
        base = _read_commit(catalog_dir, parent)
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
        new_tables = dict(tables_base)
        outs: dict[str, dict] = {}
        created_by: dict[str, list[str]] = {}
        datadirs: list[tuple[str, str]] = []
        changed = False
        for name, w in checked.items():
            m = dict(tables_base[name])
            if "groups" not in m:
                m["groups"] = None
            tdir = _table_dir(catalog_dir, name)
            cr: list[str] = []
            manifest, rel_dir, out = core(spark, tdir, m, w, cr)
            outs[name] = out
            if manifest is not None:
                new_tables[name] = manifest
                created_by[name] = cr
                datadirs.append((tdir, rel_dir))
                changed = True
        if not changed:
            return {"version": parent, "tables": outs}
        commit = {
            "version": parent + 1,
            "parent": parent,
            "tables": new_tables,
        }
        try:
            _publish_commit(catalog_dir, parent + 1, commit)
            return {"version": parent + 1, "tables": outs}
        except SnapshotConflict:
            # a foreign commit won: deletes are read-dependent claims —
            # drop every table's rewrite eagerly and re-resolve at the
            # winner's tip
            _drop_attempt(catalog_dir, created_by, datadirs)
            continue
    raise SnapshotConflict(
        f"catalog delete in {catalog_dir} lost {max_retries} straight races"
    )


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
    vs = catalog_versions(catalog_dir)
    if not vs:
        raise FileNotFoundError(
            f"{catalog_dir} has no committed catalog versions"
        )
    end_v = vs[-1] if version is None else version
    if end_v not in vs:
        raise FileNotFoundError(f"{catalog_dir} has no version {end_v}")
    if since_version > end_v:
        raise ValueError(
            f"since_version {since_version} is ahead of catalog "
            f"version {end_v}"
        )
    entries: dict[str, list] = {}
    schemas: dict[str, str] = {}
    commits_walked = 0
    groups_opened = 0
    prev_tables: dict[str, dict] = {}
    for v in range(max(1, since_version), end_v + 1):
        try:
            commit = _read_commit(catalog_dir, v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"{catalog_dir} catalog version {v} expired before it "
                "was consumed; retention must cover the cursor lag"
            )
        if v == since_version:
            prev_tables = commit["tables"]
            continue
        commits_walked += 1
        for name, m in commit["tables"].items():
            schemas[name] = m["schema"]
            pm = prev_tables.get(name, {"version": 0, "groups": []})
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
        prev_tables = commit["tables"]
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
    vs = catalog_versions(catalog_dir)
    if not vs:
        raise FileNotFoundError(
            f"{catalog_dir} has no committed catalog versions"
        )
    end_v = vs[-1] if version is None else version
    if end_v not in vs:
        raise FileNotFoundError(f"{catalog_dir} has no version {end_v}")
    if since_version > end_v:
        raise ValueError(
            f"since_version {since_version} is ahead of catalog "
            f"version {end_v}"
        )
    end_tables = _read_commit(catalog_dir, end_v)["tables"]
    end_schemas = {
        name: StructType.fromJson(json.loads(m["schema"]))
        for name, m in end_tables.items()
    }
    frames: dict[str, DataFrame] = {}
    commits_walked = 0
    files_read = 0
    prev_tables: dict[str, dict] = {}
    for v in range(max(1, since_version), end_v + 1):
        try:
            commit = _read_commit(catalog_dir, v)
        except FileNotFoundError:
            raise FileNotFoundError(
                f"{catalog_dir} catalog version {v} expired before it "
                "was consumed; retention must cover the cursor lag"
            )
        if v == since_version:
            prev_tables = commit["tables"]
            continue
        commits_walked += 1
        # a commit that DROPS a followed table ends the feed's ability
        # to deliver that table's implied deletions — even when the
        # table received no row changes beforehand (the changed-then-
        # dropped case is caught below at end-schema alignment; this
        # closes the unchanged-then-dropped one, which would otherwise
        # vanish from the feed silently)
        gone = [
            n
            for n in prev_tables
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
            pm = prev_tables.get(name, {"version": 0, "groups": []})
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
        prev_tables = commit["tables"]
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
