"""CLI parity layer — the reference's three console entry points
(`cli/query_data.py`, `cli/data_uploader.py`, `cli/data_downloader.py`)
as one argparse program with subcommands over the Spark/Parquet engine.

The reference's ``--login`` JSON holds Postgres credentials validated
against CREDENTIALS_SCHEMA (utils/db_utils.py:25-38); the Spark-native
twin is a login JSON validated against LOGIN_SCHEMA below: the catalog is
a directory of parquet tables, the blob store a filesystem/objectstore
root — same one-file handle to "where the data lives", no secrets.

Output contracts match the reference's golden stdout tests verbatim
(tests/cli/query_data_tests.py:106-131: the count line + enumerated
serials), so scripts scraping the reference CLI keep working.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from imagingdb_spark import api, flows, ingest
from imagingdb_spark.catalog import IMAGING_SCHEMAS, empty_df
from imagingdb_spark.jsonio import CONFIG_SCHEMA
from imagingdb_spark.session import get_spark

# Spark-native twin of CREDENTIALS_SCHEMA (jsonio.py:35-46): a catalog
# location instead of a DB URI. storage_root is optional because
# query-only sessions never touch blobs.
LOGIN_SCHEMA = {
    "type": "object",
    "properties": {
        "catalog_dir": {"type": "string"},
        "storage_root": {"type": "string"},
    },
    "required": ["catalog_dir"],
}


def _check_required(doc: dict, schema: dict, what: str) -> None:
    """Driver-side required-key check for config-sized JSON (the
    reference runs jsonschema.validate at json_operations.py:70-98; for
    one driver-side dict the required-keys subset is the part that can
    fail here)."""
    missing = [k for k in schema.get("required", []) if k not in doc]
    if missing:
        raise ValueError(f"{what} missing required keys: {missing}")


def read_login(path: str) -> dict:
    """get_connection_str twin (utils/db_utils.py:25-38): read + validate
    the login JSON, return its dict."""
    with open(path) as f:
        doc = json.load(f)
    _check_required(doc, LOGIN_SCHEMA, "login file")
    return doc


def assert_date_order(start_date: str, end_date: str) -> None:
    """cli_utils.assert_date_order (utils/cli_utils.py:57-68): both dates
    must parse as YYYY-MM-DD and start must not follow end."""
    fmt = "%Y-%m-%d"
    s = datetime.strptime(start_date, fmt)
    e = datetime.strptime(end_date, fmt)
    assert s <= e, f"End date {end_date} can't be earlier than start date {start_date}"


def load_catalog(spark: SparkSession, catalog_dir: str) -> dict[str, DataFrame]:
    """Read the four catalog tables. Snapshot-backed tables (the default
    for catalogs this CLI creates — ``<catalog_dir>/<name>`` snapshot
    dirs) read snapshot-isolated; legacy plain-parquet catalogs
    (``<catalog_dir>/<name>.parquet``) keep reading as before; a table
    that exists in neither form (fresh catalog) is an empty DataFrame
    with the declared schema — the `Base.metadata.create_all` analogue
    (db_operations.py:29). An ATOMIC catalog (written via
    ingest.CatalogTarget — one multi-table commit object per upload)
    resolves all four tables from ONE catalog tip, so the returned views
    are mutually consistent by construction."""
    from imagingdb_spark import snapcatalog as C
    from imagingdb_spark import snapshots as S

    if C.catalog_exists(catalog_dir):
        return C.catalog_views(spark, catalog_dir, IMAGING_SCHEMAS)
    out: dict[str, DataFrame] = {}
    for name, schema in IMAGING_SCHEMAS.items():
        p = Path(catalog_dir) / f"{name}.parquet"
        snap = Path(catalog_dir) / name
        if p.exists():
            out[name] = spark.read.schema(schema).parquet(str(p))
        elif S.snapshot_exists(str(snap)):
            out[name] = S.snapshot_read(spark, str(snap))
        else:
            out[name] = empty_df(spark, schema)
    return out


def load_catalog_slice(
    spark: SparkSession, catalog_dir: str, dataset_serial: str
) -> dict[str, DataFrame]:
    """Pruned catalog views containing exactly ONE dataset's rows — the
    data-skipping fast path for serial point lookups (download, frame
    queries). Uploads commit per dataset, so every snapshot data file
    holds one dataset's rows and its footer stats bound the serial / the
    surrogate ids tightly: the manifest prunes to O(1) files per table no
    matter how many datasets the catalog holds (the reference's analogue
    is the Postgres index on dataset_serial — this is the same point
    lookup, resolved in manifest metadata instead of a B-tree).

    Resolution is a two-hop driver-side walk (each hop collects the
    dataset-sized key set of the PREVIOUS table — 1 row per hop, the
    documented collect exception): serial → data_set.id → frames_global /
    file_global by dataset_id → frames by frames_global_id. Legacy
    plain-parquet tables fall back to the same filters without pruning;
    results are always exactly the full view filtered to the dataset.
    Full (unpruned) views are built LAZILY — only for tables that need a
    fallback — so the found-serial fast path never resolves any table's
    full manifest file list (at ~800k entries that resolution is itself
    the cost this function exists to avoid)."""
    from imagingdb_spark import snapcatalog as C
    from imagingdb_spark import snapshots as S

    atomic = C.catalog_exists(catalog_dir)
    commit = C.catalog_manifest(catalog_dir) if atomic else None

    def _full(name: str) -> DataFrame:
        if atomic:
            return C.read_table_at(
                spark, catalog_dir, commit, name,
                schema=IMAGING_SCHEMAS[name],
            )
        p = Path(catalog_dir) / f"{name}.parquet"
        snap = Path(catalog_dir) / name
        if p.exists():
            return spark.read.schema(IMAGING_SCHEMAS[name]).parquet(str(p))
        if S.snapshot_exists(str(snap)):
            return S.snapshot_read(spark, str(snap))
        return empty_df(spark, IMAGING_SCHEMAS[name])

    def _pruned(name: str, where: list) -> DataFrame:
        if atomic:
            # pruned read against the SAME pinned catalog tip every
            # other table of this slice resolves from
            return C.read_table_at(
                spark, catalog_dir, commit, name, where,
                schema=IMAGING_SCHEMAS[name],
            )
        snap = Path(catalog_dir) / name
        legacy = Path(catalog_dir) / f"{name}.parquet"
        if not legacy.exists() and S.snapshot_exists(str(snap)):
            return S.snapshot_read(spark, str(snap), where=where)
        # same semantics, no pruning — reuse the snapshot module's
        # triple→Column builder (F.col/F.lit, no string interpolation)
        return _full(name).filter(S.where_to_column(where))

    out: dict[str, DataFrame] = {}
    out["data_set"] = _pruned(
        "data_set", [("dataset_serial", "=", dataset_serial)]
    )
    ds_ids = [r["id"] for r in out["data_set"].select("id").collect()]
    if len(ds_ids) != 1:
        # absent or (impossibly) duplicated serial: hand back the full
        # views so the caller's own error surface fires unchanged
        return load_catalog(spark, catalog_dir)
    out["frames_global"] = _pruned(
        "frames_global", [("dataset_id", "=", ds_ids[0])]
    )
    out["file_global"] = _pruned(
        "file_global", [("dataset_id", "=", ds_ids[0])]
    )
    fg_ids = [r["id"] for r in out["frames_global"].select("id").collect()]
    out["frames"] = (
        _pruned("frames", [("frames_global_id", "=", fg_ids[0])])
        if len(fg_ids) == 1
        else _full("frames")
    )
    return out


def catalog_targets(catalog_dir: str) -> dict[str, object]:
    """Write targets for the four catalog tables: legacy plain-parquet
    tables keep appending in place (never split one table's state across
    two formats); everything else — including a fresh catalog — lands on
    snapshot tables for the serializable, transactional ingest the
    reference's Postgres commit scope provides."""
    out: dict[str, object] = {}
    for name in IMAGING_SCHEMAS:
        p = Path(catalog_dir) / f"{name}.parquet"
        out[name] = (
            str(p)
            if p.exists()
            else ingest.SnapshotTarget(str(Path(catalog_dir) / name))
        )
    return out


def query_data(
    login: str,
    project_id: str | None = None,
    microscope: str | None = None,
    start_date: str | None = None,
    end_date: str | None = None,
    description: str | None = None,
    spark: SparkSession | None = None,
) -> None:
    """cli/query_data.py:56-97: build the search dict from the provided
    flags only, run get_datasets, print the count + enumerated serials in
    the reference's exact golden format."""
    cfg = read_login(login)
    spark = spark or get_spark("imagingdb-cli")
    search_dict: dict = {}
    if project_id is not None:
        # the reference files project_id as a dataset_serial substring
        # match (db_operations.py:70-73)
        search_dict["dataset_serial"] = project_id
    if microscope is not None:
        search_dict["microscope"] = microscope
    if start_date is not None:
        search_dict["start_date"] = start_date
        if end_date is not None:
            assert_date_order(start_date, end_date)
    if end_date is not None:
        search_dict["end_date"] = end_date
    if description is not None:
        search_dict["description"] = description
    catalog = load_catalog(spark, cfg["catalog_dir"])
    rows = (
        api.get_datasets(catalog["data_set"], search_dict)
        .select("dataset_serial")
        .collect()
    )
    print("Number of datasets matching your query: {}".format(len(rows)))
    for i, r in enumerate(rows):
        print(i, r["dataset_serial"])


def upload_data(
    csv: str,
    login: str,
    config: str,
    overwrite: bool = False,
    spark: SparkSession | None = None,
) -> None:
    """cli/data_uploader.py:61-256 as a CLI: manifest CSV + upload config
    → flows.upload_dataset, catalog persisted under the login's
    catalog_dir, blobs under its storage_root. Prints one line per
    uploaded dataset (the reference's per-row prints,
    data_uploader.py:234-254)."""
    cfg = read_login(login)
    if "storage_root" not in cfg:
        raise ValueError("login file needs storage_root for uploads")
    with open(config) as f:
        conf = json.load(f)
    _check_required(conf, CONFIG_SCHEMA, "config file")
    spark = spark or get_spark("imagingdb-cli")
    manifest = ingest.read_manifest(spark, csv)
    catalog = load_catalog(spark, cfg["catalog_dir"])
    upload_type = conf["upload_type"].lower()
    result = flows.upload_dataset(
        spark,
        manifest,
        catalog,
        storage_root=cfg["storage_root"],
        upload_type="frames" if upload_type == "frames" else "file",
        microscope=conf.get("microscope"),
        paths=catalog_targets(cfg["catalog_dir"]),
        overwrite=overwrite,
    )
    for r in result["data_set"].select("dataset_serial").collect():
        print("File info for {} inserted in DB".format(r["dataset_serial"]))


def download_data(
    id: str,
    dest: str,
    login: str,
    metadata: bool = True,
    download: bool = True,
    positions=None,
    times=None,
    channels=None,
    slices=None,
    spark: SparkSession | None = None,
) -> None:
    """cli/data_downloader.py:106-229 as a CLI: metadata query + subset +
    CSV/JSON sinks + blob fetch into ``<dest>/<id>/``."""
    cfg = read_login(login)
    spark = spark or get_spark("imagingdb-cli")
    # single-dataset point lookup: the pruned slice reads O(1) manifest
    # files per table instead of the whole catalog (load_catalog_slice)
    catalog = load_catalog_slice(spark, cfg["catalog_dir"], id)
    storage_dir, file_names = flows.download_dataset(
        spark,
        catalog,
        dataset_serial=id,
        dest=dest,
        metadata=metadata,
        download=download,
        positions=positions,
        times=times,
        channels=channels,
        slices=slices,
        storage_root=cfg.get("storage_root"),
    )
    print("Downloaded {} file(s) from {}".format(len(file_names), storage_dir))


def run_pipeline(
    sf_dir: str,
    out: str | None = None,
    source_cap: int | None = None,
    shards: int | None = None,
) -> None:
    """Extension subcommand (no reference twin): one-command corpus build
    through pipelines.pretraining_pipeline, printing the stage audit in
    the same fixed-width style as the query subcommand and optionally
    writing the sharded corpus partitioned by shard (partition pruning on
    shard-at-a-time training reads)."""
    from imagingdb_spark import pipelines as P

    spark = get_spark("imagingdb-cli")
    kwargs = {}
    if source_cap is not None:
        kwargs["source_cap"] = source_cap
    if shards is not None:
        kwargs["n_shards"] = shards
    sharded, audit = P.pretraining_pipeline(spark, sf_dir, **kwargs)
    print(f"{'stage':<16}{'rows_in':>10}{'rows_out':>10}{'dropped':>10}")
    for a in audit:
        print(
            f"{a.stage:<16}{a.rows_in:>10}{a.rows_out:>10}"
            f"{a.rows_in - a.rows_out:>10}"
        )
    if out is not None:
        sharded.write.mode("overwrite").partitionBy("shard").parquet(out)
        print(f"Wrote {audit[-1].rows_out} docs to {out}")


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """One parser, three subcommands — flag names match the reference's
    three scripts (query_data.py:10-53, data_uploader.py parse_args,
    data_downloader.py parse_args)."""
    parser = argparse.ArgumentParser(prog="imagingdb-spark")
    sub = parser.add_subparsers(dest="command", required=True)

    q = sub.add_parser("query", help="query datasets (cli/query_data.py)")
    q.add_argument("--login", type=str, required=True)
    q.add_argument("--project_id", type=str, default=None)
    q.add_argument("--microscope", type=str, default=None)
    q.add_argument("--start_date", type=str, default=None)
    q.add_argument("--end_date", type=str, default=None)
    q.add_argument("--description", type=str, default=None)

    u = sub.add_parser("upload", help="upload datasets (cli/data_uploader.py)")
    u.add_argument("--csv", type=str, required=True)
    u.add_argument("--login", type=str, required=True)
    u.add_argument("--config", type=str, required=True)
    u.add_argument("--overwrite", action="store_true")

    d = sub.add_parser(
        "download", help="download a dataset (cli/data_downloader.py)"
    )
    d.add_argument("--id", type=str, required=True)
    d.add_argument("--dest", type=str, required=True)
    d.add_argument("--login", type=str, required=True)
    d.add_argument("--metadata", dest="metadata", action="store_true", default=True)
    d.add_argument("--no-metadata", dest="metadata", action="store_false")
    d.add_argument("--download", dest="download", action="store_true", default=True)
    d.add_argument("--no-download", dest="download", action="store_false")
    d.add_argument("-p", "--positions", type=int, nargs="*", default=None)
    d.add_argument("-t", "--times", type=int, nargs="*", default=None)
    d.add_argument("-c", "--channels", nargs="*", default=None)
    d.add_argument("-z", "--slices", type=int, nargs="*", default=None)

    p = sub.add_parser(
        "pipeline",
        help="run the composed pretraining-data pipeline (extension — "
        "no reference twin; see pipelines.py)",
    )
    p.add_argument("--sf-dir", type=str, required=True)
    p.add_argument("--out", type=str, default=None,
                   help="write sharded corpus parquet here (partitioned "
                   "by shard); omit for audit-only")
    p.add_argument("--source-cap", type=int, default=None)
    p.add_argument("--shards", type=int, default=None)

    return parser.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    if args.command == "query":
        query_data(
            login=args.login,
            project_id=args.project_id,
            microscope=args.microscope,
            start_date=args.start_date,
            end_date=args.end_date,
            description=args.description,
        )
    elif args.command == "upload":
        upload_data(
            csv=args.csv,
            login=args.login,
            config=args.config,
            overwrite=args.overwrite,
        )
    elif args.command == "pipeline":
        run_pipeline(
            sf_dir=args.sf_dir,
            out=args.out,
            source_cap=args.source_cap,
            shards=args.shards,
        )
    elif args.command == "download":
        download_data(
            id=args.id,
            dest=args.dest,
            login=args.login,
            metadata=args.metadata,
            download=args.download,
            positions=args.positions,
            times=args.times,
            channels=args.channels,
            slices=args.slices,
        )


if __name__ == "__main__":
    main()
