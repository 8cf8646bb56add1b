"""End-to-end lifecycle flows (SURVEY.md §3): the reference's three CLI
entry points composed from the library's DataFrame builders — what a user
switching from the reference actually calls.

- query flow   → api.get_datasets (already one function; SURVEY §3.1)
- download flow → download_dataset (cli/data_downloader.py:106-229)
- upload flow   → upload_dataset: insert_frames_atomic / insert_file_atomic
  (one atomic catalog commit, db_operations.py:14-38, 150-274);
  splitters live in sources.py.

Error parity: invalid id → AssertionError("Invalid ID…"); existing dest
dir → FileExistsError; mixed channel types → TypeError; missing dataset →
api.DatasetNotFoundError. Batch-wise where the reference is per-row.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imagingdb_spark import sinks
from imagingdb_spark.api import (
    get_frames_meta,
    get_global_meta,
    select_frames_subset,
    validate_serial,
)
from imagingdb_spark.catalog import values_df
from imagingdb_spark.ingest import (
    frame_file_name,
    normalize_parent,
    resolve_parent_ids,
    validate_manifest,
    with_sha256,
)
from imagingdb_spark.sources import basename, split_tiff_pages

# Blob-namespace roots (cli/data_uploader.py:14-15)
FILE_FOLDER_NAME = "raw_files"
FRAME_FOLDER_NAME = "raw_frames"

# config_json defaults for the splitter grid + image dims; the reference
# reads dims/bit-depth from the decoded frames (file_splitter.py:153-176),
# which this container cannot (no tiff codec) — they ride the config dict
# through the same injectable seam as page_reader.
DEFAULT_GLOBAL_META = {
    "im_width": 0,
    "im_height": 0,
    "im_colors": 1,
    "bit_depth": "uint16",
    "nbr_channels": 1,
    "nbr_slices": 1,
    "nbr_positions": 1,
}


def _strip_scheme(path: Column) -> Column:
    """binaryFile emits file:-URIs; manifests carry plain absolute paths.
    Normalize both to /abs/path so they join."""
    return F.regexp_replace(path, "^file:/*", "/")


def coerce_channels(channels):
    """Channel str→int coercion (data_downloader.py:182-190): if every
    element parses as int they are indices; otherwise all must be str
    names. Mixed → TypeError raised later by select_frames_subset."""
    if channels is None:
        return None
    if not isinstance(channels, list):
        channels = [channels]
    try:
        return [int(c) for c in channels]
    except (ValueError, TypeError):
        return channels


def _tip_view(spark: SparkSession, views, name: str) -> DataFrame:
    """A builder's view of table ``name``; a typed empty frame when the
    catalog tip has no such table yet."""
    from imagingdb_spark.catalog import IMAGING_SCHEMAS, empty_df

    v = views.get(name)
    return v if v is not None else empty_df(spark, IMAGING_SCHEMAS[name])


def _high_water(views, name: str) -> int:
    """The id table ``name`` allocates above: 0 for a table the catalog
    tip does not hold yet, else the largest id any file of the tip
    manifest has ever held, from its group refs' ``id`` bounds. A
    ``max(id)`` aggregate over the view stands in when a ref carries no
    ``id`` bound (stats are best-effort) or the manifest is legacy flat
    (no refs)."""
    from imagingdb_spark import snapshots as S

    if name not in views:
        return 0
    hw = S.manifest_upper_bound(views.manifests[name], "id")
    if hw is None:
        hw = views[name].agg(F.coalesce(F.max("id"), F.lit(0))).collect()[0][0]
    return hw


def _allocate_upload(
    views,
    batch: DataFrame,
    child: str,
    child_cols: list[str],
    frames: bool,
    requires: str | None = None,
) -> tuple[DataFrame, DataFrame, dict[str, int]]:
    """The id half of an atomic upload builder: ONE Spark collect, then
    the driver.

    ``batch`` holds one or more rows per dataset_serial: description,
    microscope, parent_dataset_id and the ``child`` table's columns
    (``child_cols`` minus ``id``/``dataset_id``, in table order). The
    collect returns each batch row with its serial's existing data_set
    id, its existing ``child`` id and its resolved parent_id; the driver
    keeps one row per serial. New data_set and ``child`` ids go out in
    dataset_serial order above each table's high-water mark
    (``_high_water``), exactly one per serial; a serial whose
    ``requires`` column is null gets no ``child`` row. ``views`` is the
    ``snapcatalog.CatalogViews`` the commit handed the builder.

    Returns (data_set delta, child delta, {serial: child id} for every
    serial that has a child row, new or existing). The deltas are
    LocalRelations of the rows the driver holds, typed from the lookup
    plan's schema, so writing them re-runs no lookup."""
    from imagingdb_spark.api import serial_to_date_time

    spark = batch.sparkSession
    ds_view = _tip_view(spark, views, "data_set")
    keyed = resolve_parent_ids(
        batch.withColumn(
            "parent_serial", normalize_parent(F.col("parent_dataset_id"))
        ).drop("parent_dataset_id"),
        ds_view,
    )
    lookup = keyed.join(
        ds_view.select("dataset_serial", F.col("id").alias("dataset_id")),
        "dataset_serial",
        "left",
    ).join(
        _tip_view(spark, views, child).select(
            "dataset_id", F.col("id").alias("child_id")
        ),
        "dataset_id",
        "left",
    )
    ds_id, child_id = _high_water(views, "data_set"), _high_water(views, child)
    # a serial named twice keeps one of its rows, as the commit's
    # dropDuplicates would; deduplicating here costs no shuffle
    serials = {r["dataset_serial"]: r.asDict() for r in lookup.collect()}
    ds_rows, child_rows, child_ids = [], [], {}
    for _, d in sorted(serials.items()):
        if d["dataset_id"] is None:
            ds_id += 1
            d["dataset_id"] = ds_id
            ds_rows.append(d)
        if d["child_id"] is None and (requires is None or d[requires] is not None):
            child_id += 1
            d["child_id"] = child_id
            child_rows.append(d)
        if d["child_id"] is not None:
            child_ids[d["dataset_serial"]] = d["child_id"]

    def local(rows: list[dict], cols: list[str], id_from: str) -> DataFrame:
        # the lookup plan types every column; ``id`` is read from id_from
        src = [id_from if c == "id" else c for c in cols]
        ddl = ", ".join(
            f"{c} {lookup.schema[s].dataType.simpleString()}"
            for c, s in zip(cols, src)
        )
        return values_df(
            spark, [tuple(d[s] for s in src) for d in rows], ddl
        )

    ds_delta = local(
        ds_rows,
        ["dataset_serial", "description", "microscope", "parent_id", "id"],
        "dataset_id",
    ).select(
        "dataset_serial",
        "description",
        "microscope",
        F.lit(frames).alias("frames"),
        serial_to_date_time(F.col("dataset_serial")).alias("date_time"),
        "parent_id",
        "id",
    )
    return ds_delta, local(child_rows, child_cols, "child_id"), child_ids


FRAMES_KEYS = {
    "data_set": ["dataset_serial"],
    "frames_global": ["dataset_id"],
    "frames": ["frames_global_id", "file_name"],
}
FILE_KEYS = {"data_set": ["dataset_serial"], "file_global": ["dataset_id"]}


def _frames_upload(
    views, datasets: DataFrame, frames_rows: DataFrame
) -> dict[str, DataFrame]:
    """The frames upload builder: the data_set, frames_global and frames
    deltas of ``datasets``/``frames_rows`` against ``views`` (a
    ``snapcatalog.CatalogViews``), as insert_frames_atomic commits it."""
    from imagingdb_spark.catalog import IMAGING_SCHEMAS

    spark = datasets.sparkSession
    # size(collect_set) counts distinct values as countDistinct does, in
    # one aggregation: four countDistincts expand every frame row 5x and
    # shuffle twice
    summary = frames_rows.groupBy("dataset_serial").agg(
        F.count(F.lit(1)).cast("int").alias("nbr_frames"),
        *[
            F.size(F.collect_set(c)).alias(n)
            for c, n in (
                ("slice_idx", "nbr_slices"),
                ("channel_idx", "nbr_channels"),
                ("time_idx", "nbr_timepoints"),
                ("pos_idx", "nbr_positions"),
            )
        ],
    )
    # a dataset without frames gets no frames_global row (nbr_frames null)
    batch = datasets.join(summary, "dataset_serial", "left").select(
        "dataset_serial", "description", "microscope", "parent_dataset_id",
        "nbr_frames", "im_width", "im_height", "nbr_slices", "nbr_channels",
        "im_colors", "nbr_timepoints", "nbr_positions", "bit_depth",
        "storage_dir", "metadata_json",
    )
    new_ds, new_fg, fg_ids = _allocate_upload(
        views, batch, "frames_global",
        IMAGING_SCHEMAS["frames_global"].fieldNames(),
        frames=True, requires="nbr_frames",
    )
    serial_to_fg = values_df(
        spark, sorted(fg_ids.items()),
        "dataset_serial string, frames_global_id long",
    )
    wf = Window.partitionBy(F.lit(0)).orderBy("dataset_serial", "file_name")
    new_fr = (
        frames_rows.join(F.broadcast(serial_to_fg), "dataset_serial")
        .join(
            _tip_view(spark, views, "frames").select(
                "frames_global_id", "file_name"
            ),
            ["frames_global_id", "file_name"],
            "left_anti",
        )
        .withColumn(
            "id",
            (F.row_number().over(wf) + F.lit(_high_water(views, "frames")))
            .cast("long"),
        )
        .select(
            "id", "channel_idx", "slice_idx", "time_idx", "pos_idx",
            "channel_name", "file_name", "sha256", "metadata_json",
            "frames_global_id",
        )
    )
    return {"data_set": new_ds, "frames_global": new_fg, "frames": new_fr}


def _file_upload(views, new_files: DataFrame) -> dict[str, DataFrame]:
    """The file upload builder: the data_set and file_global deltas of
    ``new_files`` against ``views``, one data_set and one file_global id
    per serial, as insert_file_atomic commits it."""
    from imagingdb_spark.catalog import IMAGING_SCHEMAS

    batch = new_files.select(
        "dataset_serial", "description", "microscope", "parent_dataset_id",
        "storage_dir", "file_name", "metadata_json", "sha256",
    )
    new_ds, new_fgl, _ = _allocate_upload(
        views, batch, "file_global",
        IMAGING_SCHEMAS["file_global"].fieldNames(), frames=False,
    )
    return {"data_set": new_ds, "file_global": new_fgl}


def insert_frames_atomic(
    datasets: DataFrame,
    frames_rows: DataFrame,
    catalog_dir: str,
    bloom_columns: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """`insert_frames` (db_operations.py:150-223) as batch dataflow over
    MANY datasets at once, with the reference's FULL transaction scope: one
    DataSet + one FramesGlobal + N Frames rows per dataset staged together
    and published in ONE atomic catalog commit (snapcatalog.catalog_commit
    — the single-hard-link analogue of db_operations.py:14-38's single
    Postgres transaction): readers resolving through the catalog tip see
    either none of the upload's rows in any table or all of them in every
    table.

    `datasets` columns: dataset_serial, description, microscope,
    parent_dataset_id, storage_dir, bit_depth, im_width, im_height,
    im_colors, metadata_json.
    `frames_rows` columns: dataset_serial, channel_idx, slice_idx,
    time_idx, pos_idx, channel_name, file_name, sha256, metadata_json.

    The builder (``_frames_upload``) runs against the SAME pinned
    catalog-tip views inside the commit retry loop, so the cross-table
    surrogate-id chain (ds id → frames_global.dataset_id →
    frames.frames_global_id) is serializable: a losing racer rebuilds
    every table from the winner's tip. Replay converges: all three deltas
    anti-join empty and no new version publishes.

    Ids: one lookup per commit attempt (``_allocate_upload``) finds which
    serials already have data_set and frames_global rows; each serial
    without one gets exactly one new id, in dataset_serial order, above
    the table's high-water mark, and frames ids follow in
    (dataset_serial, file_name) order. The high-water mark is the tip
    manifest's ``id`` upper bound. While no live file carries a deletion
    vector, that bound equals ``max(live id)``, so ids are ``max(live
    id) + position``. After ``catalog_delete(mode="dv")`` hides the highest
    rows of a file that stays live, the bound is above the live max:
    ids then skip the hidden ones and are not reused, as the reference's
    Postgres sequence behaves."""
    from imagingdb_spark import snapcatalog as C

    _, deltas = C.catalog_commit(
        datasets.sparkSession,
        catalog_dir,
        lambda views: _frames_upload(views, datasets, frames_rows),
        keys=FRAMES_KEYS,
        bloom_columns=bloom_columns,
    )
    return deltas["data_set"], deltas["frames_global"], deltas["frames"]


def insert_file_atomic(
    new_files: DataFrame,
    catalog_dir: str,
    bloom_columns: dict[str, list[str]] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """`insert_file` (db_operations.py:225-274), the un-split upload
    path's two-table transaction (DataSet + FileGlobal), as ONE atomic
    catalog commit — the file-type twin of insert_frames_atomic, with
    the same id allocation: one data_set and one file_global id per
    serial.

    `new_files` columns: dataset_serial, description, microscope,
    parent_dataset_id, storage_dir, file_name, metadata_json, sha256
    (computed upstream over the raw file, data_uploader.py:222-256)."""
    from imagingdb_spark import snapcatalog as C

    _, deltas = C.catalog_commit(
        new_files.sparkSession,
        catalog_dir,
        lambda views: _file_upload(views, new_files),
        keys=FILE_KEYS,
        bloom_columns=bloom_columns,
    )
    return deltas["data_set"], deltas["file_global"]


def upload_dataset(
    spark: SparkSession,
    manifest: DataFrame,
    catalog_dir: str,
    storage_root: str,
    upload_type: str = "frames",
    page_reader=None,
    global_meta: dict | None = None,
    microscope: str | None = None,
    global_json: str = "{}",
    channel_names: list[str] | None = None,
    overwrite: bool = False,
    backend_factory=None,
    bloom_columns: dict[str, list[str]] | None = None,
) -> dict[str, DataFrame]:
    """The reference's one-call upload flow `upload_data_and_update_db`
    (cli/data_uploader.py:61-256) composed end-to-end: manifest row →
    splitter → sha256 → blob store → catalog insert, batch-wise over every
    manifest row at once instead of the reference's per-row loop.

    `manifest` columns (ingest.read_manifest shape, data_uploader.py:
    106-108): dataset_serial, file_name (source path), description,
    parent_dataset_id. `upload_type` ∈ {"frames", "file"}
    (data_uploader.py:119-123):

    - **frames**: each source file is split into 2-D frame pages
      (sources.split_tiff_pages with the injected `page_reader` codec
      seam), each page sha256'd map-side, named
      `im_c###_z###_t###_p###.png` (file_splitter.py:114-125), published
      to `<storage_root>/raw_frames/<serial>/` via the idempotent blob
      sink, and catalogued with insert_frames_atomic (DataSet +
      FramesGlobal + Frames rows).
    - **file**: the source file is stored as-is under
      `<storage_root>/raw_files/<serial>/` with a whole-file sha256 and
      catalogued with insert_file_atomic (DataSet + FileGlobal rows);
      metadata_json records {"file_origin": src} (data_uploader.py:240).

    The catalog insert is ONE atomic commit into the catalog at
    `catalog_dir` (the reference's single transaction,
    db_operations.py:14-38), which resolves its views from the catalog
    tip. A `catalog_dir` holding per-table snapshot tables or legacy
    ``<name>.parquet`` files is refused before any blob is written
    (snapcatalog.refuse_per_table_catalog). `bloom_columns` (table →
    columns) sets the bloom point-lookup index on those catalog tables,
    e.g. ``{"frames": ["sha256"]}`` for sha256 probes (blooms.py).

    Idempotency: both the blob sink (existence-skip) and the catalog
    commit (anti-join on each table's key) converge on re-run — the
    reference's `assert_unique_id` + overwrite flag become convergent
    semantics; pass `overwrite=True` only to force blob rewrite.

    Scale shape: the split+hash runs as one Arrow-batched mapInPandas over
    a binaryFile scan (one task per source file ≥ one split each), the
    frame rows are persisted ONCE so the blob write and the catalog insert
    don't re-decode (the payload rides executor memory/disk for the
    duration of the upload batch — dataset-batch-sized, not corpus-sized).
    `backend_factory` overrides the blob store (the reference's
    local-vs-S3 storage_class switch, data_uploader.py:127-134): pass e.g.
    ``lambda: sinks.S3Backend(bucket, client_factory)`` and
    `storage_root` is ignored for the blob write.

    Returns {"data_set": …, "frames_global"/"file_global": …, "frames": …}
    of the newly appended rows."""
    upload_type = upload_type.lower()
    assert upload_type in {"file", "frames"}, (
        f"upload_type should be 'file' or 'frames', not {upload_type}"
    )
    from imagingdb_spark.catalog import IMAGING_SCHEMAS
    from imagingdb_spark.snapcatalog import refuse_per_table_catalog

    refuse_per_table_catalog(catalog_dir, IMAGING_SCHEMAS)
    bad = validate_manifest(manifest).select("dataset_serial").collect()
    if bad:  # manifest is catalog-batch-sized; collect is bounded
        raise AssertionError(f"Invalid ID: {bad[0]['dataset_serial']}")

    folder = FRAME_FOLDER_NAME if upload_type == "frames" else FILE_FOLDER_NAME
    man = (
        manifest.select(
            "dataset_serial",
            F.col("file_name").alias("src_path"),
            "description",
            "parent_dataset_id",
        )
        .withColumn(
            "storage_dir",
            F.concat_ws("/", F.lit(folder), F.col("dataset_serial")),
        )
    )
    src_paths = [r["src_path"] for r in man.select("src_path").collect()]
    blobs = (
        spark.read.format("binaryFile")
        .load(src_paths)
        .select(_strip_scheme(F.col("path")).alias("src_path"), "content")
    )
    gm = dict(DEFAULT_GLOBAL_META)
    gm.update(global_meta or {})

    if upload_type == "file":
        files = (
            blobs.join(F.broadcast(man), "src_path")
            .select(
                "dataset_serial",
                "description",
                # typed when None too: a void column fails the catalog
                # tip's schema check against a named microscope
                F.lit(microscope).cast("string").alias("microscope"),
                "parent_dataset_id",
                "storage_dir",
                basename(F.col("src_path")).alias("file_name"),
                F.to_json(
                    F.struct(F.col("src_path").alias("file_origin"))
                ).alias("metadata_json"),
                F.col("content").alias("payload"),
            )
        )
        files = with_sha256(files).persist()
        try:
            sinks.write_blobs(
                files.select(
                    F.concat_ws("/", "storage_dir", "file_name").alias(
                        "file_name"
                    ),
                    "payload",
                ),
                dest_dir=storage_root,
                overwrite=overwrite,
                backend_factory=backend_factory,
            )
            new_ds, new_fg = insert_file_atomic(
                files.drop("payload"), catalog_dir, bloom_columns=bloom_columns
            )
            return {"data_set": new_ds, "file_global": new_fg}
        finally:
            files.unpersist()

    if not any(
        k in (global_meta or {})
        for k in ("nbr_channels", "nbr_slices", "nbr_positions")
    ):
        # tif_id behavior (tif_id_splitter.py:111-126): when the caller
        # gives no grid, read the first source file's ImageDescription tag
        # driver-side (a header-only read of one manifest file) and take
        # channels/slices/positions from its ImageJ key=value lines.
        from imagingdb_spark.tiff import parse_ij_description, read_description

        try:
            with open(src_paths[0], "rb") as f:
                inferred = parse_ij_description(read_description(f.read()))
            gm.update(
                {k: inferred[k]
                 for k in ("nbr_channels", "nbr_slices", "nbr_positions")}
            )
        except (ValueError, OSError):
            pass  # not a readable TIFF: keep the 1/1/1 default grid
    split_kwargs = dict(
        nbr_channels=gm["nbr_channels"],
        nbr_slices=gm["nbr_slices"],
        nbr_positions=gm["nbr_positions"],
    )
    if page_reader is not None:  # else keep the splitter's codec-seam default
        split_kwargs["page_reader"] = page_reader
    pages = split_tiff_pages(
        blobs.withColumnRenamed("src_path", "path"), **split_kwargs
    )
    ch_name = (
        F.element_at(
            F.array(*[F.lit(n) for n in channel_names]),
            F.col("channel_idx") + 1,
        )
        if channel_names
        else F.lit(None).cast("string")
    )
    framed = (
        pages.withColumn("src_path", _strip_scheme(F.col("file_path")))
        .join(F.broadcast(man), "src_path")
        .select(
            "dataset_serial",
            "channel_idx",
            "slice_idx",
            "time_idx",
            "pos_idx",
            ch_name.alias("channel_name"),
            frame_file_name(
                F.col("channel_idx"),
                F.col("slice_idx"),
                F.col("time_idx"),
                F.col("pos_idx"),
            ).alias("file_name"),
            "sha256",
            F.lit("{}").alias("metadata_json"),
            "storage_dir",
            "payload",
        )
        .persist()  # split once: blob write + catalog insert share it
    )
    try:
        sinks.write_blobs(
            framed.select(
                F.concat_ws("/", "storage_dir", "file_name").alias("file_name"),
                "payload",
            ),
            dest_dir=storage_root,
            overwrite=overwrite,
            backend_factory=backend_factory,
        )
        datasets = man.select(
            "dataset_serial",
            "description",
            F.lit(microscope).cast("string").alias("microscope"),
            "parent_dataset_id",
            "storage_dir",
            F.lit(gm["bit_depth"]).alias("bit_depth"),
            F.lit(gm["im_width"]).cast("int").alias("im_width"),
            F.lit(gm["im_height"]).cast("int").alias("im_height"),
            F.lit(gm["im_colors"]).cast("int").alias("im_colors"),
            F.lit(global_json).alias("metadata_json"),
        )
        new_ds, new_fg, new_fr = insert_frames_atomic(
            datasets,
            framed.drop("storage_dir", "payload"),
            catalog_dir,
            bloom_columns=bloom_columns,
        )
        return {"data_set": new_ds, "frames_global": new_fg, "frames": new_fr}
    finally:
        framed.unpersist()


def fetch_files(
    spark: SparkSession, storage_dir: str, file_names: list[str], dest_dir: str
) -> None:
    """`download_files` (data_storage.py:243-253) distributed: binaryFile
    read of EXACTLY the requested objects (the source takes an explicit
    path list, so unselected objects are never opened — a subset download
    from a million-frame dataset reads only the subset), written to dest
    via the blob sink. Spark tasks replace the reference's thread pool."""
    paths = [os.path.join(storage_dir, n) for n in file_names]
    blobs = (
        spark.read.format("binaryFile")
        .load(paths)
        .select(
            basename(F.col("path")).alias("file_name"),
            F.col("content").alias("payload"),
        )
    )
    sinks.write_blobs(blobs, dest_dir)


def fetch_files_backend(
    spark: SparkSession,
    storage_dir: str,
    file_names: list[str],
    dest_dir: str,
    backend_factory,
) -> None:
    """`download_file` (s3_storage.py:178-195) distributed through the
    BlobBackend seam: tasks pull their partition's objects via a
    per-partition backend client (the reference's client-per-thread) and
    publish atomically into dest_dir. The filesystem twin is fetch_files
    (binaryFile scan); this one serves object stores, where listing is
    avoided entirely — keys come from the catalog. dest_dir must be
    storage shared across executors (true on local[*] and on a cluster
    writing to a mounted/teamed filesystem)."""
    os.makedirs(dest_dir, exist_ok=True)
    rows = [(f"{storage_dir}/{n}", n) for n in file_names]
    df = spark.createDataFrame(rows, "key string, file_name string")

    def pull(it) -> None:
        from pyspark import TaskContext

        backend = backend_factory()
        ctx = TaskContext.get()
        attempt = ctx.taskAttemptId() if ctx is not None else os.getpid()
        for row in it:
            data = backend.get(row["key"])
            path = os.path.join(dest_dir, row["file_name"])
            tmp = f"{path}.inprogress.{attempt}"
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)

    df.foreachPartition(pull)


def download_dataset(
    spark: SparkSession,
    catalog: dict[str, DataFrame],
    dataset_serial: str,
    dest: str,
    metadata: bool = True,
    download: bool = True,
    positions=None,
    times=None,
    channels=None,
    slices=None,
    storage_root: str | None = None,
    backend_factory=None,
) -> tuple[str, list[str]]:
    """`download_data` (cli/data_downloader.py:106-229): metadata query +
    subset + CSV/JSON sinks + blob fetch, with the reference's exact error
    surface. Returns (storage_dir, file_names).

    `catalog` maps table name → DataFrame (data_set, frames_global, frames,
    file_global). `storage_root` prefixes storage_dir for the blob fetch
    (the reference's mount_point / access_point)."""
    ok = (
        values_df(spark, [(dataset_serial,)], "s string")
        .select(validate_serial(F.col("s")).alias("ok"))
        .collect()[0]["ok"]
    )
    if not ok:
        raise AssertionError(f"Invalid ID: {dataset_serial}")

    dest_dir = os.path.join(dest, dataset_serial)
    os.makedirs(dest_dir, exist_ok=False)  # FileExistsError on rerun — parity

    channels = coerce_channels(channels)
    if not metadata:
        # "You set metadata *and* download to False. You get nothing."
        assert download, "You set metadata *and* download to False. You get nothing."
        from imagingdb_spark.api import get_filenames

        storage_dir, file_names = get_filenames(
            catalog["data_set"], catalog["frames_global"], catalog["frames"],
            catalog["file_global"], dataset_serial,
            positions=positions, times=times, channels=channels, slices=slices,
        )
    else:
        frames_meta = get_frames_meta(
            catalog["data_set"], catalog["frames_global"], catalog["frames"],
            dataset_serial,
        )
        subset = select_frames_subset(
            frames_meta, channels=channels, slices=slices,
            times=times, positions=positions,
        )
        gm = get_global_meta(
            catalog["data_set"], catalog["frames_global"], dataset_serial
        )
        sinks.write_global_meta_json(gm, dest_dir)
        sinks.write_frames_meta_csv(subset, dest_dir)
        storage_dir = gm.select("storage_dir").collect()[0]["storage_dir"]
        rows = subset.select("file_name").orderBy("file_name").collect()
        assert rows, f"No frames in dataset {dataset_serial} match the given constraints"
        file_names = [r["file_name"] for r in rows]

    if download:
        if backend_factory is not None:
            # object-store path (the reference's S3Storage.download_file)
            fetch_files_backend(
                spark, storage_dir, file_names, dest_dir, backend_factory
            )
        else:
            src = (
                os.path.join(storage_root, storage_dir)
                if storage_root
                else storage_dir
            )
            fetch_files(spark, src, file_names, dest_dir)
    return storage_dir, file_names
