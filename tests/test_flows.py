"""End-to-end lifecycle flow tests (SURVEY.md §3): batch insert_frames
(db_operations.py:150-223), download_dataset (cli/data_downloader.py:
106-229) with the reference's error surface, and the distributed blob
fetch — mirroring tests/cli/data_downloader_tests.py and
tests/database/db_operations_tests.py round trips."""

import os

import pytest
from pyspark.sql import functions as F

from imagingdb_spark import flows

NEW_SERIAL = "FLOW-2008-04-01-12-00-00-0001"


@pytest.fixture()
def new_dataset(spark):
    ds = spark.createDataFrame(
        [
            (NEW_SERIAL, "flow test ds", "scope9", "none",
             f"raw_frames/{NEW_SERIAL}", "uint16", 64, 32, 1,
             '{"protein_name": "FLOW1"}'),
        ],
        "dataset_serial string, description string, microscope string, "
        "parent_dataset_id string, storage_dir string, bit_depth string, "
        "im_width int, im_height int, im_colors int, metadata_json string",
    )
    frames_rows = spark.createDataFrame(
        [
            (NEW_SERIAL, c, z, 0, 0, f"ch{c}",
             f"im_c{c:03d}_z{z:03d}_t000_p000.png", f"{c}{z}" * 32,
             '{"k": "v"}')
            for c in range(2)
            for z in range(2)
        ],
        "dataset_serial string, channel_idx int, slice_idx int, time_idx int, "
        "pos_idx int, channel_name string, file_name string, sha256 string, "
        "metadata_json string",
    )
    return ds, frames_rows


class TestInsertFrames:
    def test_three_tables_constructed(self, imaging, new_dataset):
        ds, fr = new_dataset
        new_ds, new_fg, new_fr = flows.insert_frames(
            ds, fr, imaging["data_set"], imaging["frames_global"], imaging["frames"]
        )
        d = new_ds.collect()[0]
        assert d["frames"] is True
        assert str(d["date_time"]) == "2008-04-01 12:00:00"
        assert d["id"] == 5  # continues after fixture max (4)
        g = new_fg.collect()[0]
        # global summary derived from the actual frame rows (A4)
        assert g["nbr_frames"] == 4
        assert g["nbr_channels"] == 2
        assert g["nbr_slices"] == 2
        assert g["nbr_timepoints"] == 1
        assert g["im_width"] == 64 and g["bit_depth"] == "uint16"
        assert g["dataset_id"] == d["id"]
        frs = new_fr.collect()
        assert len(frs) == 4
        assert all(r["frames_global_id"] == g["id"] for r in frs)
        assert min(r["id"] for r in frs) == imaging["frames"].count() + 1

    def test_idempotent_on_existing_serial(self, imaging, new_dataset):
        ds, fr = new_dataset
        dup = ds.withColumn(
            "dataset_serial", F.lit("TEST-2005-10-09-20-00-00-0001")
        )
        dup_fr = fr.withColumn(
            "dataset_serial", F.lit("TEST-2005-10-09-20-00-00-0001")
        )
        new_ds, new_fg, new_fr = flows.insert_frames(
            dup, dup_fr, imaging["data_set"], imaging["frames_global"],
            imaging["frames"],
        )
        assert new_ds.count() == 0
        assert new_fg.count() == 0


@pytest.fixture()
def storage(tmp_path, imaging):
    """Fake blob storage: payload files for dataset 1's frames + the raw
    file dataset, laid out under the catalogued storage_dir keys."""
    frames_dir = tmp_path / "raw_frames" / "TEST-2005-10-09-20-00-00-0001"
    frames_dir.mkdir(parents=True)
    for r in (
        imaging["frames"].filter(F.col("frames_global_id") == 1).collect()
    ):
        (frames_dir / r["file_name"]).write_bytes(b"px-" + r["file_name"].encode())
    file_dir = tmp_path / "raw_files" / "TEST-2005-10-12-20-00-00-0002"
    file_dir.mkdir(parents=True)
    (file_dir / "test_file.lif").write_bytes(b"raw-file-bytes")
    return tmp_path


class TestDownloadDataset:
    def test_metadata_and_blobs_round_trip(self, spark, imaging, storage, tmp_path):
        dest = str(tmp_path / "out")
        storage_dir, names = flows.download_dataset(
            spark, imaging, "TEST-2005-10-09-20-00-00-0001", dest,
            channels=["phase"], slices=[5], storage_root=str(storage),
        )
        assert storage_dir == "raw_frames/TEST-2005-10-09-20-00-00-0001"
        assert names == ["im_c001_z005_t050_p007.png"]
        ddir = os.path.join(dest, "TEST-2005-10-09-20-00-00-0001")
        entries = set(os.listdir(ddir))
        assert "global_metadata.json" in entries
        assert "frames_meta.csv" in entries
        blob = os.path.join(ddir, "im_c001_z005_t050_p007.png")
        with open(blob, "rb") as f:
            assert f.read() == b"px-im_c001_z005_t050_p007.png"
        # only the subset was fetched
        assert not os.path.exists(os.path.join(ddir, "im_c000_z005_t050_p007.png"))
        # frames_meta.csv holds exactly the subset rows
        back = spark.read.option("header", True).csv(
            os.path.join(ddir, "frames_meta.csv")
        )
        assert back.count() == 1

    def test_existing_dest_raises(self, spark, imaging, storage, tmp_path):
        dest = str(tmp_path / "out2")
        os.makedirs(os.path.join(dest, "TEST-2005-10-09-20-00-00-0001"))
        with pytest.raises(FileExistsError):
            flows.download_dataset(
                spark, imaging, "TEST-2005-10-09-20-00-00-0001", dest,
                download=False,
            )

    def test_invalid_id_raises(self, spark, imaging, tmp_path):
        with pytest.raises(AssertionError, match="Invalid ID"):
            flows.download_dataset(spark, imaging, "NOT-AN-ID", str(tmp_path))

    def test_metadata_false_fetches_raw_file(self, spark, imaging, storage, tmp_path):
        dest = str(tmp_path / "out3")
        storage_dir, names = flows.download_dataset(
            spark, imaging, "TEST-2005-10-12-20-00-00-0002", dest,
            metadata=False, storage_root=str(storage),
        )
        assert names == ["test_file.lif"]
        got = os.path.join(dest, "TEST-2005-10-12-20-00-00-0002", "test_file.lif")
        with open(got, "rb") as f:
            assert f.read() == b"raw-file-bytes"

    def test_metadata_and_download_both_false(self, spark, imaging, tmp_path):
        with pytest.raises(AssertionError, match="You get nothing"):
            flows.download_dataset(
                spark, imaging, "TEST-2005-10-12-20-00-00-0002",
                str(tmp_path / "out4"), metadata=False, download=False,
            )

    def test_channel_coercion(self):
        assert flows.coerce_channels(["0", "1"]) == [0, 1]
        assert flows.coerce_channels(["phase", "405"]) == ["phase", "405"]
        assert flows.coerce_channels(None) is None
        assert flows.coerce_channels(2) == [2]


PAGE_BYTES = 64
UP_SERIAL = "TEST-2005-06-09-20-00-00-1000"


def _make_page_reader():
    """Deterministic stand-in for the tiff codec seam: fixed-size pages.
    Built as a closure so cloudpickle ships it BY VALUE to executors (a
    module-level function in tests/ would pickle by reference and fail to
    import on the worker)."""

    def reader(payload: bytes):
        return [
            payload[i : i + PAGE_BYTES]
            for i in range(0, len(payload), PAGE_BYTES)
        ]

    return reader


_fake_page_reader = _make_page_reader()


class TestUploadDataset:
    """End-to-end composed upload flow (cli/data_uploader.py:61-256),
    mirroring tests/cli/data_uploader_tests.py:112-178: upload, then
    query the catalog back and check every frame row + blob + sha256."""

    @pytest.fixture()
    def src_file(self, tmp_path):
        # 6 frames: 2 channels x 3 slices, one page each
        payload = b"".join(
            bytes([c * 16 + z]) * PAGE_BYTES
            for z in range(3)
            for c in range(2)  # page order: c fastest (splitter grid)
        )
        p = tmp_path / "stack.tif"
        p.write_bytes(payload)
        return str(p)

    def _manifest(self, spark, src, serial=UP_SERIAL):
        return spark.createDataFrame(
            [(serial, src, "Testing", "none")],
            "dataset_serial string, file_name string, description string, "
            "parent_dataset_id string",
        )

    def test_upload_frames_end_to_end(self, spark, imaging, src_file, tmp_path):
        import hashlib

        store = str(tmp_path / "store")
        out = flows.upload_dataset(
            spark,
            self._manifest(spark, src_file),
            imaging,
            storage_root=store,
            upload_type="frames",
            page_reader=_fake_page_reader,
            global_meta={
                "im_width": 8, "im_height": 8, "nbr_channels": 2,
                "nbr_slices": 3, "bit_depth": "uint16",
            },
            microscope="Leica microscope CAN bus adapter",
            channel_names=["brightfield", "phase"],
        )
        d = out["data_set"].collect()[0]
        assert d["frames"] is True and d["dataset_serial"] == UP_SERIAL
        assert (d["date_time"].year, d["date_time"].month, d["date_time"].day) \
            == (2005, 6, 9)
        assert d["microscope"] == "Leica microscope CAN bus adapter"
        assert d["description"] == "Testing"
        g = out["frames_global"].collect()[0]
        assert g["nbr_frames"] == 6
        assert g["nbr_channels"] == 2 and g["nbr_slices"] == 3
        assert g["nbr_timepoints"] == 1 and g["nbr_positions"] == 1
        assert g["im_width"] == 8 and g["bit_depth"] == "uint16"
        assert g["storage_dir"] == f"raw_frames/{UP_SERIAL}"
        assert g["dataset_id"] == d["id"]

        frs = {r["file_name"]: r for r in out["frames"].collect()}
        assert len(frs) == 6
        raw = open(src_file, "rb").read()
        pages = _fake_page_reader(raw)
        for i, page in enumerate(pages):
            c, z = i % 2, i // 2
            name = f"im_c{c:03d}_z{z:03d}_t000_p000.png"
            r = frs[name]
            assert r["sha256"] == hashlib.sha256(page).hexdigest()
            assert r["channel_name"] == ["brightfield", "phase"][c]
            assert r["frames_global_id"] == g["id"]
            # blob published under the catalogued storage_dir key
            blob = os.path.join(store, f"raw_frames/{UP_SERIAL}", name)
            assert open(blob, "rb").read() == page

        # query-back through the public API (the reference test's
        # "query database to find data_set and frames" round trip)
        from imagingdb_spark.api import get_frames_meta

        cat2 = {
            "data_set": imaging["data_set"].unionByName(out["data_set"]),
            "frames_global": imaging["frames_global"].unionByName(
                out["frames_global"]
            ),
            "frames": imaging["frames"].unionByName(out["frames"]),
        }
        meta = get_frames_meta(
            cat2["data_set"], cat2["frames_global"], cat2["frames"], UP_SERIAL
        )
        assert meta.count() == 6

        # idempotent re-run against the updated catalog: converges to 0 new
        out2 = flows.upload_dataset(
            spark,
            self._manifest(spark, src_file),
            {**cat2, "file_global": imaging["file_global"]},
            storage_root=store,
            upload_type="frames",
            page_reader=_fake_page_reader,
            global_meta={"im_width": 8, "im_height": 8,
                         "nbr_channels": 2, "nbr_slices": 3},
        )
        assert out2["data_set"].count() == 0
        assert out2["frames_global"].count() == 0
        assert out2["frames"].count() == 0

    def test_upload_file_end_to_end(self, spark, imaging, src_file, tmp_path):
        import hashlib
        import json

        store = str(tmp_path / "store")
        serial = "TEST-2005-06-09-20-00-00-2000"
        out = flows.upload_dataset(
            spark,
            self._manifest(spark, src_file, serial),
            imaging,
            storage_root=store,
            upload_type="file",
        )
        d = out["data_set"].collect()[0]
        assert d["frames"] is False
        fg = out["file_global"].collect()[0]
        raw = open(src_file, "rb").read()
        assert fg["sha256"] == hashlib.sha256(raw).hexdigest()
        assert fg["file_name"] == "stack.tif"
        assert fg["storage_dir"] == f"raw_files/{serial}"
        assert json.loads(fg["metadata_json"])["file_origin"] == src_file
        assert fg["dataset_id"] == d["id"]
        blob = os.path.join(store, f"raw_files/{serial}", "stack.tif")
        assert open(blob, "rb").read() == raw

    def test_invalid_serial_raises(self, spark, imaging, src_file, tmp_path):
        with pytest.raises(AssertionError, match="Invalid ID"):
            flows.upload_dataset(
                spark,
                self._manifest(spark, src_file, "not-a-serial"),
                imaging,
                storage_root=str(tmp_path / "s"),
                upload_type="file",
            )

    def test_bad_upload_type_raises(self, spark, imaging, src_file, tmp_path):
        with pytest.raises(AssertionError, match="upload_type"):
            flows.upload_dataset(
                spark,
                self._manifest(spark, src_file),
                imaging,
                storage_root=str(tmp_path / "s"),
                upload_type="bogus",
            )


class TestUploadOverS3:
    def test_file_upload_through_s3_backend(self, spark, imaging, tmp_path):
        """The reference's storage_class switch (data_uploader.py:127-134):
        same flow, blobs land in the object store instead of the FS."""
        import hashlib

        from imagingdb_spark import sinks

        src = tmp_path / "raw.lif"
        src.write_bytes(b"raw-lif-bytes")
        bucket_root = str(tmp_path / "bucket")

        def factory():
            return sinks.S3Backend(
                "imaging", lambda: sinks.FakeS3Client(bucket_root)
            )

        serial = "TEST-2005-06-09-20-00-00-3000"
        out = flows.upload_dataset(
            spark,
            spark.createDataFrame(
                [(serial, str(src), "s3 path", "none")],
                "dataset_serial string, file_name string, description string, "
                "parent_dataset_id string",
            ),
            imaging,
            storage_root="ignored",
            upload_type="file",
            backend_factory=factory,
        )
        fg = out["file_global"].collect()[0]
        b = factory()
        key = f"raw_files/{serial}/raw.lif"
        assert b.exists(key)
        assert b.get(key) == b"raw-lif-bytes"
        assert fg["sha256"] == hashlib.sha256(b"raw-lif-bytes").hexdigest()


class TestUploadRealCodecs:
    def test_tiff_to_png_upload_no_fakes(self, spark, imaging, tmp_path):
        """Round 3: the whole reference upload pipeline with REAL codecs —
        a multi-page TIFF split by the built-in reader, frames re-encoded
        as PNG, stored, catalogued; downloads decode back to the original
        pixel data. No injected fakes anywhere."""
        import hashlib

        import numpy as np

        from imagingdb_spark import png, tiff

        rng = np.random.default_rng(5)
        pages = [
            rng.integers(0, 65535, size=(8, 6), endpoint=True).astype(np.uint16)
            for _ in range(6)  # 2 channels x 3 slices
        ]
        src = tmp_path / "real_stack.tif"
        src.write_bytes(tiff.write_tiff(pages))
        store = str(tmp_path / "store")
        serial = "TEST-2005-06-09-20-00-00-4000"
        out = flows.upload_dataset(
            spark,
            spark.createDataFrame(
                [(serial, str(src), "real codecs", "none")],
                "dataset_serial string, file_name string, description string, "
                "parent_dataset_id string",
            ),
            imaging,
            storage_root=store,
            upload_type="frames",
            global_meta={"im_width": 6, "im_height": 8,
                         "nbr_channels": 2, "nbr_slices": 3},
        )
        frs = {r["file_name"]: r for r in out["frames"].collect()}
        assert len(frs) == 6
        for i, page in enumerate(pages):
            c, z = i % 2, i // 2
            name = f"im_c{c:03d}_z{z:03d}_t000_p000.png"
            blob_path = os.path.join(store, f"raw_frames/{serial}", name)
            blob = open(blob_path, "rb").read()
            # stored payload is a real PNG that decodes to the TIFF page
            np.testing.assert_array_equal(png.decode_png(blob), page)
            assert frs[name]["sha256"] == hashlib.sha256(blob).hexdigest()


class TestUploadGridInference:
    def test_grid_inferred_from_image_description(self, spark, imaging, tmp_path):
        """tif_id behavior (tif_id_splitter.py:111-126): no grid in the
        config -> channels/slices come from the first page's ImageJ
        ImageDescription tag."""
        import numpy as np

        from imagingdb_spark import tiff

        pages = [np.full((3, 3), i, np.uint8) for i in range(6)]
        src = tmp_path / "ij_stack.tif"
        src.write_bytes(
            tiff.write_tiff(
                pages, description="ImageJ=1.53\nimages=6\nchannels=2\nslices=3"
            )
        )
        serial = "TEST-2005-06-09-20-00-00-5000"
        out = flows.upload_dataset(
            spark,
            spark.createDataFrame(
                [(serial, str(src), "ij grid", "none")],
                "dataset_serial string, file_name string, description string, "
                "parent_dataset_id string",
            ),
            imaging,
            storage_root=str(tmp_path / "store"),
            upload_type="frames",
            global_meta={"im_width": 3, "im_height": 3},  # no grid keys
        )
        g = out["frames_global"].collect()[0]
        assert g["nbr_channels"] == 2 and g["nbr_slices"] == 3
        names = {r["file_name"] for r in out["frames"].collect()}
        assert "im_c001_z002_t000_p000.png" in names  # page 5: c=1, z=2


class TestS3RoundTrip:
    def test_upload_then_download_through_backend(
        self, spark, imaging, tmp_path
    ):
        """Full object-store lifecycle with real codecs: TIFF upload
        through S3Backend, catalog insert, then download_dataset pulling
        the PNG frames back through the same backend."""
        import numpy as np

        from imagingdb_spark import png, sinks, tiff

        rng = np.random.default_rng(17)
        pages = [
            rng.integers(0, 255, size=(4, 4), endpoint=True).astype(np.uint8)
            for _ in range(4)
        ]
        src = tmp_path / "s3_stack.tif"
        src.write_bytes(tiff.write_tiff(pages))
        bucket_root = str(tmp_path / "bucket")

        def factory():
            return sinks.S3Backend(
                "imaging", lambda: sinks.FakeS3Client(bucket_root)
            )

        serial = "TEST-2005-06-09-20-00-00-6000"
        out = flows.upload_dataset(
            spark,
            spark.createDataFrame(
                [(serial, str(src), "s3 round trip", "none")],
                "dataset_serial string, file_name string, description string, "
                "parent_dataset_id string",
            ),
            imaging,
            storage_root="unused",
            upload_type="frames",
            global_meta={"im_width": 4, "im_height": 4,
                         "nbr_channels": 2, "nbr_slices": 2},
            backend_factory=factory,
        )
        cat2 = {
            "data_set": imaging["data_set"].unionByName(out["data_set"]),
            "frames_global": imaging["frames_global"].unionByName(
                out["frames_global"]
            ),
            "frames": imaging["frames"].unionByName(out["frames"]),
            "file_global": imaging["file_global"],
        }
        dest = str(tmp_path / "dl")
        storage_dir, names = flows.download_dataset(
            spark, cat2, serial, dest, backend_factory=factory
        )
        assert len(names) == 4
        ddir = os.path.join(dest, serial)
        assert {"global_metadata.json", "frames_meta.csv"} <= set(os.listdir(ddir))
        for i, page in enumerate(pages):
            name = f"im_c{i % 2:03d}_z{i // 2:03d}_t000_p000.png"
            blob = open(os.path.join(ddir, name), "rb").read()
            np.testing.assert_array_equal(png.decode_png(blob), page)


class TestBatchUpload:
    def test_two_datasets_one_manifest(self, spark, imaging, tmp_path):
        """Batch-wise semantics: the reference loops the manifest per row
        (data_uploader.py:150); upload_dataset processes ALL rows in one
        dataflow — two datasets, one call, correct per-dataset grouping."""
        import numpy as np

        from imagingdb_spark import tiff

        rng = np.random.default_rng(23)
        srcs = []
        for i in range(2):
            pages = [
                rng.integers(0, 255, size=(3, 3), endpoint=True).astype(np.uint8)
                for _ in range(4)
            ]
            p = tmp_path / f"batch{i}.tif"
            p.write_bytes(tiff.write_tiff(pages))
            srcs.append(str(p))
        serials = [
            "TEST-2005-06-09-20-00-00-7000",
            "TEST-2005-06-09-20-00-00-7001",
        ]
        manifest = spark.createDataFrame(
            [(s, src, f"batch ds {i}", "none")
             for i, (s, src) in enumerate(zip(serials, srcs))],
            "dataset_serial string, file_name string, description string, "
            "parent_dataset_id string",
        )
        out = flows.upload_dataset(
            spark, manifest, imaging,
            storage_root=str(tmp_path / "store"),
            upload_type="frames",
            global_meta={"im_width": 3, "im_height": 3,
                         "nbr_channels": 2, "nbr_slices": 2},
        )
        ds = {r["dataset_serial"]: r for r in out["data_set"].collect()}
        assert set(ds) == set(serials)
        fgs = out["frames_global"].collect()
        assert len(fgs) == 2
        assert all(g["nbr_frames"] == 4 for g in fgs)
        # frames map to the right dataset through frames_global_id
        fg_by_id = {g["id"]: g["dataset_id"] for g in fgs}
        frames = out["frames"].collect()
        assert len(frames) == 8
        assert {fg_by_id[r["frames_global_id"]] for r in frames} == {
            ds[s]["id"] for s in serials
        }
        # blobs land under each dataset's own storage_dir
        for s in serials:
            d = tmp_path / "store" / "raw_frames" / s
            assert len(list(d.iterdir())) == 4


class TestSnapshotBackedCatalog:
    """VERDICT r6 item 2: the composed upload flow on SNAPSHOT catalog
    tables — the serializable guarantee the reference's transaction scope
    provides (db_operations.py:14-38, staged inserts + single commit),
    now end-to-end instead of only in the streaming jobs."""

    def _fresh(self, spark, tmp_path):
        from imagingdb_spark.catalog import IMAGING_SCHEMAS
        from imagingdb_spark.ingest import SnapshotTarget

        cat = {n: spark.createDataFrame([], s)
               for n, s in IMAGING_SCHEMAS.items()}
        targets = {n: SnapshotTarget(str(tmp_path / "cat" / n))
                   for n in IMAGING_SCHEMAS}
        return cat, targets

    def _upload(self, spark, src_file, tmp_path, cat, targets,
                serial=UP_SERIAL):
        man = spark.createDataFrame(
            [(serial, src_file, "Testing", "none")],
            "dataset_serial string, file_name string, description string, "
            "parent_dataset_id string",
        )
        return flows.upload_dataset(
            spark, man, cat,
            storage_root=str(tmp_path / "store"),
            upload_type="frames",
            page_reader=_fake_page_reader,
            global_meta={"im_width": 8, "im_height": 8,
                         "nbr_channels": 2, "nbr_slices": 3},
            paths=targets,
        )

    @pytest.fixture()
    def src_file(self, tmp_path):
        payload = b"".join(
            bytes([c * 16 + z]) * PAGE_BYTES
            for z in range(3) for c in range(2)
        )
        p = tmp_path / "stack.tif"
        p.write_bytes(payload)
        return str(p)

    def test_upload_query_download_on_snapshot_tables(
        self, spark, src_file, tmp_path
    ):
        from imagingdb_spark import snapshots as S

        cat, targets = self._fresh(spark, tmp_path)
        out = self._upload(spark, src_file, tmp_path, cat, targets)
        assert out["data_set"].count() == 1
        assert out["frames"].count() == 6

        # the committed catalog IS snapshot tables: atomic versions exist
        ds_dir = targets["data_set"].table_dir
        assert S.snapshot_exists(ds_dir)
        committed = {
            n: S.snapshot_read(spark, targets[n].table_dir)
            for n in ("data_set", "frames_global", "frames")
        }
        assert committed["data_set"].count() == 1
        assert committed["frames"].count() == 6

        # query + download against the snapshot-read catalog
        dest = tmp_path / "dl"
        dest.mkdir()
        committed["file_global"] = cat["file_global"]
        storage_dir, names = flows.download_dataset(
            spark, committed, UP_SERIAL, str(dest),
            storage_root=str(tmp_path / "store"),
        )
        assert len(names) == 6

        # replay converges: no new version, no new rows
        v_before = S.snapshot_versions(ds_dir)[-1]["version"]
        out2 = self._upload(
            spark, src_file, tmp_path,
            {**committed, "file_global": cat["file_global"]}, targets,
        )
        assert out2["data_set"].count() == 0
        assert out2["frames"].count() == 0
        assert S.snapshot_versions(ds_dir)[-1]["version"] == v_before

    def test_concurrent_same_serial_uploads_land_one_dataset(
        self, spark, src_file, tmp_path
    ):
        """Two concurrent upload_dataset calls with the SAME serial: the
        snapshot-pinned anti-join makes exactly one dataset land — the
        race the plain-parquet anti-join documents it cannot close (both
        writers can pass the check before either writes)."""
        import threading

        from imagingdb_spark import snapshots as S

        cat, targets = self._fresh(spark, tmp_path)
        errs = []

        def run():
            try:
                self._upload(spark, src_file, tmp_path, cat, targets)
            except Exception as e:  # noqa: BLE001 — surfaced below
                errs.append(e)

        ts = [threading.Thread(target=run) for _ in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs

        ds = S.snapshot_read(spark, targets["data_set"].table_dir)
        assert ds.count() == 1  # exactly one dataset row
        assert ds.collect()[0]["dataset_serial"] == UP_SERIAL
        fg = S.snapshot_read(spark, targets["frames_global"].table_dir)
        assert fg.count() == 1
        fr = S.snapshot_read(spark, targets["frames"].table_dir)
        assert fr.count() == 6  # one set of frames, not two


class TestConcurrentDistinctSerials:
    """Round-7 review finding: two concurrent uploads of DIFFERENT serials
    used to both read max(id) from the same stale view and commit
    colliding surrogate ids, silently cross-linking datasets. With
    builder-shaped appends the loser's retry re-allocates against the
    winner's tip."""

    def test_two_serials_land_with_distinct_ids(self, spark, tmp_path):
        import threading

        from imagingdb_spark import snapshots as S
        from imagingdb_spark.catalog import IMAGING_SCHEMAS
        from imagingdb_spark.ingest import SnapshotTarget

        payload = b"".join(
            bytes([c * 16 + z]) * PAGE_BYTES
            for z in range(3) for c in range(2)
        )
        src = tmp_path / "stack.tif"
        src.write_bytes(payload)
        cat = {n: spark.createDataFrame([], s)
               for n, s in IMAGING_SCHEMAS.items()}
        targets = {n: SnapshotTarget(str(tmp_path / "cat" / n))
                   for n in IMAGING_SCHEMAS}
        serials = ["RACE-2005-06-09-20-00-00-1000",
                   "RACE-2005-06-09-20-00-00-2000"]
        errs = []

        def run(serial):
            try:
                man = spark.createDataFrame(
                    [(serial, str(src), "Testing", "none")],
                    "dataset_serial string, file_name string, "
                    "description string, parent_dataset_id string",
                )
                flows.upload_dataset(
                    spark, man, cat,
                    storage_root=str(tmp_path / "store"),
                    upload_type="frames",
                    page_reader=_fake_page_reader,
                    global_meta={"im_width": 8, "im_height": 8,
                                 "nbr_channels": 2, "nbr_slices": 3},
                    paths=targets,
                )
            except Exception as e:  # noqa: BLE001 — surfaced below
                errs.append(e)

        ts = [threading.Thread(target=run, args=(s,)) for s in serials]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs

        ds = S.snapshot_read(spark, targets["data_set"].table_dir).collect()
        assert sorted(r["dataset_serial"] for r in ds) == sorted(serials)
        ids = [r["id"] for r in ds]
        assert len(set(ids)) == 2, f"surrogate ids collided: {ids}"
        # referential integrity: each frames_global row links to exactly
        # one dataset, and each dataset's frames resolve unambiguously
        fg = S.snapshot_read(
            spark, targets["frames_global"].table_dir).collect()
        assert sorted(r["dataset_id"] for r in fg) == sorted(ids)
        assert len({r["id"] for r in fg}) == 2
        fr = S.snapshot_read(spark, targets["frames"].table_dir).collect()
        assert len(fr) == 12  # 6 frames per dataset, none cross-linked
        by_fg = {}
        for r in fr:
            by_fg.setdefault(r["frames_global_id"], set()).add(r["file_name"])
        assert all(len(v) == 6 for v in by_fg.values())
        assert len({r["id"] for r in fr}) == 12  # frame ids unique too


class TestTornUploadHealing:
    """A crash BETWEEN the three per-table snapshot commits leaves a torn
    catalog (the window the reference's single Postgres transaction never
    has). The repair contract is CONVERGENCE: re-running the upload must
    complete the missing children by mapping through the committed tips,
    not skip them because the parent's anti-join came back empty."""

    def _setup(self, spark, tmp_path):
        from imagingdb_spark.catalog import IMAGING_SCHEMAS
        from imagingdb_spark.ingest import SnapshotTarget

        payload = b"".join(
            bytes([c * 16 + z]) * PAGE_BYTES
            for z in range(3) for c in range(2)
        )
        src = tmp_path / "stack.tif"
        src.write_bytes(payload)
        cat = {n: spark.createDataFrame([], s)
               for n, s in IMAGING_SCHEMAS.items()}
        targets = {n: SnapshotTarget(str(tmp_path / "cat" / n))
                   for n in IMAGING_SCHEMAS}
        man = spark.createDataFrame(
            [(UP_SERIAL, str(src), "Testing", "none")],
            "dataset_serial string, file_name string, description string, "
            "parent_dataset_id string",
        )
        return cat, targets, man

    def _upload(self, spark, man, cat, targets, tmp_path):
        return flows.upload_dataset(
            spark, man, cat,
            storage_root=str(tmp_path / "store"),
            upload_type="frames",
            page_reader=_fake_page_reader,
            global_meta={"im_width": 8, "im_height": 8,
                         "nbr_channels": 2, "nbr_slices": 3},
            paths=targets,
        )

    def _crash_after(self, monkeypatch, n_commits):
        """Patch the flow's append seam to crash after n successful
        table commits — the exact torn windows."""
        from imagingdb_spark import flows as FL

        real = FL.idempotent_append
        calls = {"n": 0}

        def crashing(*a, **kw):
            if calls["n"] >= n_commits:
                raise RuntimeError("simulated crash between table commits")
            calls["n"] += 1
            return real(*a, **kw)

        monkeypatch.setattr(FL, "idempotent_append", crashing)
        return lambda: monkeypatch.setattr(FL, "idempotent_append", real)

    def _assert_complete(self, spark, targets):
        from imagingdb_spark import snapshots as S

        ds = S.snapshot_read(spark, targets["data_set"].table_dir).collect()
        fg = S.snapshot_read(
            spark, targets["frames_global"].table_dir).collect()
        fr = S.snapshot_read(spark, targets["frames"].table_dir).collect()
        assert len(ds) == 1 and len(fg) == 1 and len(fr) == 6
        assert fg[0]["dataset_id"] == ds[0]["id"]
        assert all(r["frames_global_id"] == fg[0]["id"] for r in fr)
        assert fg[0]["nbr_frames"] == 6

    def _reloaded(self, spark, targets):
        """What a restarted process sees: the snapshot tips."""
        from imagingdb_spark import snapshots as S
        from imagingdb_spark.catalog import IMAGING_SCHEMAS

        out = {}
        for n, schema in IMAGING_SCHEMAS.items():
            d = targets[n].table_dir
            out[n] = (S.snapshot_read(spark, d) if S.snapshot_exists(d)
                      else spark.createDataFrame([], schema))
        return out

    def test_crash_after_dataset_commit_heals_on_rerun(
        self, spark, tmp_path, monkeypatch
    ):
        import pytest as _pytest

        cat, targets, man = self._setup(spark, tmp_path)
        restore = self._crash_after(monkeypatch, 1)  # ds lands, fg doesn't
        with _pytest.raises(RuntimeError, match="simulated crash"):
            self._upload(spark, man, cat, targets, tmp_path)
        restore()
        # torn: dataset exists, no frames_global / frames
        from imagingdb_spark import snapshots as S
        assert S.snapshot_read(
            spark, targets["data_set"].table_dir).count() == 1
        assert not S.snapshot_exists(targets["frames_global"].table_dir) or \
            S.snapshot_read(
                spark, targets["frames_global"].table_dir).count() == 0

        out = self._upload(
            spark, man, self._reloaded(spark, targets), targets, tmp_path)
        assert out["data_set"].count() == 0          # parent already there
        assert out["frames_global"].count() == 1     # child HEALED
        assert out["frames"].count() == 6
        self._assert_complete(spark, targets)

    def test_crash_after_frames_global_commit_heals_on_rerun(
        self, spark, tmp_path, monkeypatch
    ):
        import pytest as _pytest

        cat, targets, man = self._setup(spark, tmp_path)
        restore = self._crash_after(monkeypatch, 2)  # ds+fg land, frames don't
        with _pytest.raises(RuntimeError, match="simulated crash"):
            self._upload(spark, man, cat, targets, tmp_path)
        restore()

        out = self._upload(
            spark, man, self._reloaded(spark, targets), targets, tmp_path)
        assert out["data_set"].count() == 0
        assert out["frames_global"].count() == 0
        assert out["frames"].count() == 6            # frames HEALED
        self._assert_complete(spark, targets)


class TestCatalogSliceSkipping:
    """cli.load_catalog_slice: a serial point lookup over a snapshot
    catalog reads O(1) manifest files per table (uploads commit per
    dataset, so footer stats isolate each dataset's files) and returns
    exactly the full views filtered to that dataset."""

    def _setup(self, spark, tmp_path, n_datasets=3):
        payload = b"".join(
            bytes([c * 16 + z]) * PAGE_BYTES
            for z in range(3) for c in range(2)
        )
        src = tmp_path / "stack.tif"
        src.write_bytes(payload)
        from imagingdb_spark.catalog import IMAGING_SCHEMAS
        from imagingdb_spark.ingest import SnapshotTarget

        cat = {n: spark.createDataFrame([], s)
               for n, s in IMAGING_SCHEMAS.items()}
        targets = {n: SnapshotTarget(str(tmp_path / "cat" / n))
                   for n in IMAGING_SCHEMAS}
        serials = [
            f"TEST-2005-06-0{i + 1}-20-00-00-1000" for i in range(n_datasets)
        ]
        for s in serials:
            man = spark.createDataFrame(
                [(s, str(src), "Testing", "none")],
                "dataset_serial string, file_name string, description string, "
                "parent_dataset_id string",
            )
            flows.upload_dataset(
                spark, man, cat,
                storage_root=str(tmp_path / "store"),
                upload_type="frames",
                page_reader=_fake_page_reader,
                global_meta={"im_width": 8, "im_height": 8,
                             "nbr_channels": 2, "nbr_slices": 3},
                paths=targets,
            )
        return str(tmp_path / "cat"), serials, targets

    def test_slice_equals_filtered_full_and_prunes(self, spark, tmp_path):
        from imagingdb_spark import snapshots as S
        from imagingdb_spark.cli import load_catalog, load_catalog_slice

        cat_dir, serials, targets = self._setup(spark, tmp_path)
        target = serials[1]
        full = load_catalog(spark, cat_dir)
        sl = load_catalog_slice(spark, cat_dir, target)

        assert sl["data_set"].count() == 1
        ds_id = sl["data_set"].collect()[0]["id"]
        for name, key in (
            ("frames_global", "dataset_id"),
            ("file_global", "dataset_id"),
        ):
            want = sorted(
                map(tuple, full[name].filter(f"{key} = {ds_id}").collect())
            )
            got = sorted(map(tuple, sl[name].collect()))
            assert got == want, name
        fg_id = sl["frames_global"].collect()[0]["id"]
        want = sorted(map(tuple, full["frames"].filter(
            f"frames_global_id = {fg_id}").collect()))
        assert sorted(map(tuple, sl["frames"].collect())) == want

        # manifest-level evidence: the point lookup kept a strict subset
        # of the frames table's files (one upload's files, not three)
        plan = S.snapshot_scan_plan(
            targets["frames"].table_dir, [("frames_global_id", "=", fg_id)]
        )
        assert plan["files_kept"] < plan["files_total"]
        assert plan["files_kept"] >= 1

    def test_missing_serial_falls_back_to_full_views(self, spark, tmp_path):
        from imagingdb_spark.cli import load_catalog_slice

        cat_dir, serials, _ = self._setup(spark, tmp_path, n_datasets=1)
        sl = load_catalog_slice(
            spark, cat_dir, "TEST-2099-01-01-00-00-00-0001"
        )
        # full views returned: the caller's own not-found surface fires
        assert sl["data_set"].count() == 1  # the one uploaded dataset
        assert sl["frames"].count() == 6


class TestDuplicateSerialIds:
    """A serial named twice in one batch gets ONE data_set id and one
    frames_global (file_global) id on the plain and the SnapshotTarget
    path, as on the atomic path: ids {1, 2}, no gap."""

    S0 = "DUPS-2008-04-01-12-00-00-0001"
    S1 = "DUPS-2008-04-02-12-00-00-0001"

    @staticmethod
    def _catalog(spark, tmp_path, snapshot):
        from imagingdb_spark.catalog import IMAGING_SCHEMAS, empty_df
        from imagingdb_spark.ingest import SnapshotTarget

        cat = {n: empty_df(spark, s) for n, s in IMAGING_SCHEMAS.items()}
        targets = (
            {n: SnapshotTarget(str(tmp_path / "cat" / n)) for n in cat}
            if snapshot
            else {}
        )
        return cat, targets

    @pytest.mark.parametrize("snapshot", [False, True])
    def test_frames_serial_named_twice(self, spark, tmp_path, snapshot):
        cat, targets = self._catalog(spark, tmp_path, snapshot)
        ds = spark.createDataFrame(
            [
                (s, "dup", "scope9", "none", f"raw_frames/{s}", "uint16",
                 8, 8, 1, "{}")
                for s in (self.S0, self.S1, self.S0)
            ],
            "dataset_serial string, description string, microscope string, "
            "parent_dataset_id string, storage_dir string, bit_depth string, "
            "im_width int, im_height int, im_colors int, metadata_json string",
        )
        fr = spark.createDataFrame(
            [
                (s, 0, z, 0, 0, "ch0", f"im_c000_z{z:03d}_t000_p000.png",
                 f"{s}/{z}", "{}")
                for s in (self.S0, self.S1)
                for z in range(3)
            ],
            "dataset_serial string, channel_idx int, slice_idx int, "
            "time_idx int, pos_idx int, channel_name string, file_name string, "
            "sha256 string, metadata_json string",
        )
        new_ds, new_fg, new_fr = flows.insert_frames(
            ds, fr, cat["data_set"], cat["frames_global"], cat["frames"],
            targets,
        )
        assert sorted(
            (r["id"], r["dataset_serial"]) for r in new_ds.collect()
        ) == [(1, self.S0), (2, self.S1)]
        assert sorted(
            (r["id"], r["dataset_id"], r["nbr_frames"])
            for r in new_fg.collect()
        ) == [(1, 1, 3), (2, 2, 3)]
        assert sorted(
            (r["id"], r["frames_global_id"]) for r in new_fr.collect()
        ) == [(i, (i - 1) // 3 + 1) for i in range(1, 7)]

    @pytest.mark.parametrize("snapshot", [False, True])
    def test_file_serial_named_twice(self, spark, tmp_path, snapshot):
        from imagingdb_spark.ingest import insert_file

        cat, targets = self._catalog(spark, tmp_path, snapshot)
        files = spark.createDataFrame(
            [
                (s, "dup", "scope9", "none", f"raw_files/{s}", name, "{}",
                 f"{s}/{name}")
                for s, name in (
                    (self.S0, "a.tif"), (self.S1, "c.tif"), (self.S0, "b.tif")
                )
            ],
            "dataset_serial string, description string, microscope string, "
            "parent_dataset_id string, storage_dir string, file_name string, "
            "metadata_json string, sha256 string",
        )
        new_ds, new_fgl = insert_file(
            files, cat["data_set"], cat["file_global"],
            targets.get("data_set"), targets.get("file_global"),
        )
        assert sorted(
            (r["id"], r["dataset_serial"]) for r in new_ds.collect()
        ) == [(1, self.S0), (2, self.S1)]
        assert sorted(
            (r["id"], r["dataset_id"]) for r in new_fgl.collect()
        ) == [(1, 1), (2, 2)]
