"""Catalog-level atomic multi-table commits (imagingdb_spark/snapcatalog.py):
the reference's full transaction scope — one Postgres transaction spanning
data_set + frames_global + frames (db_operations.py:14-38, 150-223) — as a
single hard-link publish over snapshot-table manifests: a crash at any
point leaves catalog readers seeing either no dataset or the whole
dataset, never a dataset without its frames."""

from __future__ import annotations

import shutil
import threading
import uuid

import pandas as pd
import pytest
from pyspark.sql import functions as F

from imagingdb_spark import flows
from imagingdb_spark import snapcatalog as C
from imagingdb_spark import snapshots as S
from imagingdb_spark.catalog import IMAGING_SCHEMAS

PAGE_BYTES = 64
UP_SERIAL = "TEST-2005-06-09-20-00-00-1000"
UP_SERIAL2 = "TEST-2005-06-10-20-00-00-1000"


def _make_page_reader():
    def reader(payload: bytes):
        return [
            payload[i : i + PAGE_BYTES]
            for i in range(0, len(payload), PAGE_BYTES)
        ]

    return reader


_fake_page_reader = _make_page_reader()


def _src_file(tmp_path, name="stack.tif"):
    payload = b"".join(
        bytes([c * 16 + z]) * PAGE_BYTES for z in range(3) for c in range(2)
    )
    p = tmp_path / name
    p.write_bytes(payload)
    return str(p)


def _upload(
    spark, src, tmp_path, cat_dir, serial=UP_SERIAL, bloom_columns=None
):
    man = spark.createDataFrame(
        [(serial, src, "Testing", "none")],
        "dataset_serial string, file_name string, description string, "
        "parent_dataset_id string",
    )
    return flows.upload_dataset(
        spark,
        man,
        cat_dir,
        storage_root=str(tmp_path / "store"),
        upload_type="frames",
        page_reader=_fake_page_reader,
        global_meta={
            "im_width": 8, "im_height": 8, "nbr_channels": 2, "nbr_slices": 3,
        },
        bloom_columns=bloom_columns,
    )


class TestCatalogCommitPrimitive:
    """catalog_commit / catalog_read on plain toy tables."""

    def _commit_pair(self, spark, cat, a_rows, b_rows):
        def build(views):
            return {
                "ta": spark.createDataFrame(a_rows, "k long, v string"),
                "tb": spark.createDataFrame(b_rows, "k long, w long"),
            }

        return C.catalog_commit(
            spark, cat, build, keys={"ta": ["k"], "tb": ["k"]}
        )

    def test_commit_read_and_versions(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        v, deltas = self._commit_pair(
            spark, cat, [(1, "a"), (2, "b")], [(1, 10)]
        )
        assert v == 1
        assert deltas["ta"].count() == 2 and deltas["tb"].count() == 1
        assert C.catalog_versions(cat) == [1]
        assert sorted(
            (r["k"], r["v"]) for r in C.catalog_read(spark, cat, "ta").collect()
        ) == [(1, "a"), (2, "b")]
        # second commit appends to both; version advances ONCE
        v2, _ = self._commit_pair(spark, cat, [(3, "c")], [(2, 20)])
        assert v2 == 2
        assert C.catalog_read(spark, cat, "ta").count() == 3
        assert C.catalog_read(spark, cat, "tb").count() == 2
        # time travel: pinned version sees the OLD state of BOTH tables
        assert C.catalog_read(spark, cat, "ta", version=1).count() == 2
        assert C.catalog_read(spark, cat, "tb", version=1).count() == 1

    def test_replay_converges_without_publishing(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        self._commit_pair(spark, cat, [(1, "a")], [(1, 10)])
        v2, deltas = self._commit_pair(spark, cat, [(1, "a")], [(1, 10)])
        assert v2 == 1  # tip unchanged: fully converged replay
        assert deltas["ta"].count() == 0 and deltas["tb"].count() == 0
        assert C.catalog_versions(cat) == [1]

    def test_known_empty_delta_writes_nothing(self, spark, tmp_path):
        """A delta the optimizer reduces to an empty LocalRelation lands
        no file and no directory; its first appearance still records a
        typed empty manifest, and a commit of nothing else runs no job."""
        import os

        from imagingdb_spark.catalog import empty_df, values_df

        cat = str(tmp_path / "cat")
        ddl = "k long, v string"
        v, deltas = C.catalog_commit(
            spark,
            cat,
            lambda views: {
                "ta": values_df(spark, [(1, "a")], ddl),
                "te": empty_df(spark, ddl),
            },
            keys={"ta": ["k"], "te": ["k"]},
        )
        assert v == 1
        m = C.catalog_manifest(cat)["tables"]["te"]
        assert m["rows"] == 0 and m["groups"] == []
        assert not os.path.exists(os.path.join(cat, "te"))
        assert deltas["te"].schema == C.catalog_read(spark, cat, "te").schema
        assert deltas["te"].count() == 0
        assert _jobs_in_group(
            spark,
            lambda: C.catalog_commit(
                spark, cat, lambda views: {"te": empty_df(spark, ddl)},
                keys={"te": ["k"]},
            ),
        ) == 0
        assert C.catalog_versions(cat) == [1]

    def test_pruned_read_equals_filtered_scan(self, spark, tmp_path):
        cat = str(tmp_path / "cat")

        def build(views):
            return {
                "ta": spark.range(0, 100).selectExpr(
                    "id AS k", "string(id) AS v"
                ).repartition(4)
            }

        C.catalog_commit(spark, cat, build, keys={"ta": ["k"]})
        got = sorted(
            r["k"]
            for r in C.catalog_read(
                spark, cat, "ta", where=[("k", "<", 5)]
            ).collect()
        )
        assert got == [0, 1, 2, 3, 4]

    def test_concurrent_commits_serialize(self, spark, tmp_path):
        """Two racing catalog commits of the SAME key: exactly one delta
        lands, both callers converge on the same final state."""
        cat = str(tmp_path / "cat")
        results = {}

        def run(tag):
            def build(views):
                return {
                    "ta": spark.createDataFrame([(1, "x")], "k long, v string")
                }

            results[tag] = C.catalog_commit(
                spark, cat, build, keys={"ta": ["k"]}
            )

        ts = [threading.Thread(target=run, args=(i,)) for i in range(4)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert C.catalog_read(spark, cat, "ta").count() == 1
        landed = sum(1 for v, d in results.values() if d["ta"].count() == 1)
        assert landed == 1

    def test_refuses_to_shadow_standalone_snapshot_table(
        self, spark, tmp_path
    ):
        """A catalog dir already holding a per-table snapshot table (or a
        legacy parquet catalog) must be REFUSED, not silently shadowed —
        readers would otherwise lose every pre-existing row."""
        from imagingdb_spark import snapshots as S

        cat = str(tmp_path / "cat")
        S.snapshot_commit(
            spark,
            str(tmp_path / "cat" / "ta"),
            spark.createDataFrame([(1, "a")], "k long, v string"),
        )

        def build(views):
            return {
                "ta": spark.createDataFrame([(2, "b")], "k long, v string")
            }

        with pytest.raises(ValueError, match="shadow"):
            C.catalog_commit(spark, cat, build, keys={"ta": ["k"]})
        # standalone table untouched
        assert S.snapshot_read(spark, str(tmp_path / "cat" / "ta")).count() == 1
        # vacuum never touches the standalone table's files either
        assert C.catalog_vacuum(spark, cat) == []
        assert S.snapshot_read(spark, str(tmp_path / "cat" / "ta")).count() == 1
        # a legacy plain-parquet table of the same name is refused too
        leg = tmp_path / "legcat"
        spark.createDataFrame([], "k long, v string").write.parquet(
            str(leg / "ta.parquet")
        )
        with pytest.raises(ValueError, match="legacy.*migrate_catalog"):
            C.catalog_commit(spark, str(leg), build, keys={"ta": ["k"]})
        assert C.catalog_versions(str(leg)) == []

    def test_expire_and_vacuum(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        for i in range(3):
            self._commit_pair(spark, cat, [(i, "x")], [(i, i)])
        # make debris: a commit attempt that crashes before publishing
        import imagingdb_spark.snapcatalog as SC

        def build(views):
            return {
                "ta": spark.createDataFrame([(99, "z")], "k long, v string")
            }

        real = SC._publish_commit

        def boom(*a, **kw):
            raise RuntimeError("simulated crash at publish")

        SC._publish_commit = boom
        try:
            with pytest.raises(RuntimeError):
                C.catalog_commit(spark, cat, build, keys={"ta": ["k"]})
        finally:
            SC._publish_commit = real
        assert C.catalog_read(spark, cat, "ta").count() == 3  # debris unseen
        dropped = C.catalog_expire(cat, keep_last=1)
        assert dropped == [1, 2]
        removed = C.catalog_vacuum(spark, cat)
        assert removed  # the crashed attempt's files went away
        # tip still exactly readable after vacuum
        assert C.catalog_read(spark, cat, "ta").count() == 3
        assert C.catalog_read(spark, cat, "tb").count() == 3
        with pytest.raises(FileNotFoundError):
            C.catalog_manifest(cat, version=1)


class TestCatalogSoak:
    """Randomized multi-writer soak at the CATALOG level — the
    cross-table twin of tests/test_snapshots.py::TestMultiWriterSoak:
    N committer threads (each appending to BOTH tables atomically) race
    an expire+vacuum thread (behind the same reader-writer gate vacuum's
    no-writes-in-flight contract requires). Invariants: the two tables
    NEVER disagree on a commit (every k present in ta is present in tb —
    cross-table atomicity under racing), no row lost, no duplicates,
    every retained version's tables mutually consistent."""

    @pytest.mark.parametrize("seed", [7, 29])
    def test_soak_commits_vs_vacuum(self, spark, tmp_path, seed):
        import random
        import threading
        import time as _time

        from tests.test_snapshots import TestMultiWriterSoak

        gate = TestMultiWriterSoak._RWGate()
        cat = str(tmp_path / "cat")
        stop = threading.Event()
        errors: list[str] = []
        committed: dict[int, list[int]] = {}
        N, COMMITS_EACH, BATCH = 3, 6, 10

        def committer(idx: int):
            rng = random.Random(seed * 31 + idx)
            committed[idx] = []
            base = idx * 1_000_000
            try:
                for c in range(COMMITS_EACH):
                    lo = base + c * BATCH
                    ks = list(range(lo, lo + BATCH))

                    def build(views, ks=ks):
                        return {
                            "ta": spark.createDataFrame(
                                [(k, str(k)) for k in ks], "k long, v string"
                            ),
                            "tb": spark.createDataFrame(
                                [(k, k * 2) for k in ks], "k long, w long"
                            ),
                        }

                    gate.acquire_read()
                    try:
                        C.catalog_commit(
                            spark, cat, build,
                            keys={"ta": ["k"], "tb": ["k"]},
                            max_retries=20,
                        )
                    finally:
                        gate.release_read()
                    committed[idx].extend(ks)
                    _time.sleep(rng.uniform(0, 0.02))
            except Exception as e:  # pragma: no cover
                errors.append(f"committer{idx}: {e!r}")

        def vacuumer():
            rng = random.Random(seed * 37)
            while not stop.is_set():
                _time.sleep(rng.uniform(0.05, 0.15))
                gate.acquire_write()
                try:
                    if C.catalog_exists(cat):
                        C.catalog_expire(cat, keep_last=3)
                        C.catalog_vacuum(spark, cat)
                        for v in C.catalog_versions(cat):
                            # retained versions stay mutually consistent
                            na = C.catalog_read(spark, cat, "ta", v).count()
                            nb = C.catalog_read(spark, cat, "tb", v).count()
                            assert na == nb, (v, na, nb)
                except Exception as e:  # pragma: no cover
                    errors.append(f"vacuumer: {e!r}")
                finally:
                    gate.release_write()

        ths = [threading.Thread(target=committer, args=(i,)) for i in range(N)]
        vt = threading.Thread(target=vacuumer)
        for t in ths:
            t.start()
        vt.start()
        for t in ths:
            t.join()
        stop.set()
        vt.join()
        assert not errors, errors
        want = sorted(k for ks in committed.values() for k in ks)
        assert len(want) == N * COMMITS_EACH * BATCH
        got_a = sorted(r["k"] for r in C.catalog_read(spark, cat, "ta").collect())
        got_b = sorted(r["k"] for r in C.catalog_read(spark, cat, "tb").collect())
        assert got_a == want and got_b == want  # atomic: tables agree


class TestAtomicUpload:
    """flows.upload_dataset into an atomic catalog: the e2e transaction."""

    def test_upload_reads_complete_and_replay_converges(
        self, spark, tmp_path
    ):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        out = _upload(spark, src, tmp_path, cat_dir)
        assert out["data_set"].count() == 1
        assert out["frames_global"].count() == 1
        assert out["frames"].count() == 6
        # ONE catalog version holds all three tables consistently
        assert C.catalog_versions(cat_dir) == [1]
        ds = C.catalog_read(spark, cat_dir, "data_set").collect()
        fg = C.catalog_read(spark, cat_dir, "frames_global").collect()
        fr = C.catalog_read(spark, cat_dir, "frames").collect()
        assert len(ds) == 1 and len(fg) == 1 and len(fr) == 6
        assert fg[0]["dataset_id"] == ds[0]["id"]
        assert all(r["frames_global_id"] == fg[0]["id"] for r in fr)
        assert fg[0]["nbr_frames"] == 6
        # replay: no new version, empty deltas
        out2 = _upload(spark, src, tmp_path, cat_dir)
        assert out2["data_set"].count() == 0
        assert out2["frames"].count() == 0
        assert C.catalog_versions(cat_dir) == [1]
        # second dataset: version 2, ids allocated past the first
        out3 = _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        assert out3["frames"].count() == 6
        assert C.catalog_versions(cat_dir) == [1, 2]
        ds2 = {
            r["dataset_serial"]: r["id"]
            for r in C.catalog_read(spark, cat_dir, "data_set").collect()
        }
        assert len(ds2) == 2 and len(set(ds2.values())) == 2

    def test_crash_at_any_point_is_all_or_nothing(
        self, spark, tmp_path, monkeypatch
    ):
        """THE closing of the torn window: crash after 1, 2, or 3 tables'
        data files are written — and at the publish link itself — and a
        catalog reader sees NO trace of the upload each time. A crash
        while landing a table also leaves no data dir, bloom sidecar or
        group file of the tables that did land: the commit drops them
        before re-raising, without waiting for vacuum."""
        import glob
        import os

        import imagingdb_spark.snapshots as S

        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        blooms = {"frames": ["sha256"]}

        real_write = S._write_data_files
        real_publish = C._publish_commit

        def crash_after_n_tables(n):
            # the tables land on concurrent threads: count under a lock
            calls = {"n": 0}
            lock = threading.Lock()

            def crashing(df, table_dir):
                with lock:
                    if calls["n"] >= n:
                        raise RuntimeError("simulated crash mid-transaction")
                    calls["n"] += 1
                return real_write(df, table_dir)

            return crashing

        def debris():
            return [
                p
                for pat in ("*/data/*", "*/_blooms/*", "*/_manifests/groups/*")
                for p in glob.glob(os.path.join(cat_dir, pat))
            ]

        for n_ok in (0, 1, 2):
            monkeypatch.setattr(
                S, "_write_data_files", crash_after_n_tables(n_ok)
            )
            with pytest.raises(RuntimeError, match="simulated crash"):
                _upload(spark, src, tmp_path, cat_dir, bloom_columns=blooms)
            monkeypatch.setattr(S, "_write_data_files", real_write)
            # NOTHING visible — not even the dataset row
            assert C.catalog_versions(cat_dir) == []
            assert debris() == [], n_ok

        # crash at the publish link itself: still nothing visible
        def boom(*a, **kw):
            raise RuntimeError("simulated crash at publish")

        monkeypatch.setattr(C, "_publish_commit", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            _upload(spark, src, tmp_path, cat_dir)
        monkeypatch.setattr(C, "_publish_commit", real_publish)
        assert C.catalog_versions(cat_dir) == []

        # the re-run after the crash completes the WHOLE dataset at once
        out = _upload(spark, src, tmp_path, cat_dir)
        assert out["frames"].count() == 6
        assert C.catalog_read(spark, cat_dir, "frames").count() == 6
        # the crashed attempts' debris is vacuumable, tip unharmed
        C.catalog_vacuum(spark, cat_dir)
        assert C.catalog_read(spark, cat_dir, "frames").count() == 6

    def test_concurrent_same_serial_uploads_land_one_dataset(
        self, spark, tmp_path
    ):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        outs = {}

        def run(tag):
            outs[tag] = _upload(spark, src, tmp_path, cat_dir)

        ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        ds = C.catalog_read(spark, cat_dir, "data_set").collect()
        fg = C.catalog_read(spark, cat_dir, "frames_global").collect()
        fr = C.catalog_read(spark, cat_dir, "frames").collect()
        assert len(ds) == 1 and len(fg) == 1 and len(fr) == 6
        assert fg[0]["dataset_id"] == ds[0]["id"]
        landed = sum(1 for o in outs.values() if o["data_set"].count() == 1)
        assert landed == 1  # exactly one writer's delta is non-empty

    @pytest.mark.parametrize("legacy", ["snapshot", "parquet"])
    def test_migrate_per_table_catalog_to_atomic(
        self, spark, imaging, tmp_path, legacy
    ):
        """migrate_catalog: the imaging tables as per-table snapshot
        tables (or legacy ``<name>.parquet`` files) move into a fresh
        atomic catalog with identical content, uploads continue there
        atomically with ids above the migrated ones, and the source stays
        intact."""
        src_dir = tmp_path / "old"
        for name, df in imaging.items():
            if legacy == "snapshot":
                S.snapshot_commit(spark, str(src_dir / name), df)
            else:
                df.write.parquet(str(src_dir / f"{name}.parquet"))
        src_dir = str(src_dir)
        dest = str(tmp_path / "new")
        keys = {**flows.FRAMES_KEYS, **flows.FILE_KEYS}
        v = C.migrate_catalog(spark, src_dir, dest, IMAGING_SCHEMAS, keys)
        assert v == 1
        for name, df in imaging.items():
            assert C.catalog_read(spark, dest, name).count() == df.count()
        # source untouched
        old = (
            S.snapshot_read(spark, f"{src_dir}/frames")
            if legacy == "snapshot"
            else spark.read.parquet(f"{src_dir}/frames.parquet")
        )
        assert old.count() == 18
        # uploads continue on the atomic catalog, above the migrated ids
        src = _src_file(tmp_path)
        out = _upload(spark, src, tmp_path, dest, serial=UP_SERIAL2)
        assert [r["id"] for r in out["data_set"].collect()] == [5]
        assert out["frames"].count() == 6
        assert C.catalog_read(spark, dest, "frames").count() == 24
        # replaying an upload of a migrated serial converges (content
        # carried over)
        out2 = _upload(
            spark, src, tmp_path, dest, serial="TEST-2005-10-09-20-00-00-0001"
        )
        assert out2["data_set"].count() == 0
        assert out2["frames_global"].count() == 0
        # same-dir migration and double-migration refused
        with pytest.raises(ValueError, match="fresh destination"):
            C.migrate_catalog(spark, src_dir, src_dir, IMAGING_SCHEMAS, keys)
        with pytest.raises(ValueError, match="already holds"):
            C.migrate_catalog(spark, src_dir, dest, IMAGING_SCHEMAS, keys)

    def test_cli_reads_atomic_catalog_and_slice_prunes(self, spark, tmp_path):
        """cli.load_catalog / load_catalog_slice consume an atomic
        catalog: all views resolve from ONE pinned commit, the slice
        equals the filtered full views, and the e2e download flow works
        over them unchanged."""
        from imagingdb_spark import cli

        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)

        full = cli.load_catalog(spark, cat_dir)
        assert full["data_set"].count() == 2
        assert full["frames"].count() == 12
        assert full["file_global"].count() == 0  # typed empty, no error

        sl = cli.load_catalog_slice(spark, cat_dir, UP_SERIAL)
        assert [r["dataset_serial"] for r in sl["data_set"].collect()] == [
            UP_SERIAL
        ]
        assert sl["frames"].count() == 6
        ds_id = sl["data_set"].collect()[0]["id"]
        assert all(
            r["dataset_id"] == ds_id for r in sl["frames_global"].collect()
        )
        # absent serial falls back to the full views (error surface fires
        # in the caller exactly as before)
        missing = cli.load_catalog_slice(spark, cat_dir, "TEST-2099-01-01-00-00-00-0001")
        assert missing["data_set"].count() == 2

        # e2e download over the atomic catalog views
        dest = tmp_path / "dl"
        dest.mkdir()
        storage_dir, names = flows.download_dataset(
            spark, full, UP_SERIAL, str(dest),
            storage_root=str(tmp_path / "store"),
        )
        assert len(names) == 6

    def test_file_upload_atomic(self, spark, tmp_path):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path, "whole.bin")
        man = spark.createDataFrame(
            [(UP_SERIAL, src, "Testing", "none")],
            "dataset_serial string, file_name string, description string, "
            "parent_dataset_id string",
        )
        out = flows.upload_dataset(
            spark,
            man,
            cat_dir,
            storage_root=str(tmp_path / "store"),
            upload_type="file",
        )
        assert out["data_set"].count() == 1
        assert out["file_global"].count() == 1
        ds = C.catalog_read(spark, cat_dir, "data_set").collect()
        fgl = C.catalog_read(spark, cat_dir, "file_global").collect()
        assert ds[0]["frames"] is False
        assert fgl[0]["dataset_id"] == ds[0]["id"]
        # views helper: consistent dict with typed empties for the unused
        views = C.catalog_views(spark, cat_dir, IMAGING_SCHEMAS)
        assert views["frames"].count() == 0
        assert views["file_global"].count() == 1


class TestInsertFramesAtomic:
    """flows.insert_frames_atomic called directly (no blob store, no
    splitter): two datasets in one upload, a replay of it, then a third
    dataset whose parent is the first. Pins the surrogate ids, the
    data_set.id -> frames_global.dataset_id -> frames.frames_global_id
    chain, the replay's empty publish and the delta schemas."""

    DS_DDL = (
        "dataset_serial string, description string, microscope string, "
        "parent_dataset_id string, storage_dir string, bit_depth string, "
        "im_width int, im_height int, im_colors int, metadata_json string"
    )
    FR_DDL = (
        "dataset_serial string, channel_idx int, slice_idx int, "
        "time_idx int, pos_idx int, channel_name string, file_name string, "
        "sha256 string, metadata_json string"
    )
    SERIALS = (
        "TEST-2005-06-09-20-00-00-0001",
        "TEST-2005-06-10-20-00-00-0001",
        "TEST-2005-06-11-20-00-00-0001",
    )

    @classmethod
    def _inputs(cls, spark, serials, parent="none"):
        ds, fr = [], []
        for s in serials:
            ds.append((s, f"upload {s}", "scope1", parent, f"raw/{s}",
                       "uint16", 8, 8, 1, "{}"))
            for c in range(2):
                for z in (5, 6, 7):
                    name = f"im_c{c:03d}_z{z:03d}_t000_p000.png"
                    fr.append((s, c, z, 0, 0, f"ch{c}", name,
                               f"{s}/{name}", "{}"))

        def frame(rows, ddl):
            # Arrow-backed: a Python-list frame would be re-read by
            # Python workers in every job of the commit
            names = [c.split()[0] for c in ddl.split(",")]
            pdf = pd.DataFrame(rows, columns=names)
            return spark.createDataFrame(pdf, ddl)

        return frame(ds, cls.DS_DDL), frame(fr, cls.FR_DDL)

    @pytest.fixture(scope="class")
    def run(self, spark, tmp_path_factory):
        cat = str(tmp_path_factory.mktemp("atomic") / "cat")
        blooms = {"frames": ["sha256"]}
        steps = []
        for serials, parent in (
            (self.SERIALS[:2], "none"),
            (self.SERIALS[:2], "none"),  # replay
            (self.SERIALS[2:], self.SERIALS[0]),
        ):
            deltas = flows.insert_frames_atomic(
                *self._inputs(spark, serials, parent), cat,
                bloom_columns=blooms,
            )
            steps.append((deltas, C.catalog_versions(cat)))
        return cat, steps

    def test_ids_chain_and_versions(self, spark, run):
        cat, steps = run
        assert [v for _, v in steps] == [[1], [1], [1, 2]]
        a, b, c = self.SERIALS
        ds = sorted(
            (r["id"], r["dataset_serial"], r["parent_id"])
            for r in C.catalog_read(spark, cat, "data_set").collect()
        )
        assert ds == [(1, a, None), (2, b, None), (3, c, 1)]
        fg = sorted(
            (r["id"], r["dataset_id"], r["nbr_frames"], r["nbr_slices"],
             r["nbr_channels"])
            for r in C.catalog_read(spark, cat, "frames_global").collect()
        )
        assert fg == [(1, 1, 6, 3, 2), (2, 2, 6, 3, 2), (3, 3, 6, 3, 2)]
        fr = sorted(
            (r["id"], r["frames_global_id"], r["sha256"])
            for r in C.catalog_read(spark, cat, "frames").collect()
        )
        names = sorted(
            f"im_c{ch:03d}_z{z:03d}_t000_p000.png"
            for ch in range(2) for z in (5, 6, 7)
        )
        # ids follow (dataset_serial, file_name) order within a commit
        assert fr == [
            (i * 6 + j + 1, i + 1, f"{s}/{n}")
            for i, s in enumerate(self.SERIALS)
            for j, n in enumerate(names)
        ]

    def test_deltas(self, spark, run):
        cat, steps = run
        counts = [
            tuple(d.count() for d in deltas) for deltas, _ in steps
        ]
        assert counts == [(2, 2, 12), (0, 0, 0), (1, 1, 6)]
        tip = {
            n: C.catalog_read(spark, cat, n).schema
            for n in ("data_set", "frames_global", "frames")
        }
        for deltas, _ in steps:
            for name, d in zip(("data_set", "frames_global", "frames"),
                               deltas):
                assert d.schema == tip[name], name

    def test_all_pruned_point_read(self, spark, run):
        cat, _ = run
        # inside every file's [min, max]: only the blooms can drop it
        absent = [("sha256", "=", f"{self.SERIALS[0]}/im_c000_z005_x")]
        m = C.catalog_manifest(cat)["tables"]["frames"]
        plan: dict = {}
        assert not S._resolve_pruned(
            C._table_dir(cat, "frames"), m, absent, plan
        )
        assert plan["files_bloom_dropped"] >= 1
        got = C.catalog_read(spark, cat, "frames", where=absent)
        assert got.count() == 0
        assert got.schema == C.catalog_read(spark, cat, "frames").schema


def _jobs_in_group(spark, fn) -> int:
    """Spark jobs ``fn`` submits, AQE stage jobs included, counted by the
    status tracker in a fresh job group."""
    sc = spark.sparkContext
    gid = f"snapcatalog-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "snapcatalog job count")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _marker_job(spark) -> int:
    """Id of one job run in a job group of its own. The status tracker
    fills from the listener bus, which delivers job starts in id order:
    once the marker shows, every earlier job shows too."""
    import time

    sc = spark.sparkContext
    gid = f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "marker job")
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for _ in range(100):
        ids = sc.statusTracker().getJobIdsForGroup(gid)
        if ids:
            return max(ids)
        time.sleep(0.1)
    raise AssertionError("marker job never reached the status tracker")


class TestUploadIdAllocation:
    """Id allocation of the atomic upload builders: one lookup collect per
    commit attempt, new ids handed out on the driver above high-water
    marks read from the tip manifest's ``id`` bounds. The pinned ids are
    the ones max(id) + row_number allocation gives for the same uploads."""

    S0, S1, S2 = TestInsertFramesAtomic.SERIALS
    S3 = "TEST-2005-06-12-20-00-00-0001"
    FILE_DDL = (
        "dataset_serial string, description string, microscope string, "
        "parent_dataset_id string, storage_dir string, file_name string, "
        "metadata_json string, sha256 string"
    )

    @classmethod
    def _files(cls, spark, rows):
        names = [c.split()[0] for c in cls.FILE_DDL.split(",")]
        return spark.createDataFrame(
            pd.DataFrame(
                [
                    (s, f"file {s}", "scope1", "none", f"raw/{s}", name,
                     "{}", f"{s}/{name}")
                    for s, name in rows
                ],
                columns=names,
            ),
            cls.FILE_DDL,
        )

    @staticmethod
    def _tables(spark, cat):
        def rows(name, *cols):
            if name not in C.catalog_manifest(cat)["tables"]:
                return []
            return sorted(
                tuple(r[c] for c in cols)
                for r in C.catalog_read(spark, cat, name).collect()
            )

        return {
            "data_set": rows(
                "data_set", "id", "dataset_serial", "parent_id", "frames"
            ),
            "frames_global": rows("frames_global", "id", "dataset_id"),
            "file_global": rows("file_global", "id", "dataset_id"),
            "frames": rows("frames", "id", "frames_global_id"),
        }

    @staticmethod
    def _assert_no_orphans(t):
        ds = {r[0] for r in t["data_set"]}
        fg = {r[0] for r in t["frames_global"]}
        assert {r[1] for r in t["frames_global"]} <= ds
        assert {r[1] for r in t["file_global"]} <= ds
        assert {r[1] for r in t["frames"]} <= fg
        for rows in t.values():
            ids = [r[0] for r in rows]
            assert len(ids) == len(set(ids))

    @staticmethod
    def _strip_id_bounds(cat):
        """Drop the ``id`` bound from every group ref of the tip commit."""
        import json
        import os

        v = C.catalog_versions(cat)[-1]
        path = os.path.join(cat, C.COMMITS_DIR, f"v{v:08d}.json")
        with open(path) as f:
            commit = json.load(f)
        for m in commit["tables"].values():
            for g in m["groups"]:
                (g.get("stats") or {}).pop("id", None)
        with open(path, "w") as f:
            json.dump(commit, f)

    @pytest.fixture(scope="class")
    def seq(self, spark, tmp_path_factory):
        """Two datasets, their replay, a third with the first as parent;
        then, on the catalog and on a copy without ``id`` bounds, a
        dataset whose data_set row exists (a file upload) but whose
        frames_global row does not."""
        root = tmp_path_factory.mktemp("ids")
        cat, stripped = str(root / "cat"), str(root / "stripped")
        inputs = TestInsertFramesAtomic._inputs
        for serials, parent in (
            ((self.S0, self.S1), "none"),
            ((self.S0, self.S1), "none"),
            ((self.S2,), self.S0),
        ):
            flows.insert_frames_atomic(*inputs(spark, serials, parent), cat)
        shutil.copytree(cat, stripped)
        self._strip_id_bounds(stripped)
        for c in (cat, stripped):
            flows.insert_file_atomic(
                self._files(spark, [(self.S3, "a.tif")]), c
            )
            flows.insert_frames_atomic(*inputs(spark, [self.S3]), c)
        return cat, stripped

    def test_ids_across_uploads(self, spark, seq):
        cat, _ = seq
        assert C.catalog_versions(cat) == [1, 2, 3, 4]
        t = self._tables(spark, cat)
        assert t["data_set"] == [
            (1, self.S0, None, True),
            (2, self.S1, None, True),
            (3, self.S2, 1, True),
            (4, self.S3, None, False),
        ]
        assert t["frames_global"] == [(1, 1), (2, 2), (3, 3), (4, 4)]
        assert t["file_global"] == [(1, 4)]
        assert t["frames"] == [(i, (i - 1) // 6 + 1) for i in range(1, 25)]
        m = C.catalog_manifest(cat)["tables"]
        assert [
            S.manifest_upper_bound(m.get(n), "id")
            for n in ("data_set", "frames_global", "frames", "file_global")
        ] == [4, 4, 24, 1]
        assert S.manifest_upper_bound(None, "id") == 0

    def test_missing_id_bounds_fall_back_to_same_ids(self, spark, seq):
        cat, stripped = seq
        m = C.catalog_manifest(stripped)["tables"]
        for name in ("data_set", "frames_global", "frames"):
            assert S.manifest_upper_bound(m[name], "id") is None
        assert self._tables(spark, stripped) == self._tables(spark, cat)

    def test_serial_named_twice_gets_one_id(self, spark, tmp_path):
        """Before, every input row took an id and the commit kept an
        arbitrary one of the duplicates: data_set ids {1, 3}, with a
        frames_global row pointing at the unwritten dataset 2."""
        cat = str(tmp_path / "cat")
        ds, fr = TestInsertFramesAtomic._inputs(spark, [self.S0, self.S1])
        ds = ds.unionByName(ds.filter(F.col("dataset_serial") == self.S0))
        fr = fr.filter(F.col("channel_idx") == 0)  # 3 frames per serial
        flows.insert_frames_atomic(ds, fr, cat)
        t = self._tables(spark, cat)
        self._assert_no_orphans(t)
        assert [r[:2] for r in t["data_set"]] == [(1, self.S0), (2, self.S1)]
        assert t["frames_global"] == [(1, 1), (2, 2)]
        assert t["frames"] == [(i, (i - 1) // 3 + 1) for i in range(1, 7)]

    def test_file_serial_named_twice_gets_one_id(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        flows.insert_file_atomic(
            self._files(
                spark,
                [(self.S0, "a.tif"), (self.S0, "b.tif"), (self.S1, "c.tif")],
            ),
            cat,
        )
        t = self._tables(spark, cat)
        self._assert_no_orphans(t)
        assert [r[:2] for r in t["data_set"]] == [(1, self.S0), (2, self.S1)]
        assert t["file_global"] == [(1, 1), (2, 2)]

    def test_dv_deleted_ids_are_not_reused(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        inputs = TestInsertFramesAtomic._inputs
        flows.insert_frames_atomic(*inputs(spark, [self.S0, self.S1]), cat)
        out = C.catalog_delete(
            spark,
            cat,
            {
                "data_set": [("dataset_serial", "=", self.S1)],
                "frames_global": [("dataset_id", "=", 2)],
                "frames": [("frames_global_id", "=", 2)],
            },
            mode="dv",
        )
        # the deleted rows share their files with the first dataset's, so
        # the files, and their id bounds, stay in the manifests
        for name in ("data_set", "frames_global", "frames"):
            audit = out["tables"][name]
            assert audit["files_dv"] >= 1 and audit["files_dropped"] == 0
        flows.insert_frames_atomic(*inputs(spark, [self.S2]), cat)
        t = self._tables(spark, cat)
        self._assert_no_orphans(t)
        assert [r[:2] for r in t["data_set"]] == [(1, self.S0), (3, self.S2)]
        assert t["frames_global"] == [(1, 1), (3, 3)]
        assert t["frames"] == [(i, 1) for i in range(1, 7)] + [
            (i, 3) for i in range(13, 19)
        ]

    def test_commit_and_replay_job_counts(self, spark, tmp_path):
        cat = str(tmp_path / "cat")
        inputs = TestInsertFramesAtomic._inputs
        flows.insert_frames_atomic(*inputs(spark, [self.S0]), cat)
        new, replay = inputs(spark, [self.S1]), inputs(spark, [self.S1])
        assert _jobs_in_group(
            spark, lambda: flows.insert_frames_atomic(*new, cat)
        ) <= 21
        assert _jobs_in_group(
            spark, lambda: flows.insert_frames_atomic(*replay, cat)
        ) <= 13
        assert C.catalog_versions(cat) == [1, 2]

    def test_commit_jobs_stay_in_caller_group(self, spark, tmp_path):
        """Every job a new upload and its replay submit, from the caller's
        thread or a table's landing thread, runs in the caller's job
        group: the job ids strictly between two marker jobs are exactly
        the group's. A job escaping the group lowers the counts above, so
        their bounds cannot catch it."""
        cat = str(tmp_path / "cat")
        inputs = TestInsertFramesAtomic._inputs
        new, replay = inputs(spark, [self.S0]), inputs(spark, [self.S0])
        sc = spark.sparkContext
        gid = f"snapcatalog-{uuid.uuid4().hex}"
        lo = _marker_job(spark)
        sc.setJobGroup(gid, "upload and replay")
        try:
            flows.insert_frames_atomic(
                *new, cat, bloom_columns={"frames": ["sha256"]}
            )
            flows.insert_frames_atomic(*replay, cat)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        hi = _marker_job(spark)
        assert C.catalog_versions(cat) == [1]
        in_group = set(sc.statusTracker().getJobIdsForGroup(gid))
        assert in_group and set(range(lo + 1, hi)) == in_group


class TestCatalogBloomIndex:
    """Per-table bloom sidecars through the atomic catalog: the property
    sets once, later commits inherit, pruned reads stay exact, vacuum
    keeps only referenced sidecars (blooms.py + catalog_commit wiring)."""

    @staticmethod
    def _sha_rows(spark, lo, n):
        return spark.range(lo, lo + n).selectExpr(
            "sha2(string(id), 256) AS h", "id AS n"
        ).repartition(4)

    def _commit(self, spark, cat, lo, n, blooms=None):
        def build(views):
            return {"frames": self._sha_rows(spark, lo, n)}

        return C.catalog_commit(
            spark, cat, build, keys={"frames": ["h"]},
            bloom_columns=blooms,
        )

    def test_point_probe_prunes_and_inherits(self, spark, tmp_path):
        from imagingdb_spark import snapshots as S

        cat = str(tmp_path / "cat")
        self._commit(spark, cat, 0, 500, blooms={"frames": ["h"]})
        for c in range(1, 4):  # later commits inherit the property
            self._commit(spark, cat, c * 500, 500)
        probe = spark.range(42, 43).selectExpr(
            "sha2(string(id), 256) AS h"
        ).collect()[0]["h"]
        got = C.catalog_read(
            spark, cat, "frames", where=[("h", "=", probe)]
        ).collect()
        assert [(r["h"], r["n"]) for r in got] == [(probe, 42)]
        # planning proof: the tip manifest's entries carry blooms and a
        # mid-range absent probe keeps ~no files (zone maps keep all)
        v = C.catalog_versions(cat)[-1]
        m = C._read_commit(cat, v)["tables"]["frames"]
        tdir = C._table_dir(cat, "frames")
        plan: dict = {}
        kept = S._resolve_pruned(tdir, m, [("h", "=", "8" * 64)], plan)
        assert plan["files_bloom_dropped"] >= plan["files_total"] - 1
        assert len(kept) <= 1

    def test_vacuum_keeps_live_drops_orphan(self, spark, tmp_path):
        import os
        import shutil

        from imagingdb_spark.blooms import BLOOM_DIR

        cat = str(tmp_path / "cat")
        self._commit(spark, cat, 0, 300, blooms={"frames": ["h"]})
        self._commit(spark, cat, 300, 300)
        tdir = C._table_dir(cat, "frames")
        broot = os.path.join(tdir, BLOOM_DIR)
        # fabricate a crashed attempt's orphan sidecar dir
        orphan = os.path.join(broot, "deadbeef")
        os.makedirs(orphan)
        open(os.path.join(orphan, "junk.parquet"), "wb").close()
        removed = C.catalog_vacuum(spark, cat)
        assert os.path.join(
            "frames", BLOOM_DIR, "deadbeef"
        ) in removed
        assert not os.path.exists(orphan)
        assert len(os.listdir(broot)) == 2  # both commits' live sidecars
        probe = spark.range(301, 302).selectExpr(
            "sha2(string(id), 256) AS h"
        ).collect()[0]["h"]
        got = C.catalog_read(
            spark, cat, "frames", where=[("h", "=", probe)]
        )
        assert got.count() == 1


class TestUploadBloomIndex:
    """upload_dataset(bloom_columns=...) end to end: an upload sets the
    frames table's sha256 bloom index, and a later sha point lookup
    through catalog_read prunes files (the reference's b-tree
    filter_by(sha256=...) shape, db_operations.py)."""

    def test_upload_then_sha_probe(self, spark, tmp_path):
        from imagingdb_spark import snapshots as S

        src = _src_file(tmp_path)
        cat_dir = str(tmp_path / "cat")
        man = spark.createDataFrame(
            [(UP_SERIAL, src, "Testing", "none")],
            "dataset_serial string, file_name string, description string, "
            "parent_dataset_id string",
        )
        flows.upload_dataset(
            spark,
            man,
            cat_dir,
            storage_root=str(tmp_path / "store"),
            upload_type="frames",
            page_reader=_fake_page_reader,
            global_meta={
                "im_width": 8, "im_height": 8,
                "nbr_channels": 2, "nbr_slices": 3,
            },
            bloom_columns={"frames": ["sha256"]},
        )
        frames = C.catalog_read(spark, cat_dir, "frames")
        sha = frames.select("sha256").first()["sha256"]
        got = C.catalog_read(
            spark, cat_dir, "frames", where=[("sha256", "=", sha)]
        ).collect()
        assert len(got) >= 1 and all(r["sha256"] == sha for r in got)
        # the property is ON the frames manifest and entries carry blooms
        v = C.catalog_versions(cat_dir)[-1]
        m = C._read_commit(cat_dir, v)["tables"]["frames"]
        assert m.get("blooms") == ["sha256"]
        entries = S._resolve_pruned(
            C._table_dir(cat_dir, "frames"), m, None
        )
        assert all(e.get("bloom") for e in entries)
        # an absent sha probes to zero files (blooms, not zone maps)
        plan: dict = {}
        kept = S._resolve_pruned(
            C._table_dir(cat_dir, "frames"), m,
            [("sha256", "=", "8" * 64)], plan,
        )
        assert plan["files_bloom_dropped"] >= 1
        assert not kept


class TestCatalogDelete:
    """Atomic multi-table row-level DELETE (round-9): removing a dataset
    means its data_set + frames_global + frames rows disappear TOGETHER —
    the reference's dataset-removal transaction scope
    (db_operations.py:14-38) over the copy-on-write rewrite."""

    def _two_datasets(self, spark, tmp_path):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        return cat_dir

    def test_dataset_removal_is_atomic_and_exact(self, spark, tmp_path):
        cat_dir = self._two_datasets(spark, tmp_path)
        pre_tip = C.catalog_versions(cat_dir)[-1]
        out = C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        assert out["version"] == pre_tip + 1
        # every serial-bearing table dropped exactly this dataset's rows
        assert out["tables"]["data_set"]["rows_deleted"] == 1
        assert out["tables"]["frames"]["rows_deleted"] == 6
        ds = C.catalog_read(spark, cat_dir, "data_set")
        assert ds.filter(F.col("dataset_serial") == UP_SERIAL).count() == 0
        assert ds.filter(F.col("dataset_serial") == UP_SERIAL2).count() == 1
        # the FK chain is cut consistently: every surviving frames_global
        # row joins a surviving data_set row, every frames row a
        # surviving frames_global row
        fg = C.catalog_read(spark, cat_dir, "frames_global")
        assert out["tables"]["frames_global"]["rows_deleted"] == 1
        assert fg.join(ds, fg.dataset_id == ds.id).count() == fg.count()
        fr = C.catalog_read(spark, cat_dir, "frames")
        assert fr.join(
            fg, fr.frames_global_id == fg.id
        ).count() == fr.count() == 6
        # legal hold: the pre-delete version still shows the dataset
        pre = C.catalog_manifest(cat_dir, version=pre_tip)
        assert C.read_table_at(
            spark, cat_dir, pre, "data_set"
        ).filter(F.col("dataset_serial") == UP_SERIAL).count() == 1

    def test_crash_at_publish_leaves_every_table(self, spark, tmp_path, monkeypatch):
        cat_dir = self._two_datasets(spark, tmp_path)
        before = {
            t: C.catalog_read(spark, cat_dir, t).count()
            for t in ("data_set", "frames", "frames_global")
        }
        tip = C.catalog_versions(cat_dir)[-1]
        real = C._publish_commit

        def boom(*a, **kw):
            raise RuntimeError("simulated crash at catalog publish")

        monkeypatch.setattr(C, "_publish_commit", boom)
        with pytest.raises(RuntimeError, match="simulated crash"):
            C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        monkeypatch.setattr(C, "_publish_commit", real)
        assert C.catalog_versions(cat_dir)[-1] == tip
        after = {
            t: C.catalog_read(spark, cat_dir, t).count()
            for t in ("data_set", "frames", "frames_global")
        }
        assert after == before
        # debris vacuums; the retry completes the takedown atomically
        C.catalog_vacuum(spark, cat_dir)
        out = C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        assert out["tables"]["frames"]["rows_deleted"] == 6

    def test_no_match_publishes_nothing(self, spark, tmp_path):
        cat_dir = self._two_datasets(spark, tmp_path)
        tip = C.catalog_versions(cat_dir)[-1]
        out = C.catalog_delete(
            spark, cat_dir,
            {"frames": [("channel_name", "=", "NOPE-0000")]},
        )
        assert out["version"] == tip
        assert C.catalog_versions(cat_dir)[-1] == tip
        with pytest.raises(ValueError, match="non-empty predicate"):
            C.catalog_delete(spark, cat_dir, {"frames": []})
        with pytest.raises(ValueError, match="no table"):
            C.catalog_delete(
                spark, cat_dir, {"nope": [("x", "=", 1)]}
            )

    def test_racing_commit_forces_full_rebase(self, spark, tmp_path, monkeypatch):
        cat_dir = self._two_datasets(spark, tmp_path)
        src = _src_file(tmp_path)
        real = C._publish_commit
        raced = {"done": False}
        third = "TEST-2005-06-11-20-00-00-1000"

        def racing(catalog_dir, version, commit):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(C, "_publish_commit", real)
                _upload(spark, src, tmp_path, cat_dir, serial=third)
                monkeypatch.setattr(C, "_publish_commit", racing)
            return real(catalog_dir, version, commit)

        monkeypatch.setattr(C, "_publish_commit", racing)
        out = C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        monkeypatch.setattr(C, "_publish_commit", real)
        assert out["tables"]["frames"]["rows_deleted"] == 6
        ds = C.catalog_read(spark, cat_dir, "data_set")
        serials = {r["dataset_serial"] for r in ds.collect()}
        # the interleaved upload survived AND the takedown landed
        assert serials == {UP_SERIAL2, third}

    def test_physical_erasure_after_expire_vacuum(self, spark, tmp_path):
        cat_dir = self._two_datasets(spark, tmp_path)
        C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        C.catalog_expire(cat_dir, keep_last=1)
        C.catalog_vacuum(spark, cat_dir)
        ds = C.catalog_read(spark, cat_dir, "data_set")
        assert ds.filter(F.col("dataset_serial") == UP_SERIAL).count() == 0
        assert ds.filter(F.col("dataset_serial") == UP_SERIAL2).count() == 1
        fr = C.catalog_read(spark, cat_dir, "frames")
        assert fr.count() == 6  # only the surviving dataset's frames


class TestCatalogDeleteBuilder:
    def test_builder_recaptures_racing_children(
        self, spark, tmp_path, monkeypatch
    ):
        """Review fix (r9): predicates DERIVED from table state (the
        frames-by-fg_id chain) must re-resolve inside the retry — a
        racing commit that adds a child row under the parent being
        deleted would otherwise leave that child as a permanent orphan."""
        cat = str(tmp_path / "cat")

        def build0(views):
            return {
                "parent": spark.createDataFrame(
                    [(1, "S1"), (2, "S2")], "id long, serial string"
                ),
                "child": spark.createDataFrame(
                    [(10, 1), (11, 2)], "cid long, parent_id long"
                ),
            }

        C.catalog_commit(
            spark, cat, build0, keys={"parent": ["id"], "child": ["cid"]}
        )
        real = C._publish_commit
        raced = {"done": False}

        def racing(catalog_dir, version, commit):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(C, "_publish_commit", real)
                C.catalog_commit(
                    spark, cat,
                    lambda v: {
                        "child": spark.createDataFrame(
                            [(12, 1)], "cid long, parent_id long"
                        )
                    },
                    keys={"child": ["cid"]},
                )
                monkeypatch.setattr(C, "_publish_commit", racing)
            return real(catalog_dir, version, commit)

        def delete_builder(views):
            p = views["parent"]
            ids = [
                r["id"] for r in p.filter(p.serial == "S1").collect()
            ]
            ch = views["child"]
            cids = [
                r["cid"]
                for r in ch.filter(ch.parent_id.isin(ids)).collect()
            ]
            return {
                "parent": [("serial", "=", "S1")],
                "child": [("cid", "in", cids or [-1])],
            }

        monkeypatch.setattr(C, "_publish_commit", racing)
        out = C.catalog_delete(spark, cat, delete_builder)
        monkeypatch.setattr(C, "_publish_commit", real)
        # the retry's re-built predicate captured the RACED-IN child 12
        assert out["tables"]["child"]["rows_deleted"] == 2
        kids = sorted(
            (r["cid"], r["parent_id"])
            for r in C.catalog_read(spark, cat, "child").collect()
        )
        assert kids == [(11, 2)]  # no orphan under the deleted parent
        assert [
            r["serial"]
            for r in C.catalog_read(spark, cat, "parent").collect()
        ] == ["S2"]


class TestCatalogChanges:
    """Multi-table incremental changelog (round-9): one poll returns the
    delta of EVERY table from one commit-object walk — a dataset's rows
    land in the same poll across all three tables, never split."""

    def test_one_poll_carries_the_whole_dataset(self, spark, tmp_path):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        cursor = C.catalog_versions(cat_dir)[-1]
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        plan = {}
        delta = C.catalog_changes(spark, cat_dir, cursor, plan=plan)
        assert set(delta) == {"data_set", "frames_global", "frames"}
        ds = delta["data_set"].collect()
        assert [r["dataset_serial"] for r in ds] == [UP_SERIAL2]
        assert delta["frames"].count() == 6
        # the frames belong to THIS poll's dataset — mutual consistency
        fg_ids = {r["id"] for r in delta["frames_global"].collect()}
        assert {
            r["frames_global_id"] for r in delta["frames"].collect()
        } == fg_ids
        assert plan["commits_walked"] == 1
        # caught up: empty dict
        tip = C.catalog_versions(cat_dir)[-1]
        assert C.catalog_changes(spark, cat_dir, tip) == {}

    def test_delete_contract_and_skip(self, spark, tmp_path):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        cursor = C.catalog_versions(cat_dir)[-1]
        C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        with pytest.raises(ValueError, match="delete commit"):
            C.catalog_changes(spark, cat_dir, cursor)
        assert (
            C.catalog_changes(
                spark, cat_dir, cursor, ignore_deletes=True
            )
            == {}
        )  # a delete commit adds no rows


class TestCatalogDeleteDV:
    def test_fk_chain_takedown_with_deletion_vectors(self, spark, tmp_path):
        """catalog_delete_dataset's multi-table atomicity composed with
        the DV strategy: catalog_delete(mode='dv') publishes one commit
        whose per-table manifests carry dv refs instead of rewritten
        files; reads anti-apply them and catalog vacuum reclaims."""
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        ds = C.catalog_read(spark, cat_dir, "data_set")
        ids = [
            r["id"]
            for r in ds.filter(ds.dataset_serial == UP_SERIAL).collect()
        ]
        out = C.catalog_delete(
            spark, cat_dir,
            {
                "data_set": [("dataset_serial", "=", UP_SERIAL)],
                "frames_global": [("dataset_id", "in", ids)],
            },
            mode="dv",
        )
        for name in ("data_set", "frames_global"):
            assert out["tables"][name]["rows_deleted"] > 0
            assert out["tables"][name]["files_rewritten"] == 0
        assert C.catalog_read(spark, cat_dir, "data_set").filter(
            F.col("dataset_serial") == UP_SERIAL
        ).count() == 0
        assert C.catalog_read(spark, cat_dir, "frames_global").filter(
            F.col("dataset_id").isin(ids)
        ).count() == 0
        # the survivor dataset is untouched
        assert C.catalog_read(spark, cat_dir, "data_set").filter(
            F.col("dataset_serial") == UP_SERIAL2
        ).count() == 1
        # time travel still shows the pre-delete rows; after expire+
        # vacuum the sidecars for expired versions are reclaimed but the
        # tip keeps anti-applying its own
        C.catalog_expire(cat_dir, keep_last=1)
        C.catalog_vacuum(spark, cat_dir)
        assert C.catalog_read(spark, cat_dir, "data_set").filter(
            F.col("dataset_serial") == UP_SERIAL
        ).count() == 0
        assert C.catalog_read(spark, cat_dir, "frames_global").count() > 0


class TestCatalogRowChanges:
    """Catalog-level row CDF (round-10 task 4): one commit-object walk
    yields per-table insert/delete/update rows stamped with the CATALOG
    version — a takedown's whole FK chain in one mutually-consistent
    feed."""

    def test_takedown_chain_in_one_stamp(self, spark, tmp_path):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        # the chain about to be deleted, read from the pre-delete tip
        ds = C.catalog_read(spark, cat_dir, "data_set")
        ds1 = [
            r["id"]
            for r in ds.filter(ds.dataset_serial == UP_SERIAL).collect()
        ]
        fg = C.catalog_read(spark, cat_dir, "frames_global")
        fg1 = {r["id"] for r in fg.filter(fg.dataset_id.isin(ds1)).collect()}
        cursor = C.catalog_versions(cat_dir)[-1]
        C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        plan = {}
        cdf = C.catalog_row_changes(spark, cat_dir, cursor, plan=plan)
        assert set(cdf) == {"data_set", "frames_global", "frames"}
        stamps = set()
        for name, df in cdf.items():
            rows = df.collect()
            assert {r["_change_type"] for r in rows} == {"delete"}
            stamps.update(r["_commit_version"] for r in rows)
        assert len(stamps) == 1  # ONE catalog version: mutually consistent
        assert {
            r["dataset_serial"] for r in cdf["data_set"].collect()
        } == {UP_SERIAL}
        assert {
            r["frames_global_id"] for r in cdf["frames"].collect()
        } == fg1
        assert plan["commits_walked"] == 1

    def test_tables_filter_skips_foreign_churn(self, spark, tmp_path):
        """Review fix (r10): a consumer following a subset of tables
        pays only that subset's group-diff work."""
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        cursor = C.catalog_versions(cat_dir)[-1]
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        plan = {}
        cdf = C.catalog_row_changes(
            spark, cat_dir, cursor, tables=["data_set"], plan=plan
        )
        assert set(cdf) == {"data_set"}
        full_plan = {}
        C.catalog_row_changes(spark, cat_dir, cursor, plan=full_plan)
        assert plan["files_read"] < full_plan["files_read"]

    def test_appends_read_as_inserts(self, spark, tmp_path):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        cursor = C.catalog_versions(cat_dir)[-1]
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        cdf = C.catalog_row_changes(spark, cat_dir, cursor)
        assert {r["_change_type"] for r in cdf["frames"].collect()} == {
            "insert"
        }
        assert cdf["frames"].count() == 6
        # caught up: empty dict
        tip = C.catalog_versions(cat_dir)[-1]
        assert C.catalog_row_changes(spark, cat_dir, tip) == {}

    def test_table_dropped_mid_window_fails_loudly(self, spark, tmp_path):
        """Round-10 ADVICE (low): a table that CHANGED in the window but
        is absent from the end commit would silently under-propagate its
        delete rows — the feed must raise, not skip."""
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        cursor = C.catalog_versions(cat_dir)[-1]
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        # hand-publish a commit that drops 'frames' (no public API drops
        # tables; a migration or operator mistake can) — the feed over a
        # window where frames changed then vanished must fail loudly
        tip = C.catalog_versions(cat_dir)[-1]
        commit = C._read_commit(cat_dir, tip)
        commit2 = {
            "version": tip + 1,
            "parent": tip,
            "tables": {
                n: m for n, m in commit["tables"].items() if n != "frames"
            },
        }
        C._publish_commit(cat_dir, tip + 1, commit2)
        with pytest.raises(ValueError, match="absent from the end commit"):
            C.catalog_row_changes(spark, cat_dir, cursor)
        # the UNCHANGED-then-dropped case must fail loudly too (review
        # fix): a window where frames received no commits before the
        # drop would otherwise never hit the end-schema alignment check
        with pytest.raises(ValueError, match="dropped at"):
            C.catalog_row_changes(spark, cat_dir, tip)
        # a window that ends BEFORE the drop still reads clean
        cdf = C.catalog_row_changes(spark, cat_dir, cursor, version=tip)
        assert "frames" in cdf
        # a consumer NOT following the dropped table is unaffected
        assert (
            C.catalog_row_changes(spark, cat_dir, tip, tables=["data_set"])
            == {}
        )


class TestCatalogPropagateDeletes:
    """catalog_propagate_deletes (round-10 task 4): a dataset takedown
    reaches DERIVED standalone snapshot tables from the one catalog
    feed, replay-safe across crashes."""

    def _setup(self, spark, tmp_path):
        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        _upload(spark, src, tmp_path, cat_dir)
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        # derived artifact OUTSIDE the catalog: one row per frames_global
        # id (a thumbnail/shard index shape)
        derived = str(tmp_path / "derived_idx")
        fg = C.catalog_read(spark, cat_dir, "frames_global")
        S.snapshot_commit(
            spark, derived,
            fg.selectExpr("id as fg_id", "'thumb' as blob").repartition(2),
        )
        return cat_dir, derived

    def test_propagation_parity_with_rebuild(self, spark, tmp_path):
        cat_dir, derived = self._setup(spark, tmp_path)
        cursor = C.catalog_versions(cat_dir)[-1]
        C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        out = C.catalog_propagate_deletes(
            spark, cat_dir, cursor,
            {"frames_global": {derived: ("id", "fg_id")}},
        )
        audit = out["sources"]["frames_global"]
        assert audit["deleted_keys"] > 0
        assert audit["targets"][derived]["path"] == "pruned_delete"
        # parity: the derived table equals a rebuild from the tip
        want = sorted(
            r["id"]
            for r in C.catalog_read(spark, cat_dir, "frames_global").collect()
        )
        got = sorted(
            r["fg_id"] for r in S.snapshot_read(spark, derived).collect()
        )
        assert got == want and len(got) > 0
        # replay the SAME window: net keys recompute, nothing re-deletes
        out2 = C.catalog_propagate_deletes(
            spark, cat_dir, cursor,
            {"frames_global": {derived: ("id", "fg_id")}},
        )
        t2 = out2["sources"]["frames_global"]["targets"]
        assert t2 == {} or t2[derived]["rows_deleted"] == 0

    def test_crash_mid_propagation_replays_safely(
        self, spark, tmp_path, monkeypatch
    ):
        """Two derived targets; the second target's delete crashes; the
        full propagation re-runs and converges — each target delete is
        its own atomic commit, so partial progress is never torn."""
        cat_dir, derived = self._setup(spark, tmp_path)
        derived2 = str(tmp_path / "derived2")
        fg = C.catalog_read(spark, cat_dir, "frames_global")
        S.snapshot_commit(
            spark, derived2,
            fg.selectExpr("id as fg_id", "1 as w").repartition(2),
        )
        cursor = C.catalog_versions(cat_dir)[-1]
        C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        real = S.snapshot_delete
        calls = {"n": 0}

        def crashing_delete(*a, **kw):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("simulated crash mid-propagation")
            return real(*a, **kw)

        monkeypatch.setattr(S, "snapshot_delete", crashing_delete)
        targets = {
            "frames_global": {derived: ("id", "fg_id"), derived2: ("id", "fg_id")}
        }
        with pytest.raises(RuntimeError, match="mid-propagation"):
            C.catalog_propagate_deletes(spark, cat_dir, cursor, targets)
        monkeypatch.setattr(S, "snapshot_delete", real)
        C.catalog_propagate_deletes(spark, cat_dir, cursor, targets)
        want = sorted(
            r["id"]
            for r in C.catalog_read(spark, cat_dir, "frames_global").collect()
        )
        for d, col in ((derived, "fg_id"), (derived2, "fg_id")):
            got = sorted(
                r[col] for r in S.snapshot_read(spark, d).collect()
            )
            assert got == want

    def test_dv_mode_propagation(self, spark, tmp_path):
        """mode='dv' pushes the takedown into the derived table as a
        deletion vector: zero data files rewritten."""
        cat_dir, derived = self._setup(spark, tmp_path)
        cursor = C.catalog_versions(cat_dir)[-1]
        C.catalog_delete_dataset(spark, cat_dir, UP_SERIAL)
        out = C.catalog_propagate_deletes(
            spark, cat_dir, cursor,
            {"frames_global": {derived: ("id", "fg_id")}},
            mode="dv",
        )
        audit = out["sources"]["frames_global"]["targets"][derived]
        assert audit["files_rewritten"] == 0 and audit["files_dv"] >= 1
        want = sorted(
            r["id"]
            for r in C.catalog_read(spark, cat_dir, "frames_global").collect()
        )
        got = sorted(
            r["fg_id"] for r in S.snapshot_read(spark, derived).collect()
        )
        assert got == want


class TestCatalogFeed:
    def test_multi_table_batches_and_pinned_replay(self, spark, tmp_path):
        """CatalogFeed delivers mutually consistent per-table deltas per
        poll and replays its pinned range with the same batch_id after a
        crash, even when a new catalog commit landed meanwhile."""
        from imagingdb_spark.streaming import jobs

        cat_dir = str(tmp_path / "cat")
        src = _src_file(tmp_path)
        seen = []
        crash = {"on": False}

        def sink(deltas, batch_id):
            seen.append(
                (batch_id, {t: df.count() for t, df in sorted(deltas.items())})
            )
            if crash["on"]:
                crash["on"] = False
                raise RuntimeError("simulated crash inside sink")

        feed = jobs.CatalogFeed(cat_dir, sink, str(tmp_path / "ck"))
        _upload(spark, src, tmp_path, cat_dir)
        assert feed.step() == 1
        assert seen[0][1]["frames"] == 6  # the whole dataset in ONE batch
        assert seen[0][1]["data_set"] == 1
        _upload(spark, src, tmp_path, cat_dir, serial=UP_SERIAL2)
        crash["on"] = True
        with pytest.raises(RuntimeError, match="simulated crash"):
            feed.step()
        third = "TEST-2005-06-12-20-00-00-1000"
        _upload(spark, src, tmp_path, cat_dir, serial=third)
        feed2 = jobs.CatalogFeed(cat_dir, sink, str(tmp_path / "ck"))
        assert feed2.step() == 2  # pinned replay: same range + batch_id
        assert feed2.step() == 3
        assert feed2.step() is None
        assert [b for b, _ in seen] == [1, 2, 2, 3]
        assert seen[2][1]["frames"] == 6  # replay = only the pinned delta
