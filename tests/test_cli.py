"""CLI parity tests mirroring the reference's golden-stdout suite
(tests/cli/query_data_tests.py:60-131: fixture datasets MEOW/PROJECT with
known dates, exact expected stdout) plus an upload→query→download round
trip through the CLI layer (tests/cli/data_uploader_tests.py:112-178
shape) using the real TIFF codec — no mocks, no fakes."""

from __future__ import annotations

import json
from datetime import datetime

import numpy as np
import pytest

from imagingdb_spark import cli
from imagingdb_spark.catalog import DATA_SET_SCHEMA


SERIALS = [
    ("MEOW-2010-05-05-00-00-00-0001", datetime(2010, 5, 5)),
    ("MEOW-2010-06-05-00-00-00-0001", datetime(2010, 6, 5)),
    ("PROJECT-2010-05-01-00-00-00-0001", datetime(2010, 5, 1)),
    ("PROJECT-2010-06-01-00-00-00-0001", datetime(2010, 6, 1)),
]


@pytest.fixture()
def login_file(spark, tmp_path):
    """An atomic catalog dir holding the reference test's four datasets
    (one catalog commit) + the login JSON pointing at it."""
    from imagingdb_spark import snapcatalog as C

    rows = [
        (i + 1, serial, f"desc {i}", "scope A", True, dt, None)
        for i, (serial, dt) in enumerate(SERIALS)
    ]
    cat = tmp_path / "catalog"
    C.catalog_commit(
        spark, str(cat),
        lambda views: {"data_set": spark.createDataFrame(rows, DATA_SET_SCHEMA)},
        keys={"data_set": ["dataset_serial"]},
    )
    login = tmp_path / "login.json"
    login.write_text(
        json.dumps(
            {"catalog_dir": str(cat), "storage_root": str(tmp_path / "store")}
        )
    )
    return str(login)


class TestQueryData:
    def test_golden_project_id(self, spark, login_file, capsys):
        # tests/cli/query_data_tests.py:106-112, verbatim expected output
        cli.query_data(login=login_file, project_id="MEOW", spark=spark)
        assert capsys.readouterr().out.strip() == (
            "Number of datasets matching your query: 2\n"
            "0 MEOW-2010-05-05-00-00-00-0001\n"
            "1 MEOW-2010-06-05-00-00-00-0001"
        )

    def test_golden_dates(self, spark, login_file, capsys):
        # tests/cli/query_data_tests.py:114-131
        cli.query_data(
            login=login_file,
            start_date="2010-05-01",
            end_date="2010-06-15",
            spark=spark,
        )
        assert capsys.readouterr().out.strip() == (
            "Number of datasets matching your query: 4\n"
            "0 MEOW-2010-05-05-00-00-00-0001\n"
            "1 MEOW-2010-06-05-00-00-00-0001\n"
            "2 PROJECT-2010-05-01-00-00-00-0001\n"
            "3 PROJECT-2010-06-01-00-00-00-0001"
        )

    def test_no_match(self, spark, login_file, capsys):
        cli.query_data(login=login_file, project_id="NOPE", spark=spark)
        assert capsys.readouterr().out.strip() == (
            "Number of datasets matching your query: 0"
        )

    def test_date_order_asserts(self, spark, login_file):
        with pytest.raises(AssertionError):
            cli.query_data(
                login=login_file,
                start_date="2010-06-15",
                end_date="2010-05-01",
                spark=spark,
            )

    def test_missing_login_key_rejected(self, spark, tmp_path):
        bad = tmp_path / "bad.json"
        bad.write_text(json.dumps({"storage_root": "/x"}))
        with pytest.raises(ValueError, match="catalog_dir"):
            cli.query_data(login=str(bad), spark=spark)


class TestUploadDownloadRoundTrip:
    UP_SERIAL = "CLI-2024-03-01-12-00-00-0001"

    def test_end_to_end(self, spark, tmp_path, capsys):
        from imagingdb_spark import tiff

        cat = tmp_path / "catalog"
        cat.mkdir()
        login = tmp_path / "login.json"
        login.write_text(
            json.dumps(
                {
                    "catalog_dir": str(cat),
                    "storage_root": str(tmp_path / "store"),
                }
            )
        )
        # 4 pages = 2 channels x 2 slices, real multi-page TIFF
        rng = np.arange(64, dtype=np.uint8).reshape(8, 8)
        pages = [rng + 10 * i for i in range(4)]
        src = tmp_path / "stack.tif"
        src.write_bytes(
            tiff.write_tiff(pages, description="channels=2\nslices=2")
        )
        manifest = tmp_path / "manifest.csv"
        manifest.write_text(
            "dataset_id,file_name,description,parent_dataset_id\n"
            f"{self.UP_SERIAL},{src},CLI test,none\n"
        )
        config = tmp_path / "config.json"
        config.write_text(
            json.dumps({"upload_type": "frames", "microscope": "scope-cli"})
        )

        cli.upload_data(
            csv=str(manifest),
            login=str(login),
            config=str(config),
            spark=spark,
        )
        out = capsys.readouterr().out
        assert f"File info for {self.UP_SERIAL} inserted in DB" in out
        # one atomic catalog commit, no per-table snapshot manifests
        assert (cat / "_commits" / "v00000001.json").exists()
        assert not list(cat.glob("*/_manifests/v*.json"))

        cli.query_data(login=str(login), project_id="CLI", spark=spark)
        assert capsys.readouterr().out.strip() == (
            "Number of datasets matching your query: 1\n"
            f"0 {self.UP_SERIAL}"
        )

        dest = tmp_path / "dl"
        dest.mkdir()
        cli.download_data(
            id=self.UP_SERIAL,
            dest=str(dest),
            login=str(login),
            spark=spark,
        )
        got = sorted(
            p.name for p in (dest / self.UP_SERIAL).iterdir()
        )
        # 4 frame PNGs + frames_meta.csv + global metadata json
        assert sum(n.endswith(".png") for n in got) == 4
        assert any("frames_meta" in n for n in got)


class TestUploadRefusesPerTableCatalog:
    """The CLI writes atomic catalogs only: a catalog_dir already holding
    a standalone snapshot table or a legacy ``<name>.parquet`` table is
    refused with a pointer to snapcatalog.migrate_catalog before any blob
    is written, and no catalog commit is published."""

    @pytest.mark.parametrize("legacy", ["snapshot", "parquet"])
    def test_refused_and_nothing_published(self, spark, tmp_path, legacy):
        from imagingdb_spark import snapcatalog as C
        from imagingdb_spark import snapshots as S

        cat = tmp_path / "catalog"
        cat.mkdir()
        serial, dt = SERIALS[0]
        rows = spark.createDataFrame(
            [(1, serial, "desc", "scope A", True, dt, None)], DATA_SET_SCHEMA
        )
        if legacy == "snapshot":
            S.snapshot_commit(spark, str(cat / "data_set"), rows)
        else:
            rows.write.parquet(str(cat / "data_set.parquet"))
        login = tmp_path / "login.json"
        login.write_text(
            json.dumps(
                {"catalog_dir": str(cat), "storage_root": str(tmp_path / "store")}
            )
        )
        src = tmp_path / "raw.lif"
        src.write_bytes(b"raw-file-bytes")
        manifest = tmp_path / "manifest.csv"
        manifest.write_text(
            "dataset_id,file_name,description,parent_dataset_id\n"
            f"CLI-2024-03-01-12-00-00-0002,{src},CLI test,none\n"
        )
        config = tmp_path / "config.json"
        config.write_text(
            json.dumps({"upload_type": "file", "microscope": "scope-cli"})
        )

        with pytest.raises(ValueError, match="migrate_catalog"):
            cli.upload_data(
                csv=str(manifest), login=str(login), config=str(config),
                spark=spark,
            )
        assert C.catalog_versions(str(cat)) == []
        assert not (cat / "_commits").exists()
        assert not (tmp_path / "store").exists()
        existing = (
            S.snapshot_read(spark, str(cat / "data_set"))
            if legacy == "snapshot"
            else spark.read.parquet(str(cat / "data_set.parquet"))
        )
        assert [r["dataset_serial"] for r in existing.collect()] == [serial]


class TestReadRefusesPerTableCatalog:
    """cli.load_catalog and load_catalog_slice read atomic catalogs only:
    a directory holding the ``imaging`` tables as standalone snapshot
    tables or as legacy ``<name>.parquet`` files is refused with a
    pointer to snapcatalog.migrate_catalog, and both read the catalog
    migrate_catalog makes of it."""

    @pytest.mark.parametrize("legacy", ["snapshot", "parquet"])
    def test_refused_then_read_after_migrate(self, spark, imaging, tmp_path,
                                             legacy):
        from imagingdb_spark import flows
        from imagingdb_spark import snapcatalog as C
        from imagingdb_spark import snapshots as S
        from imagingdb_spark.catalog import IMAGING_SCHEMAS

        src = tmp_path / "old"
        for name, df in imaging.items():
            if legacy == "snapshot":
                S.snapshot_commit(spark, str(src / name), df)
            else:
                df.write.parquet(str(src / f"{name}.parquet"))
        serial = "TEST-2005-10-09-20-00-00-0001"
        with pytest.raises(ValueError, match="migrate_catalog"):
            cli.load_catalog(spark, str(src))
        with pytest.raises(ValueError, match="migrate_catalog"):
            cli.load_catalog_slice(spark, str(src), serial)

        dest = str(tmp_path / "new")
        assert C.migrate_catalog(
            spark, str(src), dest, IMAGING_SCHEMAS,
            {**flows.FRAMES_KEYS, **flows.FILE_KEYS},
        ) == 1
        full = cli.load_catalog(spark, dest)
        for name, df in imaging.items():
            want = sorted(map(tuple, df.select(*df.columns).collect()))
            got = sorted(map(tuple, full[name].select(*df.columns).collect()))
            assert got == want, name
        sl = cli.load_catalog_slice(spark, dest, serial)
        assert [r["id"] for r in sl["data_set"].collect()] == [1]
        assert [r["id"] for r in sl["frames_global"].collect()] == [1]
        assert sl["frames"].count() == 6
        assert sl["file_global"].count() == 0


class TestParseArgs:
    def test_query_flags(self):
        ns = cli.parse_args(
            ["query", "--login", "l.json", "--project_id", "ML"]
        )
        assert ns.command == "query" and ns.project_id == "ML"
        assert ns.microscope is None

    def test_download_subset_flags(self):
        ns = cli.parse_args(
            [
                "download", "--id", "X-2020-01-01-00-00-00-0001",
                "--dest", "/tmp/d", "--login", "l.json",
                "-c", "ch0", "ch1", "-z", "0", "1", "--no-download",
            ]
        )
        assert ns.channels == ["ch0", "ch1"]
        assert ns.slices == [0, 1]
        assert ns.download is False and ns.metadata is True

    def test_upload_requires_config(self):
        with pytest.raises(SystemExit):
            cli.parse_args(["upload", "--csv", "m.csv", "--login", "l.json"])


class TestPipelineCommand:
    def test_audit_table_printed_and_output_written(self, spark, tmp_path, capsys):
        from imagingdb_spark import cli

        out = str(tmp_path / "corpus")
        cli.main([
            "pipeline", "--sf-dir", "/root/testdata/sf0.001", "--out", out,
        ])
        printed = capsys.readouterr().out
        for stage in (
            "quality_filter", "exact_dedup", "near_dedup",
            "decontaminate", "source_cap",
        ):
            assert stage in printed
        assert "Wrote" in printed
        back = spark.read.parquet(out)
        assert back.count() > 0
        # hive-partitioned by shard → shard-at-a-time reads prune files
        assert back.select("shard").distinct().count() > 1
        spark.catalog.clearCache()
