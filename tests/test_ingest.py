"""Ingest-path tests: manifest validation, parent normalization and
resolution, frame naming and checksums (the row-level pieces of the
reference's insert path, db_operations.py:111-148 + 150-223, re-modeled
per SURVEY.md §7; the atomic insert itself is tested in test_flows.py
and test_snapcatalog.py)."""

import pytest
from pyspark.sql import functions as F

from imagingdb_spark import ingest


@pytest.fixture()
def manifest(spark, tmp_path):
    p = tmp_path / "manifest.csv"
    p.write_text(
        "dataset_id,file_name,description,parent_dataset_id,positions,microscope\n"
        "ISP-2005-06-09-20-00-00-0001,/data/a.tif,First,none,1,scope1\n"
        "ISP-2005-06-09-21-00-00-0002,/data/b.tif,Second,,2,scope2\n"
        "ISP-2005-06-09-22-00-00-0003,/data/c.tif,Third,ISP-2005-06-09-20-00-00-0001,3,scope1\n"
    )
    return ingest.read_manifest(spark, str(p))


def test_read_manifest(manifest):
    assert manifest.count() == 3
    assert "dataset_serial" in manifest.columns


def test_validate_manifest_all_valid(manifest):
    assert ingest.validate_manifest(manifest).count() == 0


def test_validate_manifest_catches_bad_serial(spark):
    bad = spark.createDataFrame([("BAD-SERIAL",)], "dataset_serial string")
    assert ingest.validate_manifest(bad).count() == 1


def test_normalize_parent(manifest):
    got = manifest.select(
        ingest.normalize_parent(F.col("parent_dataset_id")).alias("p")
    ).collect()
    assert [r["p"] for r in got] == [None, None, "ISP-2005-06-09-20-00-00-0001"]


def test_build_rows_and_resolve_parent(manifest, imaging):
    rows = ingest.build_data_set_rows(manifest)
    resolved = ingest.resolve_parent_ids(rows, imaging["data_set"])
    got = {r["dataset_serial"]: r["parent_id"] for r in resolved.collect()}
    assert got == {
        "ISP-2005-06-09-20-00-00-0001": None,
        "ISP-2005-06-09-21-00-00-0002": None,
        "ISP-2005-06-09-22-00-00-0003": None,  # parent not yet in catalog
    }
    dt = {r["dataset_serial"]: str(r["date_time"]) for r in resolved.collect()}
    assert dt["ISP-2005-06-09-20-00-00-0001"] == "2005-06-09 20:00:00"


def test_frame_file_name(spark):
    df = spark.createDataFrame([(0, 5, 50, 7)], "c int, z int, t int, p int")
    got = df.select(
        ingest.frame_file_name(F.col("c"), F.col("z"), F.col("t"), F.col("p")).alias("f")
    ).collect()
    assert got[0]["f"] == "im_c000_z005_t050_p007.png"


def test_with_sha256(spark):
    df = spark.createDataFrame([(bytearray(b"frame-bytes"),)], "payload binary")
    got = ingest.with_sha256(df).collect()[0]["sha256"]
    import hashlib

    assert got == hashlib.sha256(b"frame-bytes").hexdigest()

