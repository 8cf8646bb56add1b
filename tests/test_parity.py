"""Round-2 parity APIs: get_filenames (db_operations.py:276-325),
insert_file (db_operations.py:225-274, as flows.insert_file_atomic),
to_numpy_stack
(data_storage.py:198-241) — assertions mirror the reference's
tests/database/db_operations_tests.py and
tests/filestorage/data_storage_tests.py."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from imagingdb_spark import api, flows, ingest, multimodal


class TestGetFilenames:
    def test_frames_dataset_all(self, imaging):
        storage_dir, names = api.get_filenames(
            imaging["data_set"], imaging["frames_global"], imaging["frames"],
            imaging["file_global"], "TEST-2005-10-09-20-00-00-0001",
        )
        assert storage_dir == "raw_frames/TEST-2005-10-09-20-00-00-0001"
        assert len(names) == 6
        assert names == sorted(names)
        assert names[0] == "im_c000_z005_t050_p007.png"

    def test_frames_dataset_subset(self, imaging):
        _, names = api.get_filenames(
            imaging["data_set"], imaging["frames_global"], imaging["frames"],
            imaging["file_global"], "TEST-2005-10-09-20-00-00-0001",
            channels=["phase"], slices=[5],
        )
        assert names == ["im_c001_z005_t050_p007.png"]

    def test_file_dataset(self, imaging):
        storage_dir, names = api.get_filenames(
            imaging["data_set"], imaging["frames_global"], imaging["frames"],
            imaging["file_global"], "TEST-2005-10-12-20-00-00-0002",
        )
        assert storage_dir == "raw_files/TEST-2005-10-12-20-00-00-0002"
        assert names == ["test_file.lif"]

    def test_missing_dataset_raises(self, imaging):
        with pytest.raises(api.DatasetNotFoundError):
            api.get_filenames(
                imaging["data_set"], imaging["frames_global"], imaging["frames"],
                imaging["file_global"], "NOPE-2000-01-01-00-00-00-0000",
            )

    def test_empty_subset_raises(self, imaging):
        with pytest.raises(AssertionError, match="No frames"):
            api.get_filenames(
                imaging["data_set"], imaging["frames_global"], imaging["frames"],
                imaging["file_global"], "TEST-2005-10-09-20-00-00-0001",
                slices=[99],
            )


class TestInsertFile:
    @pytest.fixture()
    def new_files(self, spark):
        return spark.createDataFrame(
            [
                ("NEWF-2007-03-01-10-00-00-0001", "lif file", "scope1", "none",
                 "raw_files/NEWF-2007-03-01-10-00-00-0001", "a.lif",
                 '{"file_origin": "/data/a.lif"}', "b" * 64),
                ("NEWF-2007-03-01-11-00-00-0002", "czi file", "scope2",
                 "TEST-2005-10-09-20-00-00-0001",
                 "raw_files/NEWF-2007-03-01-11-00-00-0002", "b.czi",
                 '{"file_origin": "/data/b.czi"}', "c" * 64),
            ],
            "dataset_serial string, description string, microscope string, "
            "parent_dataset_id string, storage_dir string, file_name string, "
            "metadata_json string, sha256 string",
        )

    def test_rows_constructed(self, imaging_catalog, new_files):
        ds, fg = flows.insert_file_atomic(new_files, imaging_catalog)
        ds_rows = {r["dataset_serial"]: r for r in ds.collect()}
        assert len(ds_rows) == 2
        first = ds_rows["NEWF-2007-03-01-10-00-00-0001"]
        assert first["frames"] is False
        assert str(first["date_time"]) == "2007-03-01 10:00:00"
        assert first["parent_id"] is None
        # parent resolved through the existing catalog (serial -> id 1)
        assert ds_rows["NEWF-2007-03-01-11-00-00-0002"]["parent_id"] == 1
        # surrogate ids continue after the existing max (4 datasets in fixture)
        assert sorted(r["id"] for r in ds_rows.values()) == [5, 6]
        fg_rows = {r["file_name"]: r for r in fg.collect()}
        assert fg_rows["a.lif"]["sha256"] == "b" * 64
        assert fg_rows["a.lif"]["dataset_id"] == ds_rows[
            "NEWF-2007-03-01-10-00-00-0001"]["id"]
        assert sorted(r["id"] for r in fg_rows.values()) == [2, 3]

    def test_idempotent_on_existing_serial(self, imaging_catalog, new_files):
        from imagingdb_spark import snapcatalog as C

        dup = new_files.withColumn(
            "dataset_serial", F.lit("TEST-2005-10-12-20-00-00-0002")
        )
        ds, fg = flows.insert_file_atomic(dup, imaging_catalog)
        assert ds.count() == 0  # serial already catalogued -> anti-join drops
        assert fg.count() == 0
        assert C.catalog_versions(imaging_catalog) == [1]  # nothing published


class TestValidateGlobalMeta:
    def test_fixture_rows_all_valid(self, imaging):
        assert ingest.validate_global_meta(imaging["frames_global"]).count() == 0

    def test_null_required_field_violates(self, imaging):
        bad = imaging["frames_global"].withColumn(
            "bit_depth",
            F.when(F.col("id") == 2, F.lit(None)).otherwise(F.col("bit_depth")),
        )
        got = ingest.validate_global_meta(bad).collect()
        assert [r["id"] for r in got] == [2]

    def test_missing_column_violates_all(self, imaging):
        assert (
            ingest.validate_global_meta(
                imaging["frames_global"].drop("storage_dir")
            ).count()
            == imaging["frames_global"].count()
        )


class TestToNumpyStack:
    """Synthetic 2-channel z-stack, mirroring data_storage_tests.py: 2x3
    uint16 frames, channels {0,1}, non-0-based slices {5,6}, singleton
    time/pos — G/T/P squeeze away, coordinates are ranks not raw indices."""

    H, W = 2, 3

    def _im(self, name):
        seed = abs(hash(name)) % 1000
        return (np.arange(self.H * self.W, dtype=np.uint16) + seed).reshape(
            self.H, self.W
        )

    @pytest.fixture()
    def frames_meta(self, imaging):
        return (
            imaging["frames"]
            .filter(F.col("frames_global_id") == 1)
            .filter(F.col("channel_idx") < 2)
            .select("channel_idx", "slice_idx", "time_idx", "pos_idx", "file_name")
        )

    def test_shape_dim_order_and_rank_placement(self, frames_meta):
        gm = {"im_height": self.H, "im_width": self.W, "im_colors": 1,
              "bit_depth": "uint16"}
        stack, dim_str = multimodal.to_numpy_stack(frames_meta, gm, self._im)
        # X=2 Y=3 G=1 Z=2 C=2 T=1 P=1 -> squeeze G,T,P
        assert dim_str == "XYZC"
        assert stack.shape == (self.H, self.W, 2, 2)
        assert stack.dtype == np.uint16
        # slice 6 (rank 1), channel 1 (rank 1) holds that frame's pixels
        want = self._im("im_c001_z006_t050_p007.png")
        np.testing.assert_array_equal(stack[:, :, 1, 1], want)
        want00 = self._im("im_c000_z005_t050_p007.png")
        np.testing.assert_array_equal(stack[:, :, 0, 0], want00)

    def test_all_singleton_but_xy(self, frames_meta):
        one = frames_meta.filter(
            (F.col("channel_idx") == 0) & (F.col("slice_idx") == 5)
        )
        gm = {"im_height": self.H, "im_width": self.W, "im_colors": 1,
              "bit_depth": "uint16"}
        stack, dim_str = multimodal.to_numpy_stack(one, gm, self._im)
        assert dim_str == "XY"
        assert stack.shape == (self.H, self.W)


class TestSaltedJoin:
    def test_salted_equals_plain_join_under_skew(self, spark):
        """A salted join over a pathologically skewed key (90% of fact rows
        share one key) must produce exactly the plain join's rows — salting
        is a partitioning layout, never a semantics change."""
        import pandas as pd

        from imagingdb_spark.operators.joins import salted_join

        fact = spark.createDataFrame(
            [(1 if i % 10 else i, f"v{i}") for i in range(1000)],
            "k long, payload string",
        )
        dim = spark.createDataFrame(
            [(i, f"d{i}") for i in range(0, 1000, 1)][:50], "k long, attr string"
        )
        plain = sorted(
            map(tuple, fact.join(dim, "k").select("k", "payload", "attr").collect())
        )
        salted = sorted(
            map(
                tuple,
                salted_join(fact, dim, "k", n_salts=8)
                .select("k", "payload", "attr")
                .collect(),
            )
        )
        assert plain == salted and len(plain) > 0

    def test_salt_actually_spreads_hot_key(self, spark):
        """The hot key's fact rows must land in >1 salt bucket (the whole
        point); deterministic across runs (retry-safe)."""
        from pyspark.sql import functions as F

        from imagingdb_spark.operators.joins import salted_join

        fact = spark.createDataFrame(
            [(7, f"v{i}") for i in range(200)], "k long, payload string"
        )
        row_hash = F.xxhash64(*[F.col(c) for c in fact.columns])
        salts = fact.select(
            F.pmod(row_hash, F.lit(8)).cast("int").alias("s")
        ).distinct()
        assert salts.count() > 1


class TestConnectedComponents:
    def test_long_chain_converges_fast(self, spark):
        """A 200-node path graph (diameter 200) must converge within the
        round budget — pointer doubling makes rounds O(log d); plain
        min-propagation would need 200 rounds and raise."""
        from imagingdb_spark.operators.graph import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(200)], "doc_a long, doc_b long"
        )
        got = connected_components(pairs, max_iter=15).collect()
        assert len(got) == 201
        assert {r["cluster_id"] for r in got} == {0}


class TestGeomeanDecomposition:
    def test_udaf_matches_builtin_rewrite(self, spark):
        """The GROUPED_AGG pandas UDAF (extension-point demo) must agree
        group-for-group with the default ln→AVG→exp builtin decomposition
        at the query's 4-decimal contract."""
        from imagingdb_spark.catalog import table
        from imagingdb_spark.operators.aggregates import (
            a_geomean_udaf,
            geomean_grouped_udaf,
        )

        sf_dir = "/root/testdata/sf0.001"
        want = {
            r["l_returnflag"]: (r["n"], r["geomean"])
            for r in a_geomean_udaf(spark, sf_dir).collect()
        }
        li = table(spark, sf_dir, "lineitem")
        got = {
            r["l_returnflag"]: (r["n"], r["geomean"])
            for r in geomean_grouped_udaf(li, "l_returnflag", "l_extendedprice").collect()
        }
        assert got == want and want

    def test_udaf_matches_builtin_on_dirty_groups(self, spark):
        """NULLs and non-positive values must be excluded identically by
        both forms (log→NULL→AVG-skip vs the kernel's mask), with n still
        counting all rows."""
        from imagingdb_spark.operators.aggregates import geomean_grouped_udaf

        df = spark.createDataFrame(
            [("a", 2.0), ("a", 8.0), ("a", 0.0), ("a", -3.0), ("a", None),
             ("b", 0.0), ("b", None)],
            "g string, v double",
        )
        want = {
            r["g"]: (r["n"], r["geomean"])
            for r in df.groupBy("g")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.round(F.exp(F.avg(F.log("v"))), 4).alias("geomean"),
            )
            .collect()
        }
        got = {
            r["g"]: (r["n"], r["geomean"])
            for r in geomean_grouped_udaf(df, "g", "v").collect()
        }
        assert got == want
        assert want["a"] == (5, 4.0)  # sqrt(2*8); dirty rows dropped
        assert want["b"][1] is None  # no positive support -> NULL geomean


class TestIncrementalMatchIndexed:
    def test_matches_dfreq_ordered_form(self, spark):
        """The stored-index (hash-canonical-order) matcher must return
        exactly the same verified pairs as the per-run dfreq-ordered
        PPJoin — the prefix theorem holds under any fixed total order and
        verification is exact, so only the candidate superset may differ,
        never the output."""
        from imagingdb_spark.catalog import table
        from imagingdb_spark.operators.dedup import (
            canonical_prefixes,
            canonical_toksets,
            incremental_match,
            incremental_match_indexed,
        )

        sf_dir = "/root/testdata/sf0.001"
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        is_new = F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 1
        ).isin("0", "1", "2", "3")
        batch, corpus = docs.filter(is_new), docs.filter(~is_new)
        want = {
            (r["new_doc"], r["corpus_doc"], r["jaccard"])
            for r in incremental_match(batch, corpus).collect()
        }
        corpus_tok = canonical_toksets(corpus)
        got = {
            (r["new_doc"], r["corpus_doc"], r["jaccard"])
            for r in incremental_match_indexed(
                canonical_toksets(batch),
                canonical_prefixes(corpus_tok),
                corpus_tok,
            ).collect()
        }
        assert got == want and want
