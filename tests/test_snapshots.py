"""Snapshot table format: atomicity, time travel, conflict detection,
vacuum, transactional compaction (imagingdb_spark/snapshots.py)."""

from __future__ import annotations

import json
import os

import pytest

from imagingdb_spark import snapshots as S


def _rows(df):
    return sorted((r["k"], r["v"]) for r in df.collect())


def _mk(spark, pairs):
    return spark.createDataFrame(pairs, "k long, v string")


class TestCommitAndRead:
    def test_append_overwrite_time_travel(self, spark, tmp_path):
        t = str(tmp_path / "t")
        v1 = S.snapshot_commit(spark, t, _mk(spark, [(1, "a"), (2, "b")]))
        v2 = S.snapshot_commit(spark, t, _mk(spark, [(3, "c")]))
        assert (v1, v2) == (1, 2)
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]
        v3 = S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]), mode="overwrite")
        assert v3 == 3
        assert _rows(S.snapshot_read(spark, t)) == [(9, "z")]
        # time travel: every retained version stays exactly readable
        assert _rows(S.snapshot_read(spark, t, version=1)) == [(1, "a"), (2, "b")]
        assert _rows(S.snapshot_read(spark, t, version=2)) == [
            (1, "a"), (2, "b"), (3, "c")]
        log = S.snapshot_versions(t)
        assert [m["version"] for m in log] == [1, 2, 3]
        assert [m["mode"] for m in log] == ["append", "append", "overwrite"]
        assert [m["rows"] for m in log] == [2, 3, 1]

    def test_empty_table_keeps_schema(self, spark, tmp_path):
        t = str(tmp_path / "t")
        empty = spark.createDataFrame([], "k long, v string")
        S.snapshot_commit(spark, t, empty)
        got = S.snapshot_read(spark, t)
        assert got.count() == 0
        assert [f.name for f in got.schema.fields] == ["k", "v"]

    def test_append_schema_mismatch_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        other = spark.createDataFrame([(1.5,)], "x double")
        with pytest.raises(ValueError, match="schema"):
            S.snapshot_commit(spark, t, other)

    def test_merge_schema_widens_additively(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        wide = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, w double")
        # without the flag: still refused
        with pytest.raises(ValueError, match="merge_schema"):
            S.snapshot_commit(spark, t, wide)
        S.snapshot_commit(spark, t, wide, merge_schema=True)
        got = S.snapshot_read(spark, t)
        assert [f.name for f in got.schema.fields] == ["k", "v", "w"]
        rows = {r["k"]: (r["v"], r["w"]) for r in got.collect()}
        assert rows == {1: ("a", None), 2: ("b", 9.5)}  # old file -> NULL w
        # time travel to the pre-evolution version keeps the narrow schema
        v1 = S.snapshot_read(spark, t, version=1)
        assert [f.name for f in v1.schema.fields] == ["k", "v"]
        # narrow appends keep working against the widened tip (additive
        # merge is symmetric: the delta lacking w is itself a widening)
        S.snapshot_commit(spark, t, _mk(spark, [(3, "c")]), merge_schema=True)
        got = {r["k"]: r["w"] for r in S.snapshot_read(spark, t).collect()}
        assert got == {1: None, 2: 9.5, 3: None}

    def test_merge_schema_refuses_type_change(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        retyped = spark.createDataFrame([(2.0, "b")], "k double, v string")
        with pytest.raises(ValueError, match="migrations"):
            S.snapshot_commit(spark, t, retyped, merge_schema=True)

    def test_missing_version_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        with pytest.raises(FileNotFoundError):
            S.snapshot_read(spark, t)
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        with pytest.raises(FileNotFoundError):
            S.snapshot_read(spark, t, version=7)


class TestCrashSafety:
    def test_torn_data_write_is_invisible(self, spark, tmp_path):
        """A crash after data files land but before the manifest link:
        readers see the old snapshot exactly; vacuum removes the debris."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        # simulate the torn write: data files only, no manifest
        S._write_data_files(_mk(spark, [(99, "torn")]), t)
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a")]
        deleted = S.snapshot_vacuum(spark, t)
        assert deleted and all(p.startswith("data/") for p in deleted)
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a")]
        # second vacuum is a no-op: nothing referenced was touched
        assert S.snapshot_vacuum(spark, t) == []

    def test_torn_manifest_temp_is_ignored_and_vacuumed(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        stale = os.path.join(t, S.MANIFEST_DIR, ".tmp.deadbeef")
        with open(stale, "w") as f:
            f.write('{"half-written": ')
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a")]
        assert S.snapshot_versions(t)[-1]["version"] == 1
        deleted = S.snapshot_vacuum(spark, t)
        assert os.path.join(S.MANIFEST_DIR, ".tmp.deadbeef") in deleted
        assert not os.path.exists(stale)

    def test_manifest_is_complete_before_visible(self, spark, tmp_path):
        """The published manifest is valid JSON whose group refs resolve
        to the full file list — the link-after-fsync protocol (groups are
        renamed into place BEFORE the version link) can't expose a
        partial tree."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(i, "x") for i in range(10)]))
        with open(os.path.join(t, S.MANIFEST_DIR, "v00000001.json")) as f:
            m = json.load(f)
        assert m["rows"] == 10 and m["groups"]
        for g in m["groups"]:
            files = S._read_group(t, g["name"])
            assert len(files) == g["n_files"]
            assert sum(fe["bytes"] for fe in files) == g["bytes"]
            for fe in files:
                assert os.path.getsize(os.path.join(t, fe["path"])) == fe["bytes"]


class TestConcurrency:
    def test_append_rebases_past_a_lost_race(self, spark, tmp_path, monkeypatch):
        """Two appends from the same parent: the loser relinks its data
        files onto the winner's tip — both commits' rows survive."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if not raced["done"]:
                raced["done"] = True
                real(table_dir, version, {
                    "version": version, "parent": version - 1,
                    "mode": "append",
                    "files": S._read_manifest(table_dir, version - 1)["files"],
                    "rows": S._read_manifest(table_dir, version - 1)["rows"],
                    "schema": manifest["schema"],
                })  # an interloper takes the slot first
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        v = S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]))
        monkeypatch.setattr(S, "_publish", real)
        assert v == 3  # rebased past the interloper's v2
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b")]

    def test_overwrite_conflict_raises(self, spark, tmp_path, monkeypatch):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        real = S._publish

        def racing_publish(table_dir, version, manifest):
            parent = S._read_manifest(table_dir, version - 1)
            real(table_dir, version, dict(parent, version=version,
                                          parent=version - 1))
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        with pytest.raises(S.SnapshotConflict):
            S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]), mode="overwrite")
        monkeypatch.setattr(S, "_publish", real)
        # the loser published NOTHING and dropped its rewrite whole
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a")]
        assert S.snapshot_vacuum(spark, t) == []
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a")]


class TestIdempotentAppend:
    def test_replay_converges(self, spark, tmp_path):
        t = str(tmp_path / "t")
        batch = _mk(spark, [(1, "a"), (2, "b"), (2, "b2")])
        v1 = S.snapshot_idempotent_append(spark, t, batch, ["k"])
        assert v1 == 1
        # within-batch dup collapsed; full replay publishes NOTHING new
        assert S.snapshot_read(spark, t).count() == 2
        v2 = S.snapshot_idempotent_append(spark, t, batch, ["k"])
        assert v2 == 1 and len(S.snapshot_versions(t)) == 1
        # the replay's empty delta dir was removed immediately, not left
        # as vacuum debris
        assert S.snapshot_vacuum(spark, t) == []
        # partial overlap: only the new key lands
        v3 = S.snapshot_idempotent_append(
            spark, t, _mk(spark, [(2, "dup"), (3, "c")]), ["k"])
        assert v3 == 2
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert sorted(got) == [1, 2, 3] and got[2] in ("b", "b2")

    def test_lost_race_recomputes_the_antijoin(
        self, spark, tmp_path, monkeypatch
    ):
        """A concurrent ingest inserts key 2 between this writer's
        anti-join and publish: the retry must re-check and drop key 2 —
        relinking the stale delta (plain append rebase) would double-insert."""
        t = str(tmp_path / "t")
        S.snapshot_idempotent_append(spark, t, _mk(spark, [(1, "a")]), ["k"])
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(spark, t, _mk(spark, [(2, "theirs")]))
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        v = S.snapshot_idempotent_append(
            spark, t, _mk(spark, [(2, "mine"), (3, "c")]), ["k"])
        monkeypatch.setattr(S, "_publish", real)
        assert v == 3
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got == {1: "a", 2: "theirs", 3: "c"}  # exactly-once by key


class TestExactlyOnceTxn:
    def test_replayed_batch_is_a_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        sink = S.snapshot_stream_sink(t, "q1")
        sink(_mk(spark, [(1, "a")]), 0)
        sink(_mk(spark, [(2, "b")]), 1)
        sink(_mk(spark, [(2, "b")]), 1)  # crash-replay of batch 1
        sink(_mk(spark, [(1, "a")]), 0)  # very late replay of batch 0
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b")]
        assert len(S.snapshot_versions(t)) == 2
        # replays wrote nothing at all — no debris for vacuum
        assert S.snapshot_vacuum(spark, t) == []

    def test_txn_apps_are_independent(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]), txn=("q1", 0))
        S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]), txn=("q2", 0))
        assert S.snapshot_read(spark, t).count() == 2

    def test_txn_survives_compaction(self, spark, tmp_path):
        t = str(tmp_path / "t")
        sink = S.snapshot_stream_sink(t, "q1")
        sink(_mk(spark, [(1, "a")]), 0)
        sink(_mk(spark, [(2, "b")]), 1)
        S.snapshot_compact(spark, t)
        sink(_mk(spark, [(2, "b")]), 1)  # replay AFTER compaction
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b")]

    def test_structured_streaming_end_to_end(self, spark, tmp_path):
        """Real readStream -> foreachBatch(snapshot_stream_sink): the table
        holds the stream's rows; restarting the query over the same input
        with a FRESH checkpoint (everything replays as batch 0) appends
        nothing."""
        src = str(tmp_path / "src")
        _mk(spark, [(1, "a"), (2, "b")]).write.parquet(src)
        t = str(tmp_path / "t")

        def run(ck):
            q = (
                spark.readStream.schema("k long, v string").parquet(src)
                .writeStream.foreachBatch(S.snapshot_stream_sink(t, "e2e"))
                .option("checkpointLocation", str(tmp_path / ck))
                .trigger(availableNow=True)
                .start()
            )
            q.processAllAvailable()
            q.stop()

        run("ck1")
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b")]
        run("ck2")  # full replay
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b")]
        assert len(S.snapshot_versions(t)) == 1

    def test_overwrite_same_txn_race_is_a_noop_not_a_conflict(
        self, spark, tmp_path, monkeypatch
    ):
        """Two replicas of the SAME overwrite txn (complete-mode sink
        double-fire): the loser of the link race must converge like any
        replay, not surface SnapshotConflict for a committed transaction."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]),
                                  mode="overwrite", txn=("q1", 7))
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        v = S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]),
                              mode="overwrite", txn=("q1", 7))
        monkeypatch.setattr(S, "_publish", real)
        assert v == 2
        assert _rows(S.snapshot_read(spark, t)) == [(9, "z")]
        assert S.snapshot_vacuum(spark, t) == []  # loser's delta removed

    def test_txn_race_discovered_at_publish_converges(
        self, spark, tmp_path, monkeypatch
    ):
        """A second replica of the same batch passes the early check, then
        loses the publish race to the first replica: it must drop its delta
        and return, not double-append."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(
                    spark, t, _mk(spark, [(2, "b")]), txn=("q1", 7))
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        v = S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]), txn=("q1", 7))
        monkeypatch.setattr(S, "_publish", real)
        assert v == 2  # converged on the winner's version
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b")]
        # the loser's identical delta was removed on the spot
        assert S.snapshot_vacuum(spark, t) == []


class TestMerge:
    def test_merge_updates_inserts_keeps(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a"), (2, "b")]))
        v = S.snapshot_merge(
            spark, t, _mk(spark, [(2, "B"), (3, "c")]), "k")
        assert v == 2
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "B"), (3, "c")]
        assert S.snapshot_versions(t)[-1]["mode"] == "merge"
        # pre-merge version still time-travels
        assert _rows(S.snapshot_read(spark, t, version=1)) == [(1, "a"), (2, "b")]

    def test_merge_is_idempotent(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        batch = _mk(spark, [(1, "A"), (2, "b")])
        S.snapshot_merge(spark, t, batch, "k")
        S.snapshot_merge(spark, t, batch, "k")  # replay
        assert _rows(S.snapshot_read(spark, t)) == [(1, "A"), (2, "b")]

    def test_merge_remerges_past_interleaved_append(
        self, spark, tmp_path, monkeypatch
    ):
        """An append landing between the merge's read and publish must
        SURVIVE: the merge re-reads and re-merges instead of publishing
        its stale rewrite onto the new tip."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if manifest["mode"] == "merge" and not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(spark, t, _mk(spark, [(5, "interleaved")]))
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        v = S.snapshot_merge(spark, t, _mk(spark, [(1, "A"), (2, "b")]), "k")
        monkeypatch.setattr(S, "_publish", real)
        assert v == 3
        assert _rows(S.snapshot_read(spark, t)) == [
            (1, "A"), (2, "b"), (5, "interleaved")]
        assert S.snapshot_vacuum(spark, t) == []  # stale rewrite dropped eagerly


class TestMergePruned:
    """File-pruned MERGE INTO (round-11 task 1, the public Delta/Iceberg
    MERGE candidate-pruning design): only files whose stats/blooms can
    contain the batch's keys are rewritten; everything else carries by
    reference. The full-rewrite path survives as strategy='rewrite' and
    as the automatic wide-batch fallback."""

    def _clustered(self, spark, t, n=320, files=8, bloom=False):
        """One commit, range-clustered on k into `files` files so footer
        stats carve the key space into prunable slices."""
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "k long, v string"
        ).repartitionByRange(files, "k").sortWithinPartitions("k")
        S.snapshot_commit(
            spark, t, df, bloom_columns=["k"] if bloom else None
        )

    def test_equivalence_with_rewrite_strategy(self, spark, tmp_path):
        """Same batch, both strategies, identical table content after —
        strategy picks the physical plan, never the semantics. Covers
        updates, inserts, duplicate source keys, and NULL source keys."""
        a, b = str(tmp_path / "pr"), str(tmp_path / "rw")
        for t in (a, b):
            self._clustered(spark, t, n=100, files=4)
        batch = spark.createDataFrame(
            [(5, "UPD5"), (5, "UPD5b"), (200, "NEW200"), (None, "NULLK")],
            "k long, v string",
        )
        S.snapshot_merge(spark, a, batch, "k", strategy="pruned")
        S.snapshot_merge(spark, b, batch, "k", strategy="rewrite")

        def rows(t):  # NULL-key-safe total order
            return sorted(
                ((r["k"] is None, r["k"]), r["v"])
                for r in S.snapshot_read(spark, t).collect()
            )

        assert rows(a) == rows(b)
        assert (
            S.snapshot_versions(a)[-1]["rows"]
            == S.snapshot_versions(b)[-1]["rows"]
        )
        assert S.snapshot_versions(a)[-1]["mode"] == "merge"

    def test_narrow_upsert_rewrites_few_files(self, spark, tmp_path):
        """The headline property: a 3-key upsert on a clustered key
        rewrites 1 file of 8 and carries the rest by reference."""
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=320, files=8)
        plan = {}
        v = S.snapshot_merge(
            spark, t,
            _mk(spark, [(10, "U10"), (11, "U11"), (1000, "NEW")]),
            "k", plan=plan,
        )
        assert plan["strategy"] == "pruned"
        assert plan["files_total"] == 8
        assert plan["files_rewritten"] <= 2
        assert plan["rows_after"] == 321
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[10] == "U10" and got[11] == "U11" and got[1000] == "NEW"
        assert got[300] == "v300"  # carried rows intact
        assert len(got) == 321
        # pre-merge version still time-travels
        assert S.snapshot_read(spark, t, version=v - 1).count() == 320

    def test_bloom_prunes_unclustered_merge_key(self, spark, tmp_path):
        """On an UNCLUSTERED key zone maps keep everything; the bloom
        sidecars are what hold files_rewritten down (delete's stage 3,
        now on the merge path)."""
        t = str(tmp_path / "t")
        # interleaved k across files: min/max never excludes
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(400)], "k long, v string"
        ).repartition(8)
        S.snapshot_commit(spark, t, df, bloom_columns=["k"])
        plan = {}
        S.snapshot_merge(
            spark, t, _mk(spark, [(7, "U7")]), "k", plan=plan
        )
        assert plan["files_bloom_cleared"] >= 6
        assert plan["files_rewritten"] <= 2
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[7] == "U7" and len(got) == 400

    def test_insert_only_batch_touches_no_files(self, spark, tmp_path):
        """A batch of brand-new keys outside every file's range prunes
        ALL files: the merge appends one fresh file and rewrites zero."""
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=100, files=4)
        plan = {}
        S.snapshot_merge(
            spark, t, _mk(spark, [(900, "n1"), (901, "n2")]), "k",
            plan=plan,
        )
        assert plan["files_rewritten"] == 0
        assert plan["rows_after"] == 102
        assert S.snapshot_read(spark, t).count() == 102

    def test_merge_through_deletion_vectors(self, spark, tmp_path):
        """Candidate files carrying DV refs read as live rows and the
        rewrite materializes the DVs — dead rows never resurface."""
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=40, files=2)
        S.snapshot_delete(spark, t, [("k", "=", 3)], mode="dv")
        S.snapshot_merge(spark, t, _mk(spark, [(5, "U5")]), "k")
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert 3 not in got and got[5] == "U5" and len(got) == 39
        # the rewritten candidate carries no dv ref anymore
        m = S._read_manifest(t, S._versions(t)[-1])
        low = [fe for fe in m["files"] if fe.get("dv")]
        assert low == []
        assert S.snapshot_versions(t)[-1]["rows"] == 39

    def test_wide_batch_falls_back_to_rewrite(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=50, files=2)
        plan = {}
        S.snapshot_merge(
            spark, t,
            _mk(spark, [(i, f"U{i}") for i in range(40)]),
            "k", max_keys=10, plan=plan,
        )
        assert plan["strategy"] == "rewrite"
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[0] == "U0" and got[45] == "v45" and len(got) == 50

    def test_empty_source_publishes_nothing(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=10, files=1)
        plan = {}
        v = S.snapshot_merge(
            spark, t, _mk(spark, []), "k", plan=plan
        )
        assert v == 1 and plan["strategy"] == "noop"
        assert S._versions(t) == [1]

    def test_schema_mismatch_rejected_before_work(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=10, files=1)
        bad = spark.createDataFrame([(1, "x", 9)], "k long, v string, extra long")
        with pytest.raises(ValueError, match="columns"):
            S.snapshot_merge(spark, t, bad, "k")

    def test_txn_replay_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=10, files=1)
        v1 = S.snapshot_merge(
            spark, t, _mk(spark, [(1, "A")]), "k", txn=("m", 7)
        )
        v2 = S.snapshot_merge(
            spark, t, _mk(spark, [(2, "B")]), "k", txn=("m", 7)
        )
        assert v2 == v1
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[1] == "A" and got[2] == "v2"  # replay applied nothing

    def test_racing_append_forces_remerge(self, spark, tmp_path, monkeypatch):
        """A commit landing between candidate resolution and publish
        must survive: the pruned merge re-resolves at the winner's tip
        (a merge's file set is a read-dependent claim)."""
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=20, files=2)
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if manifest["mode"] == "merge" and not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(
                    spark, t, _mk(spark, [(500, "interleaved")])
                )
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        S.snapshot_merge(spark, t, _mk(spark, [(1, "U1")]), "k")
        monkeypatch.setattr(S, "_publish", real)
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[1] == "U1" and got[500] == "interleaved"
        assert len(got) == 21
        assert S.snapshot_vacuum(spark, t) == []  # stale attempt dropped

    def test_crash_matrix_leaves_premerge_version(
        self, spark, tmp_path, monkeypatch
    ):
        """A crash at the data write, bloom build, group write, or
        publish leaves the pre-merge version exactly; debris is
        vacuum's."""
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=30, files=2, bloom=True)
        before = _rows(S.snapshot_read(spark, t))
        batch = _mk(spark, [(1, "U1"), (99, "NEW")])
        for seam in ("_write_data_files", "_build_blooms",
                     "_child_groups", "_publish"):
            real = getattr(S, seam)

            def boom(*a, _seam=seam, **kw):
                raise RuntimeError(f"crash at {_seam}")

            monkeypatch.setattr(S, seam, boom)
            with pytest.raises(RuntimeError, match="crash at"):
                S.snapshot_merge(spark, t, batch, "k")
            monkeypatch.setattr(S, seam, real)
            assert S._versions(t) == [1]
            assert _rows(S.snapshot_read(spark, t)) == before
        S.snapshot_vacuum(spark, t)
        v = S.snapshot_merge(spark, t, batch, "k")  # heals
        assert v == 2
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[1] == "U1" and got[99] == "NEW" and len(got) == 31

    def test_cdf_update_images_delta_proportional(self, spark, tmp_path):
        """snapshot_row_changes(key=...) over 12 narrow merge commits
        reads a bounded number of files per commit — delta-proportional
        because the commits themselves now are — and still emits exact
        update images."""
        t = str(tmp_path / "t")
        self._clustered(spark, t, n=640, files=16)
        per_commit_files = []
        for i in range(12):
            plan = {}
            S.snapshot_merge(
                spark, t, _mk(spark, [(40 * i, f"u{i}")]), "k", plan=plan
            )
            per_commit_files.append(plan["files_rewritten"])
        assert max(per_commit_files) <= 2  # every commit was surgical
        cdf_plan = {}
        cdf = S.snapshot_row_changes(
            spark, t, since_version=1, key="k", plan=cdf_plan
        )
        rows = cdf.collect()
        pre = sorted(
            r["k"] for r in rows if r["_change_type"] == "update_preimage"
        )
        post = {
            r["k"]: r["v"]
            for r in rows
            if r["_change_type"] == "update_postimage"
        }
        assert pre == [40 * i for i in range(12)]
        assert post[80] == "u2"
        # removed+added per commit ≈ 1 candidate + 1 rewrite ≤ 4 files
        assert cdf_plan["files_read"] <= 12 * 4


class TestPublishPrimitive:
    def test_true_thread_race_admits_exactly_one(self, tmp_path):
        """32 threads race the SAME version slot through the real
        os.link publish path (no mocks): exactly one wins, and the
        published manifest is one loser-free winner, fully intact."""
        import threading

        t = str(tmp_path / "t")
        results: list = [None] * 32
        barrier = threading.Barrier(32)

        def contender(i):
            barrier.wait()
            try:
                S._publish(t, 1, {"version": 1, "writer": i, "payload": "x" * 4096})
                results[i] = "won"
            except S.SnapshotConflict:
                results[i] = "lost"

        threads = [threading.Thread(target=contender, args=(i,)) for i in range(32)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
        assert results.count("won") == 1
        assert results.count("lost") == 31
        m = S._read_manifest(t, 1)  # valid, complete JSON
        assert m["payload"] == "x" * 4096
        # every loser's dot-temp was cleaned up
        leftovers = [n for n in os.listdir(os.path.join(t, S.MANIFEST_DIR))
                     if n.startswith(".tmp.")]
        assert leftovers == []


class TestMaintenance:
    def test_expire_then_vacuum_frees_overwritten_files(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a"), (2, "b")]))
        S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]), mode="overwrite")
        # v1 retained -> its files are protected
        assert S.snapshot_vacuum(spark, t) == []
        assert S.snapshot_expire(t, keep_last=1) == [1]
        deleted = S.snapshot_vacuum(spark, t)
        assert deleted, "v1's files are unreferenced once v1 expires"
        assert _rows(S.snapshot_read(spark, t)) == [(9, "z")]
        with pytest.raises(FileNotFoundError):
            S.snapshot_read(spark, t, version=1)

    def test_expire_keeps_tip(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        with pytest.raises(ValueError):
            S.snapshot_expire(t, keep_last=0)
        assert S.snapshot_expire(t, keep_last=3) == []

    def test_compact_preserves_content_and_counts(self, spark, tmp_path):
        t = str(tmp_path / "t")
        for i in range(4):  # 4 commits -> >= 4 small files
            S.snapshot_commit(spark, t, _mk(spark, [(i, f"v{i}")]))
        before = S.snapshot_versions(t)[-1]
        v = S.snapshot_compact(spark, t)
        after = S.snapshot_versions(t)[-1]
        assert v == after["version"] == before["version"] + 1
        assert after["mode"] == "compact"
        assert after["rows"] == before["rows"]
        assert after["n_files"] < before["n_files"]
        assert _rows(S.snapshot_read(spark, t)) == [
            (i, f"v{i}") for i in range(4)]
        # pre-compaction version still time-travels
        assert _rows(S.snapshot_read(spark, t, version=before["version"])) == [
            (i, f"v{i}") for i in range(4)]

    def test_clustered_compact_gives_disjoint_key_slices(self, spark, tmp_path):
        """cluster_cols compaction: content preserved AND each output file
        owns a disjoint key range (read straight from the parquet footers
        via per-file min/max), so predicate pruning works post-compact."""
        import pyarrow.parquet as pq

        t = str(tmp_path / "t")
        # interleaved appends: every delta spans the whole key space
        for i in range(4):
            S.snapshot_commit(
                spark, t,
                spark.createDataFrame(
                    [(k, f"r{i}") for k in range(i, 4000, 4)],
                    "k long, v string"),
            )
        v = S.snapshot_compact(spark, t, target_file_bytes=16 * 1024,
                               cluster_cols=["k"])
        m = S.snapshot_versions(t)[-1]
        assert m["version"] == v and m["rows"] == 4000
        assert S.snapshot_read(spark, t).count() == 4000
        spans = []
        for fe in S._read_manifest(t, v)["files"]:
            md = pq.read_metadata(os.path.join(t, fe["path"]))
            ks = [md.row_group(g).column(0).statistics for g in range(md.num_row_groups)]
            spans.append((min(s.min for s in ks), max(s.max for s in ks)))
        assert len(spans) > 1, "compaction produced multiple files to check"
        spans.sort()
        for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
            assert hi1 < lo2, "files own disjoint key slices"

    def test_compact_conflicts_with_interleaved_append(
        self, spark, tmp_path, monkeypatch
    ):
        """An append landing between compaction's read and publish must NOT
        be silently discarded — the compact publish loses the race."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]))
        real = S._publish

        def racing_publish(table_dir, version, manifest):
            if manifest["mode"] == "compact":
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(spark, t, _mk(spark, [(3, "c")]))
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        with pytest.raises(S.SnapshotConflict):
            S.snapshot_compact(spark, t)
        # the interleaved append survived; the lost rewrite was dropped
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]
        assert S.snapshot_vacuum(spark, t) == []
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b"), (3, "c")]


class TestManifestTree:
    """The two-level manifest tree (VERDICT r6 item 1): per-commit cost is
    O(delta + groups), never O(live files)."""

    def test_commit_manifest_stays_small_as_table_grows(self, spark, tmp_path):
        """30 appends: every version manifest holds group REFS, the tip's
        physical JSON stays bounded (refs, not 30 commits' file entries),
        and the resolved view is still exactly the union."""
        t = str(tmp_path / "t")
        for i in range(30):
            S.snapshot_commit(spark, t, _mk(spark, [(i, f"v{i}")]))
        tip = S._versions(t)[-1]
        raw = S._read_manifest_raw(t, tip)
        assert raw["groups"] is not None and "files" not in raw
        assert len(raw["groups"]) <= S.MAX_GROUPS
        # the ref list is delta-sized per commit: parent refs + 1
        prev = S._read_manifest_raw(t, tip - 1)
        new_names = {g["name"] for g in raw["groups"]} - {
            g["name"] for g in prev["groups"]}
        assert len(new_names) == 1  # exactly one new group for the delta
        assert _rows(S.snapshot_read(spark, t)) == [
            (i, f"v{i}") for i in range(30)]
        # summaries in the log match the resolved truth
        log = S.snapshot_versions(t)[-1]
        m = S._read_manifest(t, tip)
        assert log["n_files"] == len(m["files"])
        assert log["bytes"] == sum(f["bytes"] for f in m["files"])

    def test_geometric_coalescing_bounds_group_count(self, spark, tmp_path):
        """More commits than MAX_GROUPS: the smallest groups merge so the
        ref list never exceeds the bound, shared refs stay immutable, and
        no version (old or new) loses a row."""
        t = str(tmp_path / "t")
        n = S.MAX_GROUPS + 8
        for i in range(n):
            S.snapshot_commit(spark, t, _mk(spark, [(i, "x")]))
        for v in S._versions(t):
            raw = S._read_manifest_raw(t, v)
            assert len(raw["groups"]) <= S.MAX_GROUPS
        assert S.snapshot_read(spark, t).count() == n
        # time travel across the coalesce point still resolves: version
        # MAX_GROUPS (pre-merge) and the tip (post-merge) both exact
        assert S.snapshot_read(spark, t, version=S.MAX_GROUPS).count() == \
            S.MAX_GROUPS
        # vacuum keeps every group a retained version references
        S.snapshot_vacuum(spark, t)
        assert S.snapshot_read(spark, t, version=S.MAX_GROUPS).count() == \
            S.MAX_GROUPS

    def test_legacy_flat_manifest_migrates_on_next_commit(
        self, spark, tmp_path
    ):
        """A pre-tree table (inline `files` list) reads as-is; its next
        append folds the flat list into the tree and both vintages stay
        exact."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        # rewrite v1 as a legacy FLAT manifest (what an old writer left)
        m = S._read_manifest(t, 1)
        flat = {k: v for k, v in m.items() if k != "groups"}
        p = os.path.join(t, S.MANIFEST_DIR, S._FMT.format(1))
        os.unlink(p)
        with open(p, "w") as f:
            json.dump(flat, f)
        # old vintage reads fine
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a")]
        # next commit migrates into the tree
        S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]))
        raw = S._read_manifest_raw(t, 2)
        assert raw["groups"] is not None
        assert _rows(S.snapshot_read(spark, t)) == [(1, "a"), (2, "b")]
        # idempotent append and rmw also accept the (still flat) v1
        assert _rows(S.snapshot_read(spark, t, version=1)) == [(1, "a")]

    def test_vacuum_drops_orphan_and_expired_groups(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]), mode="overwrite")
        # orphan group: a crashed commit that never published
        orphan = S._write_group(t, [{"path": "data/dead/f.parquet", "bytes": 1}])
        # clean table still references v1's group (time travel) — only the
        # orphan goes
        deleted = S.snapshot_vacuum(spark, t)
        rel = os.path.join(S.MANIFEST_DIR, S.GROUPS_DIR, orphan["name"])
        assert rel in deleted
        assert _rows(S.snapshot_read(spark, t, version=1)) == [(1, "a")]
        # expire v1: its exclusive group becomes vacuum-eligible
        S.snapshot_expire(t, keep_last=1)
        deleted = S.snapshot_vacuum(spark, t)
        assert any(p.startswith(os.path.join(S.MANIFEST_DIR, S.GROUPS_DIR))
                   for p in deleted)
        assert _rows(S.snapshot_read(spark, t)) == [(9, "z")]
        assert S.snapshot_vacuum(spark, t) == []


class TestSchemaCanonicalization:
    """Round-7 review findings (both CONFIRMED by execution before the
    fix): schema strings from different serializer vintages must compare
    through ONE canonical form, or identical-schema appends are refused."""

    def test_append_after_merge_schema_widening(self, spark, tmp_path):
        """After a merge_schema widening, appending the (now identical)
        wide schema must succeed — the merged schema used to be stored in
        StructType.json() form while appends compared canonical strings,
        refusing every subsequent append forever."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        wide = spark.createDataFrame(
            [(2, "b", 7.5)], "k long, v string, score double"
        )
        S.snapshot_commit(spark, t, wide, merge_schema=True)
        # identical wide schema, plain append: must not raise
        v = S.snapshot_commit(
            spark, t, spark.createDataFrame(
                [(3, "c", 1.0)], "k long, v string, score double")
        )
        assert v == 3
        assert S.snapshot_read(spark, t).count() == 3
        # the serializable ingest path too (it has no merge_schema escape)
        v2 = S.snapshot_idempotent_append(
            spark, t,
            spark.createDataFrame(
                [(4, "d", 2.0)], "k long, v string, score double"),
            ["k"],
        )
        assert v2 == 4 and S.snapshot_read(spark, t).count() == 4

    def test_append_to_pre_canonical_manifest(self, spark, tmp_path):
        """A manifest whose schema was stored by OLDER code — compact
        separators, strict nullable=false flags — must accept an
        identical-schema append (the advertised in-place legacy
        migration; it used to crash on the first post-upgrade batch)."""
        from pyspark.sql.types import (
            LongType, StringType, StructField, StructType,
        )

        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        # rewrite v1's schema field in the OLD format: StructType.json()
        # (compact, unsorted) with non-null flags
        old_schema = StructType([
            StructField("k", LongType(), False),
            StructField("v", StringType(), True),
        ]).json()
        p = os.path.join(t, S.MANIFEST_DIR, S._FMT.format(1))
        with open(p) as f:
            m = json.load(f)
        m["schema"] = old_schema
        os.unlink(p)
        with open(p, "w") as f:
            json.dump(m, f)
        # both append paths must accept the logically-identical schema
        v = S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]))
        assert v == 2
        v2 = S.snapshot_idempotent_append(
            spark, t, _mk(spark, [(2, "dup"), (3, "c")]), ["k"]
        )
        # and the anti-join still ran: one row landed
        assert v2 == 3 and S.snapshot_read(spark, t).count() == 3
        assert sorted(r["k"] for r in S.snapshot_read(spark, t).collect()) \
            == [1, 2, 3]
        # a genuinely different type still refuses
        with pytest.raises(ValueError, match="schema differs"):
            S.snapshot_commit(
                spark, t,
                spark.createDataFrame([("x", "y")], "k string, v string"),
            )


class TestManifestTreeStress:
    def test_hundred_commits_with_retention_stay_bounded_and_exact(
        self, spark, tmp_path
    ):
        """The flagship claim under sustained load: 100 appends with
        periodic expire+vacuum (the streaming-sink lifecycle) keep every
        version manifest at <= MAX_GROUPS refs, the physical manifest
        bytes flat, reads exact at every checkpoint, and vacuum
        reclaiming merged-away + expired group files without ever
        touching a referenced one."""
        import glob

        t = str(tmp_path / "t")
        sizes = []
        for i in range(100):
            S.snapshot_commit(spark, t, _mk(spark, [(i, f"v{i}")]))
            if i % 10 == 9:
                S.snapshot_expire(t, keep_last=3)
                S.snapshot_vacuum(spark, t)
                # mid-stream exactness checkpoint
                assert S.snapshot_read(spark, t).count() == i + 1
            tip = S._versions(t)[-1]
            raw = S._read_manifest_raw(t, tip)
            assert len(raw["groups"]) <= S.MAX_GROUPS
            sizes.append(os.path.getsize(
                os.path.join(t, S.MANIFEST_DIR, S._FMT.format(tip))))
        # manifest size flat-ish: the 100th commit's manifest is ref-list-
        # sized, never live-file-sized (100 entries x ~135B would be 13KB+)
        assert max(sizes) < 8192, max(sizes)
        # final content exact
        assert _rows(S.snapshot_read(spark, t)) == [
            (i, f"v{i}") for i in range(100)]
        # group files on disk = exactly the set the retained manifests
        # reference (no leaked merged-away groups, nothing missing)
        referenced = {
            g["name"]
            for v in S._versions(t)
            for g in S._read_manifest_raw(t, v)["groups"]
        }
        S.snapshot_expire(t, keep_last=1)
        S.snapshot_vacuum(spark, t)
        on_disk = {os.path.basename(p)
                   for p in glob.glob(os.path.join(S._gdir(t), "g-*.json"))}
        tip_refs = {g["name"] for g in S._read_manifest_raw(
            t, S._versions(t)[-1])["groups"]}
        assert on_disk == tip_refs
        assert tip_refs <= referenced
        assert _rows(S.snapshot_read(spark, t)) == [
            (i, f"v{i}") for i in range(100)]


class TestStatsPruning:
    """Manifest-level data skipping: footer min/max/null stats on file
    entries, merged ranges on group refs, and ``snapshot_read(where=...)``
    returning exactly the filtered full scan while handing Spark only the
    files that can match."""

    def _mkr(self, spark, lo, hi, parts=4):
        # disjoint k-ranges per file: repartitionByRange gives each output
        # file a tight, non-overlapping footer min/max
        return (
            spark.range(lo, hi)
            .selectExpr("id AS k", "concat('s', lpad(id, 6, '0')) AS v")
            .repartitionByRange(parts, "k")
        )

    def test_pruned_read_equals_filtered_full_scan(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, self._mkr(spark, 0, 400))
        for where in (
            [("k", "=", 7)],
            [("k", "<", 30)],
            [("k", ">=", 390)],
            [("k", ">", 100), ("k", "<=", 120)],
            [("v", "=", "s000007")],
            [("k", ">=", 400)],  # empty result
        ):
            full = S.snapshot_read(spark, t)
            cond = S._where_column(where)
            want = sorted(tuple(r) for r in full.filter(cond).collect())
            got = sorted(
                tuple(r) for r in S.snapshot_read(spark, t, where=where).collect()
            )
            assert got == want, where
        # the selective point lookup provably skipped files
        plan = S.snapshot_scan_plan(t, [("k", "=", 7)])
        assert plan["files_total"] == 4
        assert plan["files_kept"] == 1

    def test_group_level_skip_never_opens_excluded_groups(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, self._mkr(spark, 0, 100, parts=2))
        S.snapshot_commit(spark, t, self._mkr(spark, 1000, 1100, parts=2))
        plan = S.snapshot_scan_plan(t, [("k", ">=", 1000)])
        assert plan["groups_total"] == 2
        assert plan["groups_opened"] == 1  # the low-range group never opens
        assert plan["files_kept"] == 2
        got = sorted(
            r["k"] for r in S.snapshot_read(
                spark, t, where=[("k", ">=", 1000)]).collect()
        )
        assert got == list(range(1000, 1100))

    def test_legacy_entries_without_stats_always_match(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, self._mkr(spark, 0, 100, parts=2))
        # strip stats everywhere, as a pre-stats writer would have left it
        raw = S._read_manifest_raw(t, 1)
        for g in raw["groups"]:
            g.pop("stats", None)
            gp = os.path.join(S._gdir(t), g["name"])
            with open(gp) as f:
                files = json.load(f)["files"]
            for fe in files:
                fe.pop("stats", None)
            with open(gp, "w") as f:
                json.dump({"files": files}, f)
        p = os.path.join(t, S.MANIFEST_DIR, S._FMT.format(1))
        os.unlink(p)
        with open(p, "w") as f:
            json.dump(raw, f)
        plan = S.snapshot_scan_plan(t, [("k", "=", 7)])
        assert plan["files_kept"] == plan["files_total"]  # nothing provable
        got = [r["k"] for r in S.snapshot_read(
            spark, t, where=[("k", "=", 7)]).collect()]
        assert got == [7]  # residual filter still gives exact semantics

    def test_type_mismatch_prunes_nothing(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, self._mkr(spark, 0, 40, parts=2))
        # '5' against the long column: the manifest must not guess casts
        plan = S.snapshot_scan_plan(t, [("k", "=", "5")])
        assert plan["files_kept"] == plan["files_total"]

    def test_all_null_file_pruned_for_comparisons(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark,
            t,
            spark.createDataFrame([(1, None), (2, None)], "k long, v string")
            .coalesce(1),
        )
        S.snapshot_commit(
            spark,
            t,
            spark.createDataFrame([(3, "x")], "k long, v string").coalesce(1),
        )
        plan = S.snapshot_scan_plan(t, [("v", "=", "x")])
        assert plan["files_total"] == 2
        assert plan["files_kept"] == 1  # the all-null file can never match
        got = [r["k"] for r in S.snapshot_read(
            spark, t, where=[("v", "=", "x")]).collect()]
        assert got == [3]

    def test_long_string_upper_bound_is_dropped_not_trusted(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        long_v = "z" * 200  # past _STAT_STR_CAP: max must NOT be truncated
        S.snapshot_commit(
            spark,
            t,
            spark.createDataFrame([(1, long_v)], "k long, v string").coalesce(1),
        )
        m = S._read_manifest(t, 1)
        s = m["files"][0]["stats"]["v"]
        assert s["max"] is None  # dropped, not a (wrong) prefix
        assert s["min"] is not None and len(s["min"]) <= S._STAT_STR_CAP
        # a > predicate that only an untruncated max could exclude keeps
        # the file, and the residual filter returns the row
        got = [r["k"] for r in S.snapshot_read(
            spark, t, where=[("v", ">", "zz")]).collect()]
        assert got == [1]

    def test_time_travel_with_pruning(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, self._mkr(spark, 0, 100, parts=2))
        S.snapshot_commit(spark, t, self._mkr(spark, 100, 200, parts=2))
        got = [r["k"] for r in S.snapshot_read(
            spark, t, version=1, where=[("k", ">=", 90)]).collect()]
        assert sorted(got) == list(range(90, 100))  # v2's files invisible

    def test_bad_predicate_rejected(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, self._mkr(spark, 0, 10, parts=1))
        with pytest.raises(ValueError, match="predicate"):
            S.snapshot_read(spark, t, where=[("k", "!=", 5)])

    def test_compaction_preserves_skipping(self, spark, tmp_path):
        """Rewritten (compacted) files get FRESH footer stats — skipping
        keeps working after the file set changes shape."""
        t = str(tmp_path / "t")
        for lo in (0, 100, 200):
            S.snapshot_commit(spark, t, self._mkr(spark, lo, lo + 100, parts=2))
        S.snapshot_compact(spark, t, target_file_bytes=2048, cluster_cols=["k"])
        plan = S.snapshot_scan_plan(t, [("k", "=", 5)])
        assert plan["files_kept"] < plan["files_total"]
        got = [r["k"] for r in S.snapshot_read(
            spark, t, where=[("k", "=", 5)]).collect()]
        assert got == [5]

    def test_nan_predicate_never_prunes(self, spark, tmp_path):
        """Spark orders NaN GREATER than every double while Python makes
        it unmatchable — range logic on a NaN literal must keep every
        file and let Spark's filter decide."""
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark,
            t,
            spark.range(0, 40)
            .selectExpr("CAST(id AS DOUBLE) AS k", "string(id) AS v")
            .repartitionByRange(2, "k"),
        )
        nan = float("nan")
        plan = S.snapshot_scan_plan(t, [("k", "<", nan)])
        assert plan["files_kept"] == plan["files_total"]
        full = S.snapshot_read(spark, t)
        want = full.filter(full.k < nan).count()
        got = S.snapshot_read(spark, t, where=[("k", "<", nan)]).count()
        assert got == want  # 40 in Spark's NaN ordering — not 0

    def test_group_vanishing_mid_read_re_resolves(
        self, spark, tmp_path, monkeypatch
    ):
        """The expire-race contract extended to the tree: a LATEST read
        whose group file vanishes between manifest and group resolution
        (concurrent expire+vacuum) re-resolves instead of leaking
        FileNotFoundError; a PINNED read of vacuumed groups raises."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, self._mkr(spark, 0, 40, parts=2))
        real = S._read_group
        calls = {"n": 0}

        def flaky(table_dir, name):
            calls["n"] += 1
            if calls["n"] == 1:
                raise FileNotFoundError(name)  # vacuumed under our feet
            return real(table_dir, name)

        monkeypatch.setattr(S, "_read_group", flaky)
        got = sorted(
            r["k"] for r in S.snapshot_read(
                spark, t, where=[("k", "<", 5)]).collect()
        )
        assert got == [0, 1, 2, 3, 4]
        assert calls["n"] >= 2  # first attempt failed, retry resolved


class TestClusterMaintenance:
    """snapshot_cluster_report + snapshot_maintain: manifest-only overlap
    measurement drives re-clustering exactly when skipping degraded."""

    def _append_overlapping(self, spark, t, n=4):
        for _ in range(n):  # every commit covers the SAME key range
            S.snapshot_commit(
                spark,
                t,
                spark.range(0, 100)
                .selectExpr("id AS k", "string(id) AS v")
                .coalesce(1),
            )

    def test_report_scores_layouts(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._append_overlapping(spark, t, n=4)
        bad = S.snapshot_cluster_report(t, "k")
        assert bad["files_with_stats"] == 4
        assert bad["avg_overlap"] == 4.0  # every file's min inside all 4
        # clustered rewrite -> disjoint ranges -> overlap 1.0
        S.snapshot_compact(spark, t, target_file_bytes=2048, cluster_cols=["k"])
        good = S.snapshot_cluster_report(t, "k")
        assert good["files_with_stats"] >= 2
        assert good["avg_overlap"] == 1.0
        # a column with no stats anywhere reports zeros, never divides
        assert S.snapshot_cluster_report(t, "nope")["files_with_stats"] == 0

    def test_overlap_sweep_matches_brute_force(self):
        """The O(n log n) bisect sweep in snapshot_cluster_report must
        agree exactly with the definitional quadratic stabbing count —
        including duplicate endpoints and fully-nested ranges."""
        import random

        rng = random.Random(8)
        for _ in range(20):
            ranges = []
            for _ in range(rng.randrange(1, 40)):
                a = rng.randrange(0, 30)
                ranges.append((a, a + rng.randrange(0, 15)))
            brute = [
                sum(1 for g in ranges if g[0] <= r[0] <= g[1])
                for r in ranges
            ]
            import bisect

            mins = sorted(r[0] for r in ranges)
            maxes = sorted(r[1] for r in ranges)
            swept = [
                bisect.bisect_right(mins, r[0])
                - bisect.bisect_left(maxes, r[0])
                for r in ranges
            ]
            assert swept == brute

    def test_in_predicate_prunes_and_matches_filter(self, spark, tmp_path):
        """("col", "in", [v...]): skips files whose ranges exclude EVERY
        listed value, keeps semantics identical to isin — the predicate
        shape a streaming gate's per-trigger band set needs."""
        t = str(tmp_path / "t")
        for lo in (0, 100, 200):
            S.snapshot_commit(
                spark,
                t,
                spark.range(lo, lo + 100)
                .selectExpr("id AS k", "string(id) AS v")
                .coalesce(1),
            )
        plan = S.snapshot_scan_plan(t, [("k", "in", [5, 7])])
        assert plan["files_kept"] == 1  # both values in the first file
        plan2 = S.snapshot_scan_plan(t, [("k", "in", [5, 205])])
        assert plan2["files_kept"] == 2
        got = sorted(
            r["k"]
            for r in S.snapshot_read(
                spark, t, where=[("k", "in", [5, 205, 999])]
            ).collect()
        )
        assert got == [5, 205]
        with pytest.raises(ValueError, match="non-empty list"):
            S.snapshot_read(spark, t, where=[("k", "in", [])])
        with pytest.raises(ValueError, match="scalar literals"):
            S.snapshot_read(spark, t, where=[("k", "in", [1, None])])

    def test_in_bisect_matches_linear_definition(self):
        """The _SortedIn bisect fast path must agree exactly with the
        definitional any(=) disjunction for every bound shape — including
        open bounds, out-of-range lists, and string domains."""
        import random

        rng = random.Random(88)
        for _ in range(300):
            vals = sorted({rng.randrange(0, 50) for _ in range(rng.randrange(1, 8))})
            mn = rng.choice([None, rng.randrange(-5, 55)])
            mx = rng.choice([None, rng.randrange(-5, 55)])
            fast = S._in_matches(S._SortedIn(vals), mn, mx)
            slow = any(S._range_matches("=", v, mn, mx) for v in vals)
            assert fast == slow, (vals, mn, mx)
        # strings too (comparison-only, same code path)
        assert S._in_matches(S._SortedIn(["b", "m"]), "c", "k") is False
        assert S._in_matches(S._SortedIn(["b", "f"]), "c", "k") is True
        # class mismatch: stats cannot prune
        assert S._in_matches(S._SortedIn([1, 2]), "a", "z") is True

    def test_non_literal_predicate_value_rejected(self, spark, tmp_path):
        """Unliteralizable values and None fail AT the predicate with a
        clear error, not later inside F.lit or as a silent no-prune."""
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark,
            t,
            spark.range(0, 10).selectExpr("id AS k", "string(id) AS v"),
        )
        with pytest.raises(ValueError, match="scalar literal"):
            S.snapshot_read(spark, t, where=[("k", "=", [1, 2])])
        with pytest.raises(ValueError, match="NULL"):
            S.snapshot_read(spark, t, where=[("k", "=", None)])
        with pytest.raises(ValueError, match="scalar literal"):
            S.snapshot_read(spark, t, where=[("k", "=", {"a": 1})])

    def test_maintain_triggers_only_past_threshold(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._append_overlapping(spark, t, n=4)
        rows_before = sorted(
            tuple(r) for r in S.snapshot_read(spark, t).collect()
        )
        v = S.snapshot_maintain(
            spark, t, "k", max_avg_overlap=2.0, target_file_bytes=2048
        )
        assert v is not None  # overlap 4.0 > 2.0: re-clustered
        assert S.snapshot_cluster_report(t, "k")["avg_overlap"] == 1.0
        assert sorted(
            tuple(r) for r in S.snapshot_read(spark, t).collect()
        ) == rows_before  # maintenance never changes content
        # second tick: layout is good, nothing happens
        tip = S._versions(t)[-1]
        assert S.snapshot_maintain(spark, t, "k", max_avg_overlap=2.0) is None
        assert S._versions(t)[-1] == tip
        # a point predicate now opens ~1 file instead of 4+
        plan = S.snapshot_scan_plan(t, [("k", "=", 42)])
        assert plan["files_kept"] == 1


class TestMultiWriterSoak:
    """Randomized cross-feature interleaving soak (round-7 verdict item
    6): N appender threads racing a compaction-maintenance thread and an
    expire+vacuum thread over dozens of commits. The single-scenario
    tests pin each pairwise interaction; this catches the three-way
    interleavings they can't. Invariants: no committed row is ever lost,
    no key duplicates, every RETAINED version stays exactly readable
    (vacuum never removes a retained file), and maintenance never
    changes content. Vacuum honors its documented contract — it must not
    run while a write is in flight — through a reader-writer gate
    (appenders/compactor share, vacuum exclusive); everything else
    interleaves freely."""

    class _RWGate:
        def __init__(self):
            import threading

            self._lock = threading.Condition()
            self._readers = 0
            self._writing = False

        def acquire_read(self):
            with self._lock:
                while self._writing:
                    self._lock.wait()
                self._readers += 1

        def release_read(self):
            with self._lock:
                self._readers -= 1
                self._lock.notify_all()

        def acquire_write(self):
            with self._lock:
                while self._writing or self._readers:
                    self._lock.wait()
                self._writing = True

        def release_write(self):
            with self._lock:
                self._writing = False
                self._lock.notify_all()

    @pytest.mark.parametrize("seed", [11, 23, 47])
    def test_soak_appends_maintenance_vacuum(self, spark, tmp_path, seed):
        import random
        import threading

        from imagingdb_spark.snapshots import SnapshotConflict

        t = str(tmp_path / "t")
        gate = self._RWGate()
        stop = threading.Event()
        errors: list[str] = []
        committed: dict[int, list[int]] = {}  # appender -> committed keys
        N_APPENDERS, COMMITS_EACH, BATCH = 3, 8, 25

        # one seed soaks WITH the bloom index property on, so sidecar
        # builds interleave with compaction rewrites and vacuum's sidecar
        # set-difference — the cross-feature surface single tests miss
        with_blooms = seed == 23
        if with_blooms:
            S.snapshot_commit(
                spark, t,
                spark.createDataFrame([(-1, "seed")], "k long, v string"),
                bloom_columns=["v"],
            )
            committed[-1] = [-1]

        def appender(idx: int):
            rng = random.Random(seed * 101 + idx)
            committed[idx] = []
            base = idx * 1_000_000
            try:
                for c in range(COMMITS_EACH):
                    lo = base + c * BATCH
                    df = (
                        spark.range(lo, lo + BATCH)
                        .selectExpr("id AS k", "string(id) AS v")
                        .coalesce(1)
                    )
                    gate.acquire_read()
                    try:
                        S.snapshot_commit(spark, t, df, max_retries=20)
                    finally:
                        gate.release_read()
                    committed[idx].extend(range(lo, lo + BATCH))
                    time.sleep(rng.uniform(0, 0.02))
            except Exception as e:  # pragma: no cover - failure surface
                errors.append(f"appender{idx}: {e!r}")

        def maintainer():
            rng = random.Random(seed * 103)
            while not stop.is_set():
                time.sleep(rng.uniform(0.02, 0.1))
                gate.acquire_read()
                try:
                    S.snapshot_maintain(
                        spark, t, "k",
                        max_avg_overlap=1.5, target_file_bytes=4096,
                    )
                except (SnapshotConflict, FileNotFoundError):
                    pass  # racing append / empty table: next tick
                except Exception as e:  # pragma: no cover
                    errors.append(f"maintainer: {e!r}")
                finally:
                    gate.release_read()

        def vacuumer():
            rng = random.Random(seed * 107)
            while not stop.is_set():
                time.sleep(rng.uniform(0.05, 0.15))
                gate.acquire_write()
                try:
                    if S.snapshot_exists(t):
                        S.snapshot_expire(t, keep_last=3)
                        S.snapshot_vacuum(spark, t)
                        # every RETAINED version must remain exactly
                        # readable right after the vacuum
                        for v in S._versions(t):
                            S.snapshot_read(spark, t, version=v).count()
                except Exception as e:  # pragma: no cover
                    errors.append(f"vacuumer: {e!r}")
                finally:
                    gate.release_write()

        import time

        apps = [
            threading.Thread(target=appender, args=(i,))
            for i in range(N_APPENDERS)
        ]
        aux = [
            threading.Thread(target=maintainer),
            threading.Thread(target=vacuumer),
        ]
        for th in apps + aux:
            th.start()
        for th in apps:
            th.join()
        stop.set()
        for th in aux:
            th.join()
        assert not errors, errors

        # no lost rows, no duplicates: final content == union of exactly
        # what the appenders reported as committed
        want = sorted(k for ks in committed.values() for k in ks)
        assert len(want) == N_APPENDERS * COMMITS_EACH * BATCH + int(
            with_blooms
        )
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == want
        # every retained version readable after the dust settles, and
        # row counts are monotone in version order (append-only history
        # interleaved with content-preserving compactions)
        log = S.snapshot_versions(t)
        counts = [m["rows"] for m in log]
        assert counts == sorted(counts)
        for m in log:
            assert (
                S.snapshot_read(spark, t, version=m["version"]).count()
                == m["rows"]
            )
        # one final quiesced expire+vacuum leaves the tip intact
        S.snapshot_expire(t, keep_last=1)
        S.snapshot_vacuum(spark, t)
        assert sorted(
            r["k"] for r in S.snapshot_read(spark, t).collect()
        ) == want
        if with_blooms:
            # the index survived the interleaving: the property is still
            # on the tip, a point probe prunes AND answers exactly, and
            # the final vacuum left only sidecars live entries reference
            import os as _os

            from imagingdb_spark.blooms import BLOOM_DIR

            tip = S._read_manifest(t, S._versions(t)[-1])
            assert tip.get("blooms") == ["v"]
            probe = str(want[len(want) // 2])
            got = S.snapshot_read(
                spark, t, where=[("v", "=", probe)]
            ).collect()
            assert [r["v"] for r in got] == [probe]
            referenced = {
                f["bloom"]["sc"]
                for f in tip["files"]
                if f.get("bloom")
            }
            on_disk = {
                _os.path.join(BLOOM_DIR, n)
                for n in _os.listdir(_os.path.join(t, BLOOM_DIR))
            }
            assert on_disk == referenced


class TestSnapshotDiff:
    def test_diff_between_versions(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a"), (2, "b"), (3, "c")]))
        S.snapshot_commit(
            spark,
            t,
            _mk(spark, [(1, "a"), (2, "B"), (4, "d")]),
            mode="overwrite",
        )
        got = {
            r["k"]: r["status"]
            for r in S.snapshot_diff(spark, t, 1, 2, "k", "v").collect()
        }
        assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}
        # reversed direction flips added/removed
        rev = {
            r["k"]: r["status"]
            for r in S.snapshot_diff(spark, t, 2, 1, "k", "v").collect()
        }
        assert rev[3] == "added" and rev[4] == "removed"
        # an expired endpoint raises, as time travel must
        S.snapshot_expire(t, keep_last=1)
        with pytest.raises(FileNotFoundError):
            S.snapshot_diff(spark, t, 1, 2, "k", "v")


class TestBloomIndex:
    """Bloom sidecar point-lookup pruning (imagingdb_spark/blooms.py):
    =/in file skipping on high-cardinality UNCLUSTERED keys, where the
    min/max zone maps prune nothing."""

    @staticmethod
    def _sha(i: int) -> str:
        import hashlib

        return hashlib.sha256(str(i).encode()).hexdigest()

    def _hash_table(self, spark, t, commits=4, per=200, files_per=4):
        """Append-ordered table of sha-like keys: every file's [min, max]
        spans nearly the whole hex range, so stats alone keep all."""
        for c in range(commits):
            df = spark.createDataFrame(
                [(self._sha(c * per + i), c * per + i)
                 for i in range(per)],
                "h string, n long",
            ).repartition(files_per)
            S.snapshot_commit(
                spark, t, df,
                bloom_columns=["h"] if c == 0 else None,
            )

    def test_point_lookup_prunes_unclustered(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._hash_table(spark, t)
        probe = self._sha(42)
        plan = S.snapshot_scan_plan(t, [("h", "=", probe)])
        # min/max alone keeps everything; blooms drop almost all of it
        assert plan["files_total"] == 16
        assert plan["files_bloom_dropped"] >= 12
        assert 1 <= plan["files_kept"] <= 4
        got = S.snapshot_read(spark, t, where=[("h", "=", probe)]).collect()
        assert [(r["h"], r["n"]) for r in got] == [(probe, 42)]

    def test_absent_key_reads_nothing(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._hash_table(spark, t, commits=2)
        probe = "8" * 64  # mid-range: inside every file's [min, max]
        plan = S.snapshot_scan_plan(t, [("h", "=", probe)])
        assert plan["files_bloom_dropped"] >= 7  # blooms, not zone maps
        assert plan["files_kept"] <= 1  # FP may keep a file, rarely
        assert (
            S.snapshot_read(spark, t, where=[("h", "=", probe)]).count()
            == 0
        )

    def test_in_predicate_prunes(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._hash_table(spark, t)
        keys = [self._sha(i) for i in (3, 777)]
        plan = S.snapshot_scan_plan(t, [("h", "in", keys)])
        assert plan["files_bloom_dropped"] >= 8
        got = S.snapshot_read(spark, t, where=[("h", "in", keys)])
        assert sorted(r["n"] for r in got.collect()) == [3, 777]

    def test_property_inherited_by_rmw_and_compact(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._hash_table(spark, t, commits=2)
        # compact rewrites every file; the property must rebuild sidecars
        S.snapshot_compact(spark, t, target_file_bytes=4 * 1024)
        probe = self._sha(5)
        plan = S.snapshot_scan_plan(t, [("h", "=", probe)])
        assert plan["files_bloom_dropped"] >= 1
        got = S.snapshot_read(spark, t, where=[("h", "=", probe)])
        assert got.count() == 1
        # RMW (merge) keeps the index fresh too
        upd = spark.createDataFrame(
            [(self._sha(5), 9999)], "h string, n long"
        )
        S.snapshot_merge(spark, t, upd, key="h")
        got = S.snapshot_read(spark, t, where=[("h", "=", probe)]).collect()
        assert [(r["h"], r["n"]) for r in got] == [(probe, 9999)]
        tip = S._read_manifest(t, S._versions(t)[-1])
        assert all(f.get("bloom") for f in tip["files"])

    def test_pruned_equals_unpruned(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._hash_table(spark, t, commits=3, per=100)
        full = S.snapshot_read(spark, t)
        for probe in [self._sha(0), self._sha(299), "8" * 64]:
            want = sorted(
                (r["h"], r["n"])
                for r in full.filter(full.h == probe).collect()
            )
            got = sorted(
                (r["h"], r["n"])
                for r in S.snapshot_read(
                    spark, t, where=[("h", "=", probe)]
                ).collect()
            )
            assert got == want

    def test_int_column(self, spark, tmp_path):
        t = str(tmp_path / "t")
        # ids hashed into unclustered order so min/max cannot prune
        rows = [(((i * 2654435761) % 4096), i) for i in range(400)]
        df = spark.createDataFrame(rows, "id long, n long").repartition(8)
        S.snapshot_commit(spark, t, df, bloom_columns=["id"])
        probe = rows[7][0]
        plan = S.snapshot_scan_plan(t, [("id", "=", int(probe))])
        assert plan["files_bloom_dropped"] >= 1
        got = S.snapshot_read(spark, t, where=[("id", "=", int(probe))])
        assert got.filter(got.n == 7).count() == 1

    def test_missing_column_is_conservative(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t,
            spark.createDataFrame([(1, "a")], "k long, v string"),
            bloom_columns=["h"],  # column the table does not have (yet)
        )
        assert S.snapshot_read(spark, t).count() == 1
        plan = S.snapshot_scan_plan(t, [("k", "=", 1)])
        assert plan["files_kept"] == plan["files_total"]

    def test_clear_property_stops_building(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._hash_table(spark, t, commits=1)
        df = spark.createDataFrame(
            [(self._sha(9000), 9000)], "h string, n long"
        )
        S.snapshot_commit(spark, t, df, bloom_columns=[])
        tip = S._read_manifest(t, S._versions(t)[-1])
        assert "blooms" not in tip or not tip.get("blooms")
        entries = tip["files"]
        assert any(f.get("bloom") for f in entries)      # old files keep
        assert not all(f.get("bloom") for f in entries)  # new one lacks
        # old sidecars still prune; the new bloom-less file is kept
        plan = S.snapshot_scan_plan(t, [("h", "=", "8" * 64)])
        assert plan["files_kept"] <= 2

    def test_vacuum_keeps_live_drops_orphan_sidecars(self, spark, tmp_path):
        import os as _os

        from imagingdb_spark.blooms import BLOOM_DIR

        t = str(tmp_path / "t")
        self._hash_table(spark, t, commits=2)
        probe = self._sha(1)
        S.snapshot_commit(
            spark, t,
            spark.createDataFrame([(probe, -1)], "h string, n long"),
            mode="overwrite",
        )
        S.snapshot_expire(t, keep_last=1)
        deleted = S.snapshot_vacuum(spark, t)
        assert any(d.startswith(BLOOM_DIR) for d in deleted)
        # the tip's own sidecar survives and still prunes
        live = _os.listdir(_os.path.join(t, BLOOM_DIR))
        assert len(live) == 1
        got = S.snapshot_read(spark, t, where=[("h", "=", probe)])
        assert got.count() == 1

    def test_time_travel_uses_old_sidecars(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._hash_table(spark, t, commits=2)
        v = S._versions(t)[-1]
        S.snapshot_commit(
            spark, t,
            spark.createDataFrame([("zz", 1)], "h string, n long"),
            mode="overwrite",
        )
        probe = self._sha(3)
        got = S.snapshot_read(spark, t, version=v, where=[("h", "=", probe)])
        assert got.count() == 1

    def test_fpp_bound(self):
        from imagingdb_spark import blooms as B

        m, k, bits, n = B._build_filter(
            [self._sha(i) for i in range(1000)], "s"
        )
        assert n == 1000
        fp = sum(
            B._might_contain(
                m, k, bits, B._probe_encode(self._sha(100000 + i))[1]
            )
            for i in range(5000)
        )
        assert fp / 5000 < 0.03  # sized for ~1%; generous margin


class TestBloomSoundness:
    """Round-8 review fixes: the false-ABSENCE hazards — NULL-coerced
    int columns, cross-type probes, malformed sidecar rows — must all
    degrade to KEEP, never to a silently dropped file."""

    def test_int_column_with_nulls_still_finds_rows(self, spark):
        import tempfile

        from pyspark.sql import functions as F

        with tempfile.TemporaryDirectory() as root:
            t = f"{root}/t"
            # one NULL makes pandas hand the bloom builder float64
            df = spark.range(0, 200).selectExpr(
                "CASE WHEN id = 7 THEN NULL "
                "ELSE (id * 2654435761) % 100000 END AS key",
                "id AS n",
            ).repartition(4)
            S.snapshot_commit(spark, t, df, bloom_columns=["key"])
            probe = (42 * 2654435761) % 100000
            got = S.snapshot_read(
                spark, t, where=[("key", "=", int(probe))]
            )
            assert got.filter(got.n == 42).count() == 1
            # and the filters are real: an IN-RANGE absent key prunes
            # via blooms (out-of-range would be min/max's job)
            present = {(i * 2654435761) % 100000 for i in range(200)}
            absent = next(
                v for v in range(50_000, 100_000) if v not in present
            )
            plan: dict = {}
            m = S._read_manifest(t, S._versions(t)[-1])
            S._resolve_pruned(t, m, [("key", "=", absent)], plan)
            assert plan["files_bloom_dropped"] >= 1

    def test_cross_type_probe_keeps_files(self, spark):
        import tempfile

        with tempfile.TemporaryDirectory() as root:
            t = f"{root}/t"
            df = spark.range(0, 100).selectExpr(
                "(id * 2654435761) % 4096 AS key", "id AS n"
            ).repartition(4)
            S.snapshot_commit(spark, t, df, bloom_columns=["key"])
            probe = int((5 * 2654435761) % 4096)
            # STRING probe on the int column: Spark casts and matches;
            # blooms must not prune on the mismatched encoding
            got = S.snapshot_read(
                spark, t, where=[("key", "=", str(probe))]
            )
            assert got.filter(got.n == 5).count() == 1
            plan: dict = {}
            m = S._read_manifest(t, S._versions(t)[-1])
            S._resolve_pruned(t, m, [("key", "=", str(probe))], plan)
            assert plan["files_bloom_dropped"] == 0  # kind mismatch: keep
            # integral-float probe uses the int filter (Spark matches it)
            got_f = S.snapshot_read(
                spark, t, where=[("key", "=", float(probe))]
            )
            assert got_f.filter(got_f.n == 5).count() == 1

    def test_float_column_never_indexed(self, spark):
        import tempfile

        with tempfile.TemporaryDirectory() as root:
            t = f"{root}/t"
            df = spark.range(0, 50).selectExpr(
                "cast(id AS double) AS key", "id AS n"
            ).repartition(2)
            S.snapshot_commit(spark, t, df, bloom_columns=["key"])
            m = S._read_manifest(t, S._versions(t)[-1])
            # no entry carries a bloom for the double column
            assert not any(
                "key" in (f.get("bloom") or {}).get("cols", [])
                for f in m["files"]
            )
            got = S.snapshot_read(spark, t, where=[("key", "=", 7)])
            assert got.count() == 1

    def test_malformed_sidecar_rows_keep(self):
        from imagingdb_spark import blooms as B

        data = B._probe_encode("x")[1]
        assert B._might_contain(0, B._K, b"", data) is True       # m=0
        assert B._might_contain(64, B._K, b"\xff", data) is True  # short
        assert B._might_contain(64, 3, b"\xff" * 8, data) is True  # alien k

    def test_unusable_filter_on_bad_value(self):
        from imagingdb_spark import blooms as B

        # a non-null value the kind cannot encode marks the filter
        # unusable (m=0) instead of silently under-covering
        m, k, bits, n = B._build_filter([1, "oops", 3], "i")
        assert m == 0 and n == 0
        m2, _, _, n2 = B._build_filter([1, None, 3.0], "i")
        assert m2 > 0 and n2 == 2  # nulls skip, integral floats index


class TestBloomSoundnessRound2:
    """Third review pass: float64-mantissa and coerced-IN-list hazards."""

    def test_big_int_with_nulls_marks_filter_unusable(self):
        from imagingdb_spark import blooms as B

        # a 2^53+ key arriving float64-coerced (null in the batch) would
        # index ROUNDED; the filter must refuse instead
        big = float(9007199254740993)  # 2^53 + 1, rounds to 2^53
        m, _, _, n = B._build_filter([1.0, big], "i")
        assert m == 0
        # below the mantissa, coerced ints index fine
        m2, _, _, n2 = B._build_filter([1.0, 2.0**52], "i")
        assert m2 > 0 and n2 == 2

    def test_mixed_in_list_with_unencodable_member_keeps(self, spark):
        import tempfile

        with tempfile.TemporaryDirectory() as root:
            t = f"{root}/t"
            df = spark.createDataFrame(
                [("2.5", 1), ("abc", 2)], "s string, n long"
            ).repartition(2)
            S.snapshot_commit(spark, t, df, bloom_columns=["s"])
            # 2.5 is unencodable for the bloom but Spark's coerced IN
            # can match rows through it — no file may be pruned
            plan: dict = {}
            m = S._read_manifest(t, S._versions(t)[-1])
            S._resolve_pruned(
                t, m, [("s", "in", ["zzz", 2.5])], plan
            )
            assert plan["files_bloom_dropped"] == 0

    def test_ms_adpcm_corrupt_block_align_raises_valueerror(self):
        import pytest as _pytest

        from imagingdb_spark import wav

        with _pytest.raises(ValueError, match="block_align"):
            wav.ms_adpcm_decode(b"\x00" * 32, 1, 0)
        with _pytest.raises(ValueError, match="block_align"):
            wav.ms_adpcm_decode(b"\x00" * 32, 2, 10)


class TestPlanShapeStable:
    def test_bloom_counter_present_when_stats_drop_everything(
        self, spark, tmp_path
    ):
        """files_bloom_dropped is ALWAYS in the plan dict — even when
        min/max pruning already dropped every file, so consumers never
        KeyError on the stable plan shape (advice r8)."""
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(100)], "n long, s string"
        )
        S.snapshot_commit(spark, t, df, bloom_columns=["s"])
        plan = S.snapshot_scan_plan(t, [("n", ">", 10_000)])
        assert plan["files_kept"] == 0
        assert plan["files_bloom_dropped"] == 0


class TestSnapshotDelete:
    """Targeted row-level delete (round-9 task 1): stats+bloom-pruned
    copy-on-write file rewrite under one atomic commit — the takedown /
    opt-out primitive. Reference parity: the dataset-removal transaction
    scope of db_operations.py, lifted to data files."""

    def _clustered(self, spark, t, n_commits=4, per=100):
        """One commit per disjoint k-range, 2 files each — group stats
        separate the ranges, so a narrow delete prunes whole groups."""
        for c in range(n_commits):
            df = spark.createDataFrame(
                [(c * per + i, f"v{c * per + i}") for i in range(per)],
                "k long, v string",
            ).repartition(2)
            S.snapshot_commit(spark, t, df)

    def test_delete_is_exact_and_surgical(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t)
        out = S.snapshot_delete(
            spark, t, [("k", ">=", 150), ("k", "<", 160)]
        )
        assert out["rows_deleted"] == 10
        assert out["files_total"] == 8
        # only commit 1's group opened; its 2 files may both span the
        # range (hash repartition) but at most 2 rewritten
        assert out["files_rewritten"] <= 2
        assert out["groups_kept_by_ref"] >= 3
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [k for k in range(400) if not 150 <= k < 160]
        # manifest bookkeeping: rows column matches reality
        assert S.snapshot_versions(t)[-1]["rows"] == 390
        # untouched files carried BY REFERENCE: their paths unchanged
        old = {f["path"] for f in S._read_manifest(t, 4)["files"]}
        new = {f["path"] for f in S._read_manifest(t, 5)["files"]}
        assert len(old & new) >= 6  # >= files_total - files_rewritten

    def test_time_travel_and_physical_erasure(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        v_pre = S._versions(t)[-1]
        out = S.snapshot_delete(spark, t, [("k", "=", 7)])
        assert out["rows_deleted"] == 1
        # legal-hold window: the pre-delete version still shows the row
        assert (
            S.snapshot_read(spark, t, version=v_pre)
            .filter("k = 7").count() == 1
        )
        assert S.snapshot_read(spark, t).filter("k = 7").count() == 0
        # physical erasure: expire + vacuum removes the rewritten file's
        # bytes; the table reads identically after
        rewritten = {
            f["path"] for f in S._read_manifest(t, v_pre)["files"]
        } - {f["path"] for f in S._read_manifest(t, v_pre + 1)["files"]}
        assert rewritten
        S.snapshot_expire(t, keep_last=1)
        gone = S.snapshot_vacuum(spark, t)
        assert rewritten <= set(gone)
        assert S.snapshot_read(spark, t).count() == 199

    def test_null_predicate_rows_survive(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, "a"), (2, None), (3, "a"), (4, "b")], "k long, v string"
        ).coalesce(1)
        S.snapshot_commit(spark, t, df)
        out = S.snapshot_delete(spark, t, [("v", "=", "a")])
        assert out["rows_deleted"] == 2
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [2, 4]  # NULL predicate != TRUE: row 2 kept

    def test_no_match_publishes_nothing(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        tip = S._versions(t)[-1]
        out = S.snapshot_delete(spark, t, [("k", ">=", 10_000)])
        assert out["rows_deleted"] == 0 and out["files_rewritten"] == 0
        assert out["version"] == tip
        assert S._versions(t)[-1] == tip  # no empty commit
        # stats kept a file but no physical row matched: same contract
        out2 = S.snapshot_delete(
            spark, t, [("k", ">=", 55), ("k", "<", 55)]
        )
        assert out2["rows_deleted"] == 0
        assert S._versions(t)[-1] == tip

    def test_whole_file_delete_drops_entries(self, spark, tmp_path):
        t = str(tmp_path / "t")
        # two single-file commits with disjoint ranges
        for lo in (0, 100):
            S.snapshot_commit(
                spark, t,
                spark.createDataFrame(
                    [(lo + i, "x") for i in range(50)], "k long, v string"
                ).coalesce(1),
            )
        out = S.snapshot_delete(spark, t, [("k", "<", 50)])
        assert out["rows_deleted"] == 50
        m = S._read_manifest(t, S._versions(t)[-1])
        assert len(m["files"]) == 1  # zero-row rewrite never lands
        assert m["rows"] == 50
        assert S.snapshot_read(spark, t).count() == 50

    def test_crash_at_every_point_leaves_old_version(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        tip = S._versions(t)[-1]
        before = _rows(S.snapshot_read(spark, t))
        for target in ("_write_data_files", "_write_group", "_publish"):
            real = getattr(S, target)

            def boom(*a, **kw):
                raise RuntimeError("simulated crash")

            monkeypatch.setattr(S, target, boom)
            with pytest.raises(RuntimeError, match="simulated crash"):
                S.snapshot_delete(spark, t, [("k", "=", 3)])
            monkeypatch.setattr(S, target, real)
            assert S._versions(t)[-1] == tip
            assert _rows(S.snapshot_read(spark, t)) == before
        # debris from the crashed attempts vacuums away; table unharmed
        S.snapshot_vacuum(spark, t)
        assert _rows(S.snapshot_read(spark, t)) == before
        # and the post-crash retry completes the delete atomically
        out = S.snapshot_delete(spark, t, [("k", "=", 3)])
        assert out["rows_deleted"] == 1
        assert S.snapshot_read(spark, t).filter("k = 3").count() == 0

    def test_concurrent_append_forces_rebase(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                # an append (including a k=3 row) lands first
                S.snapshot_commit(
                    spark, t,
                    spark.createDataFrame(
                        [(3, "late"), (900, "w")], "k long, v string"
                    ).coalesce(1),
                )
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        out = S.snapshot_delete(spark, t, [("k", "=", 3)])
        monkeypatch.setattr(S, "_publish", real)
        # the retry re-resolved at the winner's tip: BOTH k=3 rows gone,
        # the non-matching appended row survives
        assert out["rows_deleted"] == 2
        assert S.snapshot_read(spark, t).filter("k = 3").count() == 0
        assert S.snapshot_read(spark, t).filter("k = 900").count() == 1

    def test_txn_marker_replay_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        out1 = S.snapshot_delete(
            spark, t, [("k", "=", 5)], txn=("eraser", 1)
        )
        assert out1["rows_deleted"] == 1
        tip = out1["version"]
        out2 = S.snapshot_delete(
            spark, t, [("k", "=", 6)], txn=("eraser", 1)
        )
        assert out2["version"] == tip and out2["rows_deleted"] == 0
        assert S.snapshot_read(spark, t).filter("k = 6").count() == 1
        # a NEW seq proceeds
        out3 = S.snapshot_delete(
            spark, t, [("k", "=", 6)], txn=("eraser", 2)
        )
        assert out3["rows_deleted"] == 1

    def test_bloom_pruned_takedown(self, spark, tmp_path):
        import hashlib

        t = str(tmp_path / "t")
        sha = lambda i: hashlib.sha256(str(i).encode()).hexdigest()
        for c in range(4):
            df = spark.createDataFrame(
                [(sha(c * 200 + i), c * 200 + i) for i in range(200)],
                "h string, n long",
            ).repartition(4)
            S.snapshot_commit(
                spark, t, df, bloom_columns=["h"] if c == 0 else None
            )
        out = S.snapshot_delete(spark, t, [("h", "=", sha(42))])
        assert out["rows_deleted"] == 1
        # unclustered sha keys: min/max keeps ~everything, blooms clear
        # almost all of it — the takedown rewrites 1-2 of 16 files
        assert out["files_total"] == 16
        assert out["files_bloom_cleared"] >= 12
        assert out["files_rewritten"] <= 3
        assert S.snapshot_read(
            spark, t, where=[("h", "=", sha(42))]
        ).count() == 0
        # sidecar refresh: the REWRITTEN files' blooms still answer
        # point probes (delete another key that lived near the first)
        out2 = S.snapshot_delete(spark, t, [("h", "=", sha(43))])
        assert out2["rows_deleted"] == 1
        assert out2["files_bloom_cleared"] >= 12

    def test_delete_content_matches_filter_twin(self, spark, tmp_path):
        """Oracle-style twin: post-delete table content == the source
        minus the predicate, row for row (table_diff shows no drift)."""
        from imagingdb_spark.operators.merge import table_diff

        t = str(tmp_path / "t")
        src = spark.createDataFrame(
            [(i, f"v{i % 7}") for i in range(500)], "k long, v string"
        )
        S.snapshot_commit(spark, t, src.repartition(4))
        S.snapshot_delete(spark, t, [("v", "=", "v3")])
        want = src.filter("v <> 'v3'")
        d = table_diff(
            want, S.snapshot_read(spark, t), "k", "v"
        ).filter("status <> 'unchanged'")
        assert d.count() == 0

    def test_empty_predicate_rejected(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=1)
        with pytest.raises(ValueError, match="non-empty predicate"):
            S.snapshot_delete(spark, t, [])


class TestSnapshotDeleteDV:
    """Merge-on-read DELETE via positional-delete sidecars (round-10
    task 2, the Iceberg-v2 position-delete / Delta deletion-vector
    shape): snapshot_delete(mode="dv") writes (path, pos) parquet
    sidecars instead of rewriting data files; reads anti-apply them;
    compact materializes; vacuum reclaims."""

    def _unclustered(self, spark, t, n_commits=4, per=100):
        """Commits whose k values INTERLEAVE across every file (k % 4 ==
        commit index): min/max stats never exclude a file, so a CoW
        delete on k must rewrite ~every file — the degenerate case DV
        exists for."""
        for c in range(n_commits):
            df = spark.createDataFrame(
                [(c + 4 * i, f"v{c + 4 * i}") for i in range(per)],
                "k long, v string",
            ).repartition(2)
            S.snapshot_commit(spark, t, df)

    def test_equivalence_with_cow_on_identical_predicate(
        self, spark, tmp_path
    ):
        """Same predicate, both modes, identical table content after —
        mode picks the execution strategy, never the semantics."""
        a, b = str(tmp_path / "cow"), str(tmp_path / "dv")
        for t in (a, b):
            self._unclustered(spark, t)
        pred = [("k", ">=", 100), ("k", "<", 180)]
        out_cow = S.snapshot_delete(spark, a, pred, mode="cow")
        out_dv = S.snapshot_delete(spark, b, pred, mode="dv")
        assert out_cow["rows_deleted"] == out_dv["rows_deleted"] == 80
        assert _rows(S.snapshot_read(spark, a)) == _rows(
            S.snapshot_read(spark, b)
        )
        # manifest row bookkeeping agrees on both paths
        assert (
            S.snapshot_versions(a)[-1]["rows"]
            == S.snapshot_versions(b)[-1]["rows"]
            == 320
        )

    def test_no_data_bytes_move_on_unclustered_key(self, spark, tmp_path):
        """The write-amplification case (VERDICT missing #1): on an
        interleaved key CoW rewrites every file; DV rewrites NONE — the
        data file set is unchanged and only a positions sidecar lands."""
        t = str(tmp_path / "t")
        self._unclustered(spark, t)
        pre = {f["path"] for f in S._read_manifest(t, 4)["files"]}
        out = S.snapshot_delete(spark, t, [("k", "=", 201)], mode="dv")
        assert out["rows_deleted"] == 1
        assert out["files_rewritten"] == 0
        assert out["files_dv"] == 1
        m = S._read_manifest(t, 5)
        assert {f["path"] for f in m["files"]} == pre  # bytes never moved
        dv_entries = [f for f in m["files"] if f.get("dv")]
        assert len(dv_entries) == 1 and dv_entries[0]["dv"]["n"] == 1
        # the CoW twin on the same layout rewrites the k=201 file —
        # write cost O(file bytes); dv cost is O(deleted positions)
        assert S.snapshot_read(spark, t).filter("k = 201").count() == 0
        assert S.snapshot_read(spark, t).count() == 399

    def test_second_delete_chains_sidecars(self, spark, tmp_path):
        """A later DV delete on the same file APPENDS its own sidecar to
        the entry's chain (round-11: O(new positions) per delete, never
        a rewrite of the accumulated set); both deletions hold and the
        manifest n counts the whole chain."""
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t,
            _mk(spark, [(i, f"v{i}") for i in range(50)]).coalesce(1),
        )
        S.snapshot_delete(spark, t, [("k", "=", 3)], mode="dv")
        m2 = S._read_manifest(t, 2)
        (fe2,) = m2["files"]
        first_sc = fe2["dv"]["sc"]
        assert isinstance(first_sc, str)  # single ref stays the flat form
        S.snapshot_delete(spark, t, [("k", "=", 7)], mode="dv")
        m = S._read_manifest(t, 3)
        (fe,) = m["files"]
        assert fe["dv"]["n"] == 2  # chain-total count
        chain = S._dv_scs(fe["dv"])
        assert len(chain) == 2 and chain[0] == first_sc
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [k for k in range(50) if k not in (3, 7)]
        # time travel: the intermediate version shows exactly one delete
        assert S.snapshot_read(spark, t, version=2).count() == 49
        assert S.snapshot_read(spark, t, version=1).count() == 50

    def test_fully_dead_entry_leaves_manifest(self, spark, tmp_path):
        t = str(tmp_path / "t")
        for lo in (0, 100):
            S.snapshot_commit(
                spark, t,
                _mk(spark, [(lo + i, "x") for i in range(50)]).coalesce(1),
            )
        out = S.snapshot_delete(spark, t, [("k", "<", 50)], mode="dv")
        assert out["rows_deleted"] == 50
        assert out["files_dropped"] == 1
        m = S._read_manifest(t, S._versions(t)[-1])
        assert len(m["files"]) == 1 and m["rows"] == 50
        assert S.snapshot_read(spark, t).count() == 50

    def test_null_predicate_rows_survive(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t,
            spark.createDataFrame(
                [(1, "a"), (2, None), (3, "a"), (4, "b")],
                "k long, v string",
            ).coalesce(1),
        )
        out = S.snapshot_delete(spark, t, [("v", "=", "a")], mode="dv")
        assert out["rows_deleted"] == 2
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [2, 4]

    def test_pruned_where_read_through_dv(self, spark, tmp_path):
        """snapshot_read(where=...) composes with DVs: pruning picks the
        files, the DV anti-applies, the residual filter re-applies —
        the result is exactly the filtered post-delete table."""
        t = str(tmp_path / "t")
        self._unclustered(spark, t)
        S.snapshot_delete(
            spark, t, [("k", ">=", 40), ("k", "<", 60)], mode="dv"
        )
        got = sorted(
            r["k"]
            for r in S.snapshot_read(
                spark, t, where=[("k", ">=", 30), ("k", "<", 70)]
            ).collect()
        )
        assert got == [k for k in range(30, 70) if not 40 <= k < 60]

    def test_cow_after_dv_materializes_on_touched_files(
        self, spark, tmp_path
    ):
        """A CoW delete on a dv-bearing table reads THROUGH the DVs: its
        rewritten files carry no dv ref and previously-deleted rows do
        not resurrect."""
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t,
            _mk(spark, [(i, f"v{i}") for i in range(40)]).coalesce(1),
        )
        S.snapshot_delete(spark, t, [("k", "=", 5)], mode="dv")
        out = S.snapshot_delete(spark, t, [("k", "=", 9)], mode="cow")
        assert out["rows_deleted"] == 1
        m = S._read_manifest(t, S._versions(t)[-1])
        assert all(not f.get("dv") for f in m["files"])
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [k for k in range(40) if k not in (5, 9)]

    def test_compact_materializes_and_vacuum_reclaims(
        self, spark, tmp_path
    ):
        t = str(tmp_path / "t")
        self._unclustered(spark, t, n_commits=2)
        out = S.snapshot_delete(spark, t, [("k", "<", 20)], mode="dv")
        # interleaved keys: only k = c + 4i < 20 with c in {0,1} match
        assert out["rows_deleted"] == 10
        S.snapshot_compact(spark, t, target_file_bytes=1 << 30)
        m = S._read_manifest(t, S._versions(t)[-1])
        assert all(not f.get("dv") for f in m["files"])
        assert S.snapshot_read(spark, t).count() == 190
        S.snapshot_expire(t, keep_last=1)
        gone = S.snapshot_vacuum(spark, t)
        assert any(p.startswith(S.DELETES_DIR) for p in gone)
        dvroot = os.path.join(t, S.DELETES_DIR)
        assert not os.path.isdir(dvroot) or not os.listdir(dvroot)
        assert S.snapshot_read(spark, t).count() == 190

    def test_row_cdf_parity_with_cow(self, spark, tmp_path):
        """snapshot_row_changes reads identical delete rows from a DV
        commit and a CoW commit of the same predicate — the CDF is
        strategy-blind, so takedown propagation works unchanged."""
        a, b = str(tmp_path / "cow"), str(tmp_path / "dv")
        for t in (a, b):
            self._unclustered(spark, t, n_commits=2)
        pred = [("k", ">=", 33), ("k", "<", 55)]
        S.snapshot_delete(spark, a, pred, mode="cow")
        S.snapshot_delete(spark, b, pred, mode="dv")
        want = sorted(
            (r["_change_type"], r["k"], r["v"])
            for r in S.snapshot_row_changes(spark, a, 2).collect()
        )
        got = sorted(
            (r["_change_type"], r["k"], r["v"])
            for r in S.snapshot_row_changes(spark, b, 2).collect()
        )
        assert got == want and len(got) > 0

    def test_propagation_through_dv_source(self, spark, tmp_path):
        """propagate_deletes rides the CDF of a DV-deleted corpus into a
        derived table, itself deleted with mode='dv' — the end-to-end
        O(deleted rows) takedown chain."""
        corpus, idx = str(tmp_path / "c"), str(tmp_path / "i")
        docs = spark.createDataFrame(
            [(i, f"t{i % 5}") for i in range(100)],
            "doc_id long, token string",
        )
        S.snapshot_commit(spark, corpus, docs.repartition(3))
        S.snapshot_commit(spark, idx, docs.repartition(3))
        cursor = S._versions(corpus)[-1]
        S.snapshot_delete(
            spark, corpus, [("doc_id", "in", [4, 9, 14])], mode="dv"
        )
        out = S.propagate_deletes(spark, corpus, cursor, {idx: "doc_id"})
        assert out["deleted_keys"] == 3
        assert out["targets"][idx]["rows_deleted"] == 3
        assert S.snapshot_read(spark, idx).filter(
            "doc_id in (4, 9, 14)"
        ).count() == 0

    def test_crash_at_every_point_leaves_old_version(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "t")
        self._unclustered(spark, t, n_commits=2)
        tip = S._versions(t)[-1]
        before = _rows(S.snapshot_read(spark, t))
        for target in ("_write_dv_sidecar", "_write_group", "_publish"):
            real = getattr(S, target)

            def boom(*a, **kw):
                raise RuntimeError("simulated crash")

            monkeypatch.setattr(S, target, boom)
            with pytest.raises(RuntimeError, match="simulated crash"):
                # k=4 EXISTS in the interleaved data (k = c + 4i), so
                # every crash point past the position scan is reached
                S.snapshot_delete(spark, t, [("k", "=", 4)], mode="dv")
            monkeypatch.setattr(S, target, real)
            assert S._versions(t)[-1] == tip
            assert _rows(S.snapshot_read(spark, t)) == before
        S.snapshot_vacuum(spark, t)  # crashed sidecar debris reclaimed
        assert _rows(S.snapshot_read(spark, t)) == before
        out = S.snapshot_delete(spark, t, [("k", "=", 4)], mode="dv")
        assert out["rows_deleted"] == 1

    def test_concurrent_append_forces_rebase(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "t")
        self._unclustered(spark, t, n_commits=2)
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(
                    spark, t,
                    _mk(spark, [(4, "late"), (901, "w")]).coalesce(1),
                )
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        out = S.snapshot_delete(spark, t, [("k", "=", 4)], mode="dv")
        monkeypatch.setattr(S, "_publish", real)
        assert out["rows_deleted"] == 2  # retry re-resolved at new tip
        assert S.snapshot_read(spark, t).filter("k = 4").count() == 0
        assert S.snapshot_read(spark, t).filter("k = 901").count() == 1

    def test_txn_marker_replay_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._unclustered(spark, t, n_commits=1)
        out1 = S.snapshot_delete(
            spark, t, [("k", "=", 8)], txn=("dv-eraser", 1), mode="dv"
        )
        assert out1["rows_deleted"] == 1
        out2 = S.snapshot_delete(
            spark, t, [("k", "=", 12)], txn=("dv-eraser", 1), mode="dv"
        )
        assert out2["version"] == out1["version"]
        assert out2["rows_deleted"] == 0
        assert S.snapshot_read(spark, t).filter("k = 12").count() == 1

    def test_bad_mode_rejected(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._unclustered(spark, t, n_commits=1)
        with pytest.raises(ValueError, match="cow|dv"):
            S.snapshot_delete(spark, t, [("k", "=", 1)], mode="mor")


class TestDVChainsAndGuards:
    """Round-11: sidecar CHAINS make K repeat deletes on one hot file
    cost O(total positions) across all K (VERDICT 'What's wrong' #1);
    the accumulated-position cap + broadcast/coalesce guards close the
    round-10 ADVICE hazard (an unbounded DV OOMing the driver)."""

    def _one_file(self, spark, t, n=60):
        S.snapshot_commit(
            spark, t,
            _mk(spark, [(i, f"v{i}") for i in range(n)]).coalesce(1),
        )

    def _dv_bytes(self, t, rel):
        root = os.path.join(t, rel)
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _d, fs in os.walk(root)
            for f in fs
            if f.endswith(".parquet")
        )

    def test_repeat_deletes_write_only_their_own_positions(
        self, spark, tmp_path
    ):
        """Five successive one-row DV deletes on the same file: every
        sidecar in the chain stays one-row-sized (no merged rewrite),
        earlier sidecars' bytes never change, read parity exact."""
        t = str(tmp_path / "t")
        self._one_file(spark, t)
        sizes_after_write: dict[str, int] = {}
        for i in range(5):
            S.snapshot_delete(spark, t, [("k", "=", 10 + i)], mode="dv")
            m = S._read_manifest(t, S._versions(t)[-1])
            (fe,) = m["files"]
            for sc in S._dv_scs(fe["dv"]):
                sizes_after_write.setdefault(sc, self._dv_bytes(t, sc))
        (fe,) = S._read_manifest(t, S._versions(t)[-1])["files"]
        chain = S._dv_scs(fe["dv"])
        assert len(chain) == 5 and fe["dv"]["n"] == 5
        # every sidecar holds ~one position: the largest is within noise
        # of the smallest (a merged rewrite would be 5x the first)
        sizes = [self._dv_bytes(t, sc) for sc in chain]
        assert max(sizes) <= 1.5 * min(sizes)
        # earlier sidecars were never rewritten
        for sc, first_size in sizes_after_write.items():
            assert self._dv_bytes(t, sc) == first_size
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [k for k in range(60) if k not in range(10, 15)]

    def test_chain_cdf_delta_per_commit(self, spark, tmp_path):
        """snapshot_row_changes attributes each chained delete to its own
        commit with exactly its own rows — the chain-append fast path in
        _dv_delta_rows (old sidecars never reopened) stays exact."""
        t = str(tmp_path / "t")
        self._one_file(spark, t)
        S.snapshot_delete(spark, t, [("k", "in", [1, 2])], mode="dv")
        S.snapshot_delete(spark, t, [("k", "in", [3, 4, 5])], mode="dv")
        cdf = S.snapshot_row_changes(spark, t, since_version=1)
        rows = sorted(
            (r["_commit_version"], r["k"]) for r in cdf.collect()
        )
        assert rows == [(2, 1), (2, 2), (3, 3), (3, 4), (3, 5)]
        assert {r[0] for r in rows} == {2, 3}

    def test_vacuum_keeps_chain_reclaims_after_compact(
        self, spark, tmp_path
    ):
        """Every chain sidecar is vacuum-live while a retained manifest
        references it; compact materializes the chain and expire+vacuum
        reclaims all of them (the physical-erasure endgame)."""
        t = str(tmp_path / "t")
        self._one_file(spark, t)
        S.snapshot_delete(spark, t, [("k", "=", 1)], mode="dv")
        S.snapshot_delete(spark, t, [("k", "=", 2)], mode="dv")
        assert S.snapshot_vacuum(spark, t) == []  # both sidecars live
        S.snapshot_compact(spark, t, target_file_bytes=1 << 30)
        S.snapshot_expire(t, keep_last=1)
        gone = S.snapshot_vacuum(spark, t)
        assert sum(1 for p in gone if p.startswith(S.DELETES_DIR)) == 2
        assert not os.path.isdir(os.path.join(t, S.DELETES_DIR)) or not os.listdir(
            os.path.join(t, S.DELETES_DIR)
        )
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [k for k in range(60) if k not in (1, 2)]

    def test_position_cap_falls_back_to_cow(self, spark, tmp_path):
        """A dv delete whose accumulated positions exceed
        dv_max_positions lands as copy-on-write (same semantics, audit
        records mode_used) instead of publishing a corpus-scale
        standing read tax."""
        t = str(tmp_path / "t")
        self._one_file(spark, t)
        out = S.snapshot_delete(
            spark, t, [("k", "<", 30)], mode="dv", dv_max_positions=10
        )
        assert out["mode_used"] == "cow"
        assert out["rows_deleted"] == 30
        assert out["files_rewritten"] >= 1 and out["files_dv"] == 0
        m = S._read_manifest(t, S._versions(t)[-1])
        assert not any(fe.get("dv") for fe in m["files"])
        assert S.snapshot_read(spark, t).count() == 30
        # under the cap the same predicate stays merge-on-read
        t2 = str(tmp_path / "t2")
        self._one_file(spark, t2)
        out2 = S.snapshot_delete(
            spark, t2, [("k", "<", 30)], mode="dv", dv_max_positions=1000
        )
        assert out2["mode_used"] == "dv" and out2["files_rewritten"] == 0
        assert _rows(S.snapshot_read(spark, t2)) == _rows(
            S.snapshot_read(spark, t)
        )

    def test_cap_counts_accumulated_not_just_new(self, spark, tmp_path):
        """The cap is a TABLE-DEBT bound: a small delete on entries
        already carrying positions trips it when old+new exceeds the
        cap, even though the new batch alone is tiny."""
        t = str(tmp_path / "t")
        self._one_file(spark, t)
        S.snapshot_delete(
            spark, t, [("k", "<", 8)], mode="dv", dv_max_positions=100
        )
        out = S.snapshot_delete(
            spark, t, [("k", "in", [20, 21, 22])], mode="dv",
            dv_max_positions=10,  # 8 old + 3 new = 11 > 10
        )
        assert out["mode_used"] == "cow" and out["rows_deleted"] == 3
        # the CoW rewrite read THROUGH the existing chain and
        # materialized it: fresh entries carry no dv refs
        m = S._read_manifest(t, S._versions(t)[-1])
        assert not any(fe.get("dv") for fe in m["files"])
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == [
            k for k in range(60) if k >= 8 and k not in (20, 21, 22)
        ]

    def test_read_shuffle_fallback_past_broadcast_cap(
        self, spark, tmp_path, monkeypatch
    ):
        """Past DV_BROADCAST_MAX_POSITIONS the read anti-join runs as a
        shuffle instead of a broadcast — same rows, no driver-sized
        materialization (round-10 ADVICE, medium)."""
        t = str(tmp_path / "t")
        self._one_file(spark, t)
        S.snapshot_delete(spark, t, [("k", "<", 5)], mode="dv")
        expect = [(k, f"v{k}") for k in range(5, 60)]
        assert _rows(S.snapshot_read(spark, t)) == expect
        monkeypatch.setattr(S, "DV_BROADCAST_MAX_POSITIONS", 0)
        assert _rows(S.snapshot_read(spark, t)) == expect

    def test_sidecar_write_spreads_past_one_file_cap(
        self, spark, tmp_path, monkeypatch
    ):
        """A corpus-scale position set spreads over multiple sidecar
        parquet files instead of funneling through one coalesce(1)
        writer (round-10 ADVICE, medium); small deletes stay one file."""
        t = str(tmp_path / "t")
        self._one_file(spark, t, n=200)
        monkeypatch.setattr(S, "DV_SIDECAR_ROWS_PER_FILE", 10)
        out = S.snapshot_delete(spark, t, [("k", "<", 40)], mode="dv")
        assert out["rows_deleted"] == 40 and out["mode_used"] == "dv"
        (fe,) = S._read_manifest(t, 2)["files"]
        sc_dir = os.path.join(t, S._dv_scs(fe["dv"])[0])
        n_parts = sum(
            1 for f in os.listdir(sc_dir)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
        assert n_parts >= 2
        assert S.snapshot_read(spark, t).count() == 160

    def test_reserved_dv_columns_rejected_at_commit(self, spark, tmp_path):
        """__dv_* column names collide with the read path's helper
        columns and are rejected at schema canonicalization — the one
        seam every writer passes through (round-10 ADVICE, low)."""
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 0)], "k long, __dv_pos long"
        )
        with pytest.raises(ValueError, match="__dv_"):
            S.snapshot_commit(spark, t, df)
        assert not S.snapshot_exists(t)


class TestUpsertEq:
    """Equality-delete upserts (round-11 stretch; Iceberg-v2 equality
    deletes): a batch lands as fresh files + one key sidecar — NO
    standing data file rewrites. Readers merge at scan time; compaction
    and the DV-debt tick materialize; the CDF emits exact update
    images from the delta sidecars."""

    def _base(self, spark, t, n=100, files=4):
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(n)], "k long, v string"
        ).repartitionByRange(files, "k").sortWithinPartitions("k")
        S.snapshot_commit(spark, t, df, bloom_columns=["k"])

    def test_no_standing_file_rewrites(self, spark, tmp_path):
        """The headline property: the pre-upsert data files are carried
        byte-identical; only batch files + a sidecar land."""
        t = str(tmp_path / "t")
        self._base(spark, t)
        pre = {f["path"] for f in S._read_manifest(t, 1)["files"]}
        plan = {}
        v = S.snapshot_upsert_eq(
            spark, t,
            _mk(spark, [(5, "U5"), (200, "NEW")]), "k", plan=plan,
        )
        assert plan["strategy"] == "eq" and plan["files_rewritten"] == 0
        assert plan["rows_replaced"] == 1 and plan["rows_inserted"] == 2
        m = S._read_manifest(t, v)
        assert pre <= {f["path"] for f in m["files"]}  # all carried
        assert m["rows"] == 101
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[5] == "U5" and got[200] == "NEW" and len(got) == 101
        # time travel unharmed
        assert S.snapshot_read(spark, t, version=1).count() == 100

    def test_equivalence_with_keyed_apply_replace(self, spark, tmp_path):
        """Same batches through eq upserts and through the LWW keyed
        apply (row-replacement semantics on both): identical content."""
        a, b = str(tmp_path / "eq"), str(tmp_path / "rw")
        for t in (a, b):
            self._base(spark, t)
        batches = [
            [(5, "U5"), (200, "NEW")],
            [(5, "U5b"), (6, "U6")],
        ]
        for rows in batches:
            src = _mk(spark, rows)
            S.snapshot_upsert_eq(spark, a, src, "k")
            S.snapshot_rmw(
                spark, b,
                lambda tip, src=src: tip.join(
                    src.select("k"), "k", "left_anti"
                ).unionByName(src),
            )
        assert _rows(S.snapshot_read(spark, a)) == _rows(
            S.snapshot_read(spark, b)
        )
        assert (
            S.snapshot_versions(a)[-1]["rows"]
            == S.snapshot_read(spark, a).count()
        )

    def test_deletes_frame_and_chaining(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_upsert_eq(spark, t, _mk(spark, [(5, "U5")]), "k")
        S.snapshot_upsert_eq(
            spark, t, _mk(spark, []), "k",
            deletes=spark.createDataFrame([(7,), (8,)], "k long"),
        )
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert 7 not in got and 8 not in got and got[5] == "U5"
        assert len(got) == 98
        assert S._read_manifest_raw(t, 3)["rows"] == 98
        rep = S.snapshot_dv_report(t)
        assert rep["files_eq"] >= 1 and rep["max_chain"] >= 1

    def test_composes_with_positional_dv(self, spark, tmp_path):
        """A table carrying BOTH ref kinds (a dv takedown then an eq
        upsert on the same file) reads exactly."""
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_delete(spark, t, [("k", "=", 3)], mode="dv")
        S.snapshot_upsert_eq(spark, t, _mk(spark, [(5, "U5")]), "k")
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert 3 not in got and got[5] == "U5" and len(got) == 99
        assert S._read_manifest_raw(t, 3)["rows"] == 99
        # a dv delete THROUGH an eq ref must not re-count eq-dead rows:
        # k<10 live rows = 0..9 minus dv-dead k3 minus superseded old k5,
        # plus the batch file's new k5 row = 9 — never 10
        out = S.snapshot_delete(spark, t, [("k", "<", 10)], mode="dv")
        assert out["rows_deleted"] == 9
        assert S._read_manifest_raw(t, 4)["rows"] == 90
        assert S.snapshot_read(spark, t).count() == 90
        assert S.snapshot_read(spark, t).filter("k < 10").count() == 0

    def test_cow_delete_through_eq_refs_counts_exactly(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_upsert_eq(spark, t, _mk(spark, [(5, "U5")]), "k")
        out = S.snapshot_delete(spark, t, [("k", "<", 10)])
        assert out["rows_deleted"] == 10  # incl. the new k=5, not the dead one
        assert S._read_manifest_raw(t, 3)["rows"] == 90
        assert S.snapshot_read(spark, t).count() == 90

    def test_cdf_update_images_exact(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_upsert_eq(spark, t, _mk(spark, [(5, "U5"), (200, "NEW")]), "k")
        S.snapshot_upsert_eq(
            spark, t, _mk(spark, []), "k",
            deletes=spark.createDataFrame([(7,)], "k long"),
        )
        cdf = S.snapshot_row_changes(spark, t, 1)
        rows = sorted(
            (r["_commit_version"], r["_change_type"], r["k"], r["v"])
            for r in cdf.collect()
        )
        assert rows == [
            (2, "insert", 200, "NEW"),
            (2, "update_postimage", 5, "U5"),
            (2, "update_preimage", 5, "v5"),
            (3, "delete", 7, "v7"),
        ]
        # re-upserting an identical row is change-proportional: silence
        S.snapshot_upsert_eq(spark, t, _mk(spark, [(5, "U5")]), "k")
        assert S.snapshot_row_changes(spark, t, 3).count() == 0

    def test_compact_materializes_and_vacuum_reclaims(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_upsert_eq(spark, t, _mk(spark, [(5, "U5")]), "k")
        S.snapshot_upsert_eq(spark, t, _mk(spark, [(6, "U6")]), "k")
        before = _rows(S.snapshot_read(spark, t))
        v = S.snapshot_maintain(spark, t, "k", max_avg_overlap=1e9,
                                max_dv_file_frac=0.0)
        assert v is not None
        assert S.snapshot_dv_report(t)["files_ref"] == 0
        assert _rows(S.snapshot_read(spark, t)) == before
        S.snapshot_expire(t, keep_last=1)
        gone = S.snapshot_vacuum(spark, t)
        assert any(p.startswith(S.EQDELETES_DIR) for p in gone)
        assert _rows(S.snapshot_read(spark, t)) == before

    def test_crash_and_race_leave_pre_version(self, spark, tmp_path, monkeypatch):
        t = str(tmp_path / "t")
        self._base(spark, t)
        before = _rows(S.snapshot_read(spark, t))
        batch = _mk(spark, [(5, "U5"), (300, "NEW")])
        for seam in ("_write_data_files", "_write_eq_sidecar", "_publish"):
            real = getattr(S, seam)

            def boom(*a, _s=seam, **kw):
                raise RuntimeError(f"crash at {_s}")

            monkeypatch.setattr(S, seam, boom)
            with pytest.raises(RuntimeError, match="crash at"):
                S.snapshot_upsert_eq(spark, t, batch, "k")
            monkeypatch.setattr(S, seam, real)
            assert S._versions(t) == [1]
            assert _rows(S.snapshot_read(spark, t)) == before
        # racing append between resolve and publish forces re-resolve
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if manifest["mode"] == "eqput" and not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(spark, t, _mk(spark, [(500, "late")]))
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        S.snapshot_upsert_eq(spark, t, batch, "k")
        monkeypatch.setattr(S, "_publish", real)
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[5] == "U5" and got[300] == "NEW" and got[500] == "late"
        assert len(got) == 102
        S.snapshot_vacuum(spark, t)  # debris only; live rows unharmed
        assert S.snapshot_read(spark, t).count() == 102

    def test_txn_replay_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        v1 = S.snapshot_upsert_eq(
            spark, t, _mk(spark, [(1, "A")]), "k", txn=("eq", 9)
        )
        v2 = S.snapshot_upsert_eq(
            spark, t, _mk(spark, [(2, "B")]), "k", txn=("eq", 9)
        )
        assert v2 == v1
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[1] == "A" and got[2] == "v2"

    def test_wide_batch_falls_back_to_rewrite(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t, n=50)
        plan = {}
        S.snapshot_upsert_eq(
            spark, t, _mk(spark, [(i, f"U{i}") for i in range(40)]), "k",
            max_keys=10, plan=plan,
        )
        assert plan["strategy"] == "rewrite"
        got = dict(_rows(S.snapshot_read(spark, t)))
        assert got[0] == "U0" and got[45] == "v45" and len(got) == 50


class TestClusterSpecMetadata:
    """Round-11 stretch: the clustering key is TABLE METADATA (the
    Iceberg hidden-partitioning step) — declared once, inherited by
    every commit, honored by compact/maintain/report without per-call
    keys, clearable explicitly."""

    def _stream_ish(self, spark, t, declare=True):
        for c in range(4):  # time-ordered appends: every file spans k
            S.snapshot_commit(
                spark, t,
                spark.createDataFrame(
                    [(c + 4 * i, f"v{c + 4 * i}") for i in range(50)],
                    "k long, v string",
                ).coalesce(1),
                cluster_cols=["k"] if declare and c == 0 else None,
            )

    def test_declared_spec_inherits_across_commits(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._stream_ish(spark, t)
        m = S._read_manifest_raw(t, 4)
        assert m["cluster"] == ["k"]  # rode three later commits untouched

    def test_compact_and_maintain_use_declared_spec(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._stream_ish(spark, t)
        assert S.snapshot_cluster_report(t)["avg_overlap"] > 2  # degraded
        v = S.snapshot_maintain(spark, t)  # no key at the call site
        assert v is not None
        assert S.snapshot_cluster_report(t)["avg_overlap"] <= 1.5
        m = S._read_manifest_raw(t, v)
        assert m["cluster"] == ["k"]  # the tick preserves the declaration
        assert S.snapshot_read(spark, t).count() == 200
        assert S.snapshot_maintain(spark, t) is None  # healthy now

    def test_undeclared_table_requires_explicit_key(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._stream_ish(spark, t, declare=False)
        with pytest.raises(ValueError, match="cluster spec"):
            S.snapshot_maintain(spark, t)
        with pytest.raises(ValueError, match="cluster spec"):
            S.snapshot_cluster_report(t)
        # explicit key still works exactly as before — and the tick does
        # NOT implant a declaration as a side effect (review fix)
        v = S.snapshot_maintain(spark, t, "k")
        assert v is not None
        assert "cluster" not in S._read_manifest_raw(t, v)

    def test_explicit_key_conflicting_with_declaration_raises(
        self, spark, tmp_path
    ):
        """A health tick must never silently REWRITE the declared spec
        (review fix): a conflicting explicit key is a misconfiguration,
        surfaced loudly."""
        t = str(tmp_path / "t")
        self._stream_ish(spark, t)  # declares ["k"]
        with pytest.raises(ValueError, match="declares cluster"):
            S.snapshot_maintain(spark, t, "v")
        # naming the declared key is fine and preserves the declaration
        v = S.snapshot_maintain(spark, t, "k")
        assert v is not None
        assert S._read_manifest_raw(t, v)["cluster"] == ["k"]

    def test_compact_arg_records_and_empty_clears(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._stream_ish(spark, t, declare=False)
        v = S.snapshot_compact(spark, t, cluster_cols=["k"])
        assert S._read_manifest_raw(t, v)["cluster"] == ["k"]
        v2 = S.snapshot_compact(spark, t, cluster_cols=[])
        assert "cluster" not in S._read_manifest_raw(t, v2)
        with pytest.raises(ValueError, match="cluster spec"):
            S.snapshot_maintain(spark, t)


class TestDVDebtMaintenance:
    """Round-11 task 2: the maintenance tick also fires on DELETION-
    VECTOR debt (dv-file fraction / chain length), since accumulated DVs
    tax every scan and snapshot_compact already materializes them."""

    def _dv_laden(self, spark, t, n_files=8, per=100, deletes=6):
        """Unclustered table where every delete leaves a dv ref on most
        files (interleaved k), driving dv_file_frac toward 1."""
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(n_files * per)], "k long, v string"
        ).repartition(n_files)
        S.snapshot_commit(spark, t, df)
        for i in range(deletes):
            S.snapshot_delete(
                spark, t,
                [("k", ">=", i * 40), ("k", "<", i * 40 + 40)],
                mode="dv",
            )

    def test_dv_report_counts(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._dv_laden(spark, t, deletes=2)
        rep = S.snapshot_dv_report(t)
        assert rep["files_total"] == 8
        assert rep["files_dv"] >= 1
        assert rep["dv_positions"] == 80
        assert rep["rows"] == 720
        assert rep["max_chain"] >= 1
        assert 0 < rep["dv_file_frac"] <= 1
        # a fresh table reports zero debt
        t2 = str(tmp_path / "t2")
        S.snapshot_commit(spark, t2, _mk(spark, [(1, "a")]))
        rep2 = S.snapshot_dv_report(t2)
        assert rep2["files_dv"] == 0 and rep2["max_chain"] == 0

    def test_maintain_fires_on_dv_fraction_and_heals(self, spark, tmp_path):
        """A table in the all-files-DV worst case heals in one tick:
        compaction materializes every DV, the tip carries none, and the
        rows are exactly the surviving set."""
        t = str(tmp_path / "t")
        self._dv_laden(spark, t, deletes=6)
        rep = S.snapshot_dv_report(t)
        assert rep["dv_file_frac"] > 0.2  # the worst-case regime
        before = _rows(S.snapshot_read(spark, t))
        v = S.snapshot_maintain(spark, t, "k", max_avg_overlap=1e9)
        assert v is not None  # clustering didn't fire; DV debt did
        healed = S.snapshot_dv_report(t)
        assert healed["files_dv"] == 0 and healed["dv_positions"] == 0
        assert _rows(S.snapshot_read(spark, t)) == before
        # second tick: nothing left to do
        assert S.snapshot_maintain(spark, t, "k", max_avg_overlap=1e9) is None

    def test_maintain_fires_on_chain_length(self, spark, tmp_path):
        """Repeat deletes on one hot file grow its sidecar chain; past
        max_dv_chain the tick materializes even though the dv-file
        fraction is tiny."""
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(800)], "k long, v string"
        ).repartitionByRange(8, "k").sortWithinPartitions("k")
        S.snapshot_commit(spark, t, df)
        for i in range(6):  # all hits land in the low-k file
            S.snapshot_delete(spark, t, [("k", "=", i)], mode="dv")
        rep = S.snapshot_dv_report(t)
        assert rep["max_chain"] == 6 and rep["dv_file_frac"] <= 0.2
        v = S.snapshot_maintain(
            spark, t, "k", max_avg_overlap=1e9, max_dv_file_frac=0.5,
            max_dv_chain=4,
        )
        assert v is not None
        assert S.snapshot_dv_report(t)["max_chain"] == 0
        assert S.snapshot_read(spark, t).count() == 794

    def test_below_thresholds_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, f"v{i}") for i in range(800)], "k long, v string"
        ).repartitionByRange(8, "k").sortWithinPartitions("k")
        S.snapshot_commit(spark, t, df)
        S.snapshot_delete(spark, t, [("k", "=", 3)], mode="dv")
        assert (
            S.snapshot_maintain(spark, t, "k", max_avg_overlap=1e9) is None
        )
        # disabling both dv thresholds never fires on dv debt
        self_t = str(tmp_path / "t3")
        self._dv_laden(spark, self_t, deletes=6)
        assert (
            S.snapshot_maintain(
                spark, self_t, "k", max_avg_overlap=1e9,
                max_dv_file_frac=None, max_dv_chain=None,
            )
            is None
        )


class TestSnapshotChanges:
    """Incremental changelog source (round-9 task 2): rows added after a
    cursor version, resolved from only the manifest groups the walked
    commits changed — the Delta/Iceberg streaming-source shape."""

    def test_appends_yield_exactly_the_delta(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a"), (2, "b")]))
        S.snapshot_commit(spark, t, _mk(spark, [(3, "c")]))
        v2 = S._versions(t)[-1]
        S.snapshot_commit(spark, t, _mk(spark, [(4, "d"), (5, "e")]))
        plan = {}
        got = _rows(S.snapshot_changes(spark, t, v2, plan=plan))
        assert got == [(4, "d"), (5, "e")]
        assert plan["commits_walked"] == 1
        # from zero: the whole table is the delta
        assert _rows(S.snapshot_changes(spark, t, 0)) == [
            (1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]
        # caught up: typed empty frame
        tip = S._versions(t)[-1]
        empty = S.snapshot_changes(spark, t, tip)
        assert empty.count() == 0 and empty.columns == ["k", "v"]

    def test_exact_across_group_coalescing(self, spark, tmp_path):
        """Push the table past MAX_GROUPS so commits trigger coalescing
        merges; the group diff must still yield exactly each commit's
        rows (merged-away entries cancel against the removed groups)."""
        t = str(tmp_path / "t")
        cursors = []
        for c in range(40):  # > MAX_GROUPS=32 -> several merges
            cursors.append(S._versions(t)[-1] if c else 0)
            S.snapshot_commit(
                spark, t, _mk(spark, [(c, f"v{c}")]).coalesce(1)
            )
        for c in (0, 30, 35, 39):
            got = _rows(
                S.snapshot_changes(
                    spark, t, cursors[c],
                    version=cursors[c] + 1 if c else 1,
                )
            )
            assert got == [(c, f"v{c}")]
        # and a multi-commit window spanning a merge
        got = _rows(S.snapshot_changes(spark, t, cursors[30]))
        assert got == [(c, f"v{c}") for c in range(30, 40)]

    def test_compact_is_data_change_false(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a"), (2, "b")]))
        v1 = S._versions(t)[-1]
        S.snapshot_compact(spark, t, target_file_bytes=1 << 30)
        S.snapshot_commit(spark, t, _mk(spark, [(3, "c")]))
        got = _rows(S.snapshot_changes(spark, t, v1))
        assert got == [(3, "c")]  # the compaction's rewrite never leaks

    def test_delete_and_overwrite_contracts(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t, _mk(spark, [(1, "a"), (2, "b"), (3, "c")])
        )
        v1 = S._versions(t)[-1]
        S.snapshot_delete(spark, t, [("k", "=", 2)])
        S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]))
        with pytest.raises(ValueError, match="delete commit"):
            S.snapshot_changes(spark, t, v1)
        got = _rows(S.snapshot_changes(spark, t, v1, ignore_deletes=True))
        assert got == [(9, "z")]  # delete's rewrite holds no NEW rows
        # overwrite: raises by default, re-delivers under ignore_changes
        S.snapshot_commit(
            spark, t, _mk(spark, [(7, "q")]), mode="overwrite"
        )
        tip = S._versions(t)[-1]
        with pytest.raises(ValueError, match="overwrite"):
            S.snapshot_changes(spark, t, tip - 1, ignore_deletes=True)
        got = _rows(
            S.snapshot_changes(
                spark, t, tip - 1, ignore_deletes=True, ignore_changes=True
            )
        )
        assert got == [(7, "q")]

    @pytest.mark.parametrize(
        "reader",
        [
            "snapshot_changes",
            "snapshot_row_changes",
            "catalog_changes",
            "catalog_row_changes",
        ],
    )
    def test_expired_cursor_gap_raises(self, spark, tmp_path, reader):
        """Every changelog reader walks its window through one
        snapshots._chain_window: a cursor past the end version raises
        ValueError, and a cursor whose versions expired raises one
        FileNotFoundError naming the chain dir."""
        import re

        from imagingdb_spark import snapcatalog as C

        d = str(tmp_path / "t")
        on_catalog = reader.startswith("catalog")
        for i in range(4):
            if on_catalog:
                C.catalog_commit(
                    spark, d,
                    lambda views, i=i: {"t": _mk(spark, [(i, "x")])},
                    keys={"t": ["k"]},
                )
            else:
                S.snapshot_commit(spark, d, _mk(spark, [(i, "x")]))
        read = getattr(C if on_catalog else S, reader)
        with pytest.raises(ValueError, match="since_version 9 is ahead of"):
            read(spark, d, 9)
        (C.catalog_expire if on_catalog else S.snapshot_expire)(d, keep_last=1)
        chain = os.path.join(d, "_commits" if on_catalog else S.MANIFEST_DIR)
        with pytest.raises(
            FileNotFoundError,
            match=re.escape(chain) + r" version \d+ expired before",
        ):
            read(spark, d, 1)

    def test_manifest_work_flat_in_version_count(self, spark, tmp_path):
        """THE scale claim: per-poll manifest work tracks the DELTA, not
        the live file count — groups_opened stays bounded as the table
        accretes versions (full resolution would grow linearly)."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(0, "v")]).coalesce(1))
        opened = []
        for c in range(1, 31):
            cur = S._versions(t)[-1]
            S.snapshot_commit(
                spark, t, _mk(spark, [(c, "v")]).coalesce(1)
            )
            plan = {}
            S.snapshot_changes(spark, t, cur, plan=plan)
            opened.append(plan["groups_opened"])
        # one delta group per poll, + occasional coalescing merges; never
        # the live group/file count
        assert max(opened[:5]) <= 3 and max(opened[-5:]) <= 4
        assert sum(o for o in opened) < 60  # ~2/poll avg incl. merges


class TestSnapshotChangesLegacy:
    def test_changes_from_zero_over_legacy_flat_manifest(
        self, spark, tmp_path
    ):
        """A legacy FLAT v1 (pre-tree inline files) walked from the
        since_version=0 baseline: the path-set fallback must not try to
        read a non-existent v0 manifest, and the migrated tree commits
        after it diff exactly."""
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        m = S._read_manifest(t, 1)
        flat = {k: v for k, v in m.items() if k != "groups"}
        p = os.path.join(t, S.MANIFEST_DIR, S._FMT.format(1))
        os.unlink(p)
        with open(p, "w") as f:
            json.dump(flat, f)
        S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]))  # migrates
        assert _rows(S.snapshot_changes(spark, t, 0)) == [(1, "a"), (2, "b")]
        # flat v1 as the cursor BASELINE: only the delta comes back
        assert _rows(S.snapshot_changes(spark, t, 1)) == [(2, "b")]


class TestRowChangesCDF:
    """Row-level change-data-feed (round-9): inserts AND deletes, each
    commit's rows read only from the files it touched — the feed that
    propagates a corpus takedown into derived artifacts."""

    def test_inserts_and_deletes_exact(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a"), (2, "b")]))
        v1 = S._versions(t)[-1]
        S.snapshot_commit(spark, t, _mk(spark, [(3, "c"), (4, "d")]))
        S.snapshot_delete(spark, t, [("k", "<=", 3)])
        plan = {}
        cdf = S.snapshot_row_changes(spark, t, v1, plan=plan)
        got = sorted(
            (r["_change_type"], r["_commit_version"], r["k"], r["v"])
            for r in cdf.collect()
        )
        assert got == [
            ("delete", 3, 1, "a"),
            ("delete", 3, 2, "b"),
            ("delete", 3, 3, "c"),
            ("insert", 2, 3, "c"),
            ("insert", 2, 4, "d"),
        ]
        # delta-proportional: only the touched files were read
        assert plan["files_read"] <= 8
        # from zero: the whole history, inserts + deletes
        all_cdf = S.snapshot_row_changes(spark, t, 0)
        assert all_cdf.filter("_change_type = 'insert'").count() == 4
        assert all_cdf.filter("_change_type = 'delete'").count() == 3

    def test_duplicate_physical_rows_delete_multiset(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t,
            _mk(spark, [(1, "x"), (1, "x"), (1, "x"), (2, "y")]).coalesce(1),
        )
        tip = S._versions(t)[-1]
        S.snapshot_delete(spark, t, [("k", "=", 1)])
        cdf = S.snapshot_row_changes(spark, t, tip)
        dels = cdf.filter("_change_type = 'delete'").collect()
        assert sorted((r["k"], r["v"]) for r in dels) == [(1, "x")] * 3

    def test_compact_skipped_overwrite_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(spark, t, _mk(spark, [(1, "a")]))
        v1 = S._versions(t)[-1]
        S.snapshot_compact(spark, t, target_file_bytes=1 << 30)
        S.snapshot_commit(spark, t, _mk(spark, [(2, "b")]))
        got = sorted(
            (r["_change_type"], r["k"])
            for r in S.snapshot_row_changes(spark, t, v1).collect()
        )
        assert got == [("insert", 2)]
        S.snapshot_commit(spark, t, _mk(spark, [(9, "z")]), mode="overwrite")
        with pytest.raises(ValueError, match="no row identity|key="):
            S.snapshot_row_changes(spark, t, v1).collect()

    def test_takedown_propagates_to_derived_index(self, spark, tmp_path):
        """THE composition round 9 exists for: snapshot_delete on the
        corpus + the CDF's delete slice push the removal into a derived
        (doc_id-keyed) index table, leaving it exactly what a rebuild
        from the post-delete corpus would produce."""
        corpus = str(tmp_path / "corpus")
        idx = str(tmp_path / "idx")
        docs = spark.createDataFrame(
            [(i, f"tok{i % 7} tok{i % 3}", "en") for i in range(200)],
            "doc_id long, text string, lang string",
        )
        S.snapshot_commit(spark, corpus, docs.repartition(4))
        # derived index: one row per (doc_id, token)
        from pyspark.sql import functions as F

        index_rows = docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        S.snapshot_commit(spark, idx, index_rows.repartition(4))
        cursor = S._versions(corpus)[-1]
        S.snapshot_delete(
            spark, corpus, [("doc_id", ">=", 50), ("doc_id", "<", 70)]
        )
        out = S.propagate_deletes(
            spark, corpus, cursor, {idx: "doc_id"}
        )
        assert out["deleted_keys"] == 20
        assert out["targets"][idx]["rows_deleted"] == 40  # 2 tokens/doc
        want = sorted(
            (r["doc_id"], r["token"])
            for r in index_rows.filter(
                "doc_id < 50 or doc_id >= 70"
            ).collect()
        )
        got = sorted(
            (r["doc_id"], r["token"])
            for r in S.snapshot_read(spark, idx).collect()
        )
        assert got == want
        # nothing new deleted: propagation is a no-op from the new cursor
        out2 = S.propagate_deletes(
            spark, corpus, S._versions(corpus)[-1], {idx: "doc_id"}
        )
        assert out2["deleted_keys"] == 0 and out2["targets"] == {}


class TestSnapshotUpdate:
    """Targeted row-level UPDATE (round-10 stretch): the DML triple's
    third leg over the shared pruning core — candidate files only,
    row-count-preserving, atomic, crash-safe."""

    def _clustered(self, spark, t, n_commits=4, per=100):
        for c in range(n_commits):
            df = spark.createDataFrame(
                [(c * per + i, f"v{c * per + i}", 1.0) for i in range(per)],
                "k long, v string, w double",
            ).repartition(2)
            S.snapshot_commit(spark, t, df)

    def test_update_matches_filter_twin(self, spark, tmp_path):
        """Oracle-style twin: post-update content equals the source with
        the same UPDATE applied via a plain withColumn expression."""
        from imagingdb_spark.operators.merge import table_diff
        from pyspark.sql import functions as F

        t = str(tmp_path / "t")
        src = spark.createDataFrame(
            [(i, f"v{i % 7}", float(i)) for i in range(500)],
            "k long, v string, w double",
        )
        S.snapshot_commit(spark, t, src.repartition(4))
        out = S.snapshot_update(
            spark, t, [("v", "=", "v3")],
            {"w": "w * 10 + k", "v": "'updated'"},
        )
        assert out["rows_updated"] == src.filter("v = 'v3'").count()
        cond = F.col("v") == "v3"
        want = src.select(
            "k",
            F.when(cond, F.lit("updated")).otherwise(F.col("v")).alias("v"),
            F.when(cond, F.col("w") * 10 + F.col("k"))
            .otherwise(F.col("w"))
            .alias("w"),
        )
        d = table_diff(
            want.withColumn("cmp", F.concat_ws("|", "v", "w")),
            S.snapshot_read(spark, t).withColumn(
                "cmp", F.concat_ws("|", "v", "w")
            ),
            "k", "cmp",
        ).filter("status <> 'unchanged'")
        assert d.count() == 0
        # row count and manifest bookkeeping preserved
        assert S.snapshot_versions(t)[-1]["rows"] == 500

    def test_update_is_surgical_on_clustered_key(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t)
        out = S.snapshot_update(
            spark, t, [("k", ">=", 150), ("k", "<", 160)],
            {"v": "'redacted'"},
        )
        assert out["rows_updated"] == 10
        assert out["files_rewritten"] <= 2
        assert out["groups_kept_by_ref"] >= 3
        got = S.snapshot_read(spark, t)
        assert got.filter("v = 'redacted'").count() == 10
        assert got.count() == 400
        # untouched files carried BY REFERENCE
        old = {f["path"] for f in S._read_manifest(t, 4)["files"]}
        new = {f["path"] for f in S._read_manifest(t, 5)["files"]}
        assert len(old & new) >= 6

    def test_null_predicate_rows_untouched(self, spark, tmp_path):
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t,
            spark.createDataFrame(
                [(1, "a", 1.0), (2, None, 2.0), (3, "a", 3.0)],
                "k long, v string, w double",
            ).coalesce(1),
        )
        out = S.snapshot_update(
            spark, t, [("v", "=", "a")], {"w": "0.0"}
        )
        assert out["rows_updated"] == 2
        got = {r["k"]: r["w"] for r in S.snapshot_read(spark, t).collect()}
        assert got == {1: 0.0, 2: 2.0, 3: 0.0}

    def test_no_match_publishes_nothing(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        tip = S._versions(t)[-1]
        out = S.snapshot_update(
            spark, t, [("k", ">=", 10_000)], {"v": "'x'"}
        )
        assert out["rows_updated"] == 0 and out["version"] == tip
        assert S._versions(t)[-1] == tip

    def test_set_expr_casts_keep_schema(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=1)
        before = S.snapshot_read(spark, t).schema
        S.snapshot_update(spark, t, [("k", "=", 3)], {"w": "7"})  # int expr
        after = S.snapshot_read(spark, t).schema
        assert S._canon_schema_json(before) == S._canon_schema_json(after)
        assert S.snapshot_read(spark, t).filter("k = 3").collect()[0]["w"] == 7.0

    def test_unknown_set_column_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=1)
        with pytest.raises(ValueError, match="absent"):
            S.snapshot_update(spark, t, [("k", "=", 1)], {"nope": "1"})

    def test_crash_at_every_point_leaves_old_version(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        tip = S._versions(t)[-1]
        before = sorted(
            (r["k"], r["v"]) for r in S.snapshot_read(spark, t).collect()
        )
        for target in ("_write_data_files", "_write_group", "_publish"):
            real = getattr(S, target)

            def boom(*a, **kw):
                raise RuntimeError("simulated crash")

            monkeypatch.setattr(S, target, boom)
            with pytest.raises(RuntimeError, match="simulated crash"):
                S.snapshot_update(spark, t, [("k", "=", 3)], {"v": "'z'"})
            monkeypatch.setattr(S, target, real)
            assert S._versions(t)[-1] == tip
            got = sorted(
                (r["k"], r["v"]) for r in S.snapshot_read(spark, t).collect()
            )
            assert got == before
        out = S.snapshot_update(spark, t, [("k", "=", 3)], {"v": "'z'"})
        assert out["rows_updated"] == 1

    def test_concurrent_append_forces_rebase(
        self, spark, tmp_path, monkeypatch
    ):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=2)
        real = S._publish
        raced = {"done": False}

        def racing_publish(table_dir, version, manifest):
            if not raced["done"]:
                raced["done"] = True
                monkeypatch.setattr(S, "_publish", real)
                S.snapshot_commit(
                    spark, t,
                    spark.createDataFrame(
                        [(3, "late", 9.0)], "k long, v string, w double"
                    ).coalesce(1),
                )
                monkeypatch.setattr(S, "_publish", racing_publish)
            return real(table_dir, version, manifest)

        monkeypatch.setattr(S, "_publish", racing_publish)
        out = S.snapshot_update(spark, t, [("k", "=", 3)], {"v": "'z'"})
        monkeypatch.setattr(S, "_publish", real)
        # the retry re-resolved at the winner's tip: BOTH k=3 rows updated
        assert out["rows_updated"] == 2
        assert S.snapshot_read(spark, t).filter(
            "k = 3 and v <> 'z'"
        ).count() == 0

    def test_txn_replay_is_noop(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=1)
        out1 = S.snapshot_update(
            spark, t, [("k", "=", 5)], {"v": "'u'"}, txn=("updater", 1)
        )
        out2 = S.snapshot_update(
            spark, t, [("k", "=", 6)], {"v": "'u'"}, txn=("updater", 1)
        )
        assert out2["version"] == out1["version"]
        assert out2["rows_updated"] == 0
        assert S.snapshot_read(spark, t).filter("k = 6").collect()[0]["v"] != "u"

    def test_update_through_dv_materializes(self, spark, tmp_path):
        """An update on a dv-bearing file reads through the DV (deleted
        rows never resurrect) and materializes it on the rewrite."""
        t = str(tmp_path / "t")
        S.snapshot_commit(
            spark, t,
            spark.createDataFrame(
                [(i, "x", 0.0) for i in range(30)],
                "k long, v string, w double",
            ).coalesce(1),
        )
        S.snapshot_delete(spark, t, [("k", "=", 7)], mode="dv")
        out = S.snapshot_update(spark, t, [("k", "=", 9)], {"v": "'y'"})
        assert out["rows_updated"] == 1
        m = S._read_manifest(t, S._versions(t)[-1])
        assert all(not f.get("dv") for f in m["files"])
        got = S.snapshot_read(spark, t)
        assert got.count() == 29 and got.filter("k = 7").count() == 0
        assert got.filter("k = 9").collect()[0]["v"] == "y"

    def test_cdf_update_images_delta_proportional(self, spark, tmp_path):
        """snapshot_row_changes(key=...) on an update commit reads ONLY
        the rewritten files and emits pre/post images for exactly the
        updated rows."""
        t = str(tmp_path / "t")
        self._clustered(spark, t)
        cursor = S._versions(t)[-1]
        S.snapshot_update(
            spark, t, [("k", ">=", 250), ("k", "<", 253)], {"v": "'u'"}
        )
        plan = {}
        cdf = S.snapshot_row_changes(spark, t, cursor, key="k", plan=plan)
        got = sorted(
            (r["_change_type"], r["k"]) for r in cdf.collect()
        )
        assert got == [
            ("update_postimage", 250), ("update_postimage", 251),
            ("update_postimage", 252),
            ("update_preimage", 250), ("update_preimage", 251),
            ("update_preimage", 252),
        ]
        # only the touched group's files read, never the corpus
        assert plan["files_read"] <= 4

    def test_changelog_contract_for_update_commits(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._clustered(spark, t, n_commits=1)
        cursor = S._versions(t)[-1]
        S.snapshot_update(spark, t, [("k", "=", 1)], {"v": "'z'"})
        with pytest.raises(ValueError, match="update"):
            S.snapshot_changes(spark, t, cursor)
        redelivered = S.snapshot_changes(
            spark, t, cursor, ignore_changes=True
        )
        assert redelivered.count() > 0  # the rewritten files re-deliver


class TestRowChangesUpdateImages:
    """CDF update images (round-10 task 3): merge/rmw/overwrite commits
    keyed-diff their rewritten files into the Delta CDF channels —
    update_preimage/update_postimage for changed keys, insert/delete for
    one-sided keys, NOTHING for untouched rows."""

    def _base(self, spark, t):
        S.snapshot_commit(
            spark, t,
            _mk(spark, [(i, f"old{i}") for i in range(20)]).repartition(2),
        )

    def test_merge_emits_update_images(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        src = _mk(spark, [(2, "NEW2"), (7, "NEW7"), (100, "ins100")])
        S.snapshot_merge(spark, t, src, key="k")
        cdf = S.snapshot_row_changes(spark, t, 1, key="k")
        got = sorted(
            (r["_change_type"], r["k"], r["v"]) for r in cdf.collect()
        )
        assert got == [
            ("insert", 100, "ins100"),
            ("update_postimage", 2, "NEW2"),
            ("update_postimage", 7, "NEW7"),
            ("update_preimage", 2, "old2"),
            ("update_preimage", 7, "old7"),
        ]
        # parity with the two-version keyed diff: same key partition
        diff = {
            r["k"]: r["status"]
            for r in S.snapshot_diff(spark, t, 1, 2, "k", "v").collect()
        }
        assert diff[100] == "added" and diff[2] == diff[7] == "changed"
        assert sum(1 for s in diff.values() if s == "unchanged") == 18

    def test_rmw_row_removal_emits_delete(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_rmw(spark, t, lambda tip: tip.filter("k <> 3"))
        got = sorted(
            (r["_change_type"], r["k"])
            for r in S.snapshot_row_changes(spark, t, 1, key="k").collect()
        )
        assert got == [("delete", 3)]

    def test_feed_consumes_upserts_change_proportionally(
        self, spark, tmp_path
    ):
        """An upserted source followed through the CDF delivers rows
        proportional to the CHANGE (3 keys), not the table (20 keys) —
        the ignore_changes contract re-delivers all 20."""
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_merge(
            spark, t, _mk(spark, [(5, "NEW5"), (200, "ins")]), key="k"
        )
        full_redeliver = S.snapshot_changes(
            spark, t, 1, ignore_changes=True
        ).count()
        cdf_rows = (
            S.snapshot_row_changes(spark, t, 1, key="k")
            .filter("_change_type <> 'update_preimage'")
            .count()
        )
        assert full_redeliver == 21  # the whole rewritten table
        assert cdf_rows == 2  # just the changed keys' new images

    def test_keyless_rewrite_still_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_merge(spark, t, _mk(spark, [(1, "x")]), key="k")
        with pytest.raises(ValueError, match="no row identity|key="):
            S.snapshot_row_changes(spark, t, 1).collect()

    def test_missing_key_column_raises(self, spark, tmp_path):
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_merge(spark, t, _mk(spark, [(1, "x")]), key="k")
        with pytest.raises(ValueError, match="no column"):
            S.snapshot_row_changes(spark, t, 1, key="nope").collect()

    def test_mixed_window_all_channels(self, spark, tmp_path):
        """Append + merge + DV delete in ONE window: inserts, update
        images, and positional deletes coexist, each stamped with its
        commit version."""
        t = str(tmp_path / "t")
        self._base(spark, t)
        S.snapshot_commit(spark, t, _mk(spark, [(50, "app50")]))
        S.snapshot_merge(spark, t, _mk(spark, [(4, "NEW4")]), key="k")
        S.snapshot_delete(spark, t, [("k", "=", 9)], mode="dv")
        got = sorted(
            (r["_change_type"], r["_commit_version"], r["k"], r["v"])
            for r in S.snapshot_row_changes(spark, t, 1, key="k").collect()
        )
        assert got == [
            ("delete", 4, 9, "old9"),
            ("insert", 2, 50, "app50"),
            ("update_postimage", 3, 4, "NEW4"),
            ("update_preimage", 3, 4, "old4"),
        ]


class TestDeleteSoak:
    """snapshot_delete racing concurrent appends + clustering
    maintenance + expire/vacuum (the round-9 extension of the
    multi-writer soak): the copy-on-write rewrite must never lose a
    committed row it wasn't asked to delete, never resurrect a deleted
    row, and keep every retained version exactly readable."""

    @pytest.mark.parametrize("dmode", ["cow", "dv"])
    def test_soak_appends_deletes_maintenance(self, spark, tmp_path, dmode):
        import random
        import threading
        import time

        from imagingdb_spark.snapshots import SnapshotConflict

        seed = 31
        t = str(tmp_path / "t")
        gate = TestMultiWriterSoak._RWGate()
        stop = threading.Event()
        errors: list[str] = []
        committed: dict[int, list[int]] = {}
        deleted: list[int] = []
        dlock = threading.Lock()
        N_APPENDERS, COMMITS_EACH, BATCH = 3, 6, 25
        S.snapshot_commit(
            spark, t,
            spark.createDataFrame([(-1, "seed")], "k long, v string"),
        )
        committed[-1] = [-1]

        def appender(idx: int):
            rng = random.Random(seed * 101 + idx)
            committed[idx] = []
            base = idx * 1_000_000
            try:
                for c in range(COMMITS_EACH):
                    lo = base + c * BATCH
                    df = (
                        spark.range(lo, lo + BATCH)
                        .selectExpr("id AS k", "string(id) AS v")
                        .coalesce(1)
                    )
                    gate.acquire_read()
                    try:
                        S.snapshot_commit(spark, t, df, max_retries=30)
                    finally:
                        gate.release_read()
                    committed[idx].extend(range(lo, lo + BATCH))
                    time.sleep(rng.uniform(0, 0.02))
            except Exception as e:  # pragma: no cover
                errors.append(f"appender{idx}: {e!r}")

        def deleter():
            rng = random.Random(seed * 113)
            while not stop.is_set():
                time.sleep(rng.uniform(0.03, 0.1))
                # target only keys CONFIRMED committed (recorded after
                # their commit succeeded) and not already deleted
                with dlock:
                    pool = [
                        k
                        for ks in committed.values()
                        for k in ks
                        if k >= 0 and k not in deleted
                    ]
                    if len(pool) < 5:
                        continue
                    targets = sorted(rng.sample(pool, 3))
                    deleted.extend(targets)
                gate.acquire_read()
                try:
                    out = S.snapshot_delete(
                        spark, t, [("k", "in", targets)],
                        max_retries=30, mode=dmode,
                    )
                    if out["rows_deleted"] != len(targets):
                        errors.append(
                            f"deleter: asked {targets}, deleted "
                            f"{out['rows_deleted']}"
                        )
                except Exception as e:  # pragma: no cover
                    errors.append(f"deleter: {e!r}")
                finally:
                    gate.release_read()

        def maintainer():
            rng = random.Random(seed * 103)
            while not stop.is_set():
                time.sleep(rng.uniform(0.03, 0.1))
                gate.acquire_read()
                try:
                    S.snapshot_maintain(
                        spark, t, "k",
                        max_avg_overlap=1.5, target_file_bytes=4096,
                    )
                except (SnapshotConflict, FileNotFoundError):
                    pass
                except Exception as e:  # pragma: no cover
                    errors.append(f"maintainer: {e!r}")
                finally:
                    gate.release_read()

        apps = [
            threading.Thread(target=appender, args=(i,))
            for i in range(N_APPENDERS)
        ]
        aux = [
            threading.Thread(target=deleter),
            threading.Thread(target=maintainer),
        ]
        for th in apps + aux:
            th.start()
        for th in apps:
            th.join()
        time.sleep(0.2)  # let the deleter land a final pass
        stop.set()
        for th in aux:
            th.join()
        assert not errors, errors
        assert len(deleted) >= 3  # the soak actually exercised deletes

        want = sorted(
            k
            for ks in committed.values()
            for k in ks
            if k not in set(deleted)
        )
        got = sorted(r["k"] for r in S.snapshot_read(spark, t).collect())
        assert got == want
        # every retained version exactly readable; final expire+vacuum
        # (quiesced) keeps the tip intact — deleted rows stay gone,
        # surviving rows stay present
        for m in S.snapshot_versions(t):
            assert (
                S.snapshot_read(spark, t, version=m["version"]).count()
                == m["rows"]
            )
        S.snapshot_expire(t, keep_last=1)
        S.snapshot_vacuum(spark, t)
        assert sorted(
            r["k"] for r in S.snapshot_read(spark, t).collect()
        ) == want


class TestPropagateBoundedCollect:
    """The propagate_deletes driver collect is BOUNDED (round-10 task 5,
    closing the round-9 review's convention-only contract): a
    corpus-scale delete history hits the max_keys guard instead of
    materializing every key on the driver, and on_overflow='rewrite'
    completes the takedown distributed."""

    def _corpus_scale_delete(self, spark, tmp_path):
        corpus = str(tmp_path / "corpus")
        idx = str(tmp_path / "idx")
        docs = spark.createDataFrame(
            [(i, f"v{i}") for i in range(500)], "doc_id long, v string"
        )
        S.snapshot_commit(spark, corpus, docs.repartition(4))
        S.snapshot_commit(spark, idx, docs.repartition(4))
        cursor = S._versions(corpus)[-1]
        # a whole-corpus takedown: 400 of 500 keys deleted
        S.snapshot_delete(spark, corpus, [("doc_id", "<", 400)])
        return corpus, idx, cursor

    def test_overflow_errors_with_remedy(self, spark, tmp_path):
        corpus, idx, cursor = self._corpus_scale_delete(spark, tmp_path)
        with pytest.raises(ValueError, match="max_keys|rewrite"):
            S.propagate_deletes(
                spark, corpus, cursor, {idx: "doc_id"}, max_keys=100
            )
        # the guard fired BEFORE any target mutation
        assert S.snapshot_read(spark, idx).count() == 500

    def test_overflow_rewrite_path_is_distributed_and_exact(
        self, spark, tmp_path
    ):
        corpus, idx, cursor = self._corpus_scale_delete(spark, tmp_path)
        out = S.propagate_deletes(
            spark, corpus, cursor, {idx: "doc_id"},
            max_keys=100, on_overflow="rewrite",
        )
        audit = out["targets"][idx]
        assert audit["path"] == "antijoin_rewrite"
        assert audit["rows_deleted"] == 400
        got = sorted(
            r["doc_id"] for r in S.snapshot_read(spark, idx).collect()
        )
        assert got == list(range(400, 500))

    def test_in_bounds_path_unchanged(self, spark, tmp_path):
        corpus, idx, cursor = self._corpus_scale_delete(spark, tmp_path)
        out = S.propagate_deletes(
            spark, corpus, cursor, {idx: "doc_id"}, max_keys=100_000
        )
        assert out["targets"][idx]["path"] == "pruned_delete"
        assert out["targets"][idx]["rows_deleted"] == 400


class TestPropagateThroughUpserts:
    def test_cdf_key_lets_updated_windows_propagate(self, spark, tmp_path):
        """Review fix (r10): a propagation window containing a
        merge/update commit works when cdf_key names the source's row
        identity — an upserted key counts as live (postimage =
        re-insert), and the takedown still reaches the derived table."""
        corpus = str(tmp_path / "corpus")
        idx = str(tmp_path / "idx")
        docs = spark.createDataFrame(
            [(i, f"v{i}") for i in range(30)], "doc_id long, v string"
        )
        S.snapshot_commit(spark, corpus, docs.coalesce(2))
        S.snapshot_commit(
            spark, idx, docs.selectExpr("doc_id", "v as tok").coalesce(2)
        )
        cursor = S._versions(corpus)[-1]
        # window: delete 4 and 5, then UPSERT 5 back (live) + update 9
        S.snapshot_delete(spark, corpus, [("doc_id", "in", [4, 5])])
        S.snapshot_merge(
            spark, corpus,
            spark.createDataFrame([(5, "v5b")], "doc_id long, v string"),
            key="doc_id",
        )
        S.snapshot_update(spark, corpus, [("doc_id", "=", 9)], {"v": "'u9'"})
        # without the key the window fails loudly (merge commit inside)
        with pytest.raises(ValueError, match="row identity|key="):
            S.propagate_deletes(spark, corpus, cursor, {idx: "doc_id"})
        out = S.propagate_deletes(
            spark, corpus, cursor, {idx: "doc_id"}, cdf_key="doc_id"
        )
        assert out["deleted_keys"] == 1  # only doc 4: 5 re-upserted, 9 live
        left = sorted(
            r["doc_id"] for r in S.snapshot_read(spark, idx).collect()
        )
        assert left == [d for d in range(30) if d != 4]


class TestPropagateNetEffect:
    def test_reinserted_key_does_not_propagate(self, spark, tmp_path):
        """Review fix (r9): a key deleted then RE-INSERTED inside the
        propagation window is live at the tip — its derived rows stay;
        only keys whose last change is a delete propagate."""
        corpus = str(tmp_path / "corpus")
        idx = str(tmp_path / "idx")
        docs = spark.createDataFrame(
            [(i, f"v{i}") for i in range(20)], "doc_id long, v string"
        )
        S.snapshot_commit(spark, corpus, docs.coalesce(2))
        S.snapshot_commit(
            spark, idx,
            docs.selectExpr("doc_id", "v as token").coalesce(2),
        )
        cursor = S._versions(corpus)[-1]
        # delete docs 5 and 6; re-insert doc 5 (opt-out reversed)
        S.snapshot_delete(spark, corpus, [("doc_id", "in", [5, 6])])
        S.snapshot_commit(
            spark, corpus,
            spark.createDataFrame([(5, "v5")], "doc_id long, v string"),
        )
        out = S.propagate_deletes(spark, corpus, cursor, {idx: "doc_id"})
        assert out["deleted_keys"] == 1  # only doc 6 — doc 5 is live
        left = sorted(
            r["doc_id"] for r in S.snapshot_read(spark, idx).collect()
        )
        assert left == [d for d in range(20) if d != 6]


class TestPropagatePerColumnNetEffect:
    def test_multi_key_columns_net_independently(self, spark, tmp_path):
        """Review fix (r9, pass 2): the net effect is per KEY COLUMN —
        a doc deleted as (doc=7, shard='A') and re-inserted as
        (doc=7, shard='B') is live under doc_id (no propagation) while
        shard 'A' is genuinely gone (propagates)."""
        corpus = str(tmp_path / "corpus")
        emb = str(tmp_path / "emb")
        shards = str(tmp_path / "shards")
        rows = [(i, f"s{i % 4}", "x") for i in range(16)]
        df = spark.createDataFrame(
            rows, "doc_id long, shard_id string, v string"
        )
        S.snapshot_commit(spark, corpus, df.coalesce(2))
        S.snapshot_commit(
            spark, emb, df.select("doc_id", "v").coalesce(1)
        )
        S.snapshot_commit(
            spark, shards, df.select("shard_id").distinct().coalesce(1)
        )
        cursor = S._versions(corpus)[-1]
        # doc 7 moves from shard s3 to a NEW shard s9; shard s9 only
        # holds doc 7, and no other doc leaves — nothing net-deletes
        S.snapshot_delete(
            spark, corpus,
            [("doc_id", "=", 7)],
        )
        S.snapshot_commit(
            spark, corpus,
            spark.createDataFrame(
                [(7, "s9", "x")], "doc_id long, shard_id string, v string"
            ),
        )
        out = S.propagate_deletes(
            spark, corpus, cursor,
            {emb: "doc_id", shards: "shard_id"},
        )
        # doc_id 7 re-inserted -> live; shard s3 still has docs 3/11/15?
        # no: ONLY doc 7's row was deleted, so the s3 key saw a delete
        # at v2 and no re-insert -> s3 net-deletes under shard_id even
        # though other s3 docs remain — which is why targets must key on
        # the column that actually identifies THEIR rows. The invariant
        # under test: doc_id 7 does NOT propagate to emb.
        assert S.snapshot_read(spark, emb).filter(
            "doc_id = 7"
        ).count() == 1
        assert out["targets"].get(emb) is None or (
            out["targets"][emb]["rows_deleted"] == 0
        )


class TestScanCacheKeysCarryTableDir:
    """Two tables with identical schemas and identical relative file
    names (one is a byte copy of the other, then rewritten) share one
    ``scan_cache`` dict: each read must still return its own rows, for the
    plain scan, the dv sidecar union and the eq sidecar union."""

    def test_shared_cache_keeps_tables_apart(self, spark, tmp_path):
        import glob
        import shutil

        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        a, b = str(tmp_path / "a"), str(tmp_path / "b")
        S.snapshot_commit(
            spark, a,
            spark.range(10)
            .select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
            .coalesce(1),
        )
        S.snapshot_delete(spark, a, [("k", "=", 3)], mode="dv")
        S.snapshot_upsert_eq(
            spark, a, spark.createDataFrame([(5, 555)], "k long, v long"), "k"
        )
        # no .crc files: the rewritten parquet would fail their checksums
        shutil.copytree(a, b, ignore=shutil.ignore_patterns("*.crc"))
        # b: every key +100, and its dv sidecar deletes row 4, not row 3
        for f in glob.glob(f"{b}/**/*.parquet", recursive=True):
            t = pq.read_table(f)
            for col, delta in (("k", 100), ("key", 100), ("pos", 1)):
                if col in t.column_names:
                    i = t.column_names.index(col)
                    t = t.set_column(i, col, pc.add(t[col], delta))
            pq.write_table(t, f)

        def rows(table_dir, cache=None):
            return sorted(
                tuple(r) for r in S.snapshot_read(
                    spark, table_dir, scan_cache=cache
                ).collect()
            )

        want_a, want_b = rows(a), rows(b)
        assert want_a != want_b
        assert (103, 30) in want_b and (104, 40) not in want_b
        assert (105, 555) in want_b
        cache: dict = {}
        assert rows(a, cache) == want_a
        assert rows(b, cache) == want_b
        assert {k[0] for k in cache} == {"scan", "dv", "eq"}
        assert {k[1] for k in cache} == {a, b}


class TestDropRule:
    """One drop rule for every snapshot and catalog writer
    (snapshots._pinned_commit): when a call returns or raises, every path
    its attempts wrote is referenced by a retained version or gone, and
    so is the bloom sidecar of every data dir written. An append's data
    dir is written once and relinked after a lost race, so it stays,
    referenced."""

    KEYS = {"ta": ["k"], "tb": ["k"]}

    @staticmethod
    def _kv(spark, rows):
        return spark.createDataFrame(rows, "k long, w long").coalesce(1)

    def _table(self, spark, t):
        for lo in (0, 5):
            S.snapshot_commit(
                spark, t,
                _mk(spark, [(i, f"v{i}") for i in range(lo, lo + 5)])
                .coalesce(1),
                bloom_columns=["v"],
            )

    def _catalog(self, spark, cat):
        from imagingdb_spark import snapcatalog as C

        C.catalog_commit(
            spark, cat,
            lambda views: {
                "ta": _mk(spark, [(i, f"v{i}") for i in range(5)])
                .coalesce(1),
                "tb": self._kv(spark, [(i, i) for i in range(5)]),
            },
            keys=self.KEYS, bloom_columns={"ta": ["v"]},
        )

    def _writers(self, spark, d):
        from imagingdb_spark import snapcatalog as C

        where = {"ta": [("k", "=", 3)], "tb": [("k", "=", 3)]}
        return {
            "commit_append": lambda: S.snapshot_commit(
                spark, d, _mk(spark, [(20, "n")])),
            "commit_overwrite": lambda: S.snapshot_commit(
                spark, d, _mk(spark, [(20, "n")]), mode="overwrite"),
            "idempotent_append": lambda: S.snapshot_idempotent_append(
                spark, d, _mk(spark, [(20, "n")]), ["k"]),
            "rmw": lambda: S.snapshot_rmw(
                spark, d, lambda df: df.filter("k != 3")),
            "apply_keyed": lambda: S.snapshot_merge(
                spark, d, _mk(spark, [(3, "U"), (20, "n")]), "k"),
            "upsert_eq": lambda: S.snapshot_upsert_eq(
                spark, d, _mk(spark, [(3, "U"), (20, "n")]), "k"),
            "delete_cow": lambda: S.snapshot_delete(
                spark, d, [("k", "=", 3)]),
            "delete_dv": lambda: S.snapshot_delete(
                spark, d, [("k", "=", 3)], mode="dv"),
            "update": lambda: S.snapshot_update(
                spark, d, [("k", "=", 3)], {"v": "'z'"}),
            "compact": lambda: S.snapshot_compact(spark, d),
            # both tables land on driver threads sharing one record
            "catalog_commit": lambda: C.catalog_commit(
                spark, d,
                lambda views: {
                    "ta": _mk(spark, [(20, "n")]),
                    "tb": self._kv(spark, [(20, 20)]),
                },
                keys=self.KEYS),
            "catalog_delete_cow": lambda: C.catalog_delete(spark, d, where),
            "catalog_delete_dv": lambda: C.catalog_delete(
                spark, d, where, mode="dv"),
        }

    @staticmethod
    def _live(table_dir):
        from imagingdb_spark import snapcatalog as C

        if S.snapshot_exists(table_dir):
            ms = S._chain_retained(S._mdir(table_dir))
        else:
            cat, name = os.path.split(table_dir)
            ms = [
                c["tables"][name]
                for c in S._chain_retained(os.path.join(cat, C.COMMITS_DIR))
                if name in c["tables"]
            ]
        return S._live_paths(table_dir, ms)

    def _assert_no_debris(self, written):
        from imagingdb_spark.blooms import BLOOM_DIR

        assert written, "the attempt wrote nothing to check"
        for table_dir, rel in written:
            paths = [rel]
            if rel.startswith(S.DATA_DIR + os.sep):
                paths.append(os.path.join(BLOOM_DIR, os.path.basename(rel)))
            live = self._live(table_dir)
            for p in paths:
                referenced = p in live or any(
                    q.startswith(p + os.sep) for q in live
                )
                assert referenced or not os.path.exists(
                    os.path.join(table_dir, p)
                ), f"{p} of {table_dir} is neither referenced nor gone"

    def _record_writes(self, monkeypatch):
        written: list[tuple[str, str]] = []

        def wrap(name, where):
            real = getattr(S, name)

            def recording(*a, **kw):
                out = real(*a, **kw)
                written.append(where(a, out))
                return out

            monkeypatch.setattr(S, name, recording)

        wrap("_write_data_files", lambda a, out: (a[1], out[2]))
        wrap("_write_group", lambda a, out: (
            a[0], os.path.join(S.MANIFEST_DIR, S.GROUPS_DIR, out["name"])))
        wrap("_write_dv_sidecar", lambda a, out: (a[1], out))
        wrap("_write_eq_sidecar", lambda a, out: (a[1], out))
        return written

    CASES = [
        "commit_append", "commit_overwrite", "idempotent_append", "rmw",
        "apply_keyed", "upsert_eq", "delete_cow", "delete_dv", "update",
        "compact", "catalog_commit", "catalog_delete_cow",
        "catalog_delete_dv", "catalog_delete_dv_core_raises",
    ]

    @pytest.mark.parametrize("case", CASES)
    def test_unpublished_attempt_leaves_no_files(
        self, spark, tmp_path, monkeypatch, case
    ):
        from imagingdb_spark import snapcatalog as C

        d = str(tmp_path / "d")
        on_catalog = case.startswith("catalog_")
        if on_catalog:
            self._catalog(spark, d)
            seam, mod = "_publish_commit", C

            def interloper():
                C.catalog_commit(
                    spark, d,
                    lambda views: {"tb": self._kv(spark, [(100, 100)])},
                    keys=self.KEYS,
                )
        else:
            self._table(spark, d)
            seam, mod = "_publish", S

            def interloper():
                S.snapshot_commit(spark, d, _mk(spark, [(100, "race")]))
        written = self._record_writes(monkeypatch)
        if case == "catalog_delete_dv_core_raises":
            # table tb overflows its position cap after ta has landed
            real_dv = S._delete_dv

            def overflowing(spark_, table_dir, *a, **kw):
                if table_dir.endswith("tb"):
                    kw["dv_max_positions"] = 0
                return real_dv(spark_, table_dir, *a, **kw)

            monkeypatch.setattr(S, "_delete_dv", overflowing)
            call = self._writers(spark, d)["catalog_delete_dv"]
            tip = C.catalog_versions(d)
            with pytest.raises(S.DVPositionsOverflow):
                call()
            assert C.catalog_versions(d) == tip
            self._assert_no_debris(written)
            return
        real = getattr(mod, seam)

        def racing(*a):
            monkeypatch.setattr(mod, seam, real)
            interloper()
            return real(*a)

        monkeypatch.setattr(mod, seam, racing)
        call = self._writers(spark, d)[case]
        versions = C.catalog_versions if on_catalog else S._versions
        tip = versions(d)[-1]
        if case in ("commit_overwrite", "compact"):
            with pytest.raises(S.SnapshotConflict):
                call()
            assert versions(d)[-1] == tip + 1  # only the interloper landed
        else:
            call()
            assert versions(d)[-1] == tip + 2  # the interloper, the retry
        self._assert_no_debris(written)


class TestOnlyNullKeys:
    @pytest.mark.parametrize("writer", ["merge", "upsert_eq"])
    def test_only_null_keys_carry_every_group_by_ref(
        self, spark, tmp_path, writer
    ):
        """A keyed batch whose keys are all NULL can match no stored row:
        its empty predicate carries every group by ref, and the batch
        lands as inserts."""
        t = str(tmp_path / "t")
        for lo in (0, 5):
            S.snapshot_commit(
                spark, t, _mk(spark, [(i, f"v{i}") for i in range(lo, lo + 5)])
            )
        groups = S._read_manifest_raw(t, 2)["groups"]
        batch = spark.createDataFrame([(None, "nullk")], "k long, v string")
        fn = S.snapshot_merge if writer == "merge" else S.snapshot_upsert_eq
        plan: dict = {}
        assert fn(spark, t, batch, "k", plan=plan) == 3
        assert S._read_manifest_raw(t, 3)["groups"][: len(groups)] == groups
        assert plan["files_rewritten"] == 0
        assert plan["groups_kept_by_ref"] == len(groups)
        got = sorted(
            (-1 if r["k"] is None else r["k"], r["v"])
            for r in S.snapshot_read(spark, t).collect()
        )
        assert got == [(-1, "nullk")] + [(i, f"v{i}") for i in range(10)]
