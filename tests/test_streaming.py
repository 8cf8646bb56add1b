"""Structured Streaming tests: drive the streaming jobs with the parquet
file source to a memory sink and check against their batch twins (the
unified-API guarantee SURVEY.md §2.9 relies on)."""

import pytest

from imagingdb_spark.operators import streaming_batch
from imagingdb_spark.streaming import jobs

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_stream(spark):
    return jobs.read_events_stream(spark, SF_DIR)


def stop_all(spark):
    for q in spark.streams.active:
        q.stop()


def test_tumbling_stream_matches_batch(spark, events_stream):
    try:
        q = jobs.run_to_memory(jobs.tumbling_counts(events_stream), "t_tumbling")
        got = spark.sql(
            "SELECT window_start, event_type, n_events, sum_value FROM t_tumbling"
        ).collect()
        want = streaming_batch.st_tumbling(spark, SF_DIR).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        q.stop()
    finally:
        stop_all(spark)


def test_session_stream_matches_batch(spark, events_stream):
    try:
        q = jobs.run_to_memory(jobs.session_aggregate(events_stream), "t_session")
        got = spark.sql(
            "SELECT user_id, session_start, n_events, sum_value FROM t_session"
        ).collect()
        want = streaming_batch.st_session(spark, SF_DIR).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        q.stop()
    finally:
        stop_all(spark)


def test_anomaly_counts_stateful_matches_reference(spark, events_stream):
    try:
        q = jobs.run_to_memory(jobs.anomaly_counts(events_stream), "t_anom")
        got = {
            r["user_id"]: r
            for r in spark.sql(
                # update-mode memory sink appends one row per user per batch;
                # the last row per user is the final state
                """SELECT user_id, n_events, mean, stddev, anomalies
                   FROM (SELECT *, row_number() OVER
                           (PARTITION BY user_id ORDER BY n_events DESC) rn
                         FROM t_anom) WHERE rn = 1"""
            ).collect()
        }
        q.stop()

        # order-faithful reference: replay each user's events by ts in pandas
        from imagingdb_spark.catalog import table

        events = table(spark, SF_DIR, "events").select("user_id", "ts", "value").toPandas()
        for user_id, pdf in events.groupby("user_id"):
            n, mean, m2, anomalies = 0, 0.0, 0.0, 0
            for v in pdf.sort_values("ts")["value"]:
                if n >= 2:
                    std = (m2 / (n - 1)) ** 0.5
                    if std > 0 and abs(v - mean) > 3.0 * std:
                        anomalies += 1
                n += 1
                d = v - mean
                mean += d / n
                m2 += d * (v - mean)
            r = got[user_id]
            assert r["n_events"] == n
            assert r["anomalies"] == anomalies, f"user {user_id}"
            assert r["mean"] == pytest.approx(mean)
    finally:
        stop_all(spark)


def test_streaming_dedup_drops_in_horizon_dups(spark, events_stream):
    try:
        q = jobs.run_to_memory(jobs.streaming_dedup(events_stream), "t_dedup")
        n = spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0]["n"]
        # event_id is unique in the source, so dedup is a passthrough here;
        # the semantics (bounded state) are what this exercises
        assert n == 1000
        q.stop()
    finally:
        stop_all(spark)


def test_streaming_catalog_append_snapshot(spark, events_stream, tmp_path):
    """The snapshot-backed catalog sink: exactly-once by key across a full
    fresh-checkpoint replay, every batch an atomic manifest commit."""
    from imagingdb_spark import snapshots as S
    from imagingdb_spark.streaming import jobs

    target = str(tmp_path / "events_snap")
    q = jobs.streaming_catalog_append_snapshot(
        events_stream, target, ["event_id"], str(tmp_path / "ck1")
    )
    q.processAllAvailable()
    q.stop()
    n_events = spark.read.parquet(SF_DIR + "/events.parquet").count()
    got = S.snapshot_read(spark, target)
    assert got.count() == n_events
    assert got.select("event_id").distinct().count() == n_events
    versions_after_first = len(S.snapshot_versions(target))

    # fresh checkpoint: every batch replays; the serializable anti-join
    # must land zero rows and publish zero new versions
    q2 = jobs.streaming_catalog_append_snapshot(
        events_stream, target, ["event_id"], str(tmp_path / "ck2")
    )
    q2.processAllAvailable()
    q2.stop()
    assert S.snapshot_read(spark, target).count() == n_events
    assert len(S.snapshot_versions(target)) == versions_after_first
    # replayed batches' empty deltas were cleaned eagerly
    assert S.snapshot_vacuum(spark, target) == []


def test_stream_stream_join_matches_batch(spark, events_stream):
    """Stream-stream attribution join must produce exactly the batch twin's
    pairs (the unified-API guarantee extended to two-sided state)."""
    q = jobs.run_to_memory(jobs.attribution_join(events_stream), "attrib")
    got = spark.sql("SELECT view_id, purchase_id FROM attrib").collect()
    q.stop()
    batch = streaming_batch.st_join(spark, SF_DIR).select(
        "view_id", "purchase_id"
    ).collect()
    key = lambda rows: sorted((r["view_id"], r["purchase_id"]) for r in rows)
    assert key(got) == key(batch)
    assert len(got) > 0


def test_streaming_dedup_gate_matches_batch_twin(spark, tmp_path):
    """The streaming crawl-ingest gate, fed the x_dedup_incremental batch
    slice as one micro-batch against a corpus pre-seeded with the rest,
    must log exactly the batch twin's (new_doc, corpus_doc) matches and
    append only novel docs to the corpus."""
    from imagingdb_spark.operators.dedup import x_dedup_incremental
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    corpus_path = str(tmp_path / "corpus")
    matches_path = str(tmp_path / "matches")
    batch_path = str(tmp_path / "incoming")
    docs.filter(~is_new).write.parquet(corpus_path)
    # one file => one micro-batch
    docs.filter(is_new).coalesce(1).write.parquet(batch_path)

    stream = (
        spark.readStream.schema(jobs.DOCS_RAW_SCHEMA)
        .parquet(batch_path)
    )
    q = jobs.streaming_dedup_gate(
        stream, corpus_path, matches_path, str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(matches_path).collect()
    }
    want_rows = x_dedup_incremental(spark, SF_DIR).collect()
    want = {(r["new_doc"], r["corpus_doc"]) for r in want_rows}
    assert got == want and len(want) > 0
    # corpus grew by exactly the novel batch docs
    n_batch = docs.filter(is_new).count()
    n_dups = len({a for a, _ in want})
    n_corpus0 = docs.filter(~is_new).count()
    assert spark.read.parquet(corpus_path).count() == n_corpus0 + n_batch - n_dups


def test_streaming_dedup_gate_replay_idempotent(spark, tmp_path):
    """Replaying the same input with a fresh checkpoint (at-least-once
    semantics) must not grow the corpus: every replayed doc matches its
    already-appended twin at jaccard 1.0 and is filtered as a duplicate."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    corpus_path = str(tmp_path / "corpus")
    matches_path = str(tmp_path / "matches")
    batch_path = str(tmp_path / "incoming")
    docs.filter(~is_new).write.parquet(corpus_path)
    docs.filter(is_new).coalesce(1).write.parquet(batch_path)

    stream = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_dedup_gate(
        stream, corpus_path, matches_path, str(tmp_path / "ck1")
    )
    q.processAllAvailable()
    q.stop()
    n_after_first = spark.read.parquet(corpus_path).count()

    stream2 = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
    q2 = jobs.streaming_dedup_gate(
        stream2, corpus_path, matches_path, str(tmp_path / "ck2")
    )
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(corpus_path).count() == n_after_first


def test_streaming_dedup_gate_snapshot_index_parity_and_pruning(
    spark, tmp_path
):
    """index_format="snapshot" for the TEXT gate: the prefix index is
    read per trigger pruned to the batch's prefix tokens and the tokset
    table pruned to the discovered candidate docs. Matches and corpus
    growth must equal both the plain-parquet gate's and the batch twin's;
    replay stays idempotent; after the clustered compaction a batch-sized
    token probe opens files_kept << files_total."""
    from pyspark.sql import functions as F

    from imagingdb_spark import snapshots as S
    from imagingdb_spark.operators.dedup import x_dedup_incremental

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    corpus_path = str(tmp_path / "scorpus")
    matches_path = str(tmp_path / "smatches")
    batch_path = str(tmp_path / "sincoming")
    docs.filter(~is_new).write.parquet(corpus_path)
    docs.filter(is_new).coalesce(1).write.parquet(batch_path)

    def run(ck):
        stream = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(
            batch_path
        )
        q = jobs.streaming_dedup_gate(
            stream, corpus_path, matches_path, str(tmp_path / ck),
            compact_every=1, index_format="snapshot",
            index_target_bytes=256,  # many narrow token-range files so
            # the IN-probe's skip is visible at toy scale (~2.6k rows)
        )
        q.processAllAvailable()
        q.stop()

    run("sck1")
    got = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(matches_path).collect()
    }
    want = {
        (r["new_doc"], r["corpus_doc"])
        for r in x_dedup_incremental(spark, SF_DIR).collect()
    }
    assert got == want and len(want) > 0
    n_batch = docs.filter(is_new).count()
    n_dups = len({a for a, _ in want})
    n_corpus0 = docs.filter(~is_new).count()
    n_expected = n_corpus0 + n_batch - n_dups
    assert spark.read.parquet(corpus_path).count() == n_expected

    # both index tables are snapshot tables, 1:1 with the corpus
    idx_tok = corpus_path + "_idx_tokset"
    idx_pref = corpus_path + "_idx_prefix"
    assert S.snapshot_exists(idx_tok) and S.snapshot_exists(idx_pref)
    assert S.snapshot_read(spark, idx_tok).count() == n_expected

    # pruning evidence on the compacted, token-clustered prefix index —
    # invoked directly here because this test feeds ONE micro-batch and
    # the gate's tick fires from batch 1 on; this is the exact call the
    # tick makes (clustered transactional fold on the pruning key)
    S.snapshot_compact(
        spark, idx_pref, target_file_bytes=256, cluster_cols=["token"]
    )
    pref = S.snapshot_read(spark, idx_pref)
    probe = sorted(
        r["token"] for r in pref.select("token").distinct().limit(5).collect()
    )
    plan = S.snapshot_scan_plan(idx_pref, [("token", "in", probe)])
    assert plan["files_total"] > 10
    assert plan["files_kept"] <= plan["files_total"] // 2
    assert S.snapshot_read(
        spark, idx_pref, where=[("token", "in", probe)]
    ).count() == pref.filter(F.col("token").isin(probe)).count()

    # replay with a fresh checkpoint: corpus and indexes do not grow
    n_tok = S.snapshot_read(spark, idx_tok).count()
    run("sck2")
    assert spark.read.parquet(corpus_path).count() == n_expected
    assert S.snapshot_read(spark, idx_tok).count() == n_tok


def test_pinned_schema_stream_matches_inferred(spark):
    """ADVICE r2: a durable deployment pins the source schema instead of
    re-inferring per start — the pinned stream must produce the same rows
    as the inferred one on the same data."""
    pinned = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    s = jobs.read_events_stream(spark, SF_DIR, schema=pinned)
    q = (
        jobs.tumbling_counts(s)
        .writeStream.format("memory")
        .queryName("pinned_tumble")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT count(*) n FROM pinned_tumble").collect()[0]["n"]
    from imagingdb_spark.operators import streaming_batch as sb

    want = sb.st_tumbling(spark, SF_DIR).count()
    q.stop()
    assert got == want


class _FakeState:
    """Minimal GroupState stand-in for driving _sessionize_update directly."""

    def __init__(self):
        self.exists = False
        self._v = None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v
        self.exists = True


def test_sessionize_stream_matches_batch(spark):
    """Single-batch parity: streaming per-event session ids == the batch
    twin's assignment on the same data."""
    s = jobs.read_events_stream(spark, SF_DIR)
    q = (
        jobs.sessionize_stream(s)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["event_id"]: r["session_idx"]
        for r in spark.sql("SELECT * FROM sess_stream").collect()
    }
    q.stop()
    from imagingdb_spark.operators import streaming_batch as sb

    want = {
        r["event_id"]: r["session_idx"]
        for r in sb.x_sessionize(spark, SF_DIR).collect()
    }
    assert got == want


def test_sessionize_state_continues_across_batches():
    """Cross-batch continuation, driven directly: a second micro-batch
    must continue the user's session when within the gap and open a new
    one when beyond it — including a gap that SPANS the batch boundary."""
    import pandas as pd

    state = _FakeState()
    hour = 3_600_000_000_000  # ns

    def batch(rows):
        return [
            pd.DataFrame(
                {
                    "event_id": [r[0] for r in rows],
                    "user_id": [7] * len(rows),
                    "ts": pd.to_datetime([r[1] for r in rows], unit="ns"),
                }
            )
        ]

    out1 = list(
        jobs._sessionize_update((7,), batch([(1, 0), (2, hour // 60)]), state, 1800)
    )[0]
    assert list(out1["session_idx"]) == [1, 1]  # 1 min apart → same session
    # batch 2: first event 10 min after batch 1's last (same session),
    # second event 2 h later (new session)
    out2 = list(
        jobs._sessionize_update(
            (7,), batch([(3, hour // 6 + hour // 60), (4, 3 * hour)]), state, 1800
        )
    )[0]
    assert list(out2["session_idx"]) == [1, 2]
    # state carries (last_us, idx)
    assert state.get == (3 * hour // 1000, 2)


def test_trending_topk_stream_matches_batch(spark, events_stream):
    """sliding_counts (stream) + rank_trending (sink-side) must equal the
    batch st_topk_trend operator."""
    try:
        q = jobs.run_to_memory(jobs.sliding_counts(events_stream), "t_trend")
        counts = spark.sql(
            "SELECT window_start, event_type, n_events FROM t_trend"
        )
        got = (
            jobs.rank_trending(counts, k=streaming_batch.TREND_K)
            .select("window_start", "event_type", "n_events", "rk")
            .collect()
        )
        want = streaming_batch.st_topk_trend(spark, SF_DIR).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        q.stop()
    finally:
        stop_all(spark)


def test_stream_static_enrichment_matches_batch(spark, events_stream):
    """Stream-static temporal join must assign exactly the tiers the batch
    j_temporal_lookup query assigns."""
    from imagingdb_spark.catalog import table
    from imagingdb_spark.operators import joins as J

    try:
        dim = J.user_tier_dim(
            table(spark, SF_DIR, "events").select("event_id", "user_id", "ts")
        )
        q = jobs.run_to_memory(
            jobs.enrich_with_dimension(events_stream, dim),
            "t_enrich",
            mode="append",
        )
        got = spark.sql("SELECT event_id, user_id, tier FROM t_enrich").collect()
        want = J.j_temporal_lookup(spark, SF_DIR).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))
        assert len(got) > 0
        q.stop()
    finally:
        stop_all(spark)


def test_streaming_cdc_apply_matches_batch_twin(spark, tmp_path):
    """Three change micro-batches (insert epoch, competing update+delete
    epoch, late re-update) must leave the state table exactly where the
    BATCH cdc_apply leaves it for the concatenated log."""
    from pyspark.sql import types as T

    from imagingdb_spark.operators.merge import cdc_apply

    base = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 6)], "doc_id long, text string"
    )
    state_path = str(tmp_path / "state")
    changes_path = str(tmp_path / "changes")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    batches = [
        [(i, 1, "U", f"doc {i}") for i in range(1, 6)],
        [(2, 2, "U", "doc 2 v2"), (2, 3, "U", "doc 2 v3"), (3, 2, "D", None)],
        [(4, 4, "U", "doc 4 v4"), (5, 2, "D", None), (5, 3, "U", "doc 5 back")],
    ]
    # one file per micro-batch (maxFilesPerTrigger=1)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(changes_path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_path)
    )
    q = jobs.streaming_cdc_apply(stream, state_path, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    got = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in spark.read.parquet(state_path).collect()
    }
    log = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    empty_base = spark.createDataFrame([], "doc_id long, text string")
    want = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in cdc_apply(empty_base, log, "doc_id").collect()
    }
    assert got == want
    assert 3 not in got          # deleted, never resurrected
    assert got[2][0] == "doc 2 v3"
    assert got[5][0] == "doc 5 back"  # delete then later update wins


def test_streaming_cdc_apply_snapshot_matches_batch_twin(spark, tmp_path):
    """The snapshot-state CDC job must land exactly the batch twin's state,
    with one atomic 'cdc' version per micro-batch in the commit log."""
    from pyspark.sql import types as T

    from imagingdb_spark import snapshots as S
    from imagingdb_spark.operators.merge import cdc_apply

    table = str(tmp_path / "state_snap")
    changes_path = str(tmp_path / "changes")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    batches = [
        [(i, 1, "U", f"doc {i}") for i in range(1, 6)],
        [(2, 2, "U", "doc 2 v2"), (2, 3, "U", "doc 2 v3"), (3, 2, "D", None)],
        [(4, 4, "U", "doc 4 v4"), (5, 2, "D", None), (5, 3, "U", "doc 5 back")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(changes_path)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_path)
    )
    q = jobs.streaming_cdc_apply_snapshot(stream, table, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()

    got = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in S.snapshot_read(spark, table).collect()
    }
    log = spark.createDataFrame([r for b in batches for r in b], schema)
    empty_base = spark.createDataFrame([], "doc_id long, text string")
    want = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in cdc_apply(empty_base, log, "doc_id").collect()
    }
    assert got == want
    modes = [m["mode"] for m in S.snapshot_versions(table)]
    assert modes[0] == "append" and set(modes[1:]) == {"cdc"}
    assert len(modes) == 1 + len(batches)  # bootstrap + one commit per batch

    # full fresh-checkpoint replay: every batch gates to a content no-op
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_path)
    )
    q2 = jobs.streaming_cdc_apply_snapshot(stream2, table, str(tmp_path / "ck2"))
    q2.processAllAvailable()
    q2.stop()
    got2 = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in S.snapshot_read(spark, table).collect()
    }
    assert got2 == want


def test_streaming_cdc_apply_snapshot_is_file_pruned(spark, tmp_path):
    """Round-11: a narrow trigger against a wide standing CDC state
    rewrites only the files that can contain its keys (key blooms
    maintained from the bootstrap on) — per-trigger write cost is
    O(batch + candidates), not O(standing state)."""
    from pyspark.sql import types as T

    from imagingdb_spark import snapshots as S

    table = str(tmp_path / "state_snap")
    changes_path = str(tmp_path / "changes")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    # wide standing state, hand-bootstrapped as a clustered multi-file
    # table (what a maintenance compact produces) with key blooms
    state0 = spark.createDataFrame(
        [(i, f"doc {i}", 1) for i in range(2_000)],
        "doc_id long, text string, last_seq long",
    ).repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
    S.snapshot_commit(spark, table, state0, bloom_columns=["doc_id"])
    batches = [
        [(17, 2, "U", "doc 17 v2")],
        [(1_203, 2, "U", "doc 1203 v2")],
        [(17, 3, "D", None)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(changes_path)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_path)
    )
    q = jobs.streaming_cdc_apply_snapshot(stream, table, str(tmp_path / "ck"))
    q.processAllAvailable()
    q.stop()
    vs = S._versions(table)
    tip = S._read_manifest(table, vs[-1])
    assert len(tip["files"]) > 4  # the standing state is many files
    # each NARROW commit rewrote at most a couple of candidate files
    for v in vs[-3:]:
        prev = S._read_manifest_raw(table, v - 1)
        cur = S._read_manifest_raw(table, v)
        assert len(S._added_entries(table, prev, cur)) <= 3
        assert len(S._added_entries(table, cur, prev)) <= 3
    got = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in S.snapshot_read(spark, table).collect()
    }
    assert 17 not in got  # the delete won
    assert got[1_203] == ("doc 1203 v2", 2)
    assert got[5] == ("doc 5", 1)
    assert len(got) == 1_999


def test_streaming_cdc_apply_snapshot_eq_strategy(spark, tmp_path):
    """strategy='eq' (round-11 stretch): same LWW+deletes semantics as
    the batch twin, but a trigger lands only its own files + one key
    sidecar — NO standing data file is rewritten, so per-trigger data
    bytes are O(batch) at any state size. Replays are exactly-once via
    the txn marker; a fresh-checkpoint full replay converges."""
    from pyspark.sql import types as T

    from imagingdb_spark import snapshots as S
    from imagingdb_spark.operators.merge import cdc_apply

    table = str(tmp_path / "state_eq")
    changes_path = str(tmp_path / "changes")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    batches = [
        [(i, 1, "U", f"doc {i}") for i in range(1, 6)],
        [(2, 2, "U", "doc 2 v2"), (2, 3, "U", "doc 2 v3"), (3, 2, "D", None)],
        [(4, 4, "U", "doc 4 v4"), (5, 2, "D", None), (5, 3, "U", "doc 5 back")],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(changes_path)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_path)
    )
    q = jobs.streaming_cdc_apply_snapshot(
        stream, table, str(tmp_path / "ck"), strategy="eq"
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in S.snapshot_read(spark, table).collect()
    }
    log = spark.createDataFrame([r for b in batches for r in b], schema)
    empty_base = spark.createDataFrame([], "doc_id long, text string")
    want = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in cdc_apply(empty_base, log, "doc_id").collect()
    }
    assert got == want
    # NO standing file was ever rewritten: every bootstrap/batch file
    # still referenced at the tip, every upsert commit mode 'eqput'
    modes = [m["mode"] for m in S.snapshot_versions(table)]
    assert modes[0] == "append" and set(modes[1:]) <= {"eqput"}
    # fresh-checkpoint full replay converges (content gating + markers)
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(changes_path)
    )
    q2 = jobs.streaming_cdc_apply_snapshot(
        stream2, table, str(tmp_path / "ck2"), strategy="eq"
    )
    q2.processAllAvailable()
    q2.stop()
    got2 = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in S.snapshot_read(spark, table).collect()
    }
    assert got2 == want


def test_streaming_cdc_eq_trigger_writes_o_batch_bytes(spark, tmp_path):
    """The physical claim: against a WIDE standing state, a narrow eq
    trigger's data-dir growth is batch-sized — the keyed strategy
    rewrites candidate files, the eq strategy rewrites none."""
    import os as _os

    from pyspark.sql import types as T

    from imagingdb_spark import snapshots as S

    def du(p):
        return sum(
            _os.path.getsize(_os.path.join(dp, f))
            for dp, _d, fs in _os.walk(p)
            for f in fs
        ) if _os.path.isdir(p) else 0

    table = str(tmp_path / "state_eq")
    changes_path = str(tmp_path / "changes")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    # wide standing state: 20k docs with fat payloads, 8 clustered files
    state0 = spark.range(20_000).selectExpr(
        "id as doc_id",
        "repeat('x', 200) as text",
        "cast(1 as bigint) as last_seq",
    ).repartitionByRange(8, "doc_id").sortWithinPartitions("doc_id")
    S.snapshot_commit(spark, table, state0, bloom_columns=["doc_id"])
    pre_files = {f["path"] for f in S._read_manifest(table, 1)["files"]}
    data_before = du(_os.path.join(table, "data"))
    spark.createDataFrame(
        [(17, 2, "U", "updated"), (9_999, 2, "D", None)], schema
    ).coalesce(1).write.mode("append").parquet(changes_path)
    stream = spark.readStream.schema(schema).parquet(changes_path)
    q = jobs.streaming_cdc_apply_snapshot(
        stream, table, str(tmp_path / "ck"), strategy="eq"
    )
    q.processAllAvailable()
    q.stop()
    grew = du(_os.path.join(table, "data")) - data_before
    assert 0 < grew < 64 * 1024  # one tiny batch file, not a candidate rewrite
    m = S._read_manifest(table, S._versions(table)[-1])
    assert pre_files <= {f["path"] for f in m["files"]}  # all carried
    got = {r["doc_id"] for r in S.snapshot_read(spark, table).filter(
        "doc_id in (17, 9999)").collect()}
    assert got == {17}
    assert S.snapshot_read(spark, table).filter("doc_id = 17").collect()[0][
        "text"
    ] == "updated"
    assert m["rows"] == 19_999


def test_streaming_cdc_apply_replay_idempotent(spark, tmp_path):
    """Applying the same micro-batch twice (at-least-once replay) must be
    a no-op, and a LATE change older than the state must lose."""
    from pyspark.sql import types as T

    state_path = str(tmp_path / "state")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("seq", T.LongType()),
            T.StructField("op", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    b1 = spark.createDataFrame(
        [(1, 5, "U", "v5"), (2, 1, "U", "x")], schema
    )
    jobs.cdc_apply_batch(b1, state_path)
    jobs.cdc_apply_batch(b1, state_path)  # replay
    late = spark.createDataFrame([(1, 3, "U", "stale")], schema)
    jobs.cdc_apply_batch(late, state_path)
    got = {
        r["doc_id"]: (r["text"], r["last_seq"])
        for r in spark.read.parquet(state_path).collect()
    }
    assert got == {1: ("v5", 5), 2: ("x", 1)}


def _gate_fixture_frames(spark):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SF_DIR + "/documents.parquet")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    return docs.filter(~is_new), docs.filter(is_new)


def test_streaming_dedup_gate_heals_torn_index_append(spark, tmp_path):
    """Crash window: the corpus append committed but the index appends did
    not. The replayed trigger must not grow the corpus (doc_id anti-join)
    and must backfill the missing index rows — the at-least-once
    self-heal the gate's docstring promises."""
    from pyspark.sql import functions as F
    from imagingdb_spark.operators.dedup import (
        canonical_prefixes,
        canonical_toksets,
        incremental_match,
    )

    rest, batch = _gate_fixture_frames(spark)
    dups = (
        incremental_match(batch, rest)
        .select(F.col("new_doc").alias("doc_id"))
        .distinct()
    )
    accepted = batch.join(dups, "doc_id", "left_anti")

    corpus_path = str(tmp_path / "corpus")
    # torn state: corpus already holds the accepted batch docs (written
    # by the crashed trigger, so they carry ITS _gate_batch stamp — the
    # replay reruns as the same batch id 0)...
    rest.withColumn("_gate_batch", F.lit(None).cast("long")).unionByName(
        accepted.withColumn("_gate_batch", F.lit(0))
    ).write.parquet(corpus_path)
    # ...but the index only covers the pre-batch corpus
    canonical_toksets(rest).write.parquet(corpus_path + "_idx_tokset")
    canonical_prefixes(canonical_toksets(rest)).write.parquet(
        corpus_path + "_idx_prefix"
    )
    batch_path = str(tmp_path / "incoming")
    batch.coalesce(1).write.parquet(batch_path)

    n_corpus_before = spark.read.parquet(corpus_path).count()
    stream = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_dedup_gate(
        stream, corpus_path, str(tmp_path / "matches"), str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()

    assert spark.read.parquet(corpus_path).count() == n_corpus_before
    idx_ids = {
        r["doc_id"]
        for r in spark.read.parquet(corpus_path + "_idx_tokset").collect()
    }
    want_ids = {r["doc_id"] for r in rest.unionByName(accepted).collect()}
    assert idx_ids == want_ids  # backfilled, and no doc indexed twice
    pref_ids = {
        r["doc_id"]
        for r in spark.read.parquet(corpus_path + "_idx_prefix")
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert pref_ids == want_ids


def test_streaming_dedup_gate_rebuilds_torn_bootstrap(spark, tmp_path):
    """Crash window: a bootstrap committed some prefix task files but the
    job never finished (no _SUCCESS marker) — the directory READS fine,
    so the gate must detect the tear from the marker, rebuild BOTH index
    tables with overwrite (no duplicated rows), and still produce exactly
    the batch twin's matches."""
    import os
    from pyspark.sql import functions as F
    from imagingdb_spark.operators.dedup import (
        canonical_prefixes,
        canonical_toksets,
        x_dedup_incremental,
    )

    rest, batch = _gate_fixture_frames(spark)
    corpus_path = str(tmp_path / "corpus")
    rest.write.parquet(corpus_path)
    canonical_toksets(rest).write.parquet(corpus_path + "_idx_tokset")
    # partial prefix output: only HALF the docs' rows committed, and the
    # job-level _SUCCESS marker missing — the readable-but-torn state
    half = canonical_prefixes(
        canonical_toksets(rest.filter(F.col("doc_id") % 2 == 0))
    )
    half.write.parquet(corpus_path + "_idx_prefix")
    os.remove(corpus_path + "_idx_prefix/_SUCCESS")
    batch_path = str(tmp_path / "incoming")
    batch.coalesce(1).write.parquet(batch_path)

    stream = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
    matches_path = str(tmp_path / "matches")
    q = jobs.streaming_dedup_gate(
        stream, corpus_path, matches_path, str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(matches_path).collect()
    }
    want = {
        (r["new_doc"], r["corpus_doc"])
        for r in x_dedup_incremental(spark, SF_DIR).collect()
    }
    assert got == want and want
    tok = spark.read.parquet(corpus_path + "_idx_tokset")
    assert tok.count() == tok.select("doc_id").distinct().count()
    # the rebuild + increment must leave the prefix index covering every
    # corpus doc (the half that was missing included)
    pref_ids = {
        r["doc_id"]
        for r in spark.read.parquet(corpus_path + "_idx_prefix")
        .select("doc_id")
        .distinct()
        .collect()
    }
    corpus_ids = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    }
    assert pref_ids == corpus_ids


def _embed_fixture_frames(spark):
    from pyspark.sql import functions as F

    vecs = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    is_new = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1).isin(
        "0", "1", "2"
    )
    return vecs.filter(~is_new), vecs.filter(is_new)


def test_streaming_embedding_gate_full_probe_matches_bruteforce(spark, tmp_path):
    """St9: with probe=IVF_K every cell is scanned, so the gate's audit
    log must equal the brute-force set of batch x corpus pairs with
    rounded cosine >= threshold, and the corpus must grow by exactly the
    unmatched vectors, each carrying its codebook cell."""
    import numpy as np
    from imagingdb_spark.operators.similarity import IVF_K

    rest, batch = _embed_fixture_frames(spark)
    corpus_path = str(tmp_path / "vcorpus")
    rest_rows = rest.collect()
    # pre-seeded corpus WITHOUT cells/codebook: first trigger bootstraps
    # the codebook from it
    rest.write.parquet(corpus_path)
    batch_path = str(tmp_path / "vin")
    batch.coalesce(1).write.parquet(batch_path)

    threshold = 0.3
    stream = spark.readStream.schema(jobs.VECS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_embedding_gate(
        stream, corpus_path, str(tmp_path / "vmatches"),
        str(tmp_path / "vck"), threshold, probe=IVF_K,
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["new_vec"], r["corpus_vec"])
        for r in spark.read.parquet(str(tmp_path / "vmatches")).collect()
    }
    cm = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rest_rows])
    ci = [r["vec_id"] for r in rest_rows]
    want = set()
    for r in batch.collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        sims = np.round(
            (cm @ v) / (np.linalg.norm(cm, axis=1) * np.linalg.norm(v)), 4
        )
        for j in np.nonzero(sims >= threshold)[0]:
            want.add((r["vec_id"], ci[j]))
    assert got == want and want
    corpus = spark.read.parquet(corpus_path)
    n_dup = len({a for a, _ in want})
    assert corpus.count() == len(rest_rows) + batch.count() - n_dup
    assert "cell" in corpus.columns
    assert corpus.filter("vec_id IS NULL OR cell IS NULL").count() == 0


def test_streaming_embedding_gate_replay_idempotent(spark, tmp_path):
    """Replaying the same vector batch with a fresh checkpoint must not
    grow the corpus (vec_id screens + self-match classification), and
    the codebook must stay fixed."""
    from imagingdb_spark.operators.similarity import IVF_K

    rest, batch = _embed_fixture_frames(spark)
    corpus_path = str(tmp_path / "vcorpus")
    rest.write.parquet(corpus_path)
    batch_path = str(tmp_path / "vin")
    batch.coalesce(1).write.parquet(batch_path)

    def run(ck):
        stream = spark.readStream.schema(jobs.VECS_RAW_SCHEMA).parquet(batch_path)
        q = jobs.streaming_embedding_gate(
            stream, corpus_path, str(tmp_path / "vmatches"),
            str(tmp_path / ck), 0.3, probe=IVF_K,
        )
        q.processAllAvailable()
        q.stop()

    run("ck1")
    n_after_first = spark.read.parquet(corpus_path).count()
    cb1 = sorted(
        (r["cell"], tuple(r["centroid"]))
        for r in spark.read.parquet(corpus_path + "_codebook").collect()
    )
    run("ck2")
    assert spark.read.parquet(corpus_path).count() == n_after_first
    cb2 = sorted(
        (r["cell"], tuple(r["centroid"]))
        for r in spark.read.parquet(corpus_path + "_codebook").collect()
    )
    assert cb1 == cb2


def test_streaming_embedding_gate_partial_probe_subset_with_recall(spark, tmp_path):
    """At the default probe fraction the audit log must be a SUBSET of the
    brute-force match set (precision 1.0 — in-cell scoring is exact) with
    recall above a pinned floor on this worst-case near-uniform corpus."""
    import numpy as np

    rest, batch = _embed_fixture_frames(spark)
    corpus_path = str(tmp_path / "vcorpus")
    rest_rows = rest.collect()
    rest.write.parquet(corpus_path)
    batch_path = str(tmp_path / "vin")
    batch.coalesce(1).write.parquet(batch_path)

    threshold = 0.3
    stream = spark.readStream.schema(jobs.VECS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_embedding_gate(
        stream, corpus_path, str(tmp_path / "vmatches"),
        str(tmp_path / "vck"), threshold,  # default probe=IVF_PROBE
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["new_vec"], r["corpus_vec"])
        for r in spark.read.parquet(str(tmp_path / "vmatches")).collect()
    }
    cm = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rest_rows])
    ci = [r["vec_id"] for r in rest_rows]
    want = set()
    for r in batch.collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        sims = np.round(
            (cm @ v) / (np.linalg.norm(cm, axis=1) * np.linalg.norm(v)), 4
        )
        for j in np.nonzero(sims >= threshold)[0]:
            want.add((r["vec_id"], ci[j]))
    assert got <= want and want  # precision exactly 1.0
    assert len(got) / len(want) >= 0.5  # probe-recall floor


def _maintained_corpus(spark, tmp_path, base):
    """Build the gate's maintained state directly: corpus with cells
    assigned under a codebook trained on it, codebook published."""
    from imagingdb_spark.operators.similarity import _ivf_assign_udf, _ivf_centroids

    corpus_path = str(tmp_path / "vcorpus")
    cents = _ivf_centroids(base)
    base.withColumn("cell", _ivf_assign_udf(cents)("embedding")).write.parquet(
        corpus_path
    )
    jobs.write_embed_codebook(spark, corpus_path + "_codebook", cents)
    return corpus_path, cents


def _match_sets(spark, batch, corpus_path, cents, threshold, probe):
    from imagingdb_spark.operators.similarity import ann_match_pairs

    corpus = spark.read.parquet(corpus_path)
    return {
        (r["new_vec"], r["corpus_vec"])
        for r in ann_match_pairs(batch, corpus, cents, threshold, probe).collect()
    }


def test_rebuild_embedding_cells_recovers_drifted_balance(spark, tmp_path):
    """VERDICT r5 item 4: appends from a shifted distribution assigned
    under the FROZEN codebook collapse into a handful of stale cells —
    the measured drift pathology is cell-size blowup (the per-task
    memory bound and probe cost, not recall: a collapsed cell makes
    partial probe silently degenerate to brute force over the drifted
    cloud, recall 1.0 at unbounded cost). rebuild_embedding_cells must
    (a) leave full-probe match sets IDENTICAL, (b) leave every stored
    cell consistent with the published codebook, and (c) restore cell
    balance: the max cell shrinks and the probe's scanned fraction
    drops while recall stays above the pinned partial-probe floor."""
    from pyspark.sql import functions as F

    from imagingdb_spark.operators.similarity import (
        IVF_K,
        IVF_PROBE,
        _ivf_assign_udf,
    )

    vecs = spark.read.parquet(SF_DIR + "/embeddings.parquet")
    base = vecs.filter("vec_id % 2 = 0")
    corpus_path, old_cents = _maintained_corpus(spark, tmp_path, base)

    # drift: the odd half lands later, shifted far off the trained
    # distribution, but gets cells from the FROZEN codebook (what the
    # gate does between rebuilds)
    shift = F.transform("embedding", lambda x: (x + F.lit(5.0)).cast("float"))
    drifted = vecs.filter("vec_id % 2 = 1").withColumn("embedding", shift)
    drifted.withColumn(
        "cell", _ivf_assign_udf(old_cents)("embedding")
    ).write.mode("append").parquet(corpus_path)

    # probe batch: perturbed copies of drifted vectors, disjoint ids
    probe_batch = (
        drifted.filter("vec_id % 10 = 1")
        .select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(1.01)).cast("float")
            ).alias("embedding"),
            "label",
        )
        .persist()
    )
    def cell_stats(cents):
        """(max cell fraction, mean fraction of the corpus a drifted
        probe scans at IVF_PROBE)."""
        import numpy as np

        corpus = spark.read.parquet(corpus_path)
        sizes = {
            r["cell"]: r["n"]
            for r in corpus.groupBy("cell").agg(F.count("*").alias("n")).collect()
        }
        total = sum(sizes.values())
        c = cents.astype("float64")
        c_sq = (c * c).sum(axis=1)
        fracs = []
        for r in probe_batch.select("embedding").collect():
            v = np.asarray(r["embedding"], dtype=np.float64)
            near = np.argsort(-2.0 * (c @ v) + c_sq)[:IVF_PROBE]
            fracs.append(sum(sizes.get(int(i), 0) for i in near) / total)
        return max(sizes.values()) / total, sum(fracs) / len(fracs)

    threshold = 0.5
    exact = _match_sets(spark, probe_batch, corpus_path, old_cents, threshold, IVF_K)
    before = _match_sets(
        spark, probe_batch, corpus_path, old_cents, threshold, IVF_PROBE
    )
    assert before <= exact and exact
    max_frac_before, scan_before = cell_stats(old_cents)
    # the drift pathology this job exists for: the shifted cloud (half
    # the corpus) collapsed into few stale cells
    assert max_frac_before > 0.25

    stats = jobs.rebuild_embedding_cells(spark, corpus_path)
    assert stats["n_vectors"] == vecs.count()
    assert 0 < stats["n_moved"] <= stats["n_vectors"]

    new_cents = jobs.read_embed_codebook(spark, corpus_path + "_codebook")
    # (a) full probe unchanged — cells are irrelevant when every cell scans
    assert (
        _match_sets(spark, probe_batch, corpus_path, new_cents, threshold, IVF_K)
        == exact
    )
    # (b) every stored cell is the published codebook's assignment
    corpus = spark.read.parquet(corpus_path)
    inconsistent = corpus.withColumn(
        "want", _ivf_assign_udf(new_cents)("embedding")
    ).filter("cell != want")
    assert inconsistent.count() == 0
    # (c) balance restored: max cell shrinks, the probe scans a smaller
    # corpus fraction, and recall holds the partial-probe floor
    max_frac_after, scan_after = cell_stats(new_cents)
    assert max_frac_after < max_frac_before
    assert scan_after < scan_before
    after = _match_sets(
        spark, probe_batch, corpus_path, new_cents, threshold, IVF_PROBE
    )
    assert after <= exact
    assert len(after) / len(exact) >= 0.5
    probe_batch.unpersist()


def test_rebuild_crash_window_heals_forward(spark, tmp_path):
    """Every rebuild crash window leaves the codebook torn (step 1 deletes
    it first); the NEXT gate trigger's healing branch must restore a
    self-consistent state — codebook published, every stored cell its
    assignment — and still process its batch exactly (full-probe audit =
    brute force)."""
    import shutil

    import numpy as np

    from imagingdb_spark.operators.similarity import IVF_K, _ivf_assign_udf

    rest, batch = _embed_fixture_frames(spark)
    corpus_path, _ = _maintained_corpus(spark, tmp_path, rest)
    rest_rows = spark.read.parquet(corpus_path).collect()

    # crash between rebuild steps 1 and 3: codebook gone, cells stale
    shutil.rmtree(corpus_path + "_codebook")

    batch_path = str(tmp_path / "vin")
    batch.coalesce(1).write.parquet(batch_path)
    stream = spark.readStream.schema(jobs.VECS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_embedding_gate(
        stream, corpus_path, str(tmp_path / "vmatches"),
        str(tmp_path / "vck"), 0.3, probe=IVF_K,
    )
    q.processAllAvailable()
    q.stop()

    cents = jobs.read_embed_codebook(spark, corpus_path + "_codebook")
    corpus = spark.read.parquet(corpus_path)
    assert (
        corpus.withColumn("want", _ivf_assign_udf(cents)("embedding"))
        .filter("cell != want")
        .count()
        == 0
    )
    # the trigger that healed still gated its batch exactly
    got = {
        (r["new_vec"], r["corpus_vec"])
        for r in spark.read.parquet(str(tmp_path / "vmatches")).collect()
    }
    cm = np.stack([np.asarray(r["embedding"], dtype=np.float64) for r in rest_rows])
    ci = [r["vec_id"] for r in rest_rows]
    want = set()
    for r in batch.collect():
        v = np.asarray(r["embedding"], dtype=np.float64)
        sims = np.round(
            (cm @ v) / (np.linalg.norm(cm, axis=1) * np.linalg.norm(v)), 4
        )
        for j in np.nonzero(sims >= 0.3)[0]:
            want.add((r["vec_id"], ci[j]))
    assert got == want and want


def test_gate_reaps_stale_old_dir(spark, tmp_path):
    """ADVICE r5: a crash after the swap's final rename but before the
    cleanup leaves '<corpus>__old' on disk with the live table present;
    the next trigger must delete it (it is stale by definition) rather
    than leave it forever."""
    import os

    from imagingdb_spark.operators.similarity import IVF_K

    rest, batch = _embed_fixture_frames(spark)
    corpus_path, _ = _maintained_corpus(spark, tmp_path, rest)
    os.makedirs(corpus_path + "__old")
    with open(corpus_path + "__old/stale.parquet", "w") as f:
        f.write("stale")

    batch_path = str(tmp_path / "vin")
    batch.coalesce(1).write.parquet(batch_path)
    stream = spark.readStream.schema(jobs.VECS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_embedding_gate(
        stream, corpus_path, str(tmp_path / "vmatches"),
        str(tmp_path / "vck"), 0.3, probe=IVF_K,
    )
    q.processAllAvailable()
    q.stop()
    assert not os.path.exists(corpus_path + "__old")


def test_gate_replay_after_torn_append_matches_no_crash_run(spark, tmp_path):
    """ADVICE r5: a replay after a torn corpus append must reproduce the
    NO-CRASH outcome even when the batch contains near-duplicate pairs
    within itself: the half-appended vectors are already in the corpus on
    replay, and without the batch-id screen the rest of the batch would
    match them (extra audit rows + dropped vectors)."""
    from pyspark.sql import functions as F

    from imagingdb_spark.operators.similarity import IVF_K, _ivf_assign_udf

    rest, batch0 = _embed_fixture_frames(spark)
    # make a batch with strong WITHIN-batch near-dups: each vector plus a
    # barely-perturbed twin under a fresh id
    twins = batch0.select(
        (F.col("vec_id") + 2_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.001)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    batch = batch0.unionByName(twins)
    corpus_path, cents = _maintained_corpus(spark, tmp_path, rest)
    batch_path = str(tmp_path / "vin")
    batch.coalesce(1).write.parquet(batch_path)

    def run(ck):
        stream = spark.readStream.schema(jobs.VECS_RAW_SCHEMA).parquet(batch_path)
        q = jobs.streaming_embedding_gate(
            stream, corpus_path, str(tmp_path / "vmatches"),
            str(tmp_path / ck), 0.3, probe=IVF_K,
        )
        q.processAllAvailable()
        q.stop()

    # no-crash run on a pristine copy of the state for the expectation
    import shutil as _sh

    pristine = str(tmp_path / "pristine")
    _sh.copytree(corpus_path, pristine)
    _sh.copytree(corpus_path + "_codebook", pristine + "_codebook")

    run("ck_clean")
    clean_corpus = {
        r["vec_id"] for r in spark.read.parquet(corpus_path).collect()
    }
    clean_matches = {
        (r["new_vec"], r["corpus_vec"])
        for r in spark.read.parquet(str(tmp_path / "vmatches")).collect()
    }
    accepted = clean_corpus - {r["vec_id"] for r in rest.collect()}
    assert accepted  # the batch contributed novel vectors

    # rebuild the TORN state: pristine corpus + half of the ACCEPTED
    # set already appended (the real crash window: the trigger's match
    # append landed, the corpus append died half-way)
    _sh.rmtree(corpus_path)
    _sh.rmtree(corpus_path + "_codebook")
    _sh.copytree(pristine, corpus_path)
    _sh.copytree(pristine + "_codebook", corpus_path + "_codebook")
    torn_half = batch.filter(
        F.col("vec_id").isin([i for i in accepted if i % 2 == 0])
    )
    assert torn_half.count() > 0
    # torn_half contains within-batch near-dup twins of vectors still
    # waiting in the batch — the scenario the batch-id screen exists for
    # the torn append came from the crashed trigger itself, so it
    # carries that trigger's _gate_batch stamp (replay reruns as batch 0)
    torn_half.withColumn(
        "cell", _ivf_assign_udf(cents)("embedding")
    ).withColumn("_gate_batch", F.lit(0)).write.mode("append").parquet(
        corpus_path
    )

    run("ck_replay")  # replay of the full batch against the torn state
    replay_corpus = {
        r["vec_id"] for r in spark.read.parquet(corpus_path).collect()
    }
    # audit rows from before the crash are re-appended on replay; the
    # documented downstream read is distinct-by-(new_vec, corpus_vec),
    # which the set comprehension applies
    replay_matches = {
        (r["new_vec"], r["corpus_vec"])
        for r in spark.read.parquet(str(tmp_path / "vmatches")).collect()
    }
    assert replay_corpus == clean_corpus
    assert replay_matches == clean_matches


def test_gate_compaction_mid_stream_preserves_results_and_replay(spark, tmp_path):
    """compact_every folds per-trigger fragments mid-stream: over 4
    micro-batches with compaction every 2 triggers, the corpus/matches
    content must equal a no-compaction run's, the maintained tables must
    hold FEWER files, and a subsequent replay (fresh checkpoint) must
    still be idempotent — compaction must not disturb the _SUCCESS
    markers or id screens the healing logic keys on."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )

    def feed(batch_dir):
        for i in range(4):
            part = docs.filter(F.col("doc_id") % 3 == i % 3)  # batch 3 replays batch 0
            part.coalesce(1).write.parquet(str(tmp_path / f"stage_{batch_dir}_{i}"))
            import glob as _g
            import shutil as _sh

            src = _g.glob(str(tmp_path / f"stage_{batch_dir}_{i}" / "part-*.parquet"))[0]
            (tmp_path / batch_dir).mkdir(exist_ok=True)
            _sh.move(src, str(tmp_path / batch_dir / f"b{i:02d}.parquet"))

    def run(batch_dir, corpus, matches, ck, compact_every):
        stream = (
            spark.readStream.schema(jobs.DOCS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / batch_dir))
        )
        q = jobs.streaming_dedup_gate(
            stream, corpus, matches, str(tmp_path / ck),
            compact_every=compact_every,
        )
        q.processAllAvailable()
        q.stop()

    feed("in_a")
    feed("in_b")
    run("in_a", str(tmp_path / "corpus_a"), str(tmp_path / "match_a"), "ck_a", 2)
    run("in_b", str(tmp_path / "corpus_b"), str(tmp_path / "match_b"), "ck_b", None)

    ca = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus_a")).collect()}
    cb = {r["doc_id"] for r in spark.read.parquet(str(tmp_path / "corpus_b")).collect()}
    assert ca == cb
    ma = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(str(tmp_path / "match_a")).collect()
    }
    mb = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(str(tmp_path / "match_b")).collect()
    }
    assert ma == mb and ma
    # compaction actually shrank the maintained tables' file counts
    for tbl in ("corpus", "corpus_idx_tokset", "corpus_idx_prefix"):
        na = len(spark.read.parquet(str(tmp_path / (tbl.replace("corpus", "corpus_a")))).inputFiles())
        nb = len(spark.read.parquet(str(tmp_path / (tbl.replace("corpus", "corpus_b")))).inputFiles())
        assert na < nb, f"{tbl}: compacted {na} !< fragmented {nb}"
    # replay across the compacted state stays idempotent
    n_before = len(ca)
    run("in_a", str(tmp_path / "corpus_a"), str(tmp_path / "match_a"), "ck_a2", 2)
    assert spark.read.parquet(str(tmp_path / "corpus_a")).count() == n_before


def test_gate_heals_compaction_crash_windows(spark, tmp_path):
    """A compaction that dies mid-swap leaves either '<t>.old.*' beside a
    missing table (between the renames) or beside the live table (before
    cleanup), plus orphaned '<t>.compact.*' attempts; the next trigger
    must restore/reap so the gate NEVER misreads a missing corpus as
    'first batch'."""
    import os
    import shutil

    from pyspark.sql import functions as F

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text", "lang", "source"
    )
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0")
    corpus_path = str(tmp_path / "corpus")
    docs.filter(~is_new).write.parquet(corpus_path)
    n_corpus0 = docs.filter(~is_new).count()
    batch_path = str(tmp_path / "incoming")
    docs.filter(is_new).coalesce(1).write.parquet(batch_path)

    # crash window 1: between the two renames — table gone, .old has the data
    shutil.move(corpus_path, corpus_path + ".old.deadbeef")
    os.makedirs(corpus_path + ".compact.cafe")  # orphaned attempt too

    stream = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_dedup_gate(
        stream, corpus_path, str(tmp_path / "matches"), str(tmp_path / "ck1")
    )
    q.processAllAvailable()
    q.stop()
    # the corpus was RESTORED (not restarted from the batch): it holds the
    # original docs plus the batch's novel ones
    n_now = spark.read.parquet(corpus_path).count()
    assert n_now > n_corpus0  # restored + grew; a 'first batch' restart would be tiny
    assert not os.path.exists(corpus_path + ".old.deadbeef")
    assert not os.path.exists(corpus_path + ".compact.cafe")

    # crash window 2: stale .old beside the live table — reaped next trigger
    os.makedirs(corpus_path + ".old.feed")
    stream2 = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
    q2 = jobs.streaming_dedup_gate(
        stream2, corpus_path, str(tmp_path / "matches"), str(tmp_path / "ck2")
    )
    q2.processAllAvailable()
    q2.stop()
    assert not os.path.exists(corpus_path + ".old.feed")
    assert spark.read.parquet(corpus_path).count() == n_now  # replay idempotent


# ---------------------------------------------------------------------------
# streaming_phash_gate (St7-image): image-ingest near-dup gate
# ---------------------------------------------------------------------------


def _smooth_image(rng, size=48):
    """Low-frequency random image: pHash is designed for natural images,
    so smooth the noise (same recipe as the batch pHash tests)."""
    import numpy as np

    k = np.ones(5) / 5
    a = rng.integers(0, 200, size=(size, size)).astype("uint8")
    a = np.apply_along_axis(lambda r: np.convolve(r, k, mode="same"), 0, a)
    return np.apply_along_axis(
        lambda r: np.convolve(r, k, mode="same"), 1, a
    ).astype("uint8")


def _noised(im, noise_seed=1000):
    """Mild pixel noise: pHash is brightness/contrast INVARIANT (median
    threshold), so a pure brightness shift hashes identically; noise is
    what lands in the 1..PHASH_MAX_DISTANCE near-dup band. Seeds are
    pinned to combos measured at hamming 2-4."""
    import numpy as np

    nr = np.random.default_rng(noise_seed)
    return np.clip(
        im.astype("int16") + nr.integers(-6, 7, im.shape), 0, 255
    ).astype("uint8")


def _frame_rows(images):
    """(dataset_serial, image) pairs -> FRAME_SCHEMA rows with real PNG
    payloads; frame_id per the gate's convention is '<serial>_0_0_0_0'."""
    from imagingdb_spark import multimodal

    return [
        (serial, 0, 0, 0, 0, im.shape[1], im.shape[0], "uint8",
         multimodal.serialize_im(im))
        for serial, im in images
    ]


def _fid(serial):
    return f"{serial}_0_0_0_0"


def _hashed_frames(spark, images):
    """Frames df in the gate's CORPUS shape: FRAME_SCHEMA + phash +
    frame_id (what a bootstrap trigger writes), for pre-seeding."""
    from pyspark.sql import functions as F

    from imagingdb_spark import multimodal

    frames = spark.createDataFrame(
        _frame_rows(images), multimodal.FRAME_SCHEMA
    )
    id_cols = [
        "dataset_serial", "channel_idx", "slice_idx", "time_idx", "pos_idx"
    ]
    return frames.join(
        F.broadcast(multimodal.phash_frames(frames)), id_cols
    ).withColumn(
        "frame_id",
        F.concat_ws("_", *id_cols),
    )


def _run_phash_gate(spark, tmp_path, batch_path, ck, **kw):
    q = jobs.streaming_phash_gate(
        jobs.read_frames_stream(spark, batch_path),
        str(tmp_path / "fcorpus"),
        str(tmp_path / "fmatches"),
        str(tmp_path / ck),
        **kw,
    )
    q.processAllAvailable()
    q.stop()


def test_streaming_phash_gate_matches_and_corpus_growth(spark, tmp_path):
    """Pre-seeded corpus [A, B, C]; batch = [near-dup of A, exact copy of
    B, novel E, within-batch exact copy of E]. The gate must log exactly
    the two dup matches (hamming checked), accept exactly one novel frame
    (the exact-dup pair collapses to its min-frame_id keeper, silently,
    like the text gate's sha2 collapse), and keep the band index 1:1 with
    the corpus at PHASH_BANDS rows per frame."""
    import numpy as np

    from imagingdb_spark import multimodal

    rng = np.random.default_rng(21)
    a, b, c, e = (_smooth_image(rng) for _ in range(4))
    corpus_path = str(tmp_path / "fcorpus")
    _hashed_frames(
        spark, [("CA", a), ("CB", b), ("CC", c)]
    ).write.parquet(corpus_path)

    batch_path = str(tmp_path / "fin")
    batch = spark.createDataFrame(
        _frame_rows(
            [("NA", _noised(a)), ("NB", b), ("NE", e), ("NE2", e)]
        ),
        multimodal.FRAME_SCHEMA,
    )
    batch.coalesce(1).write.parquet(batch_path)

    _run_phash_gate(spark, tmp_path, batch_path, "ck1")

    matches = spark.read.parquet(str(tmp_path / "fmatches")).collect()
    got = {(r["new_frame"], r["corpus_frame"]) for r in matches}
    assert got == {(_fid("NA"), _fid("CA")), (_fid("NB"), _fid("CB"))}
    ham = {r["new_frame"]: r["hamming"] for r in matches}
    assert ham[_fid("NB")] == 0  # identical image -> identical phash
    assert 0 < ham[_fid("NA")] <= multimodal.PHASH_MAX_DISTANCE

    corpus = spark.read.parquet(corpus_path)
    ids = {r["frame_id"] for r in corpus.select("frame_id").collect()}
    # exactly one of the within-batch exact-dup pair survives: the keeper
    # is min(frame_id) = NE2 < NE?  No: 'NE2_...' > 'NE_...' is locale-free
    # ASCII ('2' < '_'), so NE2 sorts FIRST and is the keeper.
    assert ids == {_fid("CA"), _fid("CB"), _fid("CC"), _fid("NE2")}

    idx = spark.read.parquet(corpus_path + "_idx_bands")
    per_frame = {
        r["frame_id"]: r["n"]
        for r in idx.groupBy("frame_id").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    assert set(per_frame) == ids
    assert all(n == multimodal.PHASH_BANDS for n in per_frame.values())


def test_streaming_phash_gate_replay_idempotent(spark, tmp_path):
    """Replaying the same batch with a fresh checkpoint must leave the
    corpus and band index unchanged and add no new DISTINCT match pairs
    (re-appended audit rows are the documented at-least-once residue)."""
    import numpy as np

    from imagingdb_spark import multimodal

    rng = np.random.default_rng(22)
    a, b, e = (_smooth_image(rng) for _ in range(3))
    corpus_path = str(tmp_path / "fcorpus")
    _hashed_frames(spark, [("CA", a), ("CB", b)]).write.parquet(corpus_path)

    batch_path = str(tmp_path / "fin")
    spark.createDataFrame(
        _frame_rows([("NA", _noised(a, 1004)), ("NE", e)]),
        multimodal.FRAME_SCHEMA,
    ).coalesce(1).write.parquet(batch_path)

    _run_phash_gate(spark, tmp_path, batch_path, "ck1")
    n_corpus = spark.read.parquet(corpus_path).count()
    n_idx = spark.read.parquet(corpus_path + "_idx_bands").count()
    got1 = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmatches")).collect()
    }

    _run_phash_gate(spark, tmp_path, batch_path, "ck2")
    assert spark.read.parquet(corpus_path).count() == n_corpus
    assert spark.read.parquet(corpus_path + "_idx_bands").count() == n_idx
    got2 = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmatches")).collect()
    }
    assert got2 == got1 == {(_fid("NA"), _fid("CA"))}


def test_streaming_phash_gate_bootstrap_then_dedups(spark, tmp_path):
    """No pre-seeded corpus: the first trigger bootstraps corpus + band
    index from the batch itself; a second trigger's near-dup of a
    bootstrapped frame is then caught through the maintained index."""
    import numpy as np

    from imagingdb_spark import multimodal

    rng = np.random.default_rng(23)
    a, b, c = (_smooth_image(rng) for _ in range(3))
    corpus_path = str(tmp_path / "fcorpus")
    batch_path = str(tmp_path / "fin")
    spark.createDataFrame(
        _frame_rows([("A1", a), ("B1", b)]), multimodal.FRAME_SCHEMA
    ).coalesce(1).write.parquet(batch_path)

    q = jobs.streaming_phash_gate(
        jobs.read_frames_stream(spark, batch_path),
        corpus_path,
        str(tmp_path / "fmatches"),
        str(tmp_path / "ck"),
    )
    q.processAllAvailable()  # trigger 1: bootstrap
    assert spark.read.parquet(corpus_path).count() == 2

    spark.createDataFrame(
        _frame_rows([("A2", _noised(a)), ("C2", c)]),
        multimodal.FRAME_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(batch_path)
    q.processAllAvailable()  # trigger 2: against the bootstrapped index
    q.stop()

    got = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmatches")).collect()
    }
    assert got == {(_fid("A2"), _fid("A1"))}
    ids = {
        r["frame_id"]
        for r in spark.read.parquet(corpus_path).select("frame_id").collect()
    }
    assert ids == {_fid("A1"), _fid("B1"), _fid("C2")}


def test_streaming_phash_gate_rebuilds_torn_index(spark, tmp_path):
    """A band index missing its _SUCCESS marker (torn bootstrap) is
    rebuilt from the corpus's STORED hashes before matching — a frame
    absent from the torn index must still catch its near-dup."""
    import os

    import numpy as np

    from pyspark.sql import functions as F

    from imagingdb_spark import multimodal

    rng = np.random.default_rng(24)
    a, b = (_smooth_image(rng) for _ in range(2))
    corpus_path = str(tmp_path / "fcorpus")
    hashed = _hashed_frames(spark, [("CA", a), ("CB", b)])
    hashed.write.parquet(corpus_path)
    # torn index: only CA's bands made it, and no _SUCCESS
    idx_path = corpus_path + "_idx_bands"
    hashed.filter(F.col("dataset_serial") == "CA").select(
        "frame_id", "phash", F.explode(multimodal.phash_band_col()).alias("b")
    ).select("frame_id", "phash", "b.band_idx", "b.band_value").write.parquet(
        idx_path
    )
    os.remove(os.path.join(idx_path, "_SUCCESS"))

    batch_path = str(tmp_path / "fin")
    spark.createDataFrame(
        _frame_rows([("NB", _noised(b))]), multimodal.FRAME_SCHEMA
    ).coalesce(1).write.parquet(batch_path)

    _run_phash_gate(spark, tmp_path, batch_path, "ck")
    got = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmatches")).collect()
    }
    assert got == {(_fid("NB"), _fid("CB"))}  # missed without the rebuild
    idx_ids = {
        r["frame_id"]
        for r in spark.read.parquet(idx_path).select("frame_id").collect()
    }
    assert idx_ids == {_fid("CA"), _fid("CB")}  # rebuilt complete


def test_streaming_phash_gate_replay_after_torn_append(spark, tmp_path):
    """ADVICE-r5 scenario, image flavor: a batch holding a WITHIN-batch
    near-dup pair (both accepted in a clean run) is replayed after a torn
    append landed one of the pair in the corpus + index. Without the
    batch-id screen the still-pending twin would match its peer's corpus
    copy and be dropped; the replay must reproduce the no-crash outcome
    exactly (same corpus ids, same distinct match pairs)."""
    import shutil

    import numpy as np

    from pyspark.sql import functions as F

    from imagingdb_spark import multimodal

    rng = np.random.default_rng(25)
    a, f = (_smooth_image(rng) for _ in range(2))
    corpus_path = str(tmp_path / "fcorpus")
    idx_path = corpus_path + "_idx_bands"
    _hashed_frames(spark, [("CA", a)]).write.parquet(corpus_path)

    batch_path = str(tmp_path / "fin")
    # F and F' are near-dups of EACH OTHER (not of the corpus): a clean
    # run accepts both (the gate dedups batch-vs-corpus, by design)
    batch_frames = _frame_rows([("NF", f), ("NG", _noised(f))])
    spark.createDataFrame(
        batch_frames, multimodal.FRAME_SCHEMA
    ).coalesce(1).write.parquet(batch_path)

    pristine = str(tmp_path / "pristine")
    shutil.copytree(corpus_path, pristine)

    _run_phash_gate(spark, tmp_path, batch_path, "ck_clean")
    clean_ids = {
        r["frame_id"]
        for r in spark.read.parquet(corpus_path).select("frame_id").collect()
    }
    assert {_fid("NF"), _fid("NG")} <= clean_ids  # both accepted
    clean_matches = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmatches")).collect()
    }

    # torn state: pristine corpus + NG (and its bands) already appended
    shutil.rmtree(corpus_path)
    shutil.rmtree(idx_path)
    shutil.copytree(pristine, corpus_path)
    torn = _hashed_frames(spark, [("CA", a), ("NG", _noised(f))])
    # the torn append came from the crashed trigger itself: it carries
    # that trigger's _gate_batch stamp (the replay reruns as batch 0)
    torn.filter(F.col("dataset_serial") == "NG").withColumn(
        "_gate_batch", F.lit(0)
    ).write.mode("append").parquet(corpus_path)
    torn.select(
        "frame_id", "phash", F.explode(multimodal.phash_band_col()).alias("b")
    ).select("frame_id", "phash", "b.band_idx", "b.band_value").write.parquet(
        idx_path
    )

    _run_phash_gate(spark, tmp_path, batch_path, "ck_replay")
    replay_ids = {
        r["frame_id"]
        for r in spark.read.parquet(corpus_path).select("frame_id").collect()
    }
    replay_matches = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmatches")).collect()
    }
    assert replay_ids == clean_ids
    assert replay_matches == clean_matches


def test_phash_gate_compaction_mid_stream_preserves_results(spark, tmp_path):
    """The image gate's compact_every path, mirroring the text gate's
    test: over 4 frame micro-batches with compaction every 2 triggers the
    corpus/band-index/match CONTENT must equal a no-compaction run's, the
    maintained tables must hold fewer files, and a replay over the
    compacted state (fresh checkpoint) must stay idempotent."""
    import glob as _g
    import shutil as _sh

    from pyspark.sql import functions as F

    from imagingdb_spark.multimodal import synth_frames

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text"
    )

    def feed(batch_dir):
        for i in range(4):
            part = synth_frames(
                docs.filter(F.col("doc_id") % 3 == i % 3)
            )  # batch 3 replays batch 0
            part.coalesce(1).write.parquet(
                str(tmp_path / f"fstage_{batch_dir}_{i}")
            )
            src = _g.glob(
                str(tmp_path / f"fstage_{batch_dir}_{i}" / "part-*.parquet")
            )[0]
            (tmp_path / batch_dir).mkdir(exist_ok=True)
            _sh.move(src, str(tmp_path / batch_dir / f"b{i:02d}.parquet"))

    def run(batch_dir, corpus, matches, ck, compact_every):
        stream = (
            spark.readStream.schema(
                jobs.read_frames_stream(spark, str(tmp_path / batch_dir)).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / batch_dir))
        )
        q = jobs.streaming_phash_gate(
            stream, corpus, matches, str(tmp_path / ck),
            compact_every=compact_every,
        )
        q.processAllAvailable()
        q.stop()

    feed("fin_a")
    feed("fin_b")
    run("fin_a", str(tmp_path / "fcorp_a"), str(tmp_path / "fmat_a"), "fck_a", 2)
    run("fin_b", str(tmp_path / "fcorp_b"), str(tmp_path / "fmat_b"), "fck_b", None)

    ca = {
        r["frame_id"]
        for r in spark.read.parquet(str(tmp_path / "fcorp_a")).collect()
    }
    cb = {
        r["frame_id"]
        for r in spark.read.parquet(str(tmp_path / "fcorp_b")).collect()
    }
    assert ca == cb and ca
    ma = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmat_a")).collect()
    }
    mb = {
        (r["new_frame"], r["corpus_frame"])
        for r in spark.read.parquet(str(tmp_path / "fmat_b")).collect()
    }
    assert ma == mb
    for a_tbl, b_tbl in (
        ("fcorp_a", "fcorp_b"),
        ("fcorp_a_idx_bands", "fcorp_b_idx_bands"),
    ):
        na = len(spark.read.parquet(str(tmp_path / a_tbl)).inputFiles())
        nb = len(spark.read.parquet(str(tmp_path / b_tbl)).inputFiles())
        assert na < nb, f"{a_tbl}: compacted {na} !< fragmented {nb}"
    n_before = len(ca)
    run("fin_a", str(tmp_path / "fcorp_a"), str(tmp_path / "fmat_a"), "fck_a2", 2)
    assert spark.read.parquet(str(tmp_path / "fcorp_a")).count() == n_before


def test_phash_gate_snapshot_index_parity_and_pruning(spark, tmp_path):
    """index_format="snapshot" (round-7 verdict item 5): the band index
    lives in a snapshot table, per-trigger reads are manifest-pruned by
    the batch's bkey set, appends are txn-marked exactly-once, and
    compaction clusters on bkey. Must produce IDENTICAL corpus + match
    content to the plain-parquet index, stay idempotent under replay,
    and — after the clustering compaction — answer a batch-sized bkey
    probe opening files_kept << files_total."""
    import glob as _g
    import shutil as _sh

    from pyspark.sql import functions as F

    from imagingdb_spark import snapshots as S
    from imagingdb_spark.multimodal import PHASH_BANDS, synth_frames

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text"
    )

    def feed(batch_dir):
        for i in range(4):
            part = synth_frames(
                docs.filter(F.col("doc_id") % 3 == i % 3)
            )  # batch 3 replays batch 0
            part.coalesce(1).write.parquet(
                str(tmp_path / f"sstage_{batch_dir}_{i}")
            )
            src = _g.glob(
                str(tmp_path / f"sstage_{batch_dir}_{i}" / "part-*.parquet")
            )[0]
            (tmp_path / batch_dir).mkdir(exist_ok=True)
            _sh.move(src, str(tmp_path / batch_dir / f"b{i:02d}.parquet"))

    def run(batch_dir, corpus, matches, ck, fmt, compact_every=2):
        stream = (
            spark.readStream.schema(
                jobs.read_frames_stream(
                    spark, str(tmp_path / batch_dir)
                ).schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(tmp_path / batch_dir))
        )
        q = jobs.streaming_phash_gate(
            stream, corpus, matches, str(tmp_path / ck),
            compact_every=compact_every, index_format=fmt,
            index_target_bytes=2048,  # force a many-file clustered layout
        )
        q.processAllAvailable()
        q.stop()

    feed("sin_a")
    feed("sin_b")
    snap_corpus = str(tmp_path / "scorp_a")
    run("sin_a", snap_corpus, str(tmp_path / "smat_a"), "sck_a", "snapshot")
    run("sin_b", str(tmp_path / "scorp_b"), str(tmp_path / "smat_b"),
        "sck_b", "parquet")

    # content parity with the plain-parquet index run
    ca = {
        r["frame_id"]
        for r in spark.read.parquet(snap_corpus).collect()
    }
    cb = {
        r["frame_id"]
        for r in spark.read.parquet(str(tmp_path / "scorp_b")).collect()
    }
    assert ca == cb and ca
    ma = {
        (r["new_frame"], r["corpus_frame"], r["hamming"])
        for r in spark.read.parquet(str(tmp_path / "smat_a")).collect()
    }
    mb = {
        (r["new_frame"], r["corpus_frame"], r["hamming"])
        for r in spark.read.parquet(str(tmp_path / "smat_b")).collect()
    }
    assert ma == mb

    # the snapshot index is 1:1 with the corpus (PHASH_BANDS rows each)
    idx_dir = snap_corpus + "_idx_bands"
    assert S.snapshot_exists(idx_dir)
    idx = S.snapshot_read(spark, idx_dir)
    per_frame = {
        r["frame_id"]: r["n"]
        for r in idx.groupBy("frame_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert set(per_frame) == ca
    assert all(n == PHASH_BANDS for n in per_frame.values())

    # pruning evidence: after the bkey-clustered compaction, a
    # batch-sized bkey probe must skip most files — and the pruned read
    # must equal the full read filtered
    probe = sorted(
        r["bkey"] for r in idx.select("bkey").distinct().limit(12).collect()
    )
    plan = S.snapshot_scan_plan(idx_dir, [("bkey", "in", probe)])
    assert plan["files_total"] > 4
    assert plan["files_kept"] < plan["files_total"]
    pruned = S.snapshot_read(
        spark, idx_dir, where=[("bkey", "in", probe)]
    ).count()
    full = idx.filter(F.col("bkey").isin(probe)).count()
    assert pruned == full

    # replay over the final state (fresh checkpoint): nothing grows,
    # and the index commits' txn markers admit no duplicate band rows
    n_corpus = len(ca)
    n_idx = idx.count()
    run("sin_a", snap_corpus, str(tmp_path / "smat_a"), "sck_a2", "snapshot")
    assert spark.read.parquet(snap_corpus).count() == n_corpus
    assert S.snapshot_read(spark, idx_dir).count() == n_idx


def test_dedup_gate_replay_after_torn_corpus_append(spark, tmp_path):
    """The INVERSE crash window of test_streaming_dedup_gate_heals_torn_
    index_append: the concurrent index appends landed but the corpus
    append did not. The batch holds a WITHIN-batch near-dup pair (both
    accepted in a clean run — the gate dedups batch-vs-corpus only);
    without the batch-peer match screen the replay would see each peer in
    the just-landed index, flag BOTH as dups, and drop them from a corpus
    append neither completed. The replay must reproduce the no-crash
    outcome exactly."""
    import shutil

    from imagingdb_spark.operators.dedup import (
        canonical_prefixes,
        canonical_toksets,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")  # jaccard 9/11 = 0.818 >= 0.8
    corpus_text = "one two three four five six seven eight nine ten"
    mk = lambda rows: spark.createDataFrame(rows, jobs.DOCS_RAW_SCHEMA)

    corpus_path = str(tmp_path / "corpus")
    mk([(1, corpus_text, "en", "src0")]).write.parquet(corpus_path)
    canonical_toksets(spark.read.parquet(corpus_path)).write.parquet(
        corpus_path + "_idx_tokset"
    )
    canonical_prefixes(
        canonical_toksets(spark.read.parquet(corpus_path))
    ).write.parquet(corpus_path + "_idx_prefix")
    pristine = str(tmp_path / "pristine")
    for suf in ("", "_idx_tokset", "_idx_prefix"):
        shutil.copytree(corpus_path + suf, pristine + suf)

    batch = [(10, base, "en", "src0"), (11, near, "en", "src0")]
    batch_path = str(tmp_path / "incoming")
    mk(batch).coalesce(1).write.parquet(batch_path)

    def run(ck):
        stream = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
        q = jobs.streaming_dedup_gate(
            stream, corpus_path, str(tmp_path / "matches"), str(tmp_path / ck)
        )
        q.processAllAvailable()
        q.stop()

    # clean run: both near-dup peers accepted
    run("ck_clean")
    clean_ids = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    }
    assert {10, 11} <= clean_ids
    clean_matches = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(str(tmp_path / "matches")).collect()
    }

    # torn state: pristine corpus, but the INDEX holds both batch docs
    for suf in ("", "_idx_tokset", "_idx_prefix"):
        shutil.rmtree(corpus_path + suf)
        shutil.copytree(pristine + suf, corpus_path + suf)
    batch_df = mk(batch)
    canonical_toksets(batch_df).write.mode("append").parquet(
        corpus_path + "_idx_tokset"
    )
    canonical_prefixes(canonical_toksets(batch_df)).write.mode("append").parquet(
        corpus_path + "_idx_prefix"
    )

    run("ck_replay")
    replay_ids = {
        r["doc_id"] for r in spark.read.parquet(corpus_path).collect()
    }
    replay_matches = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(str(tmp_path / "matches")).collect()
    }
    assert replay_ids == clean_ids  # the torn peers made it into the corpus
    assert replay_matches == clean_matches


# ---------------------------------------------------------------------------
# streaming_afp_gate (St11): audio-ingest near-dup gate (shared engine —
# the full crash-window matrix is pinned by the pHash suite above; these
# pin the audio instantiation: fingerprint wiring, near-dup semantics,
# replay idempotency)
# ---------------------------------------------------------------------------


def _clip_rows(pairs):
    import numpy as np

    from imagingdb_spark import wav
    from imagingdb_spark.multimodal import SYNTH_CLIP_RATE

    return [
        (cid, SYNTH_CLIP_RATE, wav.encode_wav(a, SYNTH_CLIP_RATE))
        for cid, a in pairs
    ]


def _mk_clip(seed):
    import numpy as np

    from imagingdb_spark import multimodal as M

    rng = np.random.default_rng(seed)
    amps = 0.01 + 0.07 * rng.random((M.AFP_SEGMENTS, M.AFP_BANDS))
    ts = np.arange(M.SYNTH_CLIP_SEG) / M.SYNTH_CLIP_RATE
    band_bins = (M.SYNTH_CLIP_SEG // 2) // M.AFP_BANDS
    carriers = np.array(
        [
            (1 + band_bins * b + band_bins // 2) * M.SYNTH_CLIP_RATE / M.SYNTH_CLIP_SEG
            for b in range(M.AFP_BANDS)
        ]
    )
    return np.concatenate(
        [
            (
                amps[s][None, :]
                * np.sin(2 * np.pi * carriers[None, :] * ts[:, None])
            ).sum(axis=1)
            for s in range(M.AFP_SEGMENTS)
        ]
    )


def test_streaming_afp_gate_matches_and_replay(spark, tmp_path):
    """Pre-seeded audio corpus [A, B]; batch = [gain-adjusted noisy copy
    of A, novel C]. The gate must log exactly the near-dup match, accept
    only the novel clip, keep the band index 1:1 with the corpus, and a
    replay with a fresh checkpoint must change nothing."""
    import numpy as np

    from pyspark.sql import functions as F

    from imagingdb_spark import multimodal as M

    a, b, c = _mk_clip(31), _mk_clip(32), _mk_clip(33)
    corpus_path = str(tmp_path / "acorpus")
    corpus = spark.createDataFrame(
        _clip_rows([("CA", a), ("CB", b)]), M.CLIP_SCHEMA
    )
    M.afp_clips(corpus).join(F.broadcast(corpus), "clip_id").select(
        "clip_id", "sample_rate", "payload", "afp"
    ).write.parquet(corpus_path)

    rng = np.random.default_rng(99)
    near_a = 1.3 * a + 0.004 * rng.standard_normal(len(a))
    batch_path = str(tmp_path / "ain")
    spark.createDataFrame(
        _clip_rows([("NA", near_a), ("NC", c)]), M.CLIP_SCHEMA
    ).coalesce(1).write.parquet(batch_path)

    def run(ck):
        q = jobs.streaming_afp_gate(
            jobs.read_clips_stream(spark, batch_path),
            corpus_path,
            str(tmp_path / "amatches"),
            str(tmp_path / ck),
        )
        q.processAllAvailable()
        q.stop()

    run("ck1")
    matches = spark.read.parquet(str(tmp_path / "amatches")).collect()
    got = {(r["new_clip"], r["corpus_clip"]) for r in matches}
    assert got == {("NA", "CA")}
    assert all(
        0 <= r["hamming"] <= M.AFP_MAX_DISTANCE for r in matches
    )
    ids = {
        r["clip_id"]
        for r in spark.read.parquet(corpus_path).select("clip_id").collect()
    }
    assert ids == {"CA", "CB", "NC"}
    idx = spark.read.parquet(corpus_path + "_idx_bands")
    per = {
        r["clip_id"]: r["count"]
        for r in idx.groupBy("clip_id").count().collect()
    }
    assert set(per) == ids
    assert all(n == M.PHASH_BANDS for n in per.values())

    n_corpus = spark.read.parquet(corpus_path).count()
    n_idx = idx.count()
    run("ck2")  # replay: idempotent
    assert spark.read.parquet(corpus_path).count() == n_corpus
    assert spark.read.parquet(corpus_path + "_idx_bands").count() == n_idx
    got2 = {
        (r["new_clip"], r["corpus_clip"])
        for r in spark.read.parquet(str(tmp_path / "amatches")).collect()
    }
    assert got2 == got


def test_dedup_gate_redelivered_doc_still_blocks_its_near_dups(spark, tmp_path):
    """The phantom screen must NOT suppress real duplicate detection: a
    batch that re-delivers a corpus-resident doc I together with a NEW
    near-dup J of it must still flag and drop J (corpus side I is in the
    batch AND in the pre-trigger corpus — matchable), while I's own
    self-match stays bookkeeping."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")  # jaccard 9/11 >= 0.8
    mk = lambda rows: spark.createDataFrame(rows, jobs.DOCS_RAW_SCHEMA)

    corpus_path = str(tmp_path / "corpus")
    mk([(1, base, "en", "src0")]).write.parquet(corpus_path)

    batch_path = str(tmp_path / "incoming")
    mk(
        [(1, base, "en", "src0"), (20, near, "en", "src0")]
    ).coalesce(1).write.parquet(batch_path)

    stream = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(batch_path)
    q = jobs.streaming_dedup_gate(
        stream, corpus_path, str(tmp_path / "matches"), str(tmp_path / "ck")
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["new_doc"], r["corpus_doc"])
        for r in spark.read.parquet(str(tmp_path / "matches")).collect()
    }
    assert got == {(20, 1)}  # the re-upload IS flagged against resident 1
    ids = {r["doc_id"] for r in spark.read.parquet(corpus_path).collect()}
    assert ids == {1}  # J dropped, I not duplicated


def test_afp_gate_redelivered_clip_still_blocks_its_near_dups(spark, tmp_path):
    """Engine-level twin of the text-gate re-delivery test: corpus clip C
    re-delivered alongside a new gain-adjusted near-dup N — N must be
    flagged against C and dropped, not silently accepted."""
    import numpy as np

    from pyspark.sql import functions as F

    from imagingdb_spark import multimodal as M

    c = _mk_clip(51)
    corpus_path = str(tmp_path / "acorpus")
    corpus = spark.createDataFrame(_clip_rows([("C", c)]), M.CLIP_SCHEMA)
    M.afp_clips(corpus).join(F.broadcast(corpus), "clip_id").select(
        "clip_id", "sample_rate", "payload", "afp"
    ).write.parquet(corpus_path)

    rng = np.random.default_rng(77)
    near = 1.25 * c + 0.004 * rng.standard_normal(len(c))
    batch_path = str(tmp_path / "ain")
    spark.createDataFrame(
        _clip_rows([("C", c), ("N", near)]), M.CLIP_SCHEMA
    ).coalesce(1).write.parquet(batch_path)

    q = jobs.streaming_afp_gate(
        jobs.read_clips_stream(spark, batch_path),
        corpus_path,
        str(tmp_path / "amatches"),
        str(tmp_path / "ck"),
    )
    q.processAllAvailable()
    q.stop()

    got = {
        (r["new_clip"], r["corpus_clip"])
        for r in spark.read.parquet(str(tmp_path / "amatches")).collect()
    }
    assert got == {("N", "C")}
    ids = {
        r["clip_id"]
        for r in spark.read.parquet(corpus_path).select("clip_id").collect()
    }
    assert ids == {"C"}


def test_streaming_catalog_maintenance_tick(spark, tmp_path):
    """The layout-health tick inside the snapshot catalog sink: stream
    appends land time-ordered (every file covers the same key range), the
    every-N-batches snapshot_maintain re-clusters transactionally, and
    exactly-once-by-key survives — content is never changed by
    maintenance, replays land nothing."""
    from pyspark.sql import functions as F
    from imagingdb_spark import snapshots as S
    from imagingdb_spark.streaming import jobs

    src = str(tmp_path / "src")
    (
        spark.range(600)
        .select(
            F.col("id").alias("event_id"),
            # offset past epoch 0: the INITIAL event-time watermark is 0,
            # and a ts equal to it is dropped as late — data artifact,
            # not sink behavior
            F.timestamp_micros((F.col("id") + 1000) * 1000000).alias("ts"),
            (F.col("id") % 100).alias("v"),
        )
        .repartition(6)  # 6 files, each spanning ~the full v range
        .write.parquet(src)
    )
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = str(tmp_path / "tbl")
    q = jobs.streaming_catalog_append_snapshot(
        stream, target, ["event_id"], str(tmp_path / "ck1"),
        maintain_every=3, cluster_col="v", max_avg_overlap=1.5,
    )
    q.processAllAvailable()
    q.stop()

    got = S.snapshot_read(spark, target)
    assert got.count() == 600
    assert got.select("event_id").distinct().count() == 600
    # the tick actually fired: a transactional compact is in the log
    modes = [m["mode"] for m in S.snapshot_versions(target)]
    assert "compact" in modes
    # fresh-checkpoint replay: anti-join lands nothing, maintenance
    # no-ops or re-clusters — content identical either way
    q2 = jobs.streaming_catalog_append_snapshot(
        stream, target, ["event_id"], str(tmp_path / "ck2"),
        maintain_every=3, cluster_col="v", max_avg_overlap=1.5,
    )
    q2.processAllAvailable()
    q2.stop()
    assert S.snapshot_read(spark, target).count() == 600
    # a healthy layout does NOT retrigger maintenance...
    assert S.snapshot_maintain(spark, target, "v",
                               max_avg_overlap=1.5) is None
    # ...and an explicit multi-file clustered rewrite shows the point
    # plan opening a strict subset of live files
    S.snapshot_compact(spark, target, target_file_bytes=1024,
                       cluster_cols=["v"])
    plan = S.snapshot_scan_plan(target, [("v", "=", 42)])
    assert plan["files_total"] > 1  # the tiny target forces a split
    assert plan["files_kept"] < plan["files_total"]


class TestSnapshotFeed:
    """Changelog-driven gates (round-9 task 2): the SAME gate sink fed
    snapshot-table deltas via jobs.SnapshotFeed must produce byte-
    identical results to the file-stream feed, with per-poll manifest
    work flat in the table's version count."""

    def _docs_split(self, spark):
        from pyspark.sql import functions as F

        docs = spark.read.parquet(SF_DIR + "/documents.parquet")
        is_new = F.substring(
            F.md5(F.col("doc_id").cast("string")), 1, 1
        ).isin("0", "1")
        return docs.filter(~is_new), docs.filter(is_new)

    def test_dedup_gate_feed_matches_file_stream(self, spark, tmp_path):
        from imagingdb_spark import snapshots as SN

        corpus0, batch = self._docs_split(spark)
        results = {}
        for mode in ("stream", "feed"):
            corpus_path = str(tmp_path / mode / "corpus")
            matches_path = str(tmp_path / mode / "matches")
            ck = str(tmp_path / mode / "ck")
            corpus0.write.parquet(corpus_path)
            if mode == "stream":
                bp = str(tmp_path / "incoming")
                batch.coalesce(1).write.parquet(bp)
                src = spark.readStream.schema(jobs.DOCS_RAW_SCHEMA).parquet(bp)
            else:
                src = str(tmp_path / "feed_src")
                SN.snapshot_commit(
                    spark, src,
                    batch.select("doc_id", "text", "lang", "source"),
                )
            q = jobs.streaming_dedup_gate(src, corpus_path, matches_path, ck)
            q.processAllAvailable()
            q.stop()
            results[mode] = (
                {
                    (r["new_doc"], r["corpus_doc"])
                    for r in spark.read.parquet(matches_path).collect()
                },
                spark.read.parquet(corpus_path).count(),
            )
        assert results["feed"] == results["stream"]
        assert len(results["feed"][0]) > 0

    def test_feed_multi_poll_cursor_and_replay(self, spark, tmp_path):
        """Three commits consumed over two polls; a crash between sink
        and cursor-advance replays the delta and converges (the gates'
        idempotence screens), and a fresh feed object resumes from the
        persisted cursor."""
        from imagingdb_spark import snapshots as SN

        src = str(tmp_path / "src")
        seen = []

        def sink(df, batch_id):
            seen.append((batch_id, sorted(r["k"] for r in df.collect())))

        ck = str(tmp_path / "ck")
        feed = jobs.SnapshotFeed(src, sink, ck)
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        SN.snapshot_commit(spark, src, mk([(1, "a")]))
        assert feed.step() == 1
        SN.snapshot_commit(spark, src, mk([(2, "b")]))
        SN.snapshot_commit(spark, src, mk([(3, "c")]))
        assert feed.step() == 3  # two commits, ONE micro-batch
        assert feed.step() is None
        assert seen == [(1, [1]), (3, [2, 3])]
        # crash between sink and advance: delta replays, then converges
        real_write = feed._write_state

        def crash_on_advance(state):
            if "inflight" not in state:  # the post-sink cursor advance
                raise RuntimeError("crash before cursor write")
            real_write(state)

        feed._write_state = crash_on_advance
        SN.snapshot_commit(spark, src, mk([(4, "d")]))
        with pytest.raises(RuntimeError, match="crash before"):
            feed.step()
        feed._write_state = real_write
        assert feed.step() == 4
        assert seen[-2:] == [(4, [4]), (4, [4])]  # same batch_id both fires
        # a NEW feed over the same checkpoint resumes, not replays
        feed2 = jobs.SnapshotFeed(src, sink, ck)
        assert feed2.cursor() == 4 and feed2.step() is None

    def test_monitor_fold_feed_matches_stream(self, spark, tmp_path):
        """The heavy-hitter fold consuming snapshot deltas equals the
        file-stream fold's state (txn markers keep exactly-once with
        version-valued batch ids)."""
        from imagingdb_spark import snapshots as SN

        docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
            "doc_id", "text"
        )
        states = {}
        for mode in ("stream", "feed"):
            state = str(tmp_path / mode / "state")
            ck = str(tmp_path / mode / "ck")
            if mode == "stream":
                bp = str(tmp_path / "in")
                docs.coalesce(1).write.parquet(bp)
                src = (
                    spark.readStream.schema("doc_id long, text string")
                    .parquet(bp)
                )
            else:
                src = str(tmp_path / "fsrc")
                SN.snapshot_commit(spark, src, docs)
            q = jobs.streaming_heavy_hitters(src, state, ck)
            q.processAllAvailable()
            q.stop()
            states[mode] = sorted(
                (r["tok"], r["cnt"])
                for r in SN.snapshot_read(spark, state).filter(
                    "tok is not null"
                ).collect()
            )
        assert states["feed"] == states["stream"]
        assert len(states["feed"]) > 0

    def test_feed_manifest_work_flat_in_versions(self, spark, tmp_path):
        from imagingdb_spark import snapshots as SN

        src = str(tmp_path / "src")
        feed = jobs.SnapshotFeed(
            src, lambda df, b: df.count(), str(tmp_path / "ck")
        )
        mk = lambda i: spark.createDataFrame(
            [(i, "x")], "k long, v string"
        ).coalesce(1)
        opened = []
        for i in range(25):
            SN.snapshot_commit(spark, src, mk(i))
            feed.step()
            opened.append(feed.last_plan["groups_opened"])
        assert max(opened[-5:]) <= 4  # flat: delta groups, not live files


class TestSnapshotFeedUpserts:
    """SnapshotFeed(upsert_key=...) — the CDF-driven consumption of a
    snapshot_merge-maintained source (round-10 task 3): the feed hands
    the sink insert/update_postimage/delete rows with their commit
    versions, and a CDC sink (LWW by _commit_version) keeps a mirror
    exactly equal to the source through upserts AND deletes, reading
    change-proportional deltas instead of re-delivered tables."""

    def _mirror_sink(self, spark, mirror_path):
        import os as _os

        from pyspark.sql import functions as F

        from imagingdb_spark.operators.merge import cdc_apply

        def sink(delta, batch_id):
            changes = delta.select(
                "k",
                F.col("_commit_version").cast("long").alias("seq"),
                F.when(F.col("_change_type") == "delete", F.lit("D"))
                .otherwise(F.lit("U"))
                .alias("op"),
                "v",
            )
            if _os.path.isdir(mirror_path):
                base = spark.read.parquet(mirror_path)
            else:
                base = spark.createDataFrame([], "k long, v string")
            out = cdc_apply(base, changes, "k").select("k", "v").collect()
            spark.createDataFrame(
                out or [], "k long, v string"
            ).write.mode("overwrite").parquet(mirror_path)

        return sink

    def test_cdc_mirror_follows_merged_source(self, spark, tmp_path):
        from imagingdb_spark import snapshots as SN

        src = str(tmp_path / "src")
        mirror = str(tmp_path / "mirror")
        feed = jobs.SnapshotFeed(
            src,
            self._mirror_sink(spark, mirror),
            str(tmp_path / "ck"),
            upsert_key="k",
        )
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        SN.snapshot_commit(spark, src, mk([(i, f"v{i}") for i in range(10)]))
        feed.processAllAvailable()
        # upsert: change 2 keys, insert 1 — the delta is 3 keys, not 10
        SN.snapshot_merge(
            spark, src, mk([(3, "NEW3"), (7, "NEW7"), (42, "ins")]), key="k"
        )
        feed.processAllAvailable()
        # merge-on-read delete flows through the same CDF
        SN.snapshot_delete(spark, src, [("k", "=", 5)], mode="dv")
        feed.processAllAvailable()
        # a second upsert to a previously-updated key: LWW by version
        SN.snapshot_merge(spark, src, mk([(3, "NEWER3")]), key="k")
        feed.processAllAvailable()
        want = sorted(
            (r["k"], r["v"])
            for r in SN.snapshot_read(spark, src).collect()
        )
        got = sorted(
            (r["k"], r["v"])
            for r in spark.read.parquet(mirror).collect()
        )
        assert got == want
        assert dict(got)[3] == "NEWER3" and 5 not in dict(got)

    def test_upsert_feed_replays_pinned_range(self, spark, tmp_path):
        """A crash between sink and cursor-advance replays the SAME CDF
        range with the same batch_id; the LWW sink converges."""
        from imagingdb_spark import snapshots as SN

        src = str(tmp_path / "src")
        mirror = str(tmp_path / "mirror")
        sink = self._mirror_sink(spark, mirror)
        feed = jobs.SnapshotFeed(
            src, sink, str(tmp_path / "ck"), upsert_key="k"
        )
        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        SN.snapshot_commit(spark, src, mk([(1, "a"), (2, "b")]))
        feed.processAllAvailable()
        SN.snapshot_merge(spark, src, mk([(2, "B2")]), key="k")
        real_write = feed._write_state

        def crash_on_advance(state):
            if "inflight" not in state:
                raise RuntimeError("crash before cursor write")
            real_write(state)

        feed._write_state = crash_on_advance
        with pytest.raises(RuntimeError, match="crash before"):
            feed.step()
        feed._write_state = real_write
        feed.processAllAvailable()  # replay the pinned range
        got = sorted(
            (r["k"], r["v"]) for r in spark.read.parquet(mirror).collect()
        )
        assert got == [(1, "a"), (2, "B2")]


def test_phash_gate_feed_matches_file_stream(spark, tmp_path):
    """The image-ingest gate consuming snapshot-table changelog deltas
    (jobs.SnapshotFeed) lands the identical corpus + match set as the
    same frames fed through the file-stream source, across MULTIPLE
    polls — the fingerprint-gate member of the feed-parity family."""
    from pyspark.sql import functions as F

    from imagingdb_spark import snapshots as SN
    from imagingdb_spark.multimodal import synth_frames

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 120)
    # batch 2 carries the SAME images under new identities (doc_id
    # shifted): cross-trigger exact pHash matches by construction
    batches = [
        synth_frames(docs),
        synth_frames(
            docs.filter(F.col("doc_id") < 40).withColumn(
                "doc_id", F.col("doc_id") + 10_000
            )
        ),
    ]
    results = {}
    for mode in ("stream", "feed"):
        corpus = str(tmp_path / mode / "corpus")
        matches = str(tmp_path / mode / "matches")
        ck = str(tmp_path / mode / "ck")
        if mode == "stream":
            bdir = tmp_path / "frames_in"
            bdir.mkdir()
            for i, b in enumerate(batches):
                b.coalesce(1).write.parquet(str(tmp_path / f"fstage{i}"))
                import glob as _g
                import shutil as _sh

                src = _g.glob(str(tmp_path / f"fstage{i}" / "part-*.parquet"))[0]
                _sh.move(src, str(bdir / f"b{i:02d}.parquet"))
            stream = (
                spark.readStream.schema(batches[0].schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(bdir))
            )
            q = jobs.streaming_phash_gate(stream, corpus, matches, ck)
            q.processAllAvailable()
            q.stop()
        else:
            src_table = str(tmp_path / "frames_snap")
            q = jobs.streaming_phash_gate(src_table, corpus, matches, ck)
            for b in batches:  # one commit per poll: two real triggers
                SN.snapshot_commit(spark, src_table, b)
                q.processAllAvailable()
            q.stop()
        results[mode] = (
            spark.read.parquet(corpus).count(),
            {
                (r["new_frame"], r["corpus_frame"])
                for r in spark.read.parquet(matches).collect()
            },
        )
    assert results["feed"] == results["stream"]
    assert results["feed"][1]  # planted dups actually matched


def test_afp_gate_feed_matches_file_stream(spark, tmp_path):
    """The audio-ingest gate over SnapshotFeed deltas equals the
    file-stream feed — the third fingerprint-modality member of the
    feed-parity family (one engine, so this pins the clip identity-key
    path end to end)."""
    from pyspark.sql import functions as F

    from imagingdb_spark import snapshots as SN
    from imagingdb_spark.multimodal import synth_clips

    docs = spark.read.parquet(SF_DIR + "/documents.parquet").select(
        "doc_id", "text"
    ).filter(F.col("doc_id") < 80)
    batches = [
        synth_clips(docs),
        synth_clips(
            docs.filter(F.col("doc_id") < 25).withColumn(
                "doc_id", F.col("doc_id") + 10_000
            )
        ),
    ]
    results = {}
    for mode in ("stream", "feed"):
        corpus = str(tmp_path / mode / "corpus")
        matches = str(tmp_path / mode / "matches")
        ck = str(tmp_path / mode / "ck")
        if mode == "stream":
            bdir = tmp_path / "clips_in"
            bdir.mkdir()
            import glob as _g
            import shutil as _sh

            for i, b in enumerate(batches):
                b.coalesce(1).write.parquet(str(tmp_path / f"cstage{i}"))
                src = _g.glob(str(tmp_path / f"cstage{i}" / "part-*.parquet"))[0]
                _sh.move(src, str(bdir / f"b{i:02d}.parquet"))
            stream = (
                spark.readStream.schema(batches[0].schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(str(bdir))
            )
            q = jobs.streaming_afp_gate(stream, corpus, matches, ck)
            q.processAllAvailable()
            q.stop()
        else:
            src_table = str(tmp_path / "clips_snap")
            q = jobs.streaming_afp_gate(src_table, corpus, matches, ck)
            for b in batches:
                SN.snapshot_commit(spark, src_table, b)
                q.processAllAvailable()
            q.stop()
        results[mode] = (
            spark.read.parquet(corpus).count(),
            {
                (r["new_clip"], r["corpus_clip"])
                for r in spark.read.parquet(matches).collect()
            },
        )
    assert results["feed"] == results["stream"]
    assert results["feed"][1]  # cross-trigger matches actually landed


class TestSnapshotFeedPinnedRange:
    """Review fix (r9): the feed pins its (since, tip) range BEFORE the
    sink runs, so a crash mid-batch replays the SAME range with the
    SAME batch_id even when new commits landed in between — without the
    pin, the widened range would re-fold the already-applied delta past
    the txn-marker screen (stored seq < new tip)."""

    def test_crash_then_new_commit_replays_pinned_range(
        self, spark, tmp_path
    ):
        from imagingdb_spark import snapshots as SN

        src = str(tmp_path / "src")
        seen = []
        crash = {"on": False}

        def sink(df, batch_id):
            keys = sorted(r["k"] for r in df.collect())
            seen.append((batch_id, keys))
            if crash["on"]:
                crash["on"] = False
                raise RuntimeError("simulated crash inside sink")

        mk = lambda rows: spark.createDataFrame(rows, "k long, v string")
        feed = jobs.SnapshotFeed(src, sink, str(tmp_path / "ck"))
        SN.snapshot_commit(spark, src, mk([(1, "a")]))
        assert feed.step() == 1
        SN.snapshot_commit(spark, src, mk([(2, "b")]))
        crash["on"] = True
        with pytest.raises(RuntimeError, match="simulated crash"):
            feed.step()
        # a commit lands while the feed is down
        SN.snapshot_commit(spark, src, mk([(3, "c")]))
        # restart (fresh object, same checkpoint): the PINNED range
        # replays first — batch_id 2 with ONLY v2's rows, then v3 alone
        feed2 = jobs.SnapshotFeed(src, sink, str(tmp_path / "ck"))
        assert feed2.step() == 2
        assert feed2.step() == 3
        assert feed2.step() is None
        assert seen == [
            (1, [1]), (2, [2]),          # pre-crash + crashed attempt
            (2, [2]), (3, [3]),          # pinned replay, then the newcomer
        ]

    def test_query_surface_parity(self, spark, tmp_path):
        from imagingdb_spark import snapshots as SN

        src = str(tmp_path / "src")
        SN.snapshot_commit(
            spark, src,
            spark.createDataFrame([(1, "t x y")], "doc_id long, text string"),
        )
        q = jobs.streaming_heavy_hitters(
            src, str(tmp_path / "state"), str(tmp_path / "ck")
        )
        q.processAllAvailable()
        # callers written against the declared StreamingQuery surface
        assert q.awaitTermination(1) is True
        assert q.isActive is False
        assert isinstance(q.lastProgress, dict)
        q.stop()
