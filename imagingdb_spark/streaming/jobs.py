"""Structured Streaming jobs over `events` (SURVEY.md §2.9).

The reference has no streaming (S3 sync is an external daily batch,
README.md:14); this is north-star surface. Design rule: the streaming
aggregations are the SAME DataFrame expressions as their batch twins in
operators/streaming_batch.py — Spark's unified API means one code path,
and the DuckDB oracle on the batch twin checks the streaming semantics.

Watermarks bound state: without one, a windowed agg on an unbounded stream
keeps every window open forever. 10-minute watermark = late events beyond
10 minutes are dropped (recorded in the query progress metrics).

Local tests drive these with a file source over the same parquet and a
memory sink via process_all() — the production shape swaps source/sink for
Kafka + a transactional sink without touching the aggregation code.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from imagingdb_spark.catalog import empty_df, parquet_schema, run_concurrently


def read_events_stream(
    spark: SparkSession, sf_dir: str, schema: T.StructType | None = None
) -> DataFrame:
    """S: file-based stream over the events parquet (one-file-per-trigger
    keeps local tests deterministic). Kafka swap-in:
    spark.readStream.format('kafka')... with the same downstream plan.

    Schema (ADVICE r2): pass ``schema`` to PIN the source schema — the
    right mode for a durable deployment restarting from a checkpoint,
    where a per-start re-inference would silently misread files whose
    physical types drifted (nanos→micros) since the checkpoint was cut.
    When omitted, the schema is taken from a driver-side batch footer
    read, which is right for this test harness (the driver regenerates
    the data, and its physical types, between rounds). Either way the
    generator's TIMESTAMP(NANOS) `ts` surfaces as LONG under nanosAsLong
    and is converted to microsecond timestamps exactly like catalog.table
    does; a native TIMESTAMP(MICROS) column passes through untouched."""
    batch_schema = (
        schema
        if schema is not None
        else parquet_schema(spark, f"{sf_dir}/events.parquet")
    )
    # the file stream source requires a directory; glob-filter to the events
    # table (sf_dir holds the other tables' parquet too)
    raw = (
        spark.readStream.schema(batch_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def tumbling_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """st_tumbling with late-data bound: 1-hour windows per event_type."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_counts(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """st_sliding: 1-hour windows sliding every 15 minutes."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def session_aggregate(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """st_session: session windows (30-minute inactivity gap) per user —
    the stateful operator Structured Streaming tracks natively; state is
    partitioned by user_id and merged as sessions extend."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Stateful dedup within the watermark horizon — the streaming twin of
    the uniqueness-check/D1 family (db_operations.py:111-117):
    dropDuplicatesWithinWatermark keeps state only for the watermark window,
    so dedup state is bounded (the unbounded dropDuplicates would grow
    forever on a real stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


ANOMALY_STATE_SCHEMA = "n BIGINT, mean DOUBLE, m2 DOUBLE, anomalies BIGINT"
ANOMALY_OUT_SCHEMA = (
    "user_id BIGINT, n_events BIGINT, mean DOUBLE, stddev DOUBLE, anomalies BIGINT"
)


def anomaly_counts(events: DataFrame, z_threshold: float = 3.0) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user running
    anomaly counter. State = Welford (n, mean, M2) accumulated across
    micro-batches; an event is anomalous when |value - running_mean| exceeds
    z_threshold * running_stddev *at the moment it arrives* — order-dependent
    semantics no built-in windowed agg expresses (the reason this operator
    exists). Emits the updated per-user summary every batch (update mode).

    State is partitioned by user_id — the same shuffle key as session_window,
    so state size is O(distinct users), not O(events)."""
    import pandas as pd  # local import: worker-side dependency

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        # Same exclusive-prefix-sum scan as the batch twin
        # (operators/streaming_batch.py::st_anomaly) so batch and streaming
        # stay numerically aligned; state carries (n, mean, m2) across
        # micro-batches and is converted to raw sums per batch.
        import numpy as np

        if state.exists:
            n, mean, m2, anomalies = state.get
        else:
            n, mean, m2, anomalies = 0, 0.0, 0.0, 0
        s1 = n * mean
        s2 = m2 + (s1 * s1 / n if n else 0.0)
        # a group's micro-batch arrives as MULTIPLE Arrow chunks in shuffle
        # order; sorting each chunk independently would leave cross-chunk
        # ordering arbitrary once a user exceeds maxRecordsPerBatch, and the
        # order-dependent count would diverge from the batch twin (which
        # sorts the whole partition). Concatenate, then sort once.
        whole = pd.concat(list(pdfs), ignore_index=True)
        if len(whole):
            v = whole.sort_values("ts")["value"].to_numpy(dtype=np.float64)
            k = len(v)
            n_b = n + np.arange(k, dtype=np.float64)
            c1 = s1 + np.concatenate(([0.0], np.cumsum(v)[:-1]))
            c2 = s2 + np.concatenate(([0.0], np.cumsum(v * v)[:-1]))
            denom = np.maximum(n_b, 1.0)
            mean_b = c1 / denom
            m2_b = np.maximum(c2 - c1 * c1 / denom, 0.0)
            std_b = np.sqrt(m2_b / np.maximum(n_b - 1.0, 1.0))
            hit = (n_b >= 2) & (std_b > 0) & (np.abs(v - mean_b) > z_threshold * std_b)
            anomalies += int(hit.sum())
            n += k
            s1 += float(v.sum())
            s2 += float((v * v).sum())
        mean = s1 / n if n else 0.0
        m2 = max(s2 - s1 * s1 / n, 0.0) if n else 0.0
        state.update((n, float(mean), float(m2), int(anomalies)))
        std = (m2 / (n - 1)) ** 0.5 if n >= 2 else 0.0
        yield pd.DataFrame(
            [
                {
                    "user_id": key[0],
                    "n_events": n,
                    "mean": mean,
                    "stddev": std,
                    "anomalies": anomalies,
                }
            ]
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=ANOMALY_OUT_SCHEMA,
        stateStructType=ANOMALY_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_join(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stream-stream inner join (st_join's streaming twin): views matched
    to same-user purchases within the following 30 minutes. Both sides are
    watermarked and the join condition bounds event-time distance, so
    Spark can size the join state: a buffered view can be dropped once the
    purchase-side watermark passes view.ts + 30 min (state is
    O(watermark-horizon x arrival rate), not unbounded)."""
    v = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id").alias("v_user"),
        F.col("ts").alias("v_ts"),
    ).withWatermark("v_ts", watermark)
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", watermark)
    return v.join(
        p,
        F.expr(
            "v_user = p_user AND p_ts > v_ts "
            "AND p_ts <= v_ts + interval 30 minutes"
        ),
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("lag_seconds"),
    )


def streaming_catalog_append_snapshot(
    events: DataFrame,
    table_dir: str,
    key_cols: list[str],
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    maintain_every: int = 0,
    cluster_col: str | None = None,
    max_avg_overlap: float = 2.0,
) -> StreamingQuery:
    """Continuous catalog ingest: stream → watermark dedup →
    per-micro-batch append into a snapshot table — the streaming twin of
    the reference's staged transactional insert (db_operations.py:
    150-223). Each micro-batch lands through
    snapshots.snapshot_idempotent_append, so the per-batch key check is
    SERIALIZABLE (anti-join recomputed against the exact committed-onto
    version — concurrent writers to the same table cannot double-insert
    a key), replayed batches after a restart (foreachBatch is
    at-least-once) converge, every batch is an atomic manifest commit
    (readers never see a torn append), and the commit log doubles as the
    ingest audit trail. dropDuplicatesWithinWatermark drops cross-batch
    duplicates inside the watermark horizon, with state bounded by the
    horizon; checkpointing makes restarts resume from the last committed
    offset.

    ``maintain_every=N`` with ``cluster_col`` adds the layout-health tick
    (same cadence discipline as the dedup gates' index compaction): every
    N batches, snapshot_maintain re-clusters the table transactionally
    IF point overlap on the query key degraded past ``max_avg_overlap``
    — stream appends land time-ordered, so without this a point lookup
    eventually opens every file the stream ever wrote. A maintenance
    tick that loses its commit race to the NEXT append simply waits for
    a later tick (SnapshotConflict is swallowed here, exactly the
    streaming-gate compaction contract); the appends themselves are
    never blocked."""
    from imagingdb_spark.snapshots import (
        SnapshotConflict,
        snapshot_idempotent_append,
        snapshot_maintain,
    )

    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )

    def append_batch(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_idempotent_append(
            batch_df.sparkSession, table_dir, batch_df, key_cols
        )
        if (
            maintain_every
            and cluster_col
            and batch_id > 0
            and batch_id % maintain_every == 0
        ):
            try:
                snapshot_maintain(
                    batch_df.sparkSession,
                    table_dir,
                    cluster_col,
                    max_avg_overlap=max_avg_overlap,
                )
            except SnapshotConflict:
                pass  # a racing writer won; the next tick re-checks

    return (
        deduped.writeStream.foreachBatch(append_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def _snapshot_state_step(
    spark: SparkSession,
    table_dir: str,
    seed_df: DataFrame,
    transform,
    mode: str,
    batch_id: int,
    expire_every: int,
    keep_versions: int,
    txn_app: str | None = None,
    keyed: tuple[DataFrame, str] | None = None,
    bloom_columns: list[str] | None = None,
) -> None:
    """One micro-batch against a snapshot-held state table — the shared
    plumbing of streaming_distinct_hll / streaming_heavy_hitters /
    streaming_quantiles / streaming_cdc_apply_snapshot (bootstrap,
    pinned-tip apply, periodic retention): seed an empty typed state on
    first contact, apply the transform, and every ``expire_every``
    batches expire to ``keep_versions`` manifests + vacuum the
    unreferenced rewrites. Retention is safe here precisely because
    foreachBatch serializes this writer and vacuum's no-writer contract
    is therefore held by construction; without it the state table
    accumulates one full-state copy per trigger forever.

    The apply runs under ``snapshot_rmw`` (full-state rewrite — right
    for the sketch folds, whose state is register/counter-sized) unless
    ``keyed=(batch_df, key)`` is given: then it rides
    ``snapshots.snapshot_apply_keyed``, which rewrites ONLY the state
    files that can contain the batch's keys (round-11: the CDC state is
    corpus-keyed, so a narrow trigger against a wide standing state
    must not rewrite the whole state per trigger — the same file-pruned
    MERGE the batch path got). The transform must then have the
    pass-through property (untouched keys come back unchanged), which
    the CDC LWW fold has. ``bloom_columns`` rides the BOOTSTRAP commit
    so every later keyed rewrite maintains point-probe blooms on the
    key — what keeps the prune sharp when state files aren't clustered.

    ``txn_app`` turns the fold exactly-once: the apply carries
    (txn_app, batch_id) and a replayed batch is skipped at the state
    table itself. REQUIRED for non-idempotent folds (Misra–Gries counter
    sums, quantile bucket sums); the HLL register max doesn't need it —
    replay convergence is its algebra — and leaving it off there keeps
    that property load-bearing and tested."""
    from imagingdb_spark.snapshots import (
        snapshot_apply_keyed,
        snapshot_commit,
        snapshot_exists,
        snapshot_expire,
        snapshot_rmw,
        snapshot_vacuum,
    )

    if not snapshot_exists(table_dir):
        snapshot_commit(spark, table_dir, seed_df, bloom_columns=bloom_columns)
    txn = (txn_app, int(batch_id)) if txn_app is not None else None
    if keyed is not None:
        source_df, key_col = keyed
        snapshot_apply_keyed(
            spark,
            table_dir,
            source_df,
            key_col,
            lambda cand, _src: transform(cand),
            mode=mode,
            txn=txn,
        )
    else:
        snapshot_rmw(spark, table_dir, transform, mode=mode, txn=txn)
    if expire_every and batch_id > 0 and batch_id % expire_every == 0:
        snapshot_expire(table_dir, keep_last=keep_versions)
        snapshot_vacuum(spark, table_dir)


def streaming_distinct_hll(
    events: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    group_cols: tuple[str, ...] = ("window_start", "event_type"),
    expire_every: int = 8,
    keep_versions: int = 4,
) -> "StreamingQuery | SnapshotFeed":
    """Continuous COUNT(DISTINCT) with BOUNDED state: per micro-batch,
    build mergeable HyperLogLog register partials per (hour, event_type)
    window (operators/sketches.py — sparse (group, reg_idx, max rank)
    rows, all JVM) and fold them into a snapshot-table state via the
    union-max merge under snapshot_rmw. State is ≤4096 rows per window
    at ANY key cardinality — the property a watermarked
    dropDuplicates+count can never have (its state is key-cardinality-
    sized) — and there is no watermark to tune: late events merge into
    their window whenever they arrive.

    Replay safety comes from ALGEBRA, not bookkeeping: register max is
    idempotent, so an at-least-once redelivered batch merges to the
    bit-identical state (pinned by test against the batch twin's
    registers). hll_estimates() is the read side."""
    from imagingdb_spark.operators.sketches import hll_merge, hll_partials

    def _windowed(df: DataFrame) -> DataFrame:
        return df.select(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            *[c for c in group_cols if c != "window_start"],
            F.col(key_col),
        )

    gcols = list(group_cols)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = hll_partials(batch_df, key_col, gcols)
        _snapshot_state_step(
            batch_df.sparkSession,
            table_dir,
            partial.limit(0),
            lambda state: hll_merge(state, partial, gcols),
            "hll",
            int(batch_id),
            expire_every,
            keep_versions,
        )

    return _attach(
        events, apply_batch, checkpoint_dir, "update", transform=_windowed
    )


def hll_estimates(spark: SparkSession, table_dir: str) -> DataFrame:
    """Read side of streaming_distinct_hll: per-window approximate
    distinct counts off the maintained sparse register state (one tiny
    scan — the state is windows × ≤4096 rows, never data-sized). Shares
    the estimate shape with the batch twin (sketches.hll_estimate_df) so
    the two cannot drift."""
    from imagingdb_spark.operators.sketches import hll_estimate_df
    from imagingdb_spark.snapshots import snapshot_read

    state = snapshot_read(spark, table_dir)
    gcols = [c for c in state.columns if c not in ("reg_idx", "rank")]
    return hll_estimate_df(state, gcols)


def streaming_heavy_hitters(
    docs: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    k: int | None = None,
    expire_every: int = 8,
    keep_versions: int = 4,
) -> "StreamingQuery | SnapshotFeed":
    """Continuous heavy hitters with BOUNDED state (St15): per micro-batch,
    per-partition Misra–Gries partials over the batch's tokens + the exact
    batch total (operators/text.py mg_batch_partial), folded into a
    snapshot-held state of <= k counter rows via mg_merge_state. State is
    k+1 rows at ANY vocabulary size; the undercount bound N/(k+1) holds
    across the whole stream (mergeable-summaries MG), so
    mg_heavy_hitters() reads a guaranteed superset of the true
    phi-heavy tokens at any moment.

    Replay safety is BOOKKEEPING here, not algebra: counter sums applied
    twice double-count (unlike the HLL register max), so the fold carries
    the snapshot txn marker — a post-crash re-fire of an already-folded
    batch_id is screened at the state table before any row moves. That
    asymmetry between the two sketch families is pinned by test."""
    from imagingdb_spark.operators.text import (
        HH_SKETCH_K,
        mg_batch_partial,
        mg_merge_state,
        tokens_col,
    )

    kk = HH_SKETCH_K if k is None else k

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        toks = batch_df.select(
            F.explode(tokens_col(F.col(text_col))).alias("tok")
        )
        partial = mg_batch_partial(toks, kk)
        _snapshot_state_step(
            batch_df.sparkSession,
            table_dir,
            partial.limit(0),
            lambda state: mg_merge_state(state, partial, kk),
            "mg",
            int(batch_id),
            expire_every,
            keep_versions,
            txn_app="mg-heavy-hitters",
        )

    return _attach(docs, apply_batch, checkpoint_dir, "update")


def heavy_hitter_estimates(
    spark: SparkSession, table_dir: str, phi: float | None = None,
    k: int | None = None,
) -> DataFrame:
    """Read side of streaming_heavy_hitters: (tok, cnt_min, share_min)
    for every token whose true share could reach phi — one tiny scan of
    the <= k+1-row state. Shares the read-out with the batch twin
    (text.mg_heavy_hitters) so the two cannot drift. ``k`` MUST match the
    k the stream folds with: the read threshold subtracts the undercount
    bound N/(k+1), so reading a k=64 stream with the default k=256 bound
    silently drops true heavy tokens from the guaranteed superset
    (round-7 review finding)."""
    from imagingdb_spark.operators.text import (
        HH_PHI, HH_SKETCH_K, mg_heavy_hitters,
    )
    from imagingdb_spark.snapshots import snapshot_read

    return mg_heavy_hitters(
        snapshot_read(spark, table_dir),
        HH_PHI if phi is None else phi,
        HH_SKETCH_K if k is None else k,
    )


def streaming_perplexity(
    docs: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    expire_every: int = 8,
    keep_versions: int = 4,
) -> "StreamingQuery | SnapshotFeed":
    """Continuous per-language LM maintenance (St18): per micro-batch,
    the batch's (lang, tok, c) unigram partials (operators/lm.py
    lang_term_counts — map-side combined, one vocab-sized shuffle) fold
    into a snapshot-held LM state via exact count sums. State is the
    language-conditional vocabulary — Heaps-law-sized, not data-sized —
    and the read side (perplexity_scores) scores any docs frame against
    the LM the stream has learned so far: the CCNet quality gate as a
    MAINTAINED model instead of a per-epoch retrain.

    Replay safety is BOOKKEEPING (txn marker), not algebra: count sums
    applied twice double-count, exactly like the MG/DDSketch folds and
    unlike the HLL register max — the fourth data point on the repo's
    replay-safety spectrum, pinned by a fresh-checkpoint full-replay
    test."""
    from imagingdb_spark.operators.lm import lang_term_counts, lm_merge_state

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = lang_term_counts(batch_df)
        _snapshot_state_step(
            batch_df.sparkSession,
            table_dir,
            partial.limit(0),
            lambda state: lm_merge_state(state, partial),
            "lm",
            int(batch_id),
            expire_every,
            keep_versions,
            txn_app="lm-perplexity",
        )

    return _attach(docs, apply_batch, checkpoint_dir, "update")


def perplexity_scores(
    spark: SparkSession, table_dir: str, docs: DataFrame
) -> DataFrame:
    """Read side of streaming_perplexity: (doc_id, lang, avg_logprob) for
    ``docs`` under the maintained LM state — one state scan + the shared
    scoring aggregate (lm.lm_score), so the monitor and the batch twin
    cannot drift."""
    from imagingdb_spark.operators.lm import lm_score
    from imagingdb_spark.snapshots import snapshot_read

    return lm_score(docs, snapshot_read(spark, table_dir))


def streaming_quantiles(
    events: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    value_col: str,
    group_cols: tuple[str, ...] = (),
    expire_every: int = 8,
    keep_versions: int = 4,
) -> "StreamingQuery | SnapshotFeed":
    """Continuous quantiles with BOUNDED state (St16): per micro-batch,
    DDSketch log-bucket partials per group (operators/sketches.py
    dd_partials — one projection + one map-side-combined sum, all JVM)
    folded into snapshot state via the union-sum merge. State is
    O(log(range)/alpha) bucket rows per group at ANY row count, and
    dd_quantiles reads any quantile with relative error <= DD_ALPHA —
    the property percentile_approx has inside one job but cannot persist
    across triggers/tables/days.

    Bucket-count sums are NOT idempotent, so like the heavy-hitter fold
    (and unlike HLL) the fold carries the snapshot txn marker: a
    replayed batch is screened at the state table before it can
    double-count."""
    from imagingdb_spark.operators.sketches import dd_merge, dd_partials

    gcols = list(group_cols)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = dd_partials(batch_df, value_col, gcols)
        _snapshot_state_step(
            batch_df.sparkSession,
            table_dir,
            partial.limit(0),
            lambda state: dd_merge(state, partial, gcols),
            "ddsketch",
            int(batch_id),
            expire_every,
            keep_versions,
            txn_app="dd-quantiles",
        )

    return _attach(events, apply_batch, checkpoint_dir, "update")


def streaming_theta_sketch(
    events: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key_col: str = "user_id",
    group_cols: tuple[str, ...] = ("event_type",),
    expire_every: int = 8,
    keep_versions: int = 4,
) -> "StreamingQuery | SnapshotFeed":
    """Continuous per-group KMV/theta sketches with BOUNDED state (St17):
    per micro-batch, the batch's k smallest distinct hash values per group
    (operators/sketches.py kmv_partials) folded into snapshot state via
    union + re-truncate. State is <= k rows per group at ANY key
    cardinality, and the read side (theta_overlap_estimates) answers the
    SET-ALGEBRA questions HLL cannot: common users across segments,
    Jaccard between audiences, any-pair intersections — off sketch rows,
    never the corpus.

    Replay safety is ALGEBRA here, like HLL and unlike the MG/DDSketch
    folds: union + k-smallest is idempotent, so this job deliberately
    carries NO txn marker — the parity test asserts the state table
    records zero txns and a fresh-checkpoint full replay still lands the
    bit-identical sample set."""
    from imagingdb_spark.operators.sketches import kmv_merge, kmv_partials

    gcols = list(group_cols)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        partial = kmv_partials(batch_df, key_col, gcols)
        _snapshot_state_step(
            batch_df.sparkSession,
            table_dir,
            partial.limit(0),
            lambda state: kmv_merge(state, partial, gcols),
            "kmv",
            int(batch_id),
            expire_every,
            keep_versions,
        )

    return _attach(events, apply_batch, checkpoint_dir, "update")


def theta_overlap_estimates(
    spark: SparkSession, table_dir: str, group_col: str
) -> DataFrame:
    """Read side of streaming_theta_sketch: pairwise common/Jaccard
    estimates off the maintained sample state — one tiny scan (groups × k
    rows). Shares kmv_overlaps with the batch twin."""
    from imagingdb_spark.operators.sketches import kmv_overlaps
    from imagingdb_spark.snapshots import snapshot_read

    return kmv_overlaps(snapshot_read(spark, table_dir), group_col)


def quantile_estimates(
    spark: SparkSession, table_dir: str, qs: list[float]
) -> DataFrame:
    """Read side of streaming_quantiles: per-group quantile values off
    the maintained bucket state — one tiny scan (groups × <= a few
    thousand buckets). Shares dd_quantiles with the batch twin."""
    from imagingdb_spark.operators.sketches import dd_quantiles
    from imagingdb_spark.snapshots import snapshot_read

    state = snapshot_read(spark, table_dir)
    gcols = [c for c in state.columns if c not in ("sign", "bkt", "cnt")]
    return dd_quantiles(state, gcols, qs)


def run_to_memory(df: DataFrame, name: str, mode: str | None = None) -> StreamingQuery:
    """Test/driver helper: run a streaming plan to a memory sink and block
    until all available input is processed (deterministic local runs).

    ``mode`` overrides the output mode; when omitted it is inferred from the
    PUBLIC explain string (aggregations → complete, stateful apply → update,
    passthrough → append) — no private JVM access."""
    if mode is None:
        import contextlib
        import io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(extended=True)
        analyzed = buf.getvalue()
        if "FlatMapGroupsInPandasWithState" in analyzed:
            mode = "update"
        elif any(op in analyzed for op in ("Aggregate", "SessionWindow")):
            mode = "complete"
        else:
            mode = "append"
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    return q


DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)


ISIN_SCREEN_MAX = 100_000  # present-id screens above this size fall back
#                            to a broadcast anti-join (an IN-list this big
#                            would bloat the plan; below it, a map-side
#                            filter costs zero extra jobs)


def _ckpt_token(checkpoint_dir: str) -> str:
    """Stable 12-hex token of a checkpoint location, for txn app ids that
    must survive restarts from the same checkpoint but differ across
    fresh checkpoint locations (whose batch_ids restart at 0)."""
    import hashlib

    return hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]


class SnapshotFeed:
    """Changelog-driven micro-batch pump over a SNAPSHOT table — the
    incremental-source shape Delta/Iceberg expose as a streaming source
    (public design), here as a poll-step object so every gate and
    monitor fold can consume a snapshot table's DELTAS instead of a file
    stream. Per ``step()``: read the cursor, resolve the tip, hand
    ``snapshots.snapshot_changes(cursor → tip)`` to the sink as ONE
    micro-batch, then advance the cursor. Manifest work per trigger is
    O(delta commits × changed groups) — flat in the table's version and
    live-file count (tools/stream_bench_changes.py records the
    flatness), where a full manifest re-resolution grows with live
    files.

    ``batch_id`` passed to the sink is the consumed TIP VERSION:
    monotone across restarts by construction, so the gates' checkpoint-
    keyed txn markers keep exactly-once appends, and the folds' replay
    screens hold. The cursor advances AFTER the sink completes
    (tmp+fsync+rename): a crash in between replays the same delta with
    the same batch_id — precisely the at-least-once re-fire every sink
    here already converges (per-doc screens, txn markers, idempotent
    algebra).

    Mirrors the StreamingQuery surface the tests drive
    (``processAllAvailable``/``stop``) so a gate returns either
    interchangeably. compaction commits are always skipped
    (dataChange=false); delete commits are skipped by default
    (``ignore_deletes`` — gates only ever ADD downstream state for new
    rows); overwrite/merge/rmw commits raise unless
    ``ignore_changes=True`` re-delivers their rewritten rows.

    ``upsert_key`` switches the feed onto the ROW-level CDF
    (``snapshots.snapshot_row_changes(key=...)``) so a
    ``snapshot_merge``-maintained source is consumed
    change-proportionally instead of re-delivered whole
    (``ignore_changes``'s blunt contract): per batch the sink receives
    the table's columns plus ``_change_type`` ∈ {insert,
    update_postimage, delete} and ``_commit_version`` (preimages are
    dropped — a CDC sink applies new images and deletes; LWW by
    ``_commit_version`` resolves multi-commit windows).
    ``ignore_deletes``/``ignore_changes`` are not consulted in this
    mode — every commit kind flows through the CDF's own semantics."""

    def __init__(
        self,
        table_dir: str,
        sink,
        checkpoint_dir: str,
        transform=None,
        ignore_deletes: bool = True,
        ignore_changes: bool = False,
        upsert_key: str | None = None,
    ):
        self.spark = SparkSession.getActiveSession()
        if self.spark is None:
            raise RuntimeError("SnapshotFeed needs an active SparkSession")
        self.table_dir = table_dir
        self.sink = sink
        self.transform = transform
        self.ignore_deletes = ignore_deletes
        self.ignore_changes = ignore_changes
        self.upsert_key = upsert_key
        os.makedirs(checkpoint_dir, exist_ok=True)
        self._cursor_path = os.path.join(
            checkpoint_dir, "snapshot_cursor.json"
        )
        self.last_plan: dict = {}

    def _state(self) -> dict:
        import json

        try:
            with open(self._cursor_path) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"version": 0}

    def cursor(self) -> int:
        return self._state()["version"]

    def _write_state(self, state: dict) -> None:
        import json

        tmp = self._cursor_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(state, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._cursor_path)

    def step(self) -> int | None:
        """Consume one micro-batch and return the new cursor version, or
        None when already caught up (nothing runs).

        The batch RANGE is pinned BEFORE the sink runs: the checkpoint
        records {"inflight": [since, tip]} (tmp+fsync+rename), the sink
        processes exactly that range with batch_id = that tip, and only
        then does the cursor advance (clearing the pin). A crash between
        sink and advance therefore replays the SAME range with the SAME
        batch_id even when new commits landed in the meantime — without
        the pin, a restart would widen the range to the new tip and a
        txn-marker-screened fold (MG/DDSketch/LM: stored seq < new tip)
        would double-count the already-applied delta. This is the same
        offsets-then-commit two-file discipline a Structured Streaming
        checkpoint uses."""
        from imagingdb_spark import snapshots as SN

        state = self._state()
        cur = state["version"]
        if "inflight" in state:
            cur, tip = state["inflight"]  # crashed mid-batch: replay it
        else:
            vs = SN._versions(self.table_dir)
            if not vs or vs[-1] <= cur:
                return None
            tip = vs[-1]
            self._write_state({"version": cur, "inflight": [cur, tip]})
        plan: dict = {}
        if self.upsert_key is not None:
            from pyspark.sql import functions as F

            delta = SN.snapshot_row_changes(
                self.spark,
                self.table_dir,
                cur,
                version=tip,
                key=self.upsert_key,
                plan=plan,
            ).filter(F.col("_change_type") != "update_preimage")
        else:
            delta = SN.snapshot_changes(
                self.spark,
                self.table_dir,
                cur,
                version=tip,
                ignore_deletes=self.ignore_deletes,
                ignore_changes=self.ignore_changes,
                plan=plan,
            )
        self.last_plan = plan
        if self.transform is not None:
            delta = self.transform(delta)
        self.sink(delta, tip)
        self._write_state({"version": tip})
        return tip

    def processAllAvailable(self) -> None:  # noqa: N802 (query parity)
        while self.step() is not None:
            pass

    def stop(self) -> None:  # noqa: B027 (query-surface parity no-op)
        pass

    # --- StreamingQuery-surface parity: callers written against the
    # gates' declared return type must not AttributeError on the feed ---
    @property
    def isActive(self) -> bool:  # noqa: N802
        return False  # poll-driven: never running between step() calls

    @property
    def lastProgress(self) -> dict:  # noqa: N802
        return dict(self.last_plan)

    def awaitTermination(self, timeout=None) -> bool:  # noqa: N802
        return True  # nothing runs in the background to wait for


class CatalogFeed:
    """SnapshotFeed's multi-table twin over a snapcatalog CATALOG: per
    ``step()``, the sink receives ``({table: delta_df}, batch_id)`` for
    everything committed past the cursor — resolved by
    ``snapcatalog.catalog_changes``, so the per-table deltas are
    MUTUALLY CONSISTENT (a dataset's data_set/frames_global/frames rows
    arrive in one batch, never split). Same pinned-range checkpoint
    discipline as SnapshotFeed: the (since, tip) range is written
    before the sink runs and the cursor advances after, so a crash
    mid-batch replays the same range with the same batch_id even when
    new catalog commits landed in between."""

    def __init__(
        self,
        catalog_dir: str,
        sink,  # (dict[str, DataFrame], batch_id) -> None
        checkpoint_dir: str,
        ignore_deletes: bool = True,
        ignore_changes: bool = False,
    ):
        self.spark = SparkSession.getActiveSession()
        if self.spark is None:
            raise RuntimeError("CatalogFeed needs an active SparkSession")
        self.catalog_dir = catalog_dir
        self.sink = sink
        self.ignore_deletes = ignore_deletes
        self.ignore_changes = ignore_changes
        os.makedirs(checkpoint_dir, exist_ok=True)
        self._cursor_path = os.path.join(
            checkpoint_dir, "catalog_cursor.json"
        )
        self.last_plan: dict = {}

    _state = SnapshotFeed._state
    cursor = SnapshotFeed.cursor
    _write_state = SnapshotFeed._write_state
    processAllAvailable = SnapshotFeed.processAllAvailable
    stop = SnapshotFeed.stop
    isActive = SnapshotFeed.isActive
    lastProgress = SnapshotFeed.lastProgress
    awaitTermination = SnapshotFeed.awaitTermination

    def step(self) -> int | None:
        from imagingdb_spark import snapcatalog as C

        state = self._state()
        cur = state["version"]
        if "inflight" in state:
            cur, tip = state["inflight"]
        else:
            vs = C.catalog_versions(self.catalog_dir)
            if not vs or vs[-1] <= cur:
                return None
            tip = vs[-1]
            self._write_state({"version": cur, "inflight": [cur, tip]})
        plan: dict = {}
        deltas = C.catalog_changes(
            self.spark,
            self.catalog_dir,
            cur,
            version=tip,
            ignore_deletes=self.ignore_deletes,
            ignore_changes=self.ignore_changes,
            plan=plan,
        )
        self.last_plan = plan
        self.sink(deltas, tip)
        self._write_state({"version": tip})
        return tip


def _attach(
    src,
    sink,
    checkpoint_dir: str,
    output_mode: str = "update",
    transform=None,
    ignore_deletes: bool = True,
    ignore_changes: bool = False,
):
    """ONE seam for every gate/fold's source: ``src`` is either a
    streaming DataFrame (classic foreachBatch attach) or a snapshot-
    table PATH (string — changelog-driven SnapshotFeed). The sink code
    is byte-identical in both modes, which is what pins feed/stream
    parity: there is no second implementation to drift."""
    if isinstance(src, str):
        return SnapshotFeed(
            src,
            sink,
            checkpoint_dir,
            transform=transform,
            ignore_deletes=ignore_deletes,
            ignore_changes=ignore_changes,
        )
    df = transform(src) if transform is not None else src
    return (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode(output_mode)
        .start()
    )


def _heal_interrupted_compaction(path: str) -> None:
    """Recover a table from a compaction that crashed mid-swap
    (layout.compact_parquet's windows): orphaned ``<path>.compact.*``
    rewrite attempts are garbage whenever no compaction is running
    (single-writer rule), ``<path>.old.*`` is the live data iff the table
    path itself is missing (crash between the two renames), and stale
    otherwise (crash before the final cleanup). Called at trigger start
    for every gate-maintained table so a mid-stream compaction crash
    never surfaces as a missing corpus (which the gate would misread as
    'first batch' — silent data loss)."""
    import glob as _glob
    import os
    import shutil

    for t in _glob.glob(path + ".compact.*"):
        shutil.rmtree(t, ignore_errors=True)
    olds = sorted(_glob.glob(path + ".old.*"))
    if not olds:
        return
    if os.path.exists(path):
        for o in olds:
            shutil.rmtree(o, ignore_errors=True)
    else:
        os.rename(olds[-1], path)
        for o in olds[:-1]:
            shutil.rmtree(o, ignore_errors=True)


def _fs_exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS existence probe (works for local paths and object
    stores alike). Used instead of read-and-catch: a TRANSIENT read
    error must fail the trigger (streaming retries it) rather than be
    misread as 'first batch' and bypass a dedup gate. Shared by all
    three ingest gates."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def _present_id_sets(
    spark: SparkSession,
    batch_ids: DataFrame,
    tables: list[tuple[str, str]],
    id_col: str,
    resident: tuple[str, int] | None = None,
) -> dict[str, set]:
    """Per-table sets of batch ids already present in the gates'
    maintained tables, computed in ONE job — WITHOUT shuffling any
    corpus-scale column: the tables' id columns are scanned under a
    single tagged union, semi-filtered map-side by the broadcast batch
    ids (emitting <= len(tables) * |batch| rows), and collected (a
    batch-bounded collect). One scan job instead of one per table, and
    the downstream appends screen with a free map-side IN filter.
    Shared by the text and pHash gates — the gate-plumbing fix for the
    torn-append screen landed in two of three hand-copied versions
    before this was hoisted.

    ``resident=(corpus_path, current_batch_id)`` adds a tag ``"r"``: the
    batch ids whose corpus entry was written by an EARLIER trigger
    (append-provenance column ``_gate_batch``; a missing column or null —
    pre-seeded corpora — counts as earlier). This is what separates a
    RE-DELIVERED resident row (its near-dups must still be flagged) from
    this trigger's own torn-append residue (matching it on replay would
    drop within-batch peers a no-crash run keeps)."""
    tagged = None
    for tag, path in tables:
        src = (
            spark.read.parquet(path) if isinstance(path, str) else path
        )  # a table entry may be a pre-built DataFrame (snapshot reads)
        t = src.select(id_col).withColumn("tbl", F.lit(tag))
        tagged = t if tagged is None else tagged.unionByName(t)
    if resident is not None:
        corpus_path, current_batch = resident
        # mergeSchema: a pre-seeded corpus gains _gate_batch only on its
        # first gate append, so files mix schemas; without merging, the
        # read could sample a pre-seeded footer and hide the column
        c = spark.read.option("mergeSchema", "true").parquet(corpus_path)
        if "_gate_batch" in c.columns:
            bcol = F.coalesce(F.col("_gate_batch"), F.lit(-1))
        else:
            bcol = F.lit(-1)
        tagged = tagged.unionByName(
            c.filter(bcol != F.lit(current_batch))
            .select(id_col)
            .withColumn("tbl", F.lit("r"))
        )
    rows = (
        tagged.join(F.broadcast(batch_ids), id_col, "left_semi")
        .distinct()
        .collect()
    )
    out: dict[str, set] = {tag: set() for tag, _ in tables}
    if resident is not None:
        out["r"] = set()
    for r in rows:
        out[r["tbl"]].add(r[id_col])
    return out


def _screen_ids(
    spark: SparkSession,
    small: DataFrame,
    present: set,
    id_col: str,
    id_ddl: str,
) -> DataFrame:
    """Drop ``small`` rows whose id is in the batch-bounded ``present``
    set: a zero-job map-side NOT-IN filter, with a broadcast anti-join
    fallback should a giant batch ever overflow the IN-list bound.
    ``id_ddl`` is the one-column DDL for the fallback frame (e.g.
    "doc_id long")."""
    if not present:
        return small
    if len(present) <= ISIN_SCREEN_MAX:
        return small.filter(~F.col(id_col).isin(*present))
    ids = spark.createDataFrame([(i,) for i in present], id_ddl)
    return small.join(F.broadcast(ids), id_col, "left_anti")


def _gate_coalesce(df: DataFrame, append_partitions: int | None) -> DataFrame:
    """Bound a micro-batch write's file count: 32 shuffle partitions
    writing a few hundred rows cost 32 task commits + 32 files per table
    per trigger (the fragmentation compact_every exists to undo). None =
    leave the parallelism alone (bulk regime)."""
    return df.coalesce(append_partitions) if append_partitions else df



def streaming_dedup_gate(
    docs: DataFrame,
    corpus_path: str,
    matches_path: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
    append_partitions: int | None = 8,
    index_format: str = "parquet",
    index_target_bytes: int = 256 * 1024,
) -> "StreamingQuery | SnapshotFeed":
    """Streaming crawl-ingest dedup gate — the continuous twin of
    x_dedup_incremental: per micro-batch, (1) exact-dedup the batch
    internally (content sha2, min doc_id keeper), (2) match survivors
    against the standing corpus with the SAME asymmetric-PPJoin core
    (operators/dedup.incremental_match), (3) append near-dup matches to an
    audit log and ONLY novel docs to the corpus — so the corpus stays
    dedup-clean as it grows and later batches are matched against
    everything accepted so far.

    Scale shape (VERDICT r4 item 7, incremental index as code): the batch
    side of the PPJoin is broadcast (a micro-batch is tiny vs the corpus)
    and the corpus-side prefix index is MAINTAINED, not re-derived — the
    gate stores the corpus's hash-canonical toksets and exploded prefix
    rows next to the corpus (``<corpus>_idx_tokset`` / ``_idx_prefix``)
    and APPENDS only the accepted docs' rows per trigger. The prefix
    theorem holds under any fixed total order (dedup.canonical_toksets),
    so per-trigger work is: map-side batch prefixes + one scan of the
    stored index + a candidate-sized verify join — no corpus-wide dfreq
    groupBy or per-doc re-sort, which was the per-trigger cost that grew
    with the corpus (SCALING.md note 13; tools/STREAM_BENCH.json records
    the flat-latency evidence). A pre-seeded corpus without an index gets
    one bootstrap derivation on first trigger. At 100 TB the index is a
    token-bucketed table so the candidate join co-locates and batch
    prefix tokens prune files.

    At-least-once discipline: a trigger performs FOUR non-transactional
    appends (matches, corpus, tokset index, prefix index) — run as
    CONCURRENT Spark jobs since round 6, so a crash can leave any SUBSET
    landed. Every append is therefore individually idempotent by doc_id:
    self-matches (a replayed doc colliding with its own index entry at
    jaccard 1.0) are filtered out of the duplicate set, and the corpus /
    index appends each screen out already-present doc_ids
    (``_present_sets``: ONE tagged union scan of the three id columns,
    semi-filtered map-side under the broadcast batch ids and collected
    batch-bounded — never shuffled, and one job where round 5 spent
    three). Any torn state heals on the replay the streaming checkpoint
    guarantees happens before new data: docs in the corpus but missing
    index rows get them (and vice versa); a torn BOOTSTRAP is detected
    by the index dirs' _SUCCESS markers (partial overwrite output READS
    fine, so a read-probe proves nothing) and rebuilds both index tables
    with overwrite; a missing corpus is detected by an explicit
    filesystem probe so a transient read error fails the trigger for
    retry instead of masquerading as 'first batch'. The audit log can
    still hold a replayed row, which a downstream reader dedups by
    (new_doc, corpus_doc).

    Maintenance: ``append_partitions`` bounds each micro-batch write's
    file count (None = leave parallelism alone); ``compact_every=N``
    folds the per-trigger fragments back to target-sized files every N
    triggers with layout.compact_parquet's crash-safe rewrite —
    ``_heal_interrupted_compaction`` at trigger start recovers every
    mid-swap crash window, so a compaction death never masquerades as a
    missing corpus.

    ``index_format="snapshot"`` stores BOTH index tables as snapshot
    tables (the text twin of the fingerprint gates' pruned band index):
    the prefix index is read per trigger with the batch's prefix-token
    set (``("token", "in", ...)``), the tokset table with the candidate
    corpus-doc set discovered from that pruned prefix read — so once the
    periodic compaction has clustered the prefix index on ``token`` and
    the tokset table on ``doc_id``, a trigger opens only the manifest
    files its batch's tokens/candidates touch instead of scanning the
    standing corpus' full indexes. Appends are exactly-once via txn
    markers, the _SUCCESS bootstrap probe disappears, and compaction is
    the transactional clustered rewrite. Match results are identical in
    both formats (parity test-pinned); the two extra per-trigger driver
    collects (batch prefix tokens, candidate doc ids) are batch- and
    candidate-bounded respectively."""
    from imagingdb_spark.operators.dedup import (
        canonical_prefixes,
        canonical_toksets,
        incremental_match_indexed,
    )
    from imagingdb_spark import snapshots as SN

    if index_format not in ("parquet", "snapshot"):
        raise ValueError("index_format must be parquet|snapshot")
    snap_idx = index_format == "snapshot"
    idx_tokset_path = corpus_path + "_idx_tokset"
    idx_prefix_path = corpus_path + "_idx_prefix"
    # txn app id KEYED TO THE CHECKPOINT: batch_ids restart at 0 in a
    # fresh checkpoint location, and a fixed app id would make the replay
    # guard (seq <= recorded) silently SKIP every index append of the new
    # stream against a pre-existing index — permanent index loss for
    # genuinely new docs. Restarts from the SAME checkpoint keep the same
    # id (the replay protection those need); a wiped-but-same-path
    # checkpoint re-delivers old content, which the per-doc screens
    # already converge. This is Delta's "the writer owns appId" contract.
    _ck = _ckpt_token(checkpoint_dir)
    _TOK_APP, _PREF_APP = f"dgate-tok-{_ck}", f"dgate-pref-{_ck}"

    def _write_index(
        toksets: DataFrame, mode: str, batch_id: int | None = None
    ) -> None:
        prefixes = canonical_prefixes(toksets)
        if snap_idx:
            spark = toksets.sparkSession
            # txn markers ONLY on appends; a bootstrap/rebuild overwrite
            # must not record the seq or the same trigger's delta append
            # would be skipped as its own replay
            SN.snapshot_commit(
                spark, idx_tokset_path, toksets, mode=mode,
                txn=(_TOK_APP, batch_id) if mode == "append" else None,
            )
            SN.snapshot_commit(
                spark, idx_prefix_path, prefixes, mode=mode,
                txn=(_PREF_APP, batch_id) if mode == "append" else None,
            )
        else:
            toksets.write.mode(mode).parquet(idx_tokset_path)
            prefixes.write.mode(mode).parquet(idx_prefix_path)

    def _present_sets(
        spark: SparkSession,
        batch: DataFrame,
        batch_id: int,
        batch_id_list: list | None = None,
    ) -> dict[str, set]:
        if snap_idx:
            # prune the index sides of the present-set scan by the batch
            # ids — the tokset table is doc_id-clustered after
            # compaction, so this opens only the files the batch's ids
            # could live in (the prefix table is token-clustered, so its
            # doc_id stats span everything: correct, just unpruned)
            where = (
                [("doc_id", "in", batch_id_list)] if batch_id_list else None
            )
            tok_src = SN.snapshot_read(spark, idx_tokset_path, where=where)
            pref_src = SN.snapshot_read(spark, idx_prefix_path, where=where)
        else:
            tok_src, pref_src = idx_tokset_path, idx_prefix_path
        return _present_id_sets(
            spark,
            batch.select("doc_id").distinct(),
            [
                ("c", corpus_path),
                ("t", tok_src),
                ("p", pref_src),
            ],
            "doc_id",
            resident=(corpus_path, batch_id),
        )

    def _screen(spark: SparkSession, small: DataFrame, present: set) -> DataFrame:
        return _screen_ids(spark, small, present, "doc_id", "doc_id long")

    def _co(df: DataFrame) -> DataFrame:
        return _gate_coalesce(df, append_partitions)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        plain_tables = [corpus_path, matches_path] + (
            [] if snap_idx else [idx_tokset_path, idx_prefix_path]
        )
        for p in plain_tables:
            _heal_interrupted_compaction(p)
        batch = (
            batch_df.withColumn("_h", F.sha2("text", 256))
            .withColumn(
                "_keep",
                F.row_number().over(Window.partitionBy("_h").orderBy("doc_id")),
            )
            .filter(F.col("_keep") == 1)
            .drop("_h", "_keep")
            .persist()  # consumed twice per trigger (PPJoin + novel append);
            # without this the source re-reads and re-windows per consumer
            # (tools/stream_bench.py showed 2x numInputRows per batch)
        )
        try:
            if not _fs_exists(spark, corpus_path):
                # first batch ever: everything is novel
                _co(
                    batch.withColumn("_gate_batch", F.lit(batch_id))
                ).write.mode("append").parquet(corpus_path)
                _write_index(canonical_toksets(batch), "append", batch_id)
                return
            # the index is complete only if BOTH overwrite jobs finished:
            # a killed bootstrap leaves committed task files that READ
            # fine, so presence of the dir proves nothing — the _SUCCESS
            # marker (written at job commit) does (plain-parquet mode
            # only; snapshot manifests cannot tear). Append jobs re-stamp
            # it; torn APPENDS are instead healed per-doc below (a doc's
            # rows land in one task file, so doc presence => doc
            # complete).
            idx_complete = (
                SN.snapshot_exists(idx_tokset_path)
                and SN.snapshot_exists(idx_prefix_path)
                if snap_idx
                else _fs_exists(spark, idx_tokset_path + "/_SUCCESS")
                and _fs_exists(spark, idx_prefix_path + "/_SUCCESS")
            )
            if not idx_complete:
                # pre-seeded corpus with no index yet — or a torn
                # bootstrap: (re)derive BOTH with overwrite (idempotent)
                _write_index(
                    canonical_toksets(spark.read.parquet(corpus_path)),
                    "overwrite",
                )
            batch_tok = canonical_toksets(batch).persist()
            if snap_idx:
                # prefix index pruned to the BATCH's prefix tokens: the
                # manifest opens only files whose token ranges the batch
                # touches (once compaction has clustered on token);
                # tokset table pruned to the CANDIDATE corpus docs that
                # pruned prefix read discovers. Both driver collects are
                # batch-/candidate-bounded.
                new_pref = canonical_prefixes(batch_tok)
                ptoks = sorted(
                    r["token"]
                    for r in new_pref.select("token").distinct().collect()
                )
                corpus_prefix = SN.snapshot_read(
                    spark,
                    idx_prefix_path,
                    where=[("token", "in", ptoks)] if ptoks else None,
                )
                cdocs = sorted(
                    r["doc_id"]
                    for r in corpus_prefix.join(
                        F.broadcast(
                            new_pref.select(
                                "lang", "source", "token"
                            ).distinct()
                        ),
                        ["lang", "source", "token"],
                    )
                    .select("doc_id")
                    .distinct()
                    .collect()
                )
                corpus_tok = (
                    SN.snapshot_read(
                        spark,
                        idx_tokset_path,
                        where=[("doc_id", "in", cdocs)],
                    )
                    if cdocs
                    else empty_df(spark, batch_tok.schema)
                )
            else:
                corpus_tok = spark.read.parquet(idx_tokset_path)
                corpus_prefix = spark.read.parquet(idx_prefix_path)
            # present sets come FIRST (pre-append corpus state): they
            # feed the append screens below AND the phantom-id screen
            batch_ids = batch.select("doc_id").distinct().persist()
            batch_id_set = {r["doc_id"] for r in batch_ids.collect()}
            present = _present_sets(
                spark, batch_ids, batch_id, sorted(batch_id_set)
            )
            raw_pairs = incremental_match_indexed(
                batch_tok, corpus_prefix, corpus_tok
            ).filter(
                # a replayed doc matching its OWN index entry is
                # bookkeeping, not a duplicate
                F.col("new_doc") != F.col("corpus_doc")
            )
            # PHANTOM screen: drop matches whose corpus side is a
            # current-batch id not RESIDENT — i.e. absent from the
            # corpus, or present only via THIS trigger's own torn
            # append (provenance column _gate_batch; the replayed
            # trigger reruns under the same batch_id). The appends run
            # concurrently, so a crash can land index/corpus rows for a
            # subset of the batch; on replay, within-batch near-dup
            # PEERS would match each other's just-landed entries and be
            # dropped from appends that never completed (permanent
            # loss). Ids resident from EARLIER triggers stay matchable:
            # a re-delivered doc alongside a new near-dup of it is a
            # REAL duplicate the gate must flag.
            phantom = batch_id_set - present["r"]
            raw_pairs = _screen_ids(
                spark, raw_pairs, phantom, "corpus_doc", "corpus_doc long"
            )
            pairs = raw_pairs.persist()
            try:
                # materialize the match BEFORE fanning out: the four
                # writes below all hang off `pairs`, and a count from a
                # persisted plan computes it exactly once instead of
                # racing four concurrent evaluations
                pairs.count()
                dup_ids = pairs.select(
                    F.col("new_doc").alias("doc_id")
                ).distinct()
                accepted = batch.join(F.broadcast(dup_ids), "doc_id", "left_anti")
                accepted_tok = batch_tok.join(
                    F.broadcast(dup_ids), "doc_id", "left_anti"
                )
                # per-table doc_id screens keep each append individually
                # idempotent; the four appends are INDEPENDENT given the
                # materialized pairs + present sets, so they run as
                # concurrent Spark jobs — trigger wall-clock pays the
                # slowest write once, not the sum of four (the round-6
                # overhead cut). Crash healing needs per-append
                # idempotence PLUS the batch-peer match screen above:
                # with no append order, an index append can land without
                # the corpus append, and only the screen keeps that
                # replay from dropping within-batch near-dup peers.
                def _put_tok():
                    df = _co(_screen(spark, accepted_tok, present["t"]))
                    if snap_idx:
                        SN.snapshot_commit(
                            spark, idx_tokset_path, df,
                            txn=(_TOK_APP, batch_id),
                        )
                    else:
                        df.write.mode("append").parquet(idx_tokset_path)

                def _put_pref():
                    df = _co(
                        canonical_prefixes(
                            _screen(spark, accepted_tok, present["p"])
                        )
                    )
                    if snap_idx:
                        SN.snapshot_commit(
                            spark, idx_prefix_path, df,
                            txn=(_PREF_APP, batch_id),
                        )
                    else:
                        df.write.mode("append").parquet(idx_prefix_path)

                writes = [
                    lambda: _co(pairs).write.mode("append").parquet(matches_path),
                    lambda: _co(
                        _screen(spark, accepted, present["c"]).withColumn(
                            "_gate_batch", F.lit(batch_id)
                        )
                    )
                    .write.mode("append")
                    .parquet(corpus_path),
                    _put_tok,
                    _put_pref,
                ]
                run_concurrently(spark, writes)
            finally:
                pairs.unpersist()
                batch_tok.unpersist()
                batch_ids.unpersist()
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                # periodic small-file maintenance: every trigger lands one
                # fragment per table; fold them back to target-sized files
                # with the crash-safe rewrite (heal at trigger start
                # covers a compaction that dies mid-swap)
                from imagingdb_spark.layout import compact_parquet

                for p in plain_tables:
                    if _fs_exists(spark, p):
                        compact_parquet(spark, p)
                if snap_idx:
                    # transactional folds CLUSTERED on each table's
                    # pruning key — what turns the per-trigger "in"
                    # reads into manifest skips
                    if SN.snapshot_exists(idx_prefix_path):
                        SN.snapshot_compact(
                            spark, idx_prefix_path,
                            target_file_bytes=index_target_bytes,
                            cluster_cols=["token"],
                        )
                    if SN.snapshot_exists(idx_tokset_path):
                        SN.snapshot_compact(
                            spark, idx_tokset_path,
                            target_file_bytes=index_target_bytes,
                            cluster_cols=["doc_id"],
                        )
        finally:
            batch.unpersist()

    return _attach(docs, gate, checkpoint_dir, "append")


VECS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def write_embed_codebook(spark: SparkSession, codebook_path: str, cents) -> None:
    """Persist a K×dim codebook as a (cell, centroid) parquet table —
    K rows, one file; the _SUCCESS marker doubles as the gate's
    torn-write detector."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    spark.createDataFrame(
        rows, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(codebook_path)


def read_embed_codebook(spark: SparkSession, codebook_path: str):
    """K×dim float64 ndarray from a codebook table (K rows — a bounded
    collect by construction)."""
    import numpy as np

    rows = spark.read.parquet(codebook_path).orderBy("cell").collect()
    return np.asarray([r["centroid"] for r in rows], dtype=np.float64)


def rebuild_embedding_cells(spark: SparkSession, corpus_path: str) -> dict:
    """OFFLINE IVF codebook rebuild for streaming_embedding_gate's
    maintained corpus (VERDICT r5 item 4 — the job the gate's docstring
    promised): retrain the K-means codebook on the STANDING corpus,
    re-assign every vector's cell map-side, swap the rewritten corpus in
    atomically, and publish the new codebook. Run it when ingest has
    drifted off the frozen codebook's distribution: the measured
    pathology (pinned by test) is CELL COLLAPSE — a drifted cloud all
    assigns to a few stale cells, so the per-task in-cell matrix bound
    breaks and partial probe silently degenerates to brute force over
    the cloud (recall stays high at unbounded cost). The rebuild
    restores the balance that makes cells fit executors and the probe
    fraction mean what it says; the gate picks the new codebook up on
    its next trigger with no restart.

    Crash safety rides the gate's EXISTING torn-bootstrap healing — the
    step order makes every crash window heal FORWARD to the rebuilt
    state instead of rolling back:

      1. delete the codebook FIRST (its missing _SUCCESS is precisely
         the gate's "torn" signal);
      2. rewrite the corpus with new cells via temp-dir + validate +
         rename swap (layout.compact_parquet's discipline);
      3. publish the new codebook last.

    A crash anywhere between 1 and 3 leaves the codebook torn, so the
    gate's healing branch retrains from the standing corpus and rewrites
    the cells — the healed state is always SELF-CONSISTENT (every stored
    cell assigned by the published codebook; the crash test pins this),
    and gate match results at full probe are identical under any
    codebook, so correctness never depends on which of the two trainings
    won. Must not run concurrently with an active trigger
    (single-writer, like compaction); stop the stream or schedule
    between triggers.

    Scale shape: training samples the corpus (the _ivf_centroids bound),
    re-assignment is one map-side Arrow pass, the rewrite is the only
    full-corpus IO — the same cost as a compaction, amortized over the
    ingest interval that drifted. Returns before/after stats including
    the fraction of vectors whose cell changed (the drift measure).
    """
    import os
    import shutil

    from imagingdb_spark.operators.similarity import _ivf_assign_udf, _ivf_centroids

    codebook_path = corpus_path + "_codebook"
    raw = spark.read.parquet(corpus_path)
    if "cell" not in raw.columns:
        raise ValueError(
            f"{corpus_path} has no cell column — not a gate-maintained corpus"
        )
    rows_before = raw.count()
    cents = _ivf_centroids(raw.drop("cell"))
    # step 1: mark torn — from here every crash heals forward
    shutil.rmtree(codebook_path, ignore_errors=True)
    # step 2: rewrite with new cells, validate, swap
    tmp, old = corpus_path + "__tmp", corpus_path + "__old"
    shutil.rmtree(tmp, ignore_errors=True)
    reassigned = raw.withColumnRenamed("cell", "cell_old").withColumn(
        "cell", _ivf_assign_udf(cents)("embedding")
    )
    n_moved = reassigned.filter(F.col("cell") != F.col("cell_old")).count()
    reassigned.drop("cell_old").write.mode("overwrite").parquet(tmp)
    rows_tmp = spark.read.parquet(tmp).count()
    if rows_tmp != rows_before:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"cell rebuild of {corpus_path} dropped rows "
            f"({rows_before} -> {rows_tmp}); corpus left untouched"
        )
    shutil.rmtree(old, ignore_errors=True)
    os.rename(corpus_path, old)
    os.rename(tmp, corpus_path)
    shutil.rmtree(old, ignore_errors=True)
    # step 3: publish the codebook the cells were assigned with
    write_embed_codebook(spark, codebook_path, cents)
    return {
        "n_vectors": rows_before,
        "n_cells": int(len(cents)),
        "n_moved": int(n_moved),
        "moved_frac": (n_moved / rows_before) if rows_before else 0.0,
    }


def streaming_embedding_gate(
    vecs: DataFrame,
    corpus_path: str,
    matches_path: str,
    checkpoint_dir: str,
    threshold: float,
    probe: int | None = None,
    compact_every: int | None = None,
    append_partitions: int | None = 8,
) -> "StreamingQuery | SnapshotFeed":
    """Streaming ANN-gated embedding ingest — the EMBEDDING twin of
    streaming_dedup_gate (St9): per micro-batch, (1) exact-dedup the
    batch by vec_id, (2) mine cosine-≥-threshold matches against the
    standing vector corpus WITHIN IVF cells
    (similarity.ann_match_pairs), (3) append matches to an audit log and
    only novel vectors — with their cell assignment precomputed — to the
    corpus. The maintained state is the cell-ASSIGNED corpus table plus
    the K×dim codebook (``<corpus>_codebook``), trained ONCE on the
    first batch (or derived from a pre-seeded corpus) and fixed
    thereafter — the FAISS operational recipe: assignment drift from a
    frozen codebook costs probe recall, not correctness, and retraining
    is an offline rebuild, exactly like the text gate's index.

    Scale shape: per trigger, the codebook read is K rows; batch probe
    cells are computed map-side; the corpus side is a pure scan
    cogrouped by its STORED cell column (at 100 TB the corpus table is
    partitioned by cell, so a batch's probed cells prune files); the
    appends reuse the same per-vec_id broadcast-semi screens as the text
    gate, so every append is individually idempotent and torn states
    heal on replay. ``probe`` defaults to similarity.IVF_PROBE;
    ``probe >= IVF_K`` makes the match set exact (the equivalence the
    unit test pins)."""
    from imagingdb_spark.operators.similarity import (
        IVF_PROBE,
        _ivf_assign_udf,
        _ivf_centroids,
        ann_match_pairs,
    )

    n_probe = IVF_PROBE if probe is None else probe
    codebook_path = corpus_path + "_codebook"

    def _not_present(small: DataFrame, ids: DataFrame) -> DataFrame:
        # same broadcast-semi + broadcast-anti screen as the text gate
        present = ids.join(
            F.broadcast(small.select("vec_id").distinct()), "vec_id", "left_semi"
        ).distinct()
        return small.join(F.broadcast(present), "vec_id", "left_anti")

    def _write_codebook(spark: SparkSession, cents) -> None:
        write_embed_codebook(spark, codebook_path, cents)

    def _read_codebook(spark: SparkSession):
        return read_embed_codebook(spark, codebook_path)

    def _co(df: DataFrame) -> DataFrame:
        return _gate_coalesce(df, append_partitions)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        import os
        import shutil

        spark = batch_df.sparkSession
        for p in (corpus_path, matches_path):
            _heal_interrupted_compaction(p)
        batch = batch_df.dropDuplicates(["vec_id"]).persist()
        try:
            if not _fs_exists(spark, corpus_path) and _fs_exists(
                spark, corpus_path + "__old"
            ):
                # crash exactly between the bootstrap's two renames:
                # restore the old table (compact_parquet's rollback rule)
                os.rename(corpus_path + "__old", corpus_path)
            elif _fs_exists(spark, corpus_path) and _fs_exists(
                spark, corpus_path + "__old"
            ):
                # crash after the swap's second rename but before the
                # cleanup rmtree: the live table exists, so __old is stale
                # by definition — reap it unconditionally here (ADVICE r5:
                # the bootstrap branch that used to clean it never runs
                # again once the corpus has its cell column)
                shutil.rmtree(corpus_path + "__old", ignore_errors=True)
            if not _fs_exists(spark, corpus_path):
                cents = _ivf_centroids(batch)
                _write_codebook(spark, cents)
                _co(
                    batch.withColumn("cell", _ivf_assign_udf(cents)("embedding"))
                    .withColumn("_gate_batch", F.lit(batch_id))
                ).write.mode("append").parquet(corpus_path)
                return
            raw = spark.read.parquet(corpus_path)
            if "cell" not in raw.columns or not _fs_exists(
                spark, codebook_path + "/_SUCCESS"
            ):
                # bootstrap a pre-seeded corpus (or heal a torn one):
                # train the codebook from the standing corpus, then
                # rewrite the corpus WITH its cell column via the
                # temp-dir + rename swap (layout.compact_parquet's
                # discipline; local-FS rename like the rest of the local
                # deployment — an object-store backend swaps this for
                # its own atomic publish). Deterministic training makes
                # a replayed bootstrap idempotent.
                cents = _ivf_centroids(raw)
                _write_codebook(spark, cents)
                tmp, old = corpus_path + "__tmp", corpus_path + "__old"
                raw.drop("cell").withColumn(
                    "cell", _ivf_assign_udf(cents)("embedding")
                ).write.mode("overwrite").parquet(tmp)
                shutil.rmtree(old, ignore_errors=True)
                os.rename(corpus_path, old)
                os.rename(tmp, corpus_path)
                shutil.rmtree(old, ignore_errors=True)
            cents = _read_codebook(spark)
            corpus = spark.read.option("mergeSchema", "true").parquet(
                corpus_path
            )
            if "_gate_batch" in corpus.columns:
                bcol = F.coalesce(F.col("_gate_batch"), F.lit(-1))
            else:
                bcol = F.lit(-1)
            # PHANTOM ids: current-batch vectors whose corpus entry is
            # absent or was written by THIS trigger's own torn append
            # (provenance column _gate_batch; a replay reruns under the
            # same batch_id). A no-crash run matches the batch against
            # the PRE-batch corpus only, so matching torn residue on
            # replay would drop within-batch near-dup peers and emit
            # audit rows a no-crash run never produces (ADVICE r5).
            # Vectors RESIDENT from earlier triggers stay matchable: a
            # re-delivered vector alongside a new near-dup of it is a
            # REAL duplicate the gate must flag.
            batch_vec_ids = batch.select(
                F.col("vec_id").alias("corpus_vec")
            ).distinct()
            resident_ids = (
                corpus.filter(bcol != F.lit(batch_id))
                .select(F.col("vec_id").alias("corpus_vec"))
                # corpus-scale scan, batch-bounded OUTPUT: semi-filter by
                # the broadcast batch ids before anything else sees it
                .join(F.broadcast(batch_vec_ids), "corpus_vec", "left_semi")
            )
            phantom_ids = batch_vec_ids.join(
                resident_ids, "corpus_vec", "left_anti"
            )
            pairs = (
                ann_match_pairs(batch, corpus, cents, threshold, n_probe)
                # a replayed vector matching its OWN corpus entry is
                # bookkeeping, not a duplicate
                .filter(F.col("new_vec") != F.col("corpus_vec"))
                .join(F.broadcast(phantom_ids), "corpus_vec", "left_anti")
                .persist()
            )
            try:
                # materialize once, then the two independent appends run
                # as concurrent jobs (the text gate's round-6 fold)
                pairs.count()
                dup_ids = pairs.select(
                    F.col("new_vec").alias("vec_id")
                ).distinct()
                accepted = batch.join(F.broadcast(dup_ids), "vec_id", "left_anti")
                novel = (
                    _not_present(accepted, corpus.select("vec_id"))
                    .withColumn("cell", _ivf_assign_udf(cents)("embedding"))
                    .withColumn("_gate_batch", F.lit(batch_id))
                )
                writes = [
                    lambda: _co(pairs).write.mode("append").parquet(matches_path),
                    lambda: _co(novel).write.mode("append").parquet(corpus_path),
                ]
                run_concurrently(spark, writes)
            finally:
                pairs.unpersist()
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                from imagingdb_spark.layout import compact_parquet

                for p in (corpus_path, matches_path):
                    if _fs_exists(spark, p):
                        compact_parquet(spark, p)
        finally:
            batch.unpersist()

    return _attach(vecs, gate, checkpoint_dir, "append")


def read_frames_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based stream over a frames parquet directory (FRAME_SCHEMA
    rows: identity + typed metadata + PNG payload bytes)."""
    from imagingdb_spark.multimodal import FRAME_SCHEMA

    return spark.readStream.schema(FRAME_SCHEMA).parquet(path)


def _streaming_fingerprint_gate(
    stream: DataFrame,
    corpus_path: str,
    matches_path: str,
    checkpoint_dir: str,
    *,
    fingerprinted,
    id_col: str,
    fp_col: str,
    match_a: str,
    match_b: str,
    compact_every: int | None,
    append_partitions: int | None,
    max_distance: int,
    index_format: str = "parquet",
    index_target_bytes: int = 256 * 1024,
) -> "StreamingQuery | SnapshotFeed":
    """The shared engine behind the image (St10) and audio (St11) ingest
    gates: per micro-batch, (1) ``fingerprinted(batch_df)`` returns the
    batch rows with a string ``id_col`` and a 64-bit ``fp_col`` (decode
    + hash happens map-side inside it; payloads never shuffle), (2)
    batch-internal EXACT dups collapse (identical fingerprint,
    min-id keeper — the role sha2 plays in the text gate), (3) survivors
    match against the maintained 8x8-bit BAND INDEX
    (``<corpus>_idx_bands``, pigeonhole-lossless for hamming <
    PHASH_BANDS) via one broadcast join — no corpus shuffle, no payload
    re-decode (fingerprints are stored in the corpus, so a pre-seeded or
    torn index rebuilds with one map-side explode), (4) matches
    (``match_a``, ``match_b``, hamming) append to the audit log and only
    novel rows — with their fingerprint — to the corpus.

    At-least-once discipline (identical for both modalities): the three
    appends run as concurrent jobs and are each individually idempotent
    by ``id_col`` (present-id screens from one tagged union scan);
    replayed rows skip their own index entry and any match whose corpus
    side is in the CURRENT batch (a torn corpus append must not make a
    replay drop within-batch near-dup peers a no-crash run keeps); a
    torn index BOOTSTRAP is detected by the _SUCCESS marker and rebuilt
    with overwrite; ``compact_every=N`` folds per-trigger fragments with
    the crash-safe rewrite healed at trigger start.

    ``index_format="snapshot"`` stores the band index as a SNAPSHOT table
    instead of a plain parquet dir — the manifest-stats-pruned corpus
    read (round-7 verdict item 5): per trigger, the index is read with
    ``snapshot_read(..., where=[("bkey", "in", <batch band keys>)])``, so
    once the maintenance compaction has clustered the index by ``bkey``
    (band_idx*256 + band_value — 2048 distinct keys), a trigger opens
    ONLY the manifest groups and files its batch's bands touch instead of
    scanning every index file (tools/stream_bench_phash.py records
    files_kept << files_total). Index appends become exactly-once via the
    snapshot txn marker (one atomic commit per batch_id), the _SUCCESS
    bootstrap probe disappears (manifests are atomic by construction),
    and compaction is the transactional ``snapshot_compact`` clustered on
    ``bkey``. Match results are identical in both formats (parity
    test-pinned)."""
    from imagingdb_spark.multimodal import PHASH_BANDS, phash_band_col
    from imagingdb_spark import snapshots as SN

    if max_distance >= PHASH_BANDS:
        # the batch path (phash_near_dups) enforces the same bound: the
        # 8x8-band pigeonhole is lossless only below the band count, and
        # a wider radius would silently MISS pairs, not widen recall
        raise ValueError(
            f"band lookup is lossless only for distance < {PHASH_BANDS}"
        )
    if index_format not in ("parquet", "snapshot"):
        raise ValueError(f"index_format must be parquet|snapshot")
    snap_idx = index_format == "snapshot"
    idx_bands_path = corpus_path + "_idx_bands"
    # checkpoint-keyed txn app id — see streaming_dedup_gate's note: a
    # fresh checkpoint restarts batch_ids at 0 and a fixed app id would
    # skip the new stream's index appends as replays
    _IDX_APP = f"fpgate-{id_col}-{_ckpt_token(checkpoint_dir)}"

    def _band_rows(hashed: DataFrame) -> DataFrame:
        out = hashed.select(
            id_col, fp_col, F.explode(phash_band_col(fp_col)).alias("b")
        ).select(id_col, fp_col, "b.band_idx", "b.band_value")
        if snap_idx:
            # single integer cluster/prune/join key: 2048 distinct values
            out = out.withColumn(
                "bkey",
                (F.col("band_idx") * 256 + F.col("band_value")).cast("long"),
            )
        return out

    def _read_index(spark: SparkSession, batch_bkeys: list | None) -> DataFrame:
        if not snap_idx:
            return spark.read.parquet(idx_bands_path)
        where = (
            [("bkey", "in", batch_bkeys)] if batch_bkeys else None
        )
        return SN.snapshot_read(spark, idx_bands_path, where=where)

    def _index_exists(spark: SparkSession) -> bool:
        return (
            SN.snapshot_exists(idx_bands_path)
            if snap_idx
            else _fs_exists(spark, idx_bands_path + "/_SUCCESS")
        )

    def _append_index(df: DataFrame, batch_id: int, mode: str = "append"):
        if snap_idx:
            # txn marker ONLY on appends (exactly-once per batch_id); a
            # bootstrap/rebuild overwrite must NOT record the seq, or the
            # same trigger's subsequent delta append would be skipped as
            # its own replay
            SN.snapshot_commit(
                df.sparkSession,
                idx_bands_path,
                df,
                mode=mode,
                txn=(_IDX_APP, batch_id) if mode == "append" else None,
            )
        else:
            df.write.mode(mode).parquet(idx_bands_path)

    def _present_sets(
        spark: SparkSession,
        batch_ids: DataFrame,
        batch_id: int,
        batch_id_list: list | None = None,
    ) -> dict[str, set]:
        if snap_idx:
            # prune the band-index side of the present-set scan by the
            # batch's ids (correct regardless of clustering; skips files
            # whose id ranges exclude the whole batch)
            where = (
                [(id_col, "in", batch_id_list)] if batch_id_list else None
            )
            idx_src = SN.snapshot_read(spark, idx_bands_path, where=where)
        else:
            idx_src = idx_bands_path
        return _present_id_sets(
            spark,
            batch_ids,
            [("c", corpus_path), ("b", idx_src)],
            id_col,
            resident=(corpus_path, batch_id),
        )

    def _screen(spark: SparkSession, small: DataFrame, present: set) -> DataFrame:
        return _screen_ids(spark, small, present, id_col, f"{id_col} string")

    def _co(df: DataFrame) -> DataFrame:
        return _gate_coalesce(df, append_partitions)

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        plain_tables = [corpus_path, matches_path] + (
            [] if snap_idx else [idx_bands_path]
        )
        for p in plain_tables:
            _heal_interrupted_compaction(p)
        batch = (
            fingerprinted(batch_df)
            .withColumn(
                "_keep",
                F.row_number().over(
                    Window.partitionBy(fp_col).orderBy(id_col)
                ),
            )
            .filter(F.col("_keep") == 1)
            .drop("_keep")
            .persist()  # consumed by the match AND the appends
        )
        try:
            if not _fs_exists(spark, corpus_path):
                _co(
                    batch.withColumn("_gate_batch", F.lit(batch_id))
                ).write.mode("append").parquet(corpus_path)
                _append_index(_co(_band_rows(batch)), batch_id)
                return
            if not _index_exists(spark):
                # pre-seeded corpus without an index, or a torn bootstrap
                # (plain-parquet mode only — snapshot manifests cannot
                # tear): rebuild from the corpus's STORED hashes
                _append_index(
                    _band_rows(
                        spark.read.parquet(corpus_path).select(
                            id_col, fp_col
                        )
                    ),
                    batch_id,
                    mode="overwrite",
                )
            batch_ids = batch.select(id_col).distinct().persist()
            # present sets come FIRST (pre-append corpus state): they
            # feed the append screens AND the phantom-id screen below
            batch_id_set = {r[id_col] for r in batch_ids.collect()}
            present = _present_sets(
                spark, batch_ids, batch_id, sorted(batch_id_set)
            )
            band_cols = ["bkey"] if snap_idx else ["band_idx", "band_value"]
            new_bands = _band_rows(batch.select(id_col, fp_col)).select(
                F.col(id_col).alias(match_a),
                F.col(fp_col).alias("new_fp"),
                *band_cols,
            )
            if snap_idx:
                # the pruning key set for this trigger: batch-bounded
                # (<= 8 * |batch| of 2048 possible values) — the manifest
                # read opens only groups/files whose bkey ranges these
                # touch once compaction has clustered the index on bkey
                batch_bkeys = sorted(
                    r["bkey"]
                    for r in new_bands.select("bkey").distinct().collect()
                )
            else:
                batch_bkeys = None
            corpus_bands = _read_index(spark, batch_bkeys).select(
                F.col(id_col).alias(match_b),
                F.col(fp_col).alias("corpus_fp"),
                *band_cols,
            )
            pairs = (
                corpus_bands.join(F.broadcast(new_bands), band_cols)
                .withColumn(
                    "hamming",
                    F.bit_count(
                        F.col("new_fp").bitwiseXOR(F.col("corpus_fp"))
                    ),
                )
                .filter(F.col("hamming") <= max_distance)
                # a replayed row matching its OWN index entry is
                # bookkeeping, not a duplicate
                .filter(F.col(match_a) != F.col(match_b))
            )
            # PHANTOM screen: drop matches whose corpus side is a
            # current-batch id not RESIDENT — absent from the corpus, or
            # present only via THIS trigger's own torn append (append
            # provenance, _gate_batch; replays rerun under the same
            # batch_id) — which must not make a replay drop within-batch
            # near-dup peers a no-crash run keeps. Ids resident from
            # EARLIER triggers stay matchable: a re-delivered row
            # alongside a new near-dup of it is a REAL duplicate.
            phantom = batch_id_set - present["r"]
            pairs = _screen_ids(
                spark, pairs, phantom, match_b, f"{match_b} string"
            )
            pairs = (
                pairs.select(match_a, match_b, "hamming")
                .dropDuplicates([match_a, match_b])
                .persist()
            )
            try:
                pairs.count()  # materialize once before the fan-out
                dup_ids = pairs.select(
                    F.col(match_a).alias(id_col)
                ).distinct()
                accepted = batch.join(
                    F.broadcast(dup_ids), id_col, "left_anti"
                )
                writes = [
                    lambda: _co(pairs).write.mode("append").parquet(
                        matches_path
                    ),
                    lambda: _co(
                        _screen(spark, accepted, present["c"]).withColumn(
                            "_gate_batch", F.lit(batch_id)
                        )
                    )
                    .write.mode("append")
                    .parquet(corpus_path),
                    lambda: _append_index(
                        _co(
                            _band_rows(
                                _screen(
                                    spark, accepted, present["b"]
                                ).select(id_col, fp_col)
                            )
                        ),
                        batch_id,
                    ),
                ]
                run_concurrently(spark, writes)
            finally:
                pairs.unpersist()
                batch_ids.unpersist()
            if compact_every and batch_id > 0 and batch_id % compact_every == 0:
                from imagingdb_spark.layout import compact_parquet

                for p in plain_tables:
                    if _fs_exists(spark, p):
                        compact_parquet(spark, p)
                if snap_idx and SN.snapshot_exists(idx_bands_path):
                    # transactional small-file fold CLUSTERED on the
                    # pruning key — this is what turns the per-trigger
                    # where=("bkey","in",...) read into a files_kept <<
                    # files_total manifest skip
                    SN.snapshot_compact(
                        spark,
                        idx_bands_path,
                        target_file_bytes=index_target_bytes,
                        cluster_cols=["bkey"],
                    )
        finally:
            batch.unpersist()

    return _attach(stream, gate, checkpoint_dir, "append")


def streaming_phash_gate(
    frames: DataFrame,
    corpus_path: str,
    matches_path: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
    append_partitions: int | None = 8,
    max_distance: int | None = None,
    index_format: str = "parquet",
    index_target_bytes: int = 256 * 1024,
    decoder=None,
    on_decode_error: str = "raise",
) -> "StreamingQuery | SnapshotFeed":
    """St10 — streaming IMAGE-ingest dedup gate: the multimodal twin of
    streaming_dedup_gate, instantiating _streaming_fingerprint_gate with
    the real PNG-decode + DCT pHash (multimodal.phash_frames) and the
    frames identity key. ``decoder`` overrides the payload decoder —
    pass multimodal.decode_any for a crawl feed whose payload mix is
    PNG/JPEG/TIFF/BMP/GIF by magic bytes; the default stays the pinned
    PNG storage format. ``on_decode_error="skip"`` drops undecodable
    rows instead of failing the micro-batch — REQUIRED for crawl feeds,
    where one truncated payload would otherwise crash-loop the query on
    the same offsets forever (skipped rows pass the gate unfingerprinted:
    they land in matches never, in the corpus never — quarantine them
    upstream if they must be kept). Catches "same picture, different file" dups
    that payload-sha ingest (ingest.py's anti-join guard) cannot. Scale
    shape and crash discipline: see the engine docstring; at 100 TB the
    band index is band-value-bucketed at rest so the broadcast join
    prunes files."""
    from imagingdb_spark.multimodal import (
        PHASH_MAX_DISTANCE, decode_png, phash_frames,
    )

    dec = decode_png if decoder is None else decoder
    id_cols = [
        "dataset_serial", "channel_idx", "slice_idx", "time_idx", "pos_idx"
    ]

    def fingerprinted(batch_df: DataFrame) -> DataFrame:
        # decode+hash once, join the 8-byte hashes back onto the payload
        # rows by identity (broadcast: a micro-batch is tiny)
        return batch_df.join(
            F.broadcast(
                phash_frames(batch_df, decoder=dec, on_error=on_decode_error)
            ),
            id_cols,
        ).withColumn("frame_id", F.concat_ws("_", *id_cols))

    return _streaming_fingerprint_gate(
        frames,
        corpus_path,
        matches_path,
        checkpoint_dir,
        fingerprinted=fingerprinted,
        id_col="frame_id",
        fp_col="phash",
        match_a="new_frame",
        match_b="corpus_frame",
        compact_every=compact_every,
        append_partitions=append_partitions,
        max_distance=(
            PHASH_MAX_DISTANCE if max_distance is None else max_distance
        ),
        index_format=index_format,
        index_target_bytes=index_target_bytes,
    )


def read_clips_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based stream over a clips parquet directory (CLIP_SCHEMA
    rows: clip_id + sample_rate + WAV payload bytes)."""
    from imagingdb_spark.multimodal import CLIP_SCHEMA

    return spark.readStream.schema(CLIP_SCHEMA).parquet(path)


def streaming_afp_gate(
    clips: DataFrame,
    corpus_path: str,
    matches_path: str,
    checkpoint_dir: str,
    compact_every: int | None = None,
    append_partitions: int | None = 8,
    max_distance: int | None = None,
    index_format: str = "parquet",
) -> "StreamingQuery | SnapshotFeed":
    """St11 — streaming AUDIO-ingest dedup gate: the same engine as the
    image gate, instantiated with the Haitsma–Kalker-style fingerprint
    (multimodal.afp_clips, real RIFF decode + rfft band energies).
    Catches "same recording, different level/encoding" dups — the
    re-encoded (G.711) or gain-adjusted uploads a payload-sha gate
    passes through. One engine, one band-index losslessness argument,
    one crash discipline across both modalities."""
    from imagingdb_spark.multimodal import AFP_MAX_DISTANCE, afp_clips

    def fingerprinted(batch_df: DataFrame) -> DataFrame:
        return batch_df.join(F.broadcast(afp_clips(batch_df)), "clip_id")

    return _streaming_fingerprint_gate(
        clips,
        corpus_path,
        matches_path,
        checkpoint_dir,
        fingerprinted=fingerprinted,
        id_col="clip_id",
        fp_col="afp",
        match_a="new_clip",
        match_b="corpus_clip",
        compact_every=compact_every,
        append_partitions=append_partitions,
        max_distance=(
            AFP_MAX_DISTANCE if max_distance is None else max_distance
        ),
        index_format=index_format,
    )


SESSIONIZE_OUT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("session_idx", T.LongType()),
    ]
)
SESSIONIZE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_us", T.LongType()),
        T.StructField("session_idx", T.LongType()),
    ]
)


def _sessionize_update(key, pdfs, state, gap_s: int):
    """Per-user session assignment for one micro-batch; state carries
    (last event epoch-micros, current session index) across batches.
    Factored out of sessionize_stream so the cross-batch continuation
    logic is unit-testable without a streaming query."""
    import numpy as np
    import pandas as pd

    if state.exists:
        last_us, idx = state.get
    else:
        last_us, idx = None, 0
    whole = pd.concat(list(pdfs), ignore_index=True)
    out = None
    if len(whole):
        whole = whole.sort_values(["ts", "event_id"]).reset_index(drop=True)
        us = (whole["ts"].astype("int64") // 1000).to_numpy()  # ns → µs
        # sentinel for a brand-new user: one full gap before their first
        # event, so it always opens session 1 (no int64 overflow games)
        first_prev = last_us if last_us is not None else us[0] - gap_s * 1_000_000
        prev = np.concatenate(([first_prev], us[:-1]))
        is_new = (us - prev) >= gap_s * 1_000_000
        sess = idx + np.cumsum(is_new.astype(np.int64))
        out = pd.DataFrame(
            {
                "event_id": whole["event_id"].to_numpy(),
                "user_id": np.full(len(whole), key[0], dtype=np.int64),
                "session_idx": sess,
            }
        )
        last_us, idx = int(us[-1]), int(sess[-1])
    state.update((last_us, idx))
    if out is not None:
        yield out


def sessionize_stream(events: DataFrame, gap_s: int = 1800) -> DataFrame:
    """Streaming twin of operators/streaming_batch.x_sessionize: per-event
    session ids assigned across micro-batches via applyInPandasWithState.
    State per user is two longs (last event time, session counter) —
    O(distinct users), same shuffle key as session_window.

    In-order contract: like every lag-based sessionizer, assignment
    assumes each user's events arrive in event-time order ACROSS
    micro-batches (the in-order-source case: time-partitioned files, or
    a Kafka topic keyed by user). An out-of-order source needs
    watermark-horizon buffering inside the state — the batch twin is the
    cheap backfill for that case."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        yield from _sessionize_update(key, pdfs, state, gap_s)

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=SESSIONIZE_OUT_SCHEMA,
        stateStructType=SESSIONIZE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def rank_trending(counts: DataFrame, k: int = 3) -> DataFrame:
    """Rank a (window_start, event_type, n_events) count table down to the
    top-k types per window — the sink-side half of the trending-items job.
    Streaming aggregates can't host window functions, so the standard
    split is: the STREAM maintains sliding counts (sliding_counts — state
    bounded by windows x types, never events), and each emitted batch of
    counts is ranked HERE, either in foreachBatch or on read from the
    sink table. The rank input is corpus-size-independent, so this half
    is trivially cheap at any scale. Deterministic tiebreak matches
    st_topk_trend (count DESC, then event_type)."""
    from pyspark.sql import Window

    w = Window.partitionBy("window_start").orderBy(
        F.desc("n_events"), "event_type"
    )
    return (
        counts.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= k)
    )


def enrich_with_dimension(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static temporal enrichment (j_temporal_lookup's streaming
    twin): every streaming fact picks up the dimension attributes current
    at ITS OWN event time. Stream-static joins need no watermark and no
    state store — the static side is re-planned (and, dimension-sized,
    broadcast) per micro-batch, which also means a dimension update
    between batches is picked up automatically: the classic
    slowly-changing enrichment topology."""
    from imagingdb_spark.operators.joins import temporal_enrich

    return temporal_enrich(events, dim)


def _cdc_empty_state(
    spark: SparkSession, batch_df: DataFrame, key: str, attrs: list[str]
) -> DataFrame:
    """Typed empty CDC state: (key, attrs..., last_seq=0)."""
    return empty_df(spark, batch_df.select(key, *attrs).schema).withColumn(
        "last_seq", F.lit(0).cast("bigint")
    )


def _cdc_next_state(
    state: DataFrame, batch_df: DataFrame, key: str
) -> DataFrame:
    """The pure CDC state transition shared by the parquet-swap and
    snapshot-table variants: gate out change rows not strictly newer than
    the state's last_seq for their key (replay/no-op safety), apply
    LWW-by-seq + deletes (operators.merge.cdc_apply), and keep untouched
    keys' last_seq so later replays still gate correctly."""
    from imagingdb_spark.operators.merge import cdc_apply

    gated = (
        batch_df.join(
            state.select(key, F.col("last_seq").alias("__ls")), key, "left"
        )
        .filter(F.col("__ls").isNull() | (F.col("seq") > F.col("__ls")))
        .drop("__ls")
    )
    new_state = cdc_apply(state.drop("last_seq"), gated, key).alias("n")
    prior = state.select(key, F.col("last_seq").alias("__prior")).alias("p")
    return (
        new_state.join(prior, key, "left")
        .withColumn(
            "last_seq",
            F.greatest(F.col("last_seq"), F.coalesce("__prior", F.lit(0))),
        )
        .drop("__prior")
    )


def cdc_apply_batch(
    batch_df: DataFrame, state_path: str, key: str = "doc_id"
) -> None:
    """One micro-batch of streaming CDC apply (the continuous twin of
    operators/merge.cdc_apply, shared by streaming_cdc_apply and tests).

    Restart safety (foreachBatch is at-least-once): every change row
    whose seq is NOT strictly newer than the state's last_seq for its
    key is dropped before applying — a replayed batch (or a late
    out-of-order change that already lost) becomes a no-op, so applying
    a batch twice equals applying it once. Keys untouched by the batch
    keep their prior last_seq (cdc_apply alone would reset it and break
    the gate for later batches).

    The state table cannot be overwritten in place while it is being
    read (Spark reads lazily from the same files), so the new state
    writes to a temp dir and swaps with layout.compact_parquet's
    two-rename discipline."""
    import os
    import shutil
    import uuid

    spark = batch_df.sparkSession
    attrs = [c for c in batch_df.columns if c not in (key, "seq", "op")]
    try:
        state = spark.read.parquet(state_path)
        fresh = False
    except Exception:
        state = _cdc_empty_state(spark, batch_df, key, attrs)
        fresh = True
    new_state = _cdc_next_state(state, batch_df, key)
    if fresh:
        new_state.write.mode("overwrite").parquet(state_path)
        return
    tmp = f"{state_path}.cdc.{uuid.uuid4().hex[:8]}"
    new_state.write.mode("overwrite").parquet(tmp)
    old = f"{state_path}.old.{uuid.uuid4().hex[:8]}"
    os.rename(state_path, old)
    os.rename(tmp, state_path)
    shutil.rmtree(old)


def streaming_cdc_apply(
    changes: DataFrame,
    state_path: str,
    checkpoint_dir: str,
    key: str = "doc_id",
) -> "StreamingQuery | SnapshotFeed":
    """Continuous CDC replication: a stream of (key, seq, op, attrs)
    change rows maintains a keyed parquet snapshot with last-write-wins
    by seq and deletes — x_cdc_apply's semantics, one micro-batch at a
    time, idempotent under foreachBatch replay (see cdc_apply_batch).

    Scale shape: per trigger, one log-sized shuffle (per-key max-struct)
    + one key-keyed outer join against the state — the exact exchange
    profile of the batch twin; at 100 TB the state is a table format
    whose MERGE replaces the swap, semantics unchanged."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        cdc_apply_batch(batch_df, state_path, key)

    return _attach(changes, apply_batch, checkpoint_dir, "update")


def streaming_cdc_apply_snapshot(
    changes: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    key: str = "doc_id",
    expire_every: int = 8,
    keep_versions: int = 4,
    strategy: str = "keyed",
) -> "StreamingQuery | SnapshotFeed":
    """streaming_cdc_apply with the state held in a SNAPSHOT table — the
    "at 100 TB the state is a table format whose MERGE replaces the swap"
    note above, closed in-repo: each micro-batch runs the same pure state
    transition (_cdc_next_state — seq gate, LWW + deletes, last_seq kept
    for untouched keys) as an atomic pinned-tip commit (readers never
    see a half-applied batch; an interleaved commit forces a re-read +
    re-apply instead of being lost) and the commit log is the
    replication audit trail. Replayed batches gate to a content no-op —
    the extra 'cdc' version they publish is harmless and visible in
    snapshot_versions.

    Round-11: the apply is FILE-PRUNED (snapshots.snapshot_apply_keyed
    via the keyed route of _snapshot_state_step) — a trigger rewrites
    only the state files that can contain its keys, with key blooms
    maintained from the bootstrap commit on, so per-trigger write cost
    is O(batch + candidate files), not O(standing state). The LWW fold
    qualifies because untouched keys pass through unchanged.

    ``strategy="eq"`` (round-11 stretch) goes one step further onto
    EQUALITY-DELETE sidecars (``snapshots.snapshot_upsert_eq``): a
    trigger lands its winners as fresh files + one key sidecar and
    rewrites NO standing data file at all — per-trigger DATA WRITE is
    O(batch) at any state size, with the standing read reduced to the
    seq gate's key+last_seq column probe over pruned candidates plus
    the format's exact-row-count scan; readers merge at scan time and
    the DV-debt maintenance tick materializes. Same batch-twin
    semantics (LWW by seq + deletes, replays gate to no-ops, plus a
    txn marker for exactly-once), different physical cost profile —
    pick "eq" when triggers are frequent and wide relative to file
    count, "keyed" when read purity between compactions matters."""
    if strategy not in ("keyed", "eq"):
        raise ValueError(f"strategy must be keyed|eq, got {strategy!r}")

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return  # an empty trigger must not rewrite the whole state
        attrs = [c for c in batch_df.columns if c not in (key, "seq", "op")]
        if strategy == "keyed":
            _snapshot_state_step(
                spark,
                table_dir,
                _cdc_empty_state(spark, batch_df, key, attrs),
                lambda state: _cdc_next_state(state, batch_df, key),
                "cdc",
                int(batch_id),
                expire_every,
                keep_versions,
                keyed=(batch_df, key),
                bloom_columns=[key],
            )
            return
        from imagingdb_spark.snapshots import (
            snapshot_commit,
            snapshot_exists,
            snapshot_expire,
            snapshot_read,
            snapshot_upsert_eq,
            snapshot_vacuum,
        )

        if not snapshot_exists(table_dir):
            snapshot_commit(
                spark,
                table_dir,
                _cdc_empty_state(spark, batch_df, key, attrs),
                bloom_columns=[key],
            )
        # LWW winner per key within the batch — cdc_apply's struct-max
        # reduction (atomic winning ROW, deterministic tie-break)
        latest = (
            batch_df.groupBy(key)
            .agg(F.max(F.struct("seq", "op", *attrs)).alias("__m"))
            .select(
                key,
                F.col("__m.seq").alias("seq"),
                F.col("__m.op").alias("op"),
                *[F.col(f"__m.{a}").alias(a) for a in attrs],
            )
        )
        # seq gate against the standing state: key+last_seq of PRUNED
        # candidates only (bloom point probes from the bootstrap on)
        keys = [
            r[0]
            for r in latest.select(key).distinct().collect()
            if r[0] is not None
        ]
        if not keys:
            return
        state_ls = snapshot_read(
            spark, table_dir, where=[(key, "in", keys)]
        ).select(key, F.col("last_seq").alias("__ls"))
        gated = (
            latest.join(state_ls, key, "left")
            .filter(F.col("__ls").isNull() | (F.col("seq") > F.col("__ls")))
            .drop("__ls")
        )
        ups = gated.filter(F.col("op") != "D").select(
            key, *attrs, F.col("seq").alias("last_seq")
        )
        dels = gated.filter(F.col("op") == "D").select(key)
        snapshot_upsert_eq(
            spark,
            table_dir,
            ups,
            key,
            deletes=dels,
            txn=("cdc-eq", int(batch_id)),
        )
        if expire_every and batch_id > 0 and batch_id % expire_every == 0:
            snapshot_expire(table_dir, keep_last=keep_versions)
            snapshot_vacuum(spark, table_dir)

    return _attach(changes, apply_batch, checkpoint_dir, "update")
