"""Named-query registry.

Every operator from SURVEY.md §2 registers itself here as a callable
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB oracle
SQL twin with IDENTICAL output column names — the driver hashes values after
sorting columns by name, so Spark aliases and SQL ``AS`` names must agree.

Determinism contract for every registered query:
- no LIMIT without a total order (unique tiebreaker column in the ORDER BY),
- float aggregates rounded to 4 decimals on BOTH sides (summation order
  differs between engines),
- integer sums cast to BIGINT in DuckDB (its sum() widens to HUGEINT).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

# The external correctness harness checks only the FIRST 50 registered
# queries, so registration follows PRIORITY, not module import order.
# Rule (pinned by tests/test_registry.py): the first 50 names fill the
# window exactly, and no query's latest green correctness record may
# predate its current implementation — a query whose code changed, or
# whose record is the stalest, rotates into the window; one holding a
# green record on unchanged code may move to 51+. Queries at 51+ keep
# their implementations, unit tests and recorded green rows. Earlier
# rotations are in git history and the CORRECTNESS_rNN.json artifacts.
PRIORITY: list[str] = [
    # --- round-12 window (first 50; VERDICT r11 item 8, applied) ---
    # (a) implementation changed in ROUND 12 (this optimization round):
    #     x_token_ids (map-side ids), x_snapshot_scan/x_catalog_scan
    #     (stat-signature build validation + shared reader memo),
    #     x_ann_ivfpq (shared seed collect + inline residual training),
    #     x_perplexity_bucket (Arrow map-side term counts + broadcast
    #     vocab), st_perplexity / x_containment / x_dedup_incremental /
    #     x_dedup_jaccard (eager_checkpoint helper swap), x_incr_agg
    #     (comment-only, riding along), x_cdc_apply (merge-family holder
    #     the r11 verdict named).
    # (b) implementation changed in ROUND 11 with no post-change driver
    #     record (their r11 rewrites landed after the r11 window was
    #     fixed): x_gapfill/x_interp_linear (one-window gapfill),
    #     j_temporal_lookup (map-side SCD-2 dim), x_retention (window
    #     cohort), x_span_dedup (single-pass), x_dedup_minhash (fused
    #     signature), x_tfidf/x_bm25 (scalar collect), x_dedup_verified
    #     (rides verified_pairs' fused signature), and the tokenizing
    #     queries riding the shared tokens_col array_remove rewrite
    #     (x_text_stats .. x_pack_sequences below).
    # (c) stalest records: the last-green-r8 tail (x_dedup_weights,
    #     x_embed_stats, x_split_hash, x_topk_sim) and the head of the
    #     last-green-r9 block.
    "x_token_ids",
    "x_snapshot_scan",
    "x_catalog_scan",
    "x_ann_ivfpq",
    "x_perplexity_bucket",
    "st_perplexity",
    "x_containment",
    "x_dedup_incremental",
    "x_dedup_jaccard",
    "x_incr_agg",
    "x_cdc_apply",
    "x_gapfill",
    "x_interp_linear",
    "j_temporal_lookup",
    "x_retention",
    "x_span_dedup",
    "x_dedup_minhash",
    "x_tfidf",
    "x_bm25",
    "x_dedup_verified",
    "x_text_stats",
    "x_token_freq",
    "x_lang_id",
    "x_fingerprint",
    "x_token_bpe",
    "x_repetition",
    "x_length_trim",
    "x_quality_norm",
    "x_heavy_hitters",
    "x_length_batches",
    "x_token_budget",
    "x_bigram_logprob",
    "x_inverted_index",
    "x_dsir_select",
    "x_dsir_resample",
    "x_bpe_train",
    "x_bpe_encode",
    "x_pack_sequences",
    "x_dedup_weights",
    "x_embed_stats",
    "x_split_hash",
    "x_topk_sim",
    "a_count",
    "a_rollup",
    "f_cast_coerce",
    "f_null_handling",
    "f_string_parse",
    "j_three_way",
    "p_project",
    "x_dedup_exact",
    # --- 51+: displaced members, stalest first (each holds a green
    #     driver row on code unchanged since it was recorded) ---
    "a_count_distinct",
    "a_geomean_udaf",
    "a_group_summary",
    "f_array_ops",
    "f_from_json",
    "f_json_extract",
    "j_asof",
    "j_json_filter",
    "st_session",
    "st_topk_trend",
    "st_tumbling",
    "w_rownum_page",
    "w_running",
    "x_corr_matrix",
    "x_domain_mix",
    "x_exact_quantiles",
    "x_profile_stats",
    "x_scrub",
    "x_sentences",
    "x_sessionize",
    "x_source_cap",
    "x_stratified",
    "x_table_diff",
    "x_transition_matrix",
    "x_ann_ivf",
    "x_semdedup",
    "x_triangles",
    "a_sum_avg",
    "f_not_exists",
    "j_outer_count",
    "o_topk",
    "w_dense_rank",
    "w_range_frame",
    "x_ann_eval",
    "x_cooccur_pmi",
    "x_funnel",
    "x_histogram",
    "x_novelty",
    "x_pipeline_audit",
    "x_retrieval_batch",
    "x_retrieval_metrics",
    "x_rolling_zscore",
    "x_semdedup_eval",
    "x_shard_shuffle",
    "a_approx_sketch",
    "j_range",
    "j_semi",
    "o_natural_sort",
    "o_sort",
    "s_except",
    "st_anomaly",
    "st_distinct_hll",
    "st_join",
    "w_lag_lead",
    "x_ann_pq",
    "x_audio_dedup",
    "x_embed_pca",
    "x_embed_quantize",
    "x_fuzzy_join",
    "x_hard_negatives",
    "x_mad_outlier",
    # displaced round-11 window members (fresh r11 rows on code
    # unchanged since CORRECTNESS_r11 recorded them):
    "x_merge_upsert",
    "x_scd2_history",
    "x_pagerank",
    "x_phash_dedup",
    "x_pq_quantize",
    "x_quality_filter",
    "x_rebalance",
    "x_sample_weighted",
    "x_scene_changes",
    "x_split_leakage",
    "x_substring_dedup",
    "x_unigram_logprob",
    "a_cube",
    "a_distinct",
    "a_pivot",
    "f_daterange",
    "f_dates",
    "f_equality",
    "f_format",
    "f_inlist",
    "f_json_multi",
    "f_path_ops",
    "f_sha2",
    "f_substring",
    "f_validate_id",
    "j_self_parent",
    "j_two_way",
    "o_limit",
    "s_intersect",
    "s_union",
    "st_heavy_hitters",
    "st_quantiles",
    "st_sliding",
    "st_theta_overlap",
    "w_topk_group",
    "x_ann_lsh",
    "x_chunk_docs",
    "x_decontaminate",
    "x_dedup_cluster",
    "x_dedup_compact",
    "x_dedup_embed",
    "x_dedup_eval",
    "x_dedup_retain",
    "x_dedup_simhash",
]



def ordered_queries() -> dict[str, QueryFn]:
    """QUERIES re-ordered by PRIORITY (unlisted names keep registration
    order at the end — a safety net for queries added without a PRIORITY
    entry)."""
    out: dict[str, QueryFn] = {}
    for name in PRIORITY:
        if name in QUERIES:
            out[name] = QUERIES[name]
    for name, fn in QUERIES.items():
        if name not in out:
            out[name] = fn
    return out


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is the DuckDB ANSI-SQL twin
    (omit for non-SQL-expressible ops → driver does a rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle.strip()
        return fn

    return deco


def load_all() -> None:
    """Import every operator module (registration happens at import)."""
    from imagingdb_spark import operators, pipelines  # noqa: F401
