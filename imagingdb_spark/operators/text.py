"""Text-analysis operators over the `documents` table (SURVEY.md §2.10 D4 +
north-star text surface): token stats, quality scoring, token frequency,
language-ID heuristic, document fingerprinting.

All tokenization is done with built-in JVM expressions (split / explode /
higher-order array functions) — no Python in the hot path. Token definition
shared by every query here (and mirrored exactly in the oracles):
``lower(text)`` split on whitespace, empty strings dropped.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from imagingdb_spark.catalog import table
from imagingdb_spark.registry import query

# Tiny deterministic stopword list used by quality scoring and lang-id.
STOPWORDS = ["the", "a", "of", "and", "to", "in"]


def tokens_col(text: Column) -> Column:
    """Shared token definition: lowercase, whitespace-split, no empties.

    array_remove, not a higher-order filter (r11, guide §4.2): the
    lambda form is interpreted per element (no codegen) on every text
    query's corpus pass, while array_remove is a codegen'd builtin.
    Equivalent by construction: a `\\s+` split can only produce empty
    strings at the array boundaries (leading/trailing whitespace or an
    empty input), and array_remove drops every "" wherever it sits."""
    return F.array_remove(F.split(F.lower(text), r"\s+"), "")


# Java's regex ``\s``: ASCII whitespace only.
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def py_tokens(text: str | None) -> list[str]:
    r"""``tokens_col`` for Python-side (Arrow) passes: lowercase, split on
    ASCII whitespace, no empties, [] for NULL. ``str.split()`` is not the
    same rule: it also splits on Unicode whitespace (NBSP, U+2028,
    U+3000, U+0085, ...), which ``\s`` does not match
    (tests/test_tokenizer_parity.py pins the two sides equal)."""
    if not isinstance(text, str):
        return []
    return [t for t in _ASCII_WS.split(text.lower()) if t]


@query(
    "x_text_stats",
    oracle="""
    SELECT doc_id,
           len(toks) AS n_tokens,
           CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace_chars,
           round(length(regexp_replace(text, '\\s', '', 'g')) / len(toks), 4)
             AS avg_token_len,
           round(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))
                 / len(toks), 4) AS stopword_ratio,
           round(len(list_distinct(toks)) / len(toks), 4) AS distinct_ratio
    FROM (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents
    )
    WHERE len(toks) > 0
    """,
)
def x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality stats: token count, average token length,
    stopword ratio, distinct-token ratio — the standard pretraining quality
    signals (length/punct/stopword heuristics). One narrow projection, no
    shuffle: embarrassingly parallel at any scale."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    n = F.size(toks)
    nonspace = F.length(F.regexp_replace("text", r"\s", ""))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return (
        d.select(
            "doc_id",
            n.alias("n_tokens"),
            nonspace.cast("bigint").alias("n_nonspace_chars"),
            F.round(nonspace / n, 4).alias("avg_token_len"),
            F.round(n_stop / n, 4).alias("stopword_ratio"),
            F.round(F.size(F.array_distinct(toks)) / n, 4).alias("distinct_ratio"),
        )
        .filter(F.col("n_tokens") > 0)
    )


@query(
    "x_token_freq",
    oracle="""
    SELECT tok, COUNT(*) AS n
    FROM (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    )
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 100
    """,
)
def x_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency, top-100 (UDTF-shaped: explode → groupBy).
    explode happens map-side and partial aggregation collapses each
    partition to its distinct tokens before the shuffle, so the shuffle
    volume is vocabulary-sized, not corpus-sized."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(100)
    )


@query(
    "x_lang_id",
    oracle="""
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN en_score >= 2 THEN 'en' ELSE 'unknown' END AS predicted_lang
    FROM (
      SELECT doc_id, lang,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t IN ('the','a','of','and','to','in'))) AS en_score
      FROM documents
    )
    """,
)
def x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: marker-word scoring (the n-gram/stopword
    heuristic family). The driver's synthetic corpus draws every `lang` from
    one shared English-ish vocabulary, so a real classifier is untrainable
    here — the *operator structure* (per-language marker scores → argmax) is
    what this implements; swap STOPWORDS for per-language marker lists to
    get the real thing. Deterministic, oracle-checked."""
    d = table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    en_score = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, t)))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when(en_score >= 2, F.lit("en")).otherwise(F.lit("unknown")).alias("predicted_lang"),
    )


@query(
    "x_fingerprint",
    oracle="""
    SELECT doc_id, MIN(sha256(tok)) AS fingerprint
    FROM (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    )
    GROUP BY doc_id
    """,
)
def x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: min-of-token-hashes (the 1-permutation MinHash /
    winnowing-lite idea — equal fingerprints are near-dup candidates).
    Entirely JVM-side: explode → sha2 → min per doc."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id")
        .agg(F.min(F.sha2("tok", 256)).alias("fingerprint"))
    )


# BPE-ish pre-tokenizer pattern (GPT-2-style classes, ASCII-simplified so the
# Java and RE2 regex engines agree): letter runs | digit runs | punct runs.
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


@query(
    "x_token_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                                t -> t <> '')) AS INT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^A-Za-z0-9[:space:]]+')) AS INT)
             AS n_bpe_tokens
    FROM documents
    """,
)
def x_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (north-star text surface): whitespace tokens
    vs a BPE-ish pre-tokenizer regex (letter/digit/punct runs — the GPT-2
    pre-tokenizer's character classes without the unicode/byte-level parts).
    The regex count is what a train-data pipeline budgets against; both are
    single-pass JVM regexp expressions, no shuffle."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), F.lit(0))).alias(
            "n_bpe_tokens"
        ),
    )


@query(
    "x_quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS toks,
             length(regexp_replace(text, '\\s', '', 'g')) AS nonspace
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             nonspace / len(toks) AS avg_len,
             len(list_filter(toks, t -> t IN ('the','a','of','and','to','in')))
               / len(toks) AS stop_ratio,
             len(list_distinct(toks)) / len(toks) AS distinct_ratio
      FROM t WHERE len(toks) > 0
    )
    SELECT doc_id,
           n_tokens >= 10 AS rule_min_tokens,
           avg_len BETWEEN 2 AND 12 AS rule_token_len,
           stop_ratio >= 0.02 AS rule_stopwords,
           distinct_ratio >= 0.3 AS rule_distinct,
           (n_tokens >= 10 AND avg_len BETWEEN 2 AND 12
            AND stop_ratio >= 0.02 AND distinct_ratio >= 0.3) AS keep
    FROM s
    """,
)
def x_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filtering (public Rae et al. 2021
    heuristics family): per-document boolean rules — minimum length, mean
    word length in [2,12], stopword floor, distinct-token floor — plus the
    conjunctive keep flag. Emitting flags rather than dropping rows is the
    production shape: downstream consumers audit WHY a doc was cut, and
    thresholds get re-tuned without recomputing stats. Pure projection,
    zero shuffles."""
    return quality_flags(table(spark, sf_dir, "documents"))


def quality_flags(d: DataFrame) -> DataFrame:
    """DataFrame-level form of x_quality_filter (used by
    pipelines.pretraining_pipeline): (doc_id, rule_*, keep) flags for an
    arbitrary (doc_id, text, ...) frame."""
    toks = tokens_col(F.col("text"))
    t = d.select(
        "doc_id",
        toks.alias("toks"),
        F.length(F.regexp_replace("text", r"\s", "")).alias("nonspace"),
    ).filter(F.size("toks") > 0)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n = F.size("toks")
    avg_len = F.col("nonspace") / n
    stop_ratio = F.size(F.filter("toks", lambda x: F.array_contains(stop_arr, x))) / n
    distinct_ratio = F.size(F.array_distinct("toks")) / n
    rules = {
        "rule_min_tokens": n >= 10,
        "rule_token_len": (avg_len >= 2) & (avg_len <= 12),
        "rule_stopwords": stop_ratio >= 0.02,
        "rule_distinct": distinct_ratio >= 0.3,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return t.select(
        "doc_id", *[c.alias(name) for name, c in rules.items()], keep.alias("keep")
    )


@query(
    "x_repetition",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS toks
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(len(toks) - 1),
                                   i -> toks[i+1] || ' ' || toks[i+2])) AS g,
             len(toks) AS n_toks,
             len(list_distinct(toks)) AS n_distinct
      FROM t WHERE len(toks) >= 2
    ), cnt AS (
      SELECT doc_id, g, n_toks, n_distinct, COUNT(*) AS c
      FROM bg GROUP BY doc_id, g, n_toks, n_distinct
    )
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           round(MAX(c) / SUM(c), 4) AS top_bigram_frac,
           round(1 - n_distinct / CAST(n_toks AS DOUBLE), 4) AS dup_token_frac
    FROM cnt
    GROUP BY doc_id, n_toks, n_distinct
    """,
)
def x_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (the Gopher repetition-filter family): fraction
    of the document taken by its most frequent bigram + duplicate-token
    fraction. Bigrams are bigint hashes (counts are hash-invariant, so the
    oracle's string bigrams give identical fractions). Shuffle volume is
    per-doc distinct bigrams (map-side partial count), then one per-doc
    final aggregate."""
    d = table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens_col(F.col("text")).alias("toks")).filter(
        F.size("toks") >= 2
    )
    th = t.select(
        "doc_id",
        F.transform("toks", lambda x: F.xxhash64(x)).alias("th"),
        F.size("toks").alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("n_distinct"),
    )
    bigrams = th.select(
        "doc_id",
        "n_toks",
        "n_distinct",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("th") - 2),
                lambda i: F.xxhash64(F.slice("th", i + 1, 2)),
            )
        ).alias("g"),
    )
    cnt = bigrams.groupBy("doc_id", "g", "n_toks", "n_distinct").agg(
        F.count(F.lit(1)).alias("c")
    )
    return cnt.groupBy("doc_id", "n_toks", "n_distinct").agg(
        F.sum("c").alias("n_bigrams"),
        F.round(F.max("c") / F.sum("c"), 4).alias("top_bigram_frac"),
        F.round(1 - F.col("n_distinct") / F.col("n_toks").cast("double"), 4).alias(
            "dup_token_frac"
        ),
    ).select("doc_id", "n_bigrams", "top_bigram_frac", "dup_token_frac")


CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


@query(
    "x_chunk_docs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), n AS (
      SELECT doc_id, t, len(t) AS n_tok,
             1 + CAST(floor((greatest(len(t) - {CHUNK_TOKENS}, 0)
                             + {CHUNK_STRIDE} - 1) / {CHUNK_STRIDE}) AS BIGINT)
               AS n_chunks
      FROM toks WHERE len(t) > 0
    )
    , c AS (
      SELECT doc_id, t, n_tok, unnest(range(n_chunks)) AS i FROM n
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_idx,
           CAST(least(n_tok - i * {CHUNK_STRIDE}, {CHUNK_TOKENS}) AS BIGINT)
             AS chunk_len,
           array_to_string(t[i * {CHUNK_STRIDE} + 1 :
                             i * {CHUNK_STRIDE} + {CHUNK_TOKENS}], ' ')
             AS chunk_text
    FROM c
    """,
)
def x_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-stride document chunking (the RAG / context-window prep op):
    every doc becomes ceil-covering {CHUNK_TOKENS}-token windows advancing
    by {CHUNK_STRIDE} (16-token overlap), last chunk ragged. n_chunks =
    1 + ceil(max(n - CHUNK, 0) / STRIDE) in integer arithmetic on both
    engines.

    Scale shape: map-side explode — tokens are split once, chunk windows
    are array slices of the bound token array (no re-tokenization per
    chunk), output rows ≈ corpus tokens / STRIDE. The tokenize+explode is
    CPU-heavy, so a small parquet layout (one file → one scan partition)
    would serialize it on a single core; round-robin repartition to the
    cluster's parallelism first (same rationale as dedup.shingle_frame —
    at real scale the scan already has many splits and AQE coalesces, so
    the exchange is a local-layout fix, not a scale cost)."""
    d = table(spark, sf_dir, "documents")
    npart = spark.sparkContext.defaultParallelism
    toks = (
        d.select("doc_id", "text")
        .repartition(npart)
        .select("doc_id", tokens_col(F.col("text")).alias("t"))
        .filter(F.size("t") > 0)
    )
    n = F.size("t")
    n_chunks = 1 + F.floor(
        (F.greatest(n - CHUNK_TOKENS, F.lit(0)) + CHUNK_STRIDE - 1) / CHUNK_STRIDE
    ).cast("int")
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.least(
                F.size("t") - F.col("chunk_idx") * CHUNK_STRIDE,
                F.lit(CHUNK_TOKENS),
            ).cast("bigint").alias("chunk_len"),
            F.array_join(
                F.slice(
                    "t", F.col("chunk_idx") * CHUNK_STRIDE + 1, CHUNK_TOKENS
                ),
                " ",
            ).alias("chunk_text"),
        )
    )


PACK_BUDGET = 256  # tokens per training bin


@query("x_pack_sequences")  # rows-only: greedy first-fit not SQL-expressible
def x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pretraining sample-packing prep): docs are packed
    into PACK_BUDGET-token bins by first-fit-decreasing, one row per bin
    (bin_id, n_docs, total_tokens, fill_frac). Docs longer than the budget
    get a singleton bin (trimming is x_chunk_docs's job).

    DETERMINISTIC by construction: docs are hash-partitioned on doc_id
    (deterministic partitioner) and FFD-ordered (n_tok desc, doc_id asc)
    within each partition, so reruns produce identical bins;
    bin_id = partition_id << 32 | local_idx.

    Scale shape: bins never span partitions — the standard production
    approximation (packing is embarrassingly parallel; the cost is one
    partial bin per partition, negligible when partitions hold >> budget
    tokens). One shuffle (the repartition); the per-partition FFD scan is
    a pandas pass whose memory is one partition of (doc_id, n_tok) pairs,
    bounded by spark.sql.files.maxPartitionBytes at the scan."""
    import pandas as pd
    from pyspark.sql import types as T_
    from pyspark.taskcontext import TaskContext

    d = table(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id", F.size(tokens_col(F.col("text"))).alias("n_tok")
    ).filter(F.col("n_tok") > 0)
    npart = spark.sparkContext.defaultParallelism
    schema = T_.StructType(
        [
            T_.StructField("bin_id", T_.LongType()),
            T_.StructField("n_docs", T_.LongType()),
            T_.StructField("total_tokens", T_.LongType()),
            T_.StructField("fill_frac", T_.DoubleType()),
        ]
    )

    def pack(batches):
        pdf = pd.concat(list(batches), ignore_index=True)
        if pdf.empty:
            return
        pid = TaskContext.get().partitionId()
        pdf = pdf.sort_values(["n_tok", "doc_id"], ascending=[False, True])
        bins: list[tuple[int, int]] = []  # (n_docs, total_tokens)
        for n_tok in pdf["n_tok"].to_numpy():
            for i, (nd, tot) in enumerate(bins):
                if tot + n_tok <= PACK_BUDGET:
                    bins[i] = (nd + 1, tot + n_tok)
                    break
            else:
                bins.append((1, int(n_tok)))
        yield pd.DataFrame(
            {
                "bin_id": [(pid << 32) | i for i in range(len(bins))],
                "n_docs": [nd for nd, _ in bins],
                "total_tokens": [tot for _, tot in bins],
                "fill_frac": [round(tot / PACK_BUDGET, 4) for _, tot in bins],
            }
        )

    return counts.repartition(npart, "doc_id").mapInPandas(pack, schema)


@query(
    "x_length_trim",
    oracle="""
    WITH sized AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '')) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_tokens,
             PERCENT_RANK() OVER (PARTITION BY source
                                  ORDER BY n_tokens, doc_id) AS pr
      FROM sized
    )
    SELECT doc_id, source, n_tokens, round(pr, 4) AS length_pct
    FROM ranked
    WHERE pr >= 0.05 AND pr <= 0.95
    """,
)
def x_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-relative length trimming (C4/Gopher family): drop each
    source's shortest and longest 5% of documents by token count, keeping
    docs whose within-source percent_rank falls in [0.05, 0.95]. Unlike
    x_quality_filter's absolute thresholds, the cutoff adapts to each
    source's own length distribution — the standard guard against boilerplate
    stubs and concatenation blowups.

    percent_rank = (rank-1)/(n-1) is an exact rational computed identically
    by both engines (same operands, same IEEE division), so the filter can
    run on the raw value; doc_id tiebreak makes ranks deterministic under
    n_tokens ties. One shuffle on source; at 100 TB the per-source partition
    only carries (doc_id, n_tokens) — the text never moves."""
    d = table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    sized = d.select(
        "doc_id", "source", F.size(tokens_col(F.col("text"))).alias("n_tokens")
    )
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    return (
        sized.withColumn("pr", F.percent_rank().over(w))
        .filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.round("pr", 4).alias("length_pct"),
        )
    )


# PII-style redaction pattern set. On this synthetic corpus only digit
# runs fire (events.props carries numbers); on real crawl text the list
# extends with email/phone/IP regexes — same operator, same plan shape.
SCRUB_PATTERN = "[0-9]+"
SCRUB_TOKEN = "<NUM>"


@query(
    "x_scrub",
    oracle=f"""
    SELECT event_id,
           regexp_replace(props, '{SCRUB_PATTERN}', '{SCRUB_TOKEN}', 'g')
             AS props_clean,
           CAST(len(regexp_extract_all(props, '{SCRUB_PATTERN}')) AS BIGINT)
             AS n_redactions
    FROM events
    """,
)
def x_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex redaction (the PII-scrub pass of a training-data pipeline):
    replace every match of a pattern set with a typed placeholder token
    and count redactions per record — the count column is the audit
    signal ("how much PII did this source carry") that feeds per-source
    quality decisions.

    Scale shape: pure projection — zero shuffles, zero UDFs; both the
    replace and the match count are JVM regex inside whole-stage codegen,
    so it runs at scan speed and composes with any downstream op. The
    only scale knob is regex cost per byte; anchored character-class
    patterns like these are linear."""
    e = table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_replace("props", SCRUB_PATTERN, SCRUB_TOKEN).alias("props_clean"),
        F.size(F.regexp_extract_all("props", F.lit(SCRUB_PATTERN), F.lit(0)))
        .cast("bigint")
        .alias("n_redactions"),
    )


@query(
    "x_quality_norm",
    oracle="""
    WITH s AS (
      SELECT doc_id, source,
             len(list_distinct(t)) / len(t) AS score
      FROM (
        SELECT doc_id, source,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS t
        FROM documents
      ) WHERE len(t) > 0
    )
    SELECT doc_id, source, round(score, 4) AS score,
           round(percent_rank() OVER w, 4) AS pct_in_source,
           CAST(ntile(10) OVER w AS BIGINT) AS decile
    FROM s
    WINDOW w AS (PARTITION BY source ORDER BY score, doc_id)
    """,
)
def x_quality_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality-score calibration: raw quality signals are not
    comparable across sources (a forum's median differs from an
    encyclopedia's), so a single global threshold over- or under-prunes
    whole domains. The calibrated form is RANK-based — percent_rank and
    decile within source — which is also the only cross-engine-exact
    normalization: a z-score needs mean/std, whose float summation order
    differs between engines (SCALING.md 18a), while ranks are pure
    comparisons. Downstream, "keep the top 60% of every source" is a
    filter on pct_in_source.

    Scale shape: one shuffle on source + per-group sort (the window),
    with the same capped_hash_rank-style skew note as every per-group
    rank; the score itself is a pure projection (distinct-ratio here —
    swap in any per-doc signal, e.g. x_unigram_logprob's LM score)."""
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    s = d.select(
        "doc_id",
        "source",
        toks.alias("t"),
    ).filter(F.size("t") > 0).select(
        "doc_id",
        "source",
        (F.size(F.array_distinct("t")) / F.size("t")).alias("score"),
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    return s.select(
        "doc_id",
        "source",
        F.round("score", 4).alias("score"),
        F.round(F.percent_rank().over(w), 4).alias("pct_in_source"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


SENT_SPLIT = r"[.!?]+\s+"  # shared by the UDTF and the DuckDB twin


@query(
    "x_sentences",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_filter(string_split_regex(text, '[.!?]+\\s+'),
                         p -> p <> '') AS parts
      FROM documents
      WHERE text IS NOT NULL
    ), flat AS (
      SELECT doc_id, unnest(range(len(parts))) AS pos, parts
      FROM s WHERE len(parts) > 0
    )
    SELECT doc_id, CAST(pos AS INT) AS pos, parts[pos + 1] AS sentence,
           CAST(len(list_filter(string_split_regex(parts[pos + 1], '\\s+'),
                                t -> t <> '')) AS INT) AS n_tokens
    FROM flat
    """,
)
def x_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation via a REAL PySpark UDTF (§2.10: the third
    leg of the UDF/UDAF/UDTF triple with the actual `@udtf` API, not the
    applyInPandas "UDTF-shaped" stand-in) — one doc in, one row per
    sentence out, evaluated through a LATERAL join.

    Segmentation rule (shared verbatim with the oracle): split on
    terminal punctuation followed by whitespace; positions are assigned
    AFTER dropping empty segments so a leading delimiter can't shift
    parity; per-sentence token counts reuse the corpus whitespace-token
    convention. Docs with null/empty text vanish (LATERAL ≡ cross
    apply).

    Scale shape: embarrassingly parallel — the UDTF is a per-row
    generator (Arrow-batched, `useArrow=True`), zero shuffles, and the
    fan-out happens executor-side exactly like explode; Catalyst prunes
    the scan to (doc_id, text). When the per-row logic is expressible as
    `split` + `posexplode` the built-in wins (x_chunk_docs does exactly
    that); the UDTF exists for the segmentation rules that outgrow a
    regex one-liner (quote tracking, abbreviation lookahead) — the
    extension point §2.10 promises, demonstrated on a rule simple enough
    to hold an oracle."""
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos: int, sentence: string, n_tokens: int",
          useArrow=True)
    class _SplitSentences:
        def eval(self, text: str):
            if text is None:
                return
            parts = [p for p in _re.split(SENT_SPLIT, text) if p != ""]
            for i, p in enumerate(parts):
                yield i, p, len(p.split())

    spark.udtf.register("split_sentences", _SplitSentences)
    table(spark, sf_dir, "documents").select("doc_id", "text") \
        .createOrReplaceTempView("__sent_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.sentence, s.n_tokens
        FROM __sent_docs d, LATERAL split_sentences(d.text) s
        """
    )


# Heavy-hitters sketch parameters: report tokens covering >= HH_PHI of all
# token occurrences. The Misra–Gries capacity must exceed 1/HH_PHI for the
# no-false-negative guarantee (proof in _mg_sketch_partitions); 256 >> 50
# keeps candidate counts tiny while leaving headroom to lower HH_PHI.
HH_PHI = 0.02
HH_SKETCH_K = 256


def _mg_sketch_partitions(toks: DataFrame, k: int = HH_SKETCH_K) -> DataFrame:
    """Per-partition Misra–Gries heavy-hitter CANDIDATES over a single
    ``tok`` column (Misra & Gries 1982; batched compress à la Manku &
    Motwani lossy counting): bounded state of at most ``k`` counters per
    partition, merged per Arrow batch with exact value_counts, compressed
    by subtracting the (k+1)-th largest count and dropping non-positives.

    Guarantee (what makes the downstream EXACT recount lossless): each
    compress subtracts its offset c* from at least k+1 distinct tokens
    (the k survivors plus the (k+1)-th itself), so the total subtracted
    per token is <= n_p/(k+1) where n_p is the partition's token count. A
    token with partition frequency > n_p/(k+1) therefore survives with a
    positive counter. Globally: share >= phi > 1/(k+1) implies frequency
    > n_p/(k+1) in at least one partition (else summing the per-partition
    bounds caps the global count at N/(k+1) < phi*N), so every true heavy
    hitter appears in some partition's survivor set. False positives are
    fine — the exact recount removes them.
    """
    import pandas as pd

    def sketch(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok, n in pdf["tok"].value_counts().items():
                counters[tok] = counters.get(tok, 0) + int(n)
            if len(counters) > k:
                offset = sorted(counters.values(), reverse=True)[k]
                counters = {
                    t: c - offset for t, c in counters.items() if c > offset
                }
        if counters:
            yield pd.DataFrame(
                {"tok": list(counters), "cnt": list(counters.values())}
            )

    # cnt is the partition-local residual counter (an UNDERestimate of the
    # partition frequency by <= n_p/(k+1)); x_heavy_hitters ignores it, the
    # streaming fold (mg_merge_state) sums it into the maintained state
    return toks.mapInPandas(sketch, schema="tok string, cnt long")


@query(
    "x_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                t -> t <> '')) AS tok
      FROM documents
    ), tot AS (SELECT COUNT(*) AS n_total FROM toks)
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS n_occ,
           round(COUNT(*) * 1.0 / (SELECT n_total FROM tot), 4) AS share
    FROM toks
    GROUP BY tok
    HAVING COUNT(*) * 1.0 / (SELECT n_total FROM tot) >= {HH_PHI}
    """,
)
def x_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4e: EXACT corpus heavy hitters (tokens with occurrence share >=
    HH_PHI) via sketch-then-verify — the same two-phase discipline as
    x_dedup_verified: an approximate structure prunes the search space
    with a no-false-negative guarantee, then an exact pass makes the
    result provably correct.

    Why not just x_token_freq's groupBy? That shuffle (and its partial-agg
    hash map) is VOCABULARY-sized — fine for a 31-type toy corpus, a
    problem for web-scale corpora where distinct token count grows with
    corpus size (Heaps' law: billions of types at 100 TB, most of them
    singletons that can never be heavy). Here:

    - pass 1: per-partition Misra–Gries sketch (mapInPandas, bounded at
      HH_SKETCH_K counters per partition regardless of vocabulary) emits
      <= k * numPartitions candidate tokens — provably a superset of the
      true heavy hitters (see _mg_sketch_partitions).
    - pass 2: exact recount of ONLY the candidates — broadcast semi-join
      against the candidate set, so the shuffle is candidate-sized, not
      vocabulary-sized; singletons die map-side at the join.
    - the denominator (total token count) comes from sum(size(tokens))
      per document — no second explode — and rides in as a broadcast
      1-row scalar (same scalar-BNLJ shape the plan guard allows for
      x_tfidf).

    Two corpus scans total (sketch + recount), each map-side until a
    candidate-sized shuffle: the streaming-friendly tradeoff every
    production heavy-hitter job makes. Output is EXACT (the sketch only
    ever prunes), hence the SQL oracle.
    """
    d = table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokens_col(F.col("text"))).alias("tok"))
    cand = _mg_sketch_partitions(toks).select("tok").dropDuplicates(["tok"])
    total = d.select(
        F.sum(F.size(tokens_col(F.col("text")))).alias("n_total")
    )
    counts = (
        toks.join(F.broadcast(cand), "tok")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_occ"))
    )
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n_occ") >= F.lit(HH_PHI) * F.col("n_total"))
        .select(
            "tok",
            "n_occ",
            F.round(F.col("n_occ") / F.col("n_total"), 4).alias("share"),
        )
    )


# ---------------------------------------------------------------------------
# Continuous heavy hitters (St15): the streaming twin of x_heavy_hitters.
# A maintained Misra–Gries state (<= HH_SKETCH_K counter rows + one total
# row) folded batch-by-batch — the "mergeable summaries" MG merge
# (Agarwal et al., PODS 2012, public): sum same-token counters, then
# subtract the (k+1)-th largest count and drop non-positives. Unlike the
# HLL register max, this fold is NOT idempotent (a replayed batch would
# double-count), so the streaming job screens replays with the snapshot
# txn marker BEFORE folding (snapshots.snapshot_rmw txn) — the asymmetry
# that distinguishes the two sketch families.
# ---------------------------------------------------------------------------

# reserved token that accumulates the EXACT total occurrence count (the
# heavy-hitter denominator); excluded from compression — \x00 cannot
# appear in a whitespace-split token
MG_TOTAL = "\x00__total__"


def mg_batch_partial(toks: DataFrame, k: int = HH_SKETCH_K) -> DataFrame:
    """One micro-batch's contribution to the maintained MG state: the
    per-partition sketch rows (bounded at k counters per partition) plus
    the exact batch total under the reserved token. Map-side except the
    1-row total aggregate."""
    return _mg_sketch_partitions(toks, k).unionByName(
        toks.agg(
            F.lit(MG_TOTAL).alias("tok"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
    )


def mg_merge_state(
    state: DataFrame, partial: DataFrame, k: int = HH_SKETCH_K
) -> DataFrame:
    """Fold one batch partial into the maintained state: sum same-token
    counters, then ONE compress — when more than k counters survive,
    subtract the (k+1)-th largest and drop non-positives. The compress
    subtracts its offset from >= k+1 distinct tokens, so across the whole
    stream the total undercount per token stays <= N/(k+1) (the mergeable
    MG bound) — any token with true share > 1/(k+1) is always present.
    The shuffle carries <= k + k*batch_partitions rows; the total row
    bypasses compression. Deterministic: which counters survive depends
    only on counts, never on row order."""
    merged = (
        state.unionByName(partial)
        .groupBy("tok")
        .agg(F.sum("cnt").alias("cnt"))
    )
    counters = merged.filter(F.col("tok") != MG_TOTAL)
    total = merged.filter(F.col("tok") == MG_TOTAL)
    # (k+1)-th largest counter as a broadcast scalar; 0 when <= k survive
    kth = counters.orderBy(F.col("cnt").desc(), "tok").limit(k + 1)
    off = kth.agg(
        F.count(F.lit(1)).alias("__n"), F.min("cnt").alias("__kth")
    )
    offset = F.when(F.col("__n") > k, F.col("__kth")).otherwise(F.lit(0))
    compressed = (
        counters.crossJoin(F.broadcast(off))
        .select("tok", (F.col("cnt") - offset).alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    return compressed.unionByName(total)


def mg_heavy_hitters(
    state: DataFrame, phi: float = HH_PHI, k: int = HH_SKETCH_K
) -> DataFrame:
    """Read side over the maintained state: every token whose TRUE share
    could reach phi — counters underestimate by <= N/(k+1), so the
    threshold is cnt >= (phi - 1/(k+1)) * N. Output (tok, cnt_min,
    share_min) is a guaranteed SUPERSET of the true phi-heavy tokens
    (the no-false-negative half of x_heavy_hitters' contract; the exact
    recount half needs the corpus, which a stream no longer has)."""
    # the total as a GLOBAL aggregate (not a filtered row): the broadcast
    # attach is then the scalar-subquery BNLJ shape the plan guard can
    # prove is O(n) — a filter-to-one-row build side is 1 row by data, not
    # by plan structure, and would be flagged as a quadratic hazard
    total = state.agg(
        F.max(
            F.when(F.col("tok") == MG_TOTAL, F.col("cnt"))
        ).alias("n_total")
    )
    thresh = F.lit(phi - 1.0 / (k + 1)) * F.col("n_total")
    return (
        state.filter(F.col("tok") != MG_TOTAL)
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") >= thresh)
        .select(
            "tok",
            F.col("cnt").alias("cnt_min"),
            F.round(F.col("cnt") / F.col("n_total"), 4).alias("share_min"),
        )
    )


@query("st_heavy_hitters")  # rows-only: the MG fold (bounded-state counter
#                             compression) is not ANSI-SQL-expressible;
#                             superset-of-exact + stream==fold parity are
#                             pinned in tests/test_sketches.py
def st_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous heavy hitters, batch-fold twin: split documents into 4
    deterministic micro-batches (pmod(doc_id, 4) — the arrival-order
    simulation the streaming parity test replays), fold each through
    mg_merge_state exactly as streaming_heavy_hitters does per trigger,
    and read the survivors out with mg_heavy_hitters. This IS the query a
    dashboard runs against the maintained state table; the streaming job
    (streaming/jobs.py streaming_heavy_hitters) must land bit-identical
    state on the same batches (pinned by test)."""
    d = table(spark, sf_dir, "documents").select("doc_id", "text")
    state = None
    for b in range(4):
        toks = d.filter(F.pmod("doc_id", F.lit(4)) == b).select(
            F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        partial = mg_batch_partial(toks)
        # batch 0 folds through mg_merge_state from an EMPTY state, exactly
        # like the streaming job (seed empty, then fold) — taking the raw
        # partial as the initial state would skip batch 0's compress and
        # break the pinned bit-parity whenever the first batch arrives in
        # enough partitions to exceed k counters (round-7 review finding)
        state = mg_merge_state(
            partial.limit(0) if state is None else state, partial
        )
        # materialize each fold (the connected_components driver-loop
        # exception: 4 rounds, state <= k+1 rows) — lazy chaining would
        # compound the plan ~3x per fold (state feeds the merge, the
        # offset top-k, AND the total split), re-scanning documents ~3^4
        # times in the final plan; the streaming twin gets the same
        # truncation for free from the snapshot state table
        state = state.localCheckpoint(eager=True)
    return mg_heavy_hitters(state).orderBy("tok")
