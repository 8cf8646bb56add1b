"""Statistical language-model scoring over the `documents` table
(SURVEY.md §2.11 D17/D18): corpus unigram LM → per-document mean token
log-probability (the CCNet / Wenzek et al. 2020 quality-scoring family,
with the KenLM swapped for the corpus's own unigram model), and TF-IDF
term ranking per document.

Both operators share the whitespace token definition of text.py
(``tokens_col``) and both are two-aggregate + one-join pipelines whose
shuffle volume is VOCABULARY-sized, not corpus-sized: per-doc term counts
partial-aggregate map-side, the term-statistics table (unigram counts /
document frequencies) is tiny relative to the corpus, and the final score
join is a plain equi-join on the token that AQE will broadcast whenever
the vocabulary fits (at 100 TB a natural-language vocabulary is still
millions of rows — megabytes — so the broadcast holds).

Reference scope: the reference has no LM scoring (it is an imaging
database); these are north-star training-data-pipeline operators, same
family as text.py's quality/repetition filters.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from imagingdb_spark.catalog import eager_checkpoint, table, values_df
from imagingdb_spark.operators.text import py_tokens, tokens_col
from imagingdb_spark.registry import query


def doc_tok_counts_arrow(d: DataFrame, cols: list[str]) -> DataFrame:
    """(cols..., tok, c): per-document term counts computed MAP-SIDE in
    ONE Arrow pass — no (doc, tok) exchange at all (r12, guide §2.4/§4.2).

    The explode+groupBy shape this replaces re-keys every per-doc-distinct
    token row by (doc, tok) hash even though each document's tokens are
    already co-located in its own row — the exchange exists only because
    Catalyst cannot see that locality. Counting inside an Arrow batch
    keeps it: the output rows for one document are contiguous in their
    task's partition, so a downstream per-doc aggregate (the score
    passes) partial-aggregates to ONE row per document before its
    exchange, and the vocabulary aggregate still map-side-combines as
    before. Two corpus-scale exchanges become one doc-count-sized one.

    Tokenization parity: ``text.py_tokens``, the Python form of
    ``tokens_col`` (ASCII-whitespace split, empties dropped), which the
    dedup family's Arrow pass uses too; tests/test_tokenizer_parity.py
    pins the two equal. Counter iteration order is first occurrence —
    deterministic.

    Same parallelism guard as dedup.shingle_frame: a small parquet's
    2-split scan would serialize the Python pass, so under-split local
    inputs are repartitioned first (a no-op at cluster scale where the
    scan already has thousands of splits)."""
    from pyspark.sql import types as T

    npart = d.sparkSession.sparkContext.defaultParallelism
    src = d.select(*cols, "text")
    if src.rdd.getNumPartitions() < npart:
        src = src.repartition(npart)
    schema = T.StructType(
        [src.schema[c] for c in cols]
        + [
            T.StructField("tok", T.StringType()),
            T.StructField("c", T.LongType()),
        ]
    )

    def gen(batches):
        from collections import Counter

        for pdf in batches:
            counters = [Counter(py_tokens(t)) for t in pdf["text"]]
            lens = np.fromiter(
                (len(c) for c in counters), dtype=np.int64, count=len(counters)
            )
            idx = np.repeat(np.arange(len(counters)), lens)
            out = pdf[cols].iloc[idx].reset_index(drop=True)
            out["tok"] = [k for c in counters for k in c.keys()]
            out["c"] = np.fromiter(
                (v for c in counters for v in c.values()),
                dtype=np.int64,
                count=int(lens.sum()),
            )
            yield out

    return src.mapInPandas(gen, schema)


def doc_term_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tok, c): per-document term counts — the shared first stage,
    returned PERSISTED because both consumers feed multiple aggregates off
    it (Spark has no automatic subplan sharing; without the persist each
    aggregate re-scans and re-explodes the whole corpus — 3 corpus passes
    instead of 1 at 100 TB). Callers running many queries in one session
    must spark.catalog.clearCache() between queries (bench.py and
    tools/selfcheck.py already do — same contract as dedup.py's shingle
    table). explode happens map-side; the groupBy partial-aggregates
    before the shuffle, so shuffle rows = Σ per-doc distinct terms.

    The persist is LAZY: every caller immediately runs one driver-side
    scalar collect off this frame (corpus totals — see the callers), and
    that single job materializes the cache before any concurrent AQE
    stage jobs hang off it. Without that discipline the lazily persisted
    cache is raced — each concurrent stage job recomputes the unbuilt
    partitions itself (round-11 event log: the documents parquet scanned
    ~6x inside one x_tfidf execution)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )


def attach_scalar(df: DataFrame, scalar: DataFrame) -> DataFrame:
    """Attach a 1-row aggregate to every row of ``df`` via a broadcast.

    Written as an equi-join on a literal key, but Catalyst constant-folds
    the key away and the physical plan is a BroadcastNestedLoopJoin with a
    1-row build side (see tools/plans/x_tfidf.txt, x_unigram_logprob.txt)
    — identical cost to a broadcast hash join here, since the build side
    is a single row. explain_audit's ``_bnlj_all_scalar`` allowlists
    exactly this shape; a bare ``crossJoin`` would produce the same plan."""
    k = "__one"
    return df.withColumn(k, F.lit(1)).join(
        F.broadcast(scalar.withColumn(k, F.lit(1))), k
    ).drop(k)


@query(
    "x_unigram_logprob",
    oracle="""
    WITH dt AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
      )
      GROUP BY doc_id, tok
    ), v AS (
      SELECT tok, CAST(SUM(c) AS BIGINT) AS cnt FROM dt GROUP BY tok
    ), tot AS (
      SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM v
    )
    SELECT dt.doc_id,
           CAST(SUM(dt.c) AS BIGINT) AS n_tokens,
           round(SUM(dt.c * ln(v.cnt / tot.total)) / SUM(dt.c), 4) + 0.0
             AS avg_logprob
    FROM dt JOIN v USING (tok) CROSS JOIN tot
    GROUP BY dt.doc_id
    """,
)
def x_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean token log-probability under the corpus's own
    unigram LM — the CCNet-style perplexity quality signal (docs with very
    low mean logprob are gibberish/boilerplate outliers; Wenzek et al.
    2020, public). Deterministic and oracle-exact: ln(cnt/total) is the
    same double on both engines, and the per-doc weighted mean is rounded
    to 4 decimals.

    Plan shape: ONE corpus pass — the persisted per-doc term-count table
    feeds the vocabulary aggregate, the total-token scalar, and the score
    join, so the corpus parquet is scanned exactly once. The total-token
    scalar is COLLECTED at build time (one driver round-trip whose job
    doubles as the cache materialization — round 11; it used to ride a
    scalar broadcast join, which cost an extra aggregate subquery job and
    raced the lazy cache) and injected as a literal; the score join is a
    tok-equi-join (AQE broadcasts the vocab side when it fits). No global
    sort, no window."""
    dt = doc_term_counts(spark, sf_dir)
    v = dt.groupBy("tok").agg(F.sum("c").alias("cnt"))
    # exact integer sum -> cast double: same value the old scalar subquery
    # computed; .first() also materializes dt's cache (see doc_term_counts)
    total = float(dt.agg(F.sum("c")).first()[0])
    return (
        dt.join(v, "tok")
        .withColumn("total", F.lit(total))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            (
                F.round(
                    F.sum(F.col("c") * F.log(F.col("cnt") / F.col("total")))
                    / F.sum("c"),
                    4,
                )
                + 0.0
            ).alias("avg_logprob"),
        )
    )


TFIDF_TOP_K = 3


@query(
    "x_tfidf",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
      )
      GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, CAST(SUM(c) AS DOUBLE) AS n_tok FROM dt GROUP BY doc_id
    ), df AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM dt GROUP BY tok
    ), n AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM dl
    ), scored AS (
      SELECT dt.doc_id, dt.tok,
             (dt.c / dl.n_tok) * ln(n.n_docs / df.df) AS score
      FROM dt JOIN dl USING (doc_id) JOIN df USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, CAST(rk AS INT) AS rk,
           round(score, 4) + 0.0 AS tfidf
    FROM (
      SELECT doc_id, tok, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, tok ASC) AS rk
      FROM scored
    )
    WHERE rk <= {TFIDF_TOP_K}
    """,
)
def x_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TFIDF_TOP_K} TF-IDF terms per document — the classic
    keyword-extraction / retrieval-indexing op. tf = c / doc_len,
    idf = ln(N / df). The rank is computed on the RAW double (identical
    arithmetic both engines — ties are structural, i.e. same (c, len, df),
    so the `tok ASC` tiebreak resolves them identically); rounding to 4
    decimals happens only in the projection.

    Plan shape: ONE corpus pass (the persisted term-count table) and ONE
    full-width exchange. Document frequency is a vocabulary-sized
    ``groupBy(tok)`` aggregate (map-side partial combine → the shuffle
    carries one row per (partition, term), not one per posting) joined
    back by broadcast — the full term table is never re-shuffled by tok.
    Doc length rides a WINDOW on doc_id, and the top-k row_number window
    REUSES that doc_id partitioning (same key → no extra exchange, just
    the in-partition sort). The doc-count scalar rides a constant-key
    broadcast hash join. Never a global sort. (An earlier revision
    computed df as a window over tok — correct, but it re-shuffled every
    posting row by term; at 100 TB that's a corpus-sized exchange where
    the aggregate+broadcast shape moves only vocabulary-sized data.)"""
    dt = doc_term_counts(spark, sf_dir)
    # collected at build time: the one driver round-trip doubles as the
    # cache materialization (r11 — was a countDistinct broadcast subquery:
    # an extra doc_id-distinct exchange + BNLJ at exec, and a cache race)
    n_docs = float(dt.agg(F.countDistinct("doc_id")).first()[0])
    df_tab = dt.groupBy("tok").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    w_doc = Window.partitionBy("doc_id")
    scored = (
        dt.join(F.broadcast(df_tab), "tok")
        .withColumn("n_tok", F.sum("c").over(w_doc).cast("double"))
        .select(
            "doc_id",
            "tok",
            (
                (F.col("c") / F.col("n_tok"))
                * F.log(F.lit(n_docs) / F.col("df"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("tok").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TFIDF_TOP_K)
        .select(
            "doc_id",
            "tok",
            F.col("rk").cast("int").alias("rk"),
            (F.round("score", 4) + 0.0).alias("tfidf"),
        )
    )


BM25_K1 = 1.2
BM25_B = 0.75
# Fixed query terms (deterministic): common corpus tokens with distinct
# document frequencies, so the idf weights actually differ.
BM25_QUERY = ["join", "filter", "scan"]


@query(
    "x_bm25",
    oracle=f"""
    WITH dt AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
      )
      GROUP BY doc_id, tok
    ), dl AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS dl FROM dt GROUP BY doc_id
    ), s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(dl) AS DOUBLE) AS tot
      FROM dl
    ), q AS (
      SELECT doc_id, tok, c FROM dt
      WHERE tok IN ('join', 'filter', 'scan')
    ), df AS (
      SELECT tok, CAST(COUNT(*) AS DOUBLE) AS df FROM q GROUP BY tok
    )
    SELECT q.doc_id,
           round(SUM(
             ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
             * (q.c * ({BM25_K1} + 1))
             / (q.c + {BM25_K1} * (1 - {BM25_B}
                                   + {BM25_B} * dl.dl / (s.tot / s.n_docs)))
           ), 4) + 0.0 AS bm25,
           CAST(COUNT(*) AS INT) AS n_terms
    FROM q JOIN df USING (tok) JOIN dl USING (doc_id) CROSS JOIN s
    GROUP BY q.doc_id
    """,
)
def x_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document scoring for a fixed query-term set — the
    retrieval-ranking sibling of x_tfidf (Robertson & Zaragoza 2009,
    public; the idf uses Lucene's +1 variant so scores stay positive).
    Only docs containing at least one query term appear (join semantics,
    same on both engines).

    Determinism: doc length and total-token count are integer-exact sums,
    so avgdl = tot/n_docs is the same double on both engines; per-doc
    contributions are summed over at most len(BM25_QUERY) terms and
    rounded to 4 decimals.

    Plan shape: ONE corpus pass (the shared persisted term-count table);
    the query-term filter cuts dt to a tiny frame BEFORE any join, the
    per-term df aggregate is query-sized and broadcast, the (n_docs, tot)
    scalar rides the constant-key broadcast, and the doc-length join is
    doc_id-keyed (AQE broadcasts the filtered side when it fits). At
    100 TB the expensive side is dt itself, which the pipeline already
    shares across all lm.py scorers."""
    dt = doc_term_counts(spark, sf_dir)
    dl = dt.groupBy("doc_id").agg(F.sum("c").alias("dl"))
    # (n_docs, tot) collected at build time — the job doubles as the dt
    # cache materialization (r11; was a constant-key broadcast subquery)
    n_docs_i, tot_i = dl.agg(
        F.count(F.lit(1)), F.sum("dl")
    ).first()
    n_docs, tot = float(n_docs_i), float(tot_i)
    q = dt.filter(F.col("tok").isin(BM25_QUERY))
    df_ = q.groupBy("tok").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = q.join(F.broadcast(df_), "tok").join(dl, "doc_id")
    idf = F.log(
        (F.lit(n_docs) - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
    )
    denom = F.col("c") + BM25_K1 * (
        1 - BM25_B + BM25_B * F.col("dl") / (F.lit(tot) / F.lit(n_docs))
    )
    contrib = idf * (F.col("c") * (BM25_K1 + 1)) / denom
    return scored.groupBy("doc_id").agg(
        (F.round(F.sum(contrib), 4) + 0.0).alias("bm25"),
        F.count(F.lit(1)).cast("int").alias("n_terms"),
    )


PMI_TOP_TERMS = 20
PMI_MIN_CODOCS = 5


@query(
    "x_cooccur_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok
      FROM (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
      )
    ), dfreq AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), top AS (
      SELECT tok, c FROM (
        SELECT tok, c,
               row_number() OVER (ORDER BY c DESC, tok ASC) AS rk
        FROM dfreq
      ) WHERE rk <= {PMI_TOP_TERMS}
    ), inc AS (
      SELECT t.doc_id, t.tok, p.c FROM toks t JOIN top p USING (tok)
    ), n AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM toks
    ), pairs AS (
      SELECT a.tok AS tok_a, b.tok AS tok_b, a.c AS ca, b.c AS cb,
             COUNT(*) AS cab
      FROM inc a JOIN inc b
        ON a.doc_id = b.doc_id AND a.tok < b.tok
      GROUP BY 1, 2, 3, 4
    )
    SELECT tok_a, tok_b, CAST(cab AS BIGINT) AS co_docs,
           round(ln(cab * n.n_docs / (ca * cb)), 4) + 0.0 AS pmi
    FROM pairs CROSS JOIN n
    WHERE cab >= {PMI_MIN_CODOCS}
    """,
)
def x_cooccur_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-level co-occurrence PMI over the corpus's top-{PMI_TOP_TERMS}
    terms (Church & Hanks 1990, public) — the collocation / topic-signal
    profiling op. PMI = ln(c_ab · N / (c_a · c_b)) on document incidence.

    Determinism: top-term selection orders by (count DESC, tok ASC) —
    integer counts, structural ties — and all PMI inputs are integer
    counts, so the double arithmetic is identical on both engines;
    rounded to 4 decimals.

    Scale shape: the quadratic self-join is BOUNDED BY CONSTRUCTION — the
    incidence table is filtered to the top-K broadcast term set before
    the join, so each doc contributes at most K(K-1)/2 pairs and the
    join is a doc_id-keyed equi-join with a tok inequality residual
    (never a cross join). dfreq is a vocabulary-sized aggregate; the
    doc-count scalar rides the constant-key broadcast. One corpus pass
    via the shared persisted term-count table."""
    # doc_term_counts is keyed by (doc_id, tok) — already the incidence
    # set; a .distinct() here would re-shuffle the whole table for nothing
    dt = doc_term_counts(spark, sf_dir).select("doc_id", "tok")
    dfreq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    # top-K via orderBy().limit() → TakeOrderedAndProject (per-partition
    # heaps), never a global single-task window — the vocabulary is
    # millions of rows at 100 TB
    top = dfreq.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(
        PMI_TOP_TERMS
    )
    inc = dt.join(F.broadcast(top), "tok")
    n = dt.agg(F.countDistinct("doc_id").cast("double").alias("n_docs"))
    a = inc.select(
        "doc_id", F.col("tok").alias("tok_a"), F.col("c").alias("ca")
    )
    b = inc.select(
        "doc_id", F.col("tok").alias("tok_b"), F.col("c").alias("cb")
    )
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b", "ca", "cb")
        .agg(F.count(F.lit(1)).alias("cab"))
        .filter(F.col("cab") >= PMI_MIN_CODOCS)
    )
    return attach_scalar(pairs, n).select(
        "tok_a",
        "tok_b",
        F.col("cab").cast("bigint").alias("co_docs"),
        (
            F.round(
                F.log(F.col("cab") * F.col("n_docs") / (F.col("ca") * F.col("cb"))),
                4,
            )
            + 0.0
        ).alias("pmi"),
    )


@query(
    "x_bigram_logprob",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), bg AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                                   i -> t[i] || ' ' || t[i+1])) AS big
      FROM t WHERE len(t) >= 2
    ), db AS (
      SELECT doc_id, big, COUNT(*) AS c FROM bg GROUP BY doc_id, big
    ), cb AS (
      SELECT big, CAST(SUM(c) AS BIGINT) AS cb FROM db GROUP BY big
    ), cf AS (
      SELECT split_part(big, ' ', 1) AS w1, CAST(SUM(cb) AS BIGINT) AS cf
      FROM cb GROUP BY 1
    )
    SELECT db.doc_id,
           CAST(SUM(db.c) AS BIGINT) AS n_bigrams,
           round(SUM(db.c * ln(cb.cb * 1.0 / cf.cf)) / SUM(db.c), 4) + 0.0
             AS avg_logprob
    FROM db
    JOIN cb USING (big)
    JOIN cf ON split_part(db.big, ' ', 1) = cf.w1
    GROUP BY db.doc_id
    """,
)
def x_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    bigram LM — the order-2 upgrade of x_unigram_logprob (the CCNet
    quality-signal family; an MLE bigram model, P(w_i | w_{i-1}) =
    c(w_{i-1} w_i) / c(w_{i-1}·)). Context counts derive from the bigram
    table itself (sum over continuations), so both engines use the same
    integer counts and ln(cb/cf) is the same double; per-doc weighted
    mean rounded to 4 decimals. Single-token docs are excluded on both
    sides (no bigram to score).

    Scale shape: bigram construction is a map-side array transform over
    the token array (0 exchanges, same family as x_chunk_docs —
    repartitioned first for local single-file layouts); then the unigram
    pipeline's shape at bigram granularity: per-doc counts
    partial-aggregate before the shuffle, the bigram-vocabulary table cb
    and its context marginal cf are vocabulary-sized, and the score join
    is big-keyed (AQE broadcasts when it fits)."""
    d = table(spark, sf_dir, "documents")
    npart = spark.sparkContext.defaultParallelism
    toks = (
        d.select("doc_id", "text")
        .repartition(npart)
        .select("doc_id", tokens_col(F.col("text")).alias("t"))
        .filter(F.size("t") >= 2)
    )
    bigs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> concat(t[i-1], ' ', t[i]))"
            )
        ).alias("big"),
    )
    db = bigs.groupBy("doc_id", "big").agg(F.count(F.lit(1)).alias("c"))
    cb = db.groupBy("big").agg(F.sum("c").alias("cb"))
    cf = (
        cb.withColumn("w1", F.split(F.col("big"), " ").getItem(0))
        .groupBy("w1")
        .agg(F.sum("cb").alias("cf"))
    )
    scored = db.join(cb, "big").withColumn(
        "w1", F.split(F.col("big"), " ").getItem(0)
    ).join(cf, "w1")
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        (
            F.round(
                F.sum(F.col("c") * F.log(F.col("cb") * 1.0 / F.col("cf")))
                / F.sum("c"),
                4,
            )
            + 0.0
        ).alias("avg_logprob"),
    )


@query(
    "x_inverted_index",
    oracle="""
    WITH posting AS (
      SELECT DISTINCT doc_id, unnest(
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        SELECT doc_id, unnest(
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '')) AS term
        FROM documents
      ) GROUP BY doc_id, term
    )
    SELECT term,
           CAST(count(*) AS BIGINT) AS df,
           CAST(sum(tf) AS BIGINT) AS cf,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id),
                           ',') AS postings
    FROM tf
    GROUP BY term
    """,
)
def x_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the inverted index: term → document frequency, collection
    frequency, and the sorted posting list of doc_ids — the data
    structure x_bm25's scoring presupposes, materialized as a table. A
    retrieval system over a 100 TB corpus IS this table partitioned by
    term; emitting it from the same engine that cleans the corpus removes
    a whole export/import hop.

    Scale shape: one tokenize+explode pass (map-side), one
    (doc_id, term)-keyed partial-agg groupBy for tf, then the term-keyed
    groupBy that builds postings. The posting ARRAY per term is the one
    scale hazard — a stopword's posting list is corpus-sized. Real
    deployments shard exactly there: posting lists above a block size
    split into (term, block_idx) rows of bounded arrays; the query-time
    reader concatenates. That layout is implemented as
    ``inverted_index_sharded`` below (hash-blocked, window-free, unit
    test pins a planted-stopword size bound); this registered demo keeps
    the single-row-per-term shape because the demo vocabulary is tiny and
    the driver oracle wants one row per term."""
    d = table(spark, sf_dir, "documents")
    npart = spark.sparkContext.defaultParallelism
    tf = (
        d.select("doc_id", "text")
        .repartition(npart)
        .select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
        # Serialized (comma-joined) rather than ArrayType: the driver's
        # canonicalizer sorts output columns through pandas, which cannot
        # factorize list values — a string posting list hashes identically
        # on both engines and is the on-disk shape a sharded index stores
        # anyway (CORRECTNESS_r04 fix).
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )


POSTING_BLOCK = 1024  # target posting-list rows per (term, block) shard


def inverted_index_sharded(
    docs: DataFrame, block_size: int = POSTING_BLOCK
) -> DataFrame:
    """Sharded inverted index: ``(term, block_idx, df, cf, postings)``
    with every posting array bounded to ~``block_size`` entries — the
    production layout x_inverted_index's docstring describes, as code.

    A stopword's posting list is corpus-sized, so a single
    ``collect_list`` per term is the canonical scale-killer (one reducer
    row holding hundreds of millions of doc_ids). The standard fix is the
    doc-partitioned index: split each term's postings into
    ``ceil(df / block_size)`` blocks keyed by a hash of doc_id, so the
    stopword's list becomes many bounded reducer keys instead of one
    unbounded one. No window function is involved anywhere (a
    rank-within-term window would funnel the stopword through one task —
    the exact skew being avoided), and the block count comes from the
    vocabulary-sized df aggregate joined back via broadcast.

    Postings are sorted WITHIN each block; a query-time reader
    concatenates a term's blocks and merges (the across-block order is
    hash-interleaved, as in any doc-partitioned index). Hash blocking
    gives binomial block sizes concentrated at ``block_size`` — the unit
    test pins a planted-stopword bound at 2×."""
    tf = (
        docs.select("doc_id", F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df"),
        F.sum("tf").cast("bigint").alias("cf"),
    )
    with_blocks = tf.join(F.broadcast(stats), "term").withColumn(
        "n_blocks", F.greatest(F.lit(1), F.ceil(F.col("df") / F.lit(block_size)))
    )
    return (
        with_blocks.withColumn(
            "block_idx", F.pmod(F.xxhash64("doc_id"), F.col("n_blocks"))
        )
        .groupBy("term", "block_idx")
        .agg(
            F.first("df").alias("df"),
            F.first("cf").alias("cf"),
            F.sort_array(F.collect_list("doc_id")).alias("postings"),
        )
    )


VOCAB_SIZE = 20   # top-V terms by collection frequency become ids 0..V-1
OOV_BUCKETS = 8   # out-of-vocab terms hash into ids V..V+B-1


@query(
    "x_token_ids",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks
      WHERE len(t) > 0
    ), flat AS (
      SELECT doc_id, i, t[i + 1] AS term FROM pos
    ), vocab AS (
      SELECT term,
             CAST(row_number() OVER (ORDER BY cf DESC, term) - 1 AS BIGINT)
               AS token_id
      FROM (SELECT term, count(*) AS cf FROM flat GROUP BY term)
      QUALIFY row_number() OVER (ORDER BY cf DESC, term) <= {VOCAB_SIZE}
    )
    SELECT f.doc_id,
           array_to_string(
             list(CAST(COALESCE(v.token_id,
                                {VOCAB_SIZE}
                                  + ascii(substr(md5(f.term), 1, 1))
                                  % {OOV_BUCKETS}) AS VARCHAR)
                  ORDER BY f.i), ',') AS ids,
           CAST(count(*) FILTER (WHERE v.term IS NULL) AS BIGINT) AS n_oov
    FROM flat f LEFT JOIN vocab v USING (term)
    GROUP BY f.doc_id
    """,
)
def x_token_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize to ids (the numericalization step before training): the
    vocabulary is the top-{VOCAB_SIZE} terms by collection frequency
    (deterministic tiebreak by term), out-of-vocab terms hash into
    {OOV_BUCKETS} overflow buckets (feature hashing — content-addressed
    via md5 so both engines agree), and each document becomes its ordered
    id sequence plus an OOV audit count.

    Scale shape (r12, guide §1.2/§2.4): the vocabulary is bounded at
    {VOCAB_SIZE} rows BY CONSTRUCTION, so it is collected once at build
    time (one tokenize+count pass ending in a distributed top-k —
    TakeOrderedAndProject over per-partition heaps, vocabulary-sized
    shuffle) and inlined as a literal map. The id sequence is then a
    PURE MAP-SIDE projection over the token array — no posexplode, no
    broadcast join, and no doc_id-keyed shuffle of the corpus-scale
    token stream (the r11 scaling block flagged that shuffle: 8c/32c
    ratio 0.40 — the reassembly exchange was all scheduling floor). At
    100 TB: identical — the vocab is still {VOCAB_SIZE} rows, and the
    scoring pass is embarrassingly parallel over file splits. Token
    order is the array's own order, the same order posexplode
    enumerated. (An earlier revision ranked the FULL distinct-term
    table with Window.orderBy — billions of terms through one task at
    web scale; the bounded top-k collect keeps that fix.)"""
    d = table(spark, sf_dir, "documents")
    # ONE driver round trip for the <= VOCAB_SIZE (term, cf) rows; runs
    # inside the bench's timed region (build-time work is billed to the
    # query, same discipline as x_tfidf's scalar collect, r11).
    vocab_rows = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cf"))
        .orderBy(F.desc("cf"), "term")
        .limit(VOCAB_SIZE)
        .collect()
    )
    # exact integer counts + total (cf desc, term asc) order => the same
    # token_id assignment the old coalesce(1)+monotonic id produced
    vocab_rows.sort(key=lambda r: (-r["cf"], r["term"]))
    pairs: list = []
    for tid, r in enumerate(vocab_rows):
        pairs += [F.lit(r["term"]), F.lit(tid)]
    # GetMapValue (map[key]) returns NULL for a missing key — even under
    # ANSI (SPARK-40066) — which is exactly the left-join semantics the
    # old broadcast lookup had. An empty corpus has no vocab: every
    # token is OOV (vacuously; there are no tokens either).
    def _in_vocab(t: Column) -> Column:
        if not pairs:
            return F.lit(None).cast("bigint")
        return F.create_map(*pairs)[t].cast("bigint")

    def _id(t: Column) -> Column:
        oov = VOCAB_SIZE + F.ascii(F.substring(F.md5(t), 1, 1)) % OOV_BUCKETS
        return F.coalesce(_in_vocab(t), oov.cast("bigint"))

    toks = d.select("doc_id", tokens_col(F.col("text")).alias("t")).filter(
        F.size("t") > 0  # posexplode emitted nothing for token-less docs
    )
    return toks.select(
        "doc_id",
        # Comma-joined string, not ArrayType: the driver's canonicalizer
        # cannot hash list cells (CORRECTNESS_r04 fix); a serialized id
        # sequence is also what a tokenized shard file stores.
        F.array_join(
            F.transform("t", lambda x: _id(x).cast("string")), ","
        ).alias("ids"),
        F.size(F.filter("t", lambda x: _in_vocab(x).isNull()))
        .cast("bigint")
        .alias("n_oov"),
    )


BPE_MERGES = 20  # merge-table size for the demo corpus


def _bpe_apply_merge(a: str, b: str):
    """Pandas generator: greedy left-to-right non-overlapping replacement
    of adjacent (a, b) symbol pairs with the merged symbol a+b — the
    textbook BPE apply step, vectorized per Arrow batch."""
    merged = a + b

    def gen(batches):
        for pdf in batches:
            out_syms = []
            for syms in pdf["syms"]:
                res = []
                i, n = 0, len(syms)
                while i < n:
                    if i + 1 < n and syms[i] == a and syms[i + 1] == b:
                        res.append(merged)
                        i += 2
                    else:
                        res.append(syms[i])
                        i += 1
                out_syms.append(res)
            pdf = pdf.copy()
            pdf["syms"] = out_syms
            yield pdf

    return gen


@query("x_bpe_train")  # rows-only: N-round iterative training, not ANSI SQL
def x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE merge-table training (Sennrich et al. 2016,
    public): learn the top-{BPE_MERGES} byte-pair merges of the corpus —
    the actual tokenizer-TRAINING step that x_token_bpe's regex
    tokenizer and x_token_ids' vocabulary presuppose. Output: one row
    per learned merge, (rank, left, right, pair_freq), fully
    deterministic (ties broken by (left, right) lexicographic order).

    Scale shape — the key move is training on WORD TYPES, not tokens:
    ONE corpus pass builds the (word, freq) table, and by Heaps' law
    that table is vocabulary-sized (~√corpus), so the iterative loop
    never touches the corpus again. Per round: explode each word's
    symbol array into freq-weighted adjacent pairs (map-side), one
    vocabulary-sized groupBy(pair) shuffle, a distributed top-1
    (TakeOrderedAndProject — the ONLY driver transfer is that single
    winning row, same class as pagerank's convergence scalar), then an
    Arrow mapInPandas pass applies the merge to the symbol arrays.
    localCheckpoint each round truncates the compounding lineage
    exactly like graph.connected_components. {BPE_MERGES} rounds =
    {BPE_MERGES} tiny shuffles; at 100 TB the word table is millions of
    rows — megabytes — while driver-side trainers (every reference
    implementation) must first ship the whole word-count dict to one
    machine.

    Verified against a pure-Python reference trainer on the same corpus
    (tests/test_extensions.py::TestBpeTrain) — exact merge-table
    equality, including tie rounds."""
    d = table(spark, sf_dir, "documents")
    npart = spark.sparkContext.defaultParallelism
    words = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    syms = (
        words.select("freq", F.split("w", "").alias("syms"))
        .repartition(npart)
        .localCheckpoint()
    )
    schema = "freq bigint, syms array<string>"
    merges: list[tuple[int, str, str, int]] = []
    for r in range(BPE_MERGES):
        sz = F.size("syms")
        pairs = syms.filter(sz >= 2).select(
            "freq",
            F.explode(
                F.transform(
                    F.slice("syms", 1, sz - 1),
                    lambda x, i: F.struct(
                        x.alias("a"), F.element_at("syms", i + 2).alias("b")
                    ),
                )
            ).alias("p"),
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        row = top[0]
        merges.append((r, row["a"], row["b"], int(row["n"])))
        syms = syms.mapInPandas(
            _bpe_apply_merge(row["a"], row["b"]), schema
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_freq bigint"
    )


def bpe_encode_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Canonical greedy BPE apply (Sennrich 2016 / GPT-2 encoder family,
    public): repeatedly merge the adjacent pair with the LOWEST learned
    rank until none applies. Pure function — unit-parity target and the
    per-word kernel of bpe_encode_frame."""
    syms = list(word)
    while len(syms) > 1:
        best_rank, best_i = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_i is None:
            break
        syms[best_i : best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def bpe_encode_frame(
    d: DataFrame, merges: list[tuple[str, str]]
) -> DataFrame:
    """(doc_id, n_words, n_subwords) for an arbitrary (doc_id, text, ...)
    frame under a learned merge table — the APPLY step completing
    x_bpe_train's tokenizer story.

    Scale shape: the merge table broadcasts (it is merge-count-sized by
    construction); each Arrow batch tokenizes and encodes with a
    PER-BATCH word memo (Zipf's law makes the corpus mostly repeated
    words, so the kernel runs once per word TYPE per batch, not per
    token). Embarrassingly parallel, zero shuffles."""
    ranks = {(a, b): i for i, (a, b) in enumerate(merges)}
    b_ranks = d.sparkSession.sparkContext.broadcast(ranks)

    def enc(batches):
        rk = b_ranks.value
        memo: dict[str, int] = {}
        for pdf in batches:
            n_words, n_sub = [], []
            for text in pdf["text"]:
                words = py_tokens(text)
                total = 0
                for w in words:
                    hit = memo.get(w)
                    if hit is None:
                        hit = len(bpe_encode_word(w, rk))
                        memo[w] = hit
                    total += hit
                n_words.append(len(words))
                n_sub.append(total)
            out = pdf[["doc_id"]].copy()
            out["n_words"] = n_words
            out["n_subwords"] = n_sub
            yield out

    return d.select("doc_id", "text").mapInPandas(
        enc, "doc_id long, n_words long, n_subwords long"
    )


@query("x_bpe_encode")  # rows-only: depends on the iteratively-trained merges
def x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tokenization under the corpus's own trained BPE merges:
    train the {BPE_MERGES}-merge table (x_bpe_train), then encode every
    document and report per-doc word/subword counts plus the corpus-level
    compression the merges bought. Deterministic end-to-end (training
    ties break lexicographically; apply is greedy lowest-rank).
    Exact-parity unit test vs the pure-Python encoder:
    tests/test_extensions.py::TestBpeEncode."""
    merges = [
        (r["left"], r["right"])
        for r in x_bpe_train(spark, sf_dir).orderBy("rank").collect()
    ]
    d = table(spark, sf_dir, "documents")
    return bpe_encode_frame(d, merges).orderBy("doc_id")


@query(
    "x_perplexity_bucket",
    oracle="""
    WITH dt AS (
      SELECT doc_id, lang, tok, COUNT(*) AS c
      FROM (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
      )
      GROUP BY doc_id, lang, tok
    ), v AS (
      SELECT lang, tok, CAST(SUM(c) AS BIGINT) AS cnt
      FROM dt GROUP BY lang, tok
    ), tot AS (
      SELECT lang, CAST(SUM(cnt) AS DOUBLE) AS total FROM v GROUP BY lang
    ), scored AS (
      SELECT dt.doc_id, dt.lang,
             round(SUM(dt.c * ln(v.cnt / tot.total)) / SUM(dt.c), 4) + 0.0
               AS avg_logprob
      FROM dt
      JOIN v ON dt.lang = v.lang AND dt.tok = v.tok
      JOIN tot ON dt.lang = tot.lang
      GROUP BY dt.doc_id, dt.lang
    )
    SELECT doc_id, lang, avg_logprob,
           CASE ntile(3) OVER (PARTITION BY lang
                               ORDER BY avg_logprob DESC, doc_id)
             WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
           END AS bucket
    FROM scored
    """,
)
def x_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style per-language perplexity bucketing (Wenzek et al. 2020,
    public): score every document under its OWN language's unigram LM,
    then split each language into head/middle/tail terciles by score —
    the standard Common-Crawl curation signal ("train on head+middle,
    drop tail") that a single cross-language threshold cannot express,
    because languages have different intrinsic entropy.

    Cross-engine determinism: the tercile is computed on the ROUNDED
    (4-decimal) mean logprob with doc_id as the tiebreak — the raw
    per-doc float sum is summation-order-dependent across engines, the
    rounded value is not (same contract x_unigram_logprob's hash
    equality already proves).

    Plan shape: ONE corpus pass — per-(doc, lang, tok) counts feed the
    per-language vocabulary aggregate (vocab-sized shuffle), the
    language-total dim (broadcast), and the score join. The tercile is
    NOT a per-language ntile window over the full corpus (one dominant
    language — exactly the 100 TB Common-Crawl case — would funnel
    almost every row through a single window task): the ROUNDED score
    makes the per-(lang, score) histogram BOUNDED (≤ score-range × 10^4
    distinct values per language, independent of document count), so the
    exact ntile boundary ranks are derived from that histogram
    driver-side, the only residual window runs over the handful of docs
    TIED at a boundary score (partitioned by (lang, boundary value)),
    and every document is bucketed map-side against broadcast cutoff
    pairs (score, tiebreak doc_id). Output is row-identical to the
    oracle's ntile(3) OVER (PARTITION BY lang ORDER BY avg_logprob DESC,
    doc_id) — ntile's q/r group-size rule is reproduced exactly,
    including tie splits (pinned by the oracle hash at sf0.01/sf1.0 and
    a dominant-language unit test)."""
    d = table(spark, sf_dir, "documents")
    # Per-doc term counts MAP-SIDE (r12, see doc_tok_counts_arrow): the
    # old explode+groupBy(doc, lang, tok) shape paid a corpus-token-scale
    # exchange to build dt AND a second one to regroup the score join's
    # output by (doc_id, lang) — the Arrow pass keeps each document's
    # rows contiguous, so with the vocabulary broadcast the score
    # aggregate partial-combines to ONE row per document before its
    # exchange. Two corpus-scale exchanges -> one doc-count-sized one.
    dt = doc_tok_counts_arrow(d, ["doc_id", "lang"])
    # dt feeds the vocab agg + the score join; v feeds the lang totals +
    # the score join. Both persists are lazy: the ONE driver collect below
    # (language totals — a handful of rows) materializes both caches in a
    # single job, so no concurrent AQE stage job ever races an unbuilt
    # cache (r11; the event log had shown the vocab aggregate evaluated
    # twice — exchange reuse does not fire across cached-plan boundaries —
    # and ~2 s of 32-task Python `parallelize` jobs from
    # createDataFrame-built boundary frames, now VALUES LocalRelations).
    dt = dt.persist()
    v = dt.groupBy("lang", "tok").agg(F.sum("c").alias("cnt")).persist()
    tot_rows = [
        (r["lang"], float(r["t"]))
        for r in v.groupBy("lang").agg(F.sum("cnt").alias("t")).collect()
    ]
    tot = values_df(spark, tot_rows, "lang string, total double")
    # F.broadcast(v) is deliberate, not AQE's call (guide §3.1): v is the
    # per-language VOCABULARY — Heaps-law-sized, megabytes at 100 TB (the
    # x_tfidf df_tab argument) — and only a broadcast preserves dt's
    # map-side doc locality for the per-doc partial aggregation above.
    scored = (
        dt.join(F.broadcast(v), ["lang", "tok"])
        .join(F.broadcast(tot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.round(
                    F.sum(F.col("c") * F.log(F.col("cnt") / F.col("total")))
                    / F.sum("c"),
                    4,
                )
                + 0.0
            ).alias("avg_logprob")
        )
    ).persist()  # histogram + boundary-tie scan + final bucketing
    out = ntile3_by_cutoffs(scored, "lang", "avg_logprob", "doc_id")
    # the helper's eager histogram collect has materialized scored's
    # cache by now, so the (much larger, token-level) dt cache and the
    # vocab cache are dead weight — release them. scored itself backs the
    # returned lazy plan; the session's cache-clearing discipline
    # (bench/selfcheck) or the caller's clearCache releases it, same
    # contract as dedup.py's persisted shingle frames.
    dt.unpersist()
    v.unpersist()
    return out


def ntile3_by_cutoffs(
    scored: DataFrame,
    part: str,
    score: str,
    tiebreak: str,
    decimals: int = 4,
    max_hist_rows: int = 1_000_000,
) -> DataFrame:
    """head/middle/tail EXACTLY equal to ``ntile(3) OVER (PARTITION BY
    part ORDER BY score DESC, tiebreak ASC)`` — computed WITHOUT a
    per-partition window over the full input. Requires ``score`` to be
    quantized to ``decimals`` places (so the per-partition histogram is
    bounded) and ``tiebreak`` unique per row.

    1. Quantize score to a LONG key (order-preserving, exact at
       ``decimals``). Joining/grouping on the double itself would
       trigger Spark's NormalizeFloatingNumbers rewrite UNDER the
       cached plan and silently miss the cache — the float-join-key
       pitfall; all keying below is integer.
    2. Histogram (part, key) → counts: a bounded aggregate, and the
       ONLY driver round-trip (r8 verdict item 7 — the boundary-tie
       resolution below used to be a second collect). The collect is
       guarded by ``max_hist_rows``: the histogram is bounded by
       score-range × 10^decimals × partitions, not by row count, but a
       pathological score spread could still flood the driver — past
       the guard this raises with the remedy (fewer decimals) instead
       of OOMing the driver.
    3. Driver: per partition with n rows, ntile's group sizes are
       q = n//3 with the first (n mod 3) groups one larger; walk the
       histogram (key desc) to the boundary VALUE each cut falls in and
       the residual in-value rank k (1-based among that value's ties,
       ordered by tiebreak asc).
    4. The k-th tiebreak among each boundary value's ties comes from a
       tie-sized aggregation over ONLY the boundary-value rows
       (sort_array(collect_list)[k] per boundary — at most 2 boundaries
       per partition, each array bounded by that single quantized
       value's tie count, never corpus-sized). Since round 9 this stays
       IN THE RETURNED PLAN: the cutoff frame is built lazily from the
       same micro-aggregation and broadcast-joined, so the whole
       bucketing executes as one Spark job instead of paying a second
       collect + re-broadcast.
    5. Bucket every row map-side against the broadcast (key, tiebreak)
       cutoff pairs: rank <= t1 ⇔ key > k1 OR (key = k1 AND
       tiebreak <= d1); likewise t2."""
    mult = 10 ** decimals
    sk = F.round(F.col(score) * mult).cast("long")
    keyed = scored.withColumn("__sk", sk)
    hist = (
        keyed.groupBy(part, "__sk")
        .agg(F.count(F.lit(1)).alias("nd"))
        .limit(max_hist_rows + 1)
        .collect()
    )
    if len(hist) > max_hist_rows:
        raise ValueError(
            f"ntile3_by_cutoffs: histogram exceeds {max_hist_rows} "
            f"driver rows for {part!r}/{score!r}; reduce decimals "
            f"(currently {decimals}) or pre-bucket the score"
        )
    by_part: dict = {}
    for r in hist:
        if r["__sk"] is None:
            # NULL scores have no defined place in ntile's DESC order
            # across engines; refuse loudly instead of guessing
            raise ValueError(
                f"ntile3_by_cutoffs: NULL {score} in partition "
                f"{r[part]!r} — filter or impute scores first"
            )
        by_part.setdefault(r[part], []).append((r["__sk"], r["nd"]))
    # boundary requests: (part, boundary_key, k_within_value, which)
    requests = []
    for p, vals in by_part.items():
        vals.sort(key=lambda t: -t[0])  # key DESC — the ntile order
        n = sum(nd for _, nd in vals)
        q, rem = divmod(n, 3)
        t1 = q + (1 if rem >= 1 else 0)
        t2 = t1 + q + (1 if rem >= 2 else 0)
        for which, t in (("t1", t1), ("t2", t2)):
            if t <= 0:
                continue  # empty upper bucket: no cutoff (n == 0 only)
            cum = 0
            for s, nd in vals:
                if cum + nd >= t:
                    requests.append((p, s, t - cum, which))
                    break
                cum += nd
    spark = scored.sparkSession
    if not requests:
        return scored.select(
            tiebreak, part, score, F.lit("head").alias("bucket")
        )
    part_type = dict(scored.dtypes)[part]
    req_df = values_df(
        spark,
        [(p, int(s), int(k), w) for p, s, k, w in requests],
        f"{part} {part_type}, __sk long, __k long, __which string",
    )
    kb = keyed.alias("kb")
    rq = F.broadcast(req_df).alias("rq")
    cuts_df = (
        kb.join(
            rq,
            # null-safe on the partition key (a NULL partition is a real
            # ntile partition); __sk is never null (guarded above)
            F.col(f"kb.{part}").eqNullSafe(F.col(f"rq.{part}"))
            & (F.col("kb.__sk") == F.col("rq.__sk")),
        )
        .groupBy(f"kb.{part}", "kb.__sk", "rq.__k", "rq.__which")
        .agg(F.sort_array(F.collect_list(f"kb.{tiebreak}")).alias("__ids"))
        .select(
            F.col(f"kb.{part}"),
            "__sk",
            "__which",
            F.element_at("__ids", F.col("__k").cast("int")).alias("__d"),
        )
    )
    # reshape the (<=2 per partition) boundary rows into one cutoff row
    # per partition — LAZILY, so boundary-tie resolution rides the final
    # job instead of a second driver collect. Partitions whose cutoffs
    # are absent (empty upper buckets) come from the histogram's
    # partition list (tiny, already on the driver).
    parts_df = values_df(
        spark, [(p,) for p in by_part], f"{part} {part_type}"
    )
    pivoted = (
        cuts_df.groupBy(part)
        .pivot("__which", ["t1", "t2"])
        .agg(F.first("__sk").alias("k"), F.first("__d").alias("d"))
    )
    pv = pivoted.alias("pv")
    pp = parts_df.alias("pp")
    cut_df = (
        pp.join(
            pv,
            F.col(f"pp.{part}").eqNullSafe(F.col(f"pv.{part}")),
            "left",
        )
        .select(
            F.col(f"pp.{part}"),
            F.col("t1_k").alias("__k1"),
            F.col("t1_d").alias("__d1"),
            F.col("t2_k").alias("__k2"),
            F.col("t2_d").alias("__d2"),
        )
    )
    db = F.col(tiebreak)
    in_t1 = (sk > F.col("__k1")) | (
        (sk == F.col("__k1")) & (db <= F.col("__d1"))
    )
    in_t2 = (sk > F.col("__k2")) | (
        (sk == F.col("__k2")) & (db <= F.col("__d2"))
    )
    # null-SAFE equi-join: a NULL partition value is its own ntile
    # partition (the window's PARTITION BY groups NULLs together); a
    # plain equi-join would silently DROP those rows
    return (
        scored.alias("s")
        .join(
            F.broadcast(cut_df).alias("c"),
            F.col(f"s.{part}").eqNullSafe(F.col(f"c.{part}")),
        )
        .select(
            f"s.{tiebreak}",
            f"s.{part}",
            f"s.{score}",
            F.when(F.col("c.__k1").isNotNull() & in_t1, "head")
            .when(F.col("c.__k2").isNotNull() & in_t2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
    )


def lang_term_counts(docs: DataFrame) -> DataFrame:
    """(lang, tok, c): one micro-batch's language-conditional unigram
    counts — the map-side-combined partial the continuous LM monitor
    folds (explode never shuffles; the groupBy shuffle carries one row
    per (partition, lang, term))."""
    return (
        docs.select("lang", F.explode(tokens_col(F.col("text"))).alias("tok"))
        .groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def lm_merge_state(state: DataFrame, partial: DataFrame) -> DataFrame:
    """Fold one batch partial into the maintained LM: union + sum per
    (lang, tok). Exact integer sums — NON-idempotent under replay (a
    re-applied batch double-counts), so the streaming fold carries the
    snapshot txn marker, same asymmetry class as the MG/DDSketch folds
    (vs the HLL max, which replays converge by algebra). State size is
    the language-conditional VOCABULARY — Heaps-law-sized, the same
    megabytes-at-100TB argument as x_unigram_logprob's broadcast, not a
    fixed sketch bound (the LM is the payload here, not a summary)."""
    return (
        state.unionByName(partial)
        .groupBy("lang", "tok")
        .agg(F.sum("c").alias("c"))
    )


def lm_score(docs: DataFrame, state: DataFrame) -> DataFrame:
    """(doc_id, lang, avg_logprob): score documents under a maintained
    (lang, tok, c) LM state — identical arithmetic to x_perplexity_bucket
    (weighted mean of ln(c/total) over the doc's tokens, rounded to 4
    decimals), so scores under the full-corpus state EQUAL the batch
    query's (pinned by oracle + test). Tokens the state has never seen
    are skipped (the doc's mean is over its in-vocabulary tokens);
    out-of-vocabulary docs drop — the monitor scores against what the
    stream has learned so far, by definition."""
    dt = (
        docs.select(
            "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    return lm_score_counts(dt, state)


def lm_score_counts(dt: DataFrame, state: DataFrame) -> DataFrame:
    """lm_score over PRE-COMPUTED per-document term counts (doc_id, lang,
    tok, dc) — callers that already hold the tokenized corpus (e.g. a
    fold twin that derived the state partials from the same counts) skip
    the second tokenize+explode corpus pass lm_score would pay."""
    # language totals are a handful of rows over the (vocab-sized,
    # checkpointed) state: collect them and join a VALUES LocalRelation
    # instead of an aggregate broadcast subquery — one fewer exec-time
    # job, byte-identical totals (exact integer sums cast to double)
    tot_rows = [
        (r["lang"], float(r["t"]))
        for r in state.groupBy("lang").agg(F.sum("c").alias("t")).collect()
    ]
    tot = values_df(dt.sparkSession, tot_rows, "lang string, total double")
    return (
        dt.join(state, ["lang", "tok"])
        .join(F.broadcast(tot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            (
                F.round(
                    F.sum(F.col("dc") * F.log(F.col("c") / F.col("total")))
                    / F.sum("dc"),
                    4,
                )
                + 0.0
            ).alias("avg_logprob")
        )
    )


@query(
    "st_perplexity",
    oracle="""
    WITH dt AS (
      SELECT doc_id, lang, tok, COUNT(*) AS c
      FROM (
        SELECT doc_id, lang,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
      )
      GROUP BY doc_id, lang, tok
    ), v AS (
      SELECT lang, tok, CAST(SUM(c) AS BIGINT) AS cnt
      FROM dt GROUP BY lang, tok
    ), tot AS (
      SELECT lang, CAST(SUM(cnt) AS DOUBLE) AS total FROM v GROUP BY lang
    )
    SELECT dt.doc_id, dt.lang,
           round(SUM(dt.c * ln(v.cnt / tot.total)) / SUM(dt.c), 4) + 0.0
             AS avg_logprob
    FROM dt
    JOIN v ON dt.lang = v.lang AND dt.tok = v.tok
    JOIN tot ON dt.lang = tot.lang
    GROUP BY dt.doc_id, dt.lang
    """,
)
def st_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous data-quality monitor, batch-fold twin (St18): fold the
    corpus through the maintained per-language LM in 4 deterministic
    micro-batches (pmod(doc_id, 4) — the arrival order the streaming
    parity test replays), exactly as streaming_perplexity does per
    trigger, then score every document under the final state. Integer
    count sums are fold-order-invariant, so the final state IS the
    full-corpus LM and the scores equal x_perplexity_bucket's — which is
    why this twin can be ORACLE-EXACT where the sketch twins
    (st_distinct_hll / st_heavy_hitters / st_quantiles) are rows-only:
    the maintained state here is exact counts, not a compressed summary.

    This is the learned-state member of the continuous-monitoring family:
    the state a crawl pipeline maintains is the quality MODEL itself
    (CCNet scores incoming shards against an LM of what it already
    kept), refreshed per trigger instead of retrained per epoch."""
    d = table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    # ONE tokenize+explode corpus pass (r11, guide §1.2: don't recompute
    # what you already hold): the per-document term counts feed BOTH the
    # four fold partials (each quarter's lang_term_counts equals the
    # integer sum of its docs' counts — fold parity is exact) and the
    # final score join. The old shape tokenized the corpus five times
    # (4 quarter scans in the fold chain + lm_score's own pass).
    # eager localCheckpoint, not a lazy persist: the four fold partials
    # below are INDEPENDENT stages of the state-checkpoint job, and they
    # would race an unbuilt cache (each recomputing the tokenize pass —
    # measured 1.11x on the A/B); the checkpoint materializes the counts
    # once, before anything fans out over them.
    dt = (
        d.select(
            "doc_id", "lang", F.explode(tokens_col(F.col("text"))).alias("tok")
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("dc"))
    )
    # eager_checkpoint (r12): reliability flip switch + lifecycle note
    dt = eager_checkpoint(dt)
    state = None
    for b in range(4):
        part = (
            dt.filter(F.pmod("doc_id", F.lit(4)) == b)
            .groupBy("lang", "tok")
            .agg(F.sum("dc").alias("c"))
        )
        state = part if state is None else lm_merge_state(state, part)
    # ONE materialization, after the whole fold chain (r9 task 6 — the
    # per-fold localCheckpoint barrier was 4 full-lineage driver jobs
    # and dominated the sf10 wall clock at n^0.83): each merge
    # references its prior state exactly once, so the chained plan is 4
    # vocab-keyed shuffles inside ONE job with each document quarter
    # read once from the cached counts. The final checkpoint is still
    # required — the scorer reads the state twice (totals dim + score
    # join), and a vocab-sized materialization is cheaper than
    # re-running the fold chain per reference. The checkpoint job is
    # also what materializes dt's cache, so the score join reads it
    # warm.
    state = eager_checkpoint(state)
    return lm_score_counts(dt, state)
