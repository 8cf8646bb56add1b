"""Deduplication operators over `documents` (SURVEY.md §2.10 D1/D2 +
north-star dedup surface): exact, n-gram Jaccard, MinHash+LSH, SimHash.

The reference's dedup primitives are the sha256 frame checksum
(frames.py:24, meta_utils.py:72-102) and the count-must-be-zero uniqueness
assert before insert (db_operations.py:111-117); these generalize to exact
content-hash dedup. Near-dup operators are the standard pretraining
pipeline: shingle → MinHash → LSH band bucketing → candidate join → verify.

Scale design notes (the part that matters at 100 TB):
- exact dedup = groupBy(content_hash) with min(doc_id) as the keeper —
  one shuffle on a 32-byte key, map-side partial agg collapses duplicates
  early. Never dropDuplicates() without a deterministic keeper rule.
- pairwise Jaccard is only ever run inside a blocking key (bounded-size
  equi-join), never all-pairs.
- MinHash/SimHash candidate generation joins on BAND/prefix key. Band
  buckets are the classic skew hazard (degenerate docs hash identically) —
  empty token sets are filtered before banding and AQE skew-join handles
  the rest.
- 3-word shingles, not unigram sets: unigram sets saturate (any two docs
  over a shared vocabulary look alike); shingles preserve word order and
  keep candidate counts proportional to true near-duplication.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imagingdb_spark.catalog import eager_checkpoint, table
from imagingdb_spark.operators.text import py_tokens, tokens_col
from imagingdb_spark.registry import query

# 16 hashes in 8 bands x 2 rows: the LSH S-curve midpoint is
# (1/b)^(1/r) = (1/8)^(1/2) ~= 0.35, tuned BELOW the 0.5 verification
# threshold so banding recall at j >= 0.5 is ~0.9+ (the earlier 4x4 config
# had midpoint ~0.71 and missed true 0.76-jaccard pairs 20% of the time —
# banding must over-generate and let the exact-jaccard verify step filter).
MINHASH_N = 16
MINHASH_BANDS = 8
SIMHASH_BITS = 32
SHINGLE_K = 3


def shingles_from_tokens(th: Column, k: int = SHINGLE_K) -> Column:
    """Distinct k-token shingle HASHES (bigint) from a MATERIALIZED
    token-HASH array column. Docs shorter than k tokens hash their whole
    token-hash sequence as one shingle so they still dedup.

    Two rules learned by measurement (sf0.1):
    - ``th`` must be a bound column (projected in a previous select), not an
      inline expression: higher-order lambdas are interpreted (no codegen),
      so an inlined expression would be re-evaluated per element — ~20x
      slower.
    - shingles are HASHES, never strings: the old
      array_join(slice(tokens)) form allocated a string per shingle and
      measured 4x slower to build, and every downstream step (explode →
      16 min-agg hashes, band shuffle, verify array_intersect) then moved
      8-byte bigints instead of ~25-byte strings. MinHash/Jaccard only need
      a consistent hash family, not the text (collision odds ~n²/2⁶⁴)."""
    kgrams = F.transform(
        F.sequence(F.lit(0), F.size(th) - k),
        lambda i: F.xxhash64(F.slice(th, i + 1, k)),
    )
    whole = F.array(F.xxhash64(th))
    return F.array_distinct(F.when(F.size(th) >= k, kgrams).otherwise(whole))


# 64-bit odd mixing constants (xxhash/splitmix finalizer family)
_P1 = np.uint64(0x9E3779B97F4A7C15)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)


def _shingle_batch(tok_lists: list[list[str]], k: int) -> list[np.ndarray]:
    """Vectorized per-batch shingling: distinct k-token-hash shingle hashes
    per document, order-sensitive whole-sequence hash for docs shorter than
    k tokens (mirrors shingles_from_tokens semantics with a numpy hash
    family instead of xxhash64 — near-dup consumers only need consistency,
    not a specific family)."""
    ndocs = len(tok_lists)
    lens = np.fromiter((len(t) for t in tok_lists), dtype=np.int64, count=ndocs)
    total = int(lens.sum())
    if total:
        flat = np.empty(total, dtype=object)
        pos = 0
        for tl in tok_lists:
            flat[pos : pos + len(tl)] = tl
            pos += len(tl)
        th = pd.util.hash_array(flat)  # uint64, deterministic (fixed key)
    else:
        th = np.empty(0, dtype=np.uint64)
    ends = np.cumsum(lens)
    starts = ends - lens
    # one k-gram per position with k-1 successors in the SAME doc
    n_kg = np.maximum(lens - (k - 1), 0)
    kg_doc = np.repeat(np.arange(ndocs), n_kg)
    kg_off = np.arange(int(n_kg.sum())) - np.repeat(np.cumsum(n_kg) - n_kg, n_kg)
    kg_first = np.repeat(starts, n_kg) + kg_off
    sv = np.zeros(len(kg_first), dtype=np.uint64)
    for j in range(k):
        sv = (sv ^ th[kg_first + j]) * _P1
    sv = (sv ^ (sv >> np.uint64(33))) * _P2
    sv ^= sv >> np.uint64(29)
    # distinct within doc: lexsort + first-occurrence mask
    order = np.lexsort((sv, kg_doc))
    sd, svs = kg_doc[order], sv[order]
    keep = np.ones(len(sd), dtype=bool)
    keep[1:] = (sd[1:] != sd[:-1]) | (svs[1:] != svs[:-1])
    sd, svs = sd[keep], svs[keep].view(np.int64)
    counts = np.bincount(sd, minlength=ndocs)
    splits = np.split(svs, np.cumsum(counts)[:-1])
    # short docs (0 < len < k tokens): order-sensitive sequential mix of
    # ALL their token hashes + length, so 'a b c' / 'a b d' / 'b a' all
    # hash apart (count parity with string-n-gram oracles needs hash
    # injectivity on every distinct token sequence, not just the first 2).
    # Empty docs get NO shingle — mirrors the oracles' len(t) > 0 filter.
    whole = np.zeros(ndocs, dtype=np.uint64)
    for j in range(k - 1):
        m = lens > j
        if not m.any():
            break
        whole[m] = (whole[m] ^ th[starts[m] + j]) * _P1
    whole ^= lens.astype(np.uint64) * _P2
    whole = ((whole ^ (whole >> np.uint64(33))) * _P3).view(np.int64)
    empty = np.empty(0, dtype=np.int64)
    return [
        splits[i]
        if lens[i] >= k
        else (np.array([whole[i]], dtype=np.int64) if lens[i] else empty)
        for i in range(ndocs)
    ]


def shingled_docs(
    spark: SparkSession,
    sf_dir: str,
    extra_cols: list[str] | None = None,
    k: int = SHINGLE_K,
) -> DataFrame:
    """(doc_id, shingles[, extra_cols]) via ONE Arrow mapInPandas pass:
    tokenize, token-hash, and shingle vectorized in numpy/pandas. Shared by
    the near-dup family; `shingles` is array<bigint>.

    Why Arrow and not the shingles_from_tokens JVM expression: higher-order
    lambdas are interpreted (no codegen), and the tokenize+hash+shingle
    chain measured 3.0s of x_dedup_minhash's 4.0s at sf0.1; the vectorized
    batch form does the same work in C loops. Both are map-side/zero-shuffle
    and embarrassingly parallel, so the trade holds at any scale (the
    Arrow-beats-interpreted-codegen tradeoff also used by x_dedup_simhash).
    shingles_from_tokens stays the JVM reference implementation."""
    return shingle_frame(table(spark, sf_dir, "documents"), extra_cols, k)


def shingle_frame(
    d: DataFrame,
    extra_cols: list[str] | None = None,
    k: int = SHINGLE_K,
    with_sig: bool = False,
) -> DataFrame:
    """shingled_docs over an arbitrary (doc_id, text[, extra]) DataFrame.
    Callers that only need a SUBSET of docs must filter `d` BEFORE calling:
    mapInPandas is opaque to Catalyst, so a filter applied after it cannot
    be pushed below the (CPU-heavy) shingling.

    with_sig=True additionally emits the MinHash signature (`sig`,
    array<bigint> of MINHASH_N mins) computed IN THE SAME Arrow pass from
    the same numpy shingle arrays — byte-identical to the standalone
    signature UDF (exact integer uint64 arithmetic), but the shingle
    arrays cross the JVM↔Python boundary once instead of twice (guide
    §4.1: you control how many columns cross, and how often)."""
    extra = extra_cols or []
    # Shingling is CPU-heavy; a small parquet layout (one file → one
    # partition) would serialize it on a single core. Round-robin
    # repartition to the cluster's parallelism — but ONLY when the input
    # is actually under-split: at 100 TB the scan already has thousands
    # of splits and an unconditional repartition would shuffle the whole
    # corpus text for nothing. getNumPartitions is plan-time only (no
    # job runs).
    npart = d.sparkSession.sparkContext.defaultParallelism
    src = d.select("doc_id", *extra, "text")
    if src.rdd.getNumPartitions() < npart:
        src = src.repartition(npart)
    out_fields = [src.schema["doc_id"]] + [src.schema[c] for c in extra]
    schema = T.StructType(
        out_fields + [T.StructField("shingles", T.ArrayType(T.LongType()))]
        + (
            [T.StructField("sig", T.ArrayType(T.LongType()))]
            if with_sig
            else []
        )
    )

    def gen(batches):
        for pdf in batches:
            toks = [py_tokens(t) for t in pdf["text"]]
            out = pdf[["doc_id", *extra]].copy()
            sh = _shingle_batch(toks, k)
            out["shingles"] = sh
            if with_sig:
                out["sig"] = _minhash_sig_arrays(sh)
            yield out

    return src.mapInPandas(gen, schema).filter(F.size("shingles") > 0)


def jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| with the union computed as |A|+|B|-|A∩B| so the
    intersection is evaluated once."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def jaccard_ge(a: Column, b: Column, num: int, den: int) -> Column:
    """J(A,B) >= num/den in INTEGER arithmetic: den·i >= num·(|A|+|B|−i).
    Thresholding the EXACT value matters twice: (1) the prefix/band
    candidate filters are lossless only w.r.t. the exact threshold, so a
    filter on the 4-decimal ROUNDED value would admit pairs at
    [t − 5e-5, t) that never got a candidate — a silent cross-engine
    recall hole on big token sets; (2) integer comparison is immune to
    the float-ceil class of bugs (ceil(0.8·5.0) = 5, see the prefix-length
    note below)."""
    inter = F.size(F.array_intersect(a, b))
    return den * inter >= num * (F.size(a) + F.size(b) - inter)


def _jaccard_verified(
    joined: DataFrame,
    id_cols: list[str],
    a: str,
    b: str,
    num: int,
    den: int,
    jcol: str = "jaccard",
) -> DataFrame:
    """Shared exact-verify tail for every candidate-pair generator:
    compute |A∩B| and |A|+|B| ONCE in a projection that also DROPS the
    token/shingle arrays, then derive both the integer-exact threshold
    predicate (see jaccard_ge's rationale) and the reported jaccard from
    those two scalars. The earlier per-site form repeated
    size(array_intersect(...)) four times across the filter and the
    output projection (Column ops copy expression subtrees); this form
    leaves at most one evaluation per row per operator and slims the
    post-join rows to ids + two ints before any further work."""
    i, s = F.col("__i"), F.col("__s")
    sized = joined.select(
        *id_cols,
        F.size(F.array_intersect(a, b)).alias("__i"),
        (F.size(a) + F.size(b)).alias("__s"),
    )
    return (
        sized.filter(den * i >= num * (s - i))
        .select(*id_cols, F.round(i / (s - i), 4).alias(jcol))
    )


@query(
    "x_dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY sha256(text)
    """,
)
def x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1: exact dedup by content hash with deterministic keeper (min doc_id).
    Rows with n_copies > 1 are duplicate clusters. Generalizes
    dropDuplicates([sha256]) with a deterministic survivor."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.sha2("text", 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


@query(
    "x_dedup_jaccard",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '')) AS tokset
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(len(list_intersect(a.tokset, b.tokset)) /
                 (len(a.tokset) + len(b.tokset)
                  - len(list_intersect(a.tokset, b.tokset))), 4) AS jaccard
    FROM toks a
    JOIN toks b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE 5 * len(list_intersect(a.tokset, b.tokset)) >=
          4 * (len(a.tokset) + len(b.tokset)
               - len(list_intersect(a.tokset, b.tokset)))
    """,
)
def x_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2a: unigram-set Jaccard near-dup within a (lang, source) block,
    threshold 0.8 — PPJoin-style prefix filtering, exact w.r.t. the
    oracle's full block-quadratic join.

    Prefix-filter theorem (Chaudhuri et al. SSJoin / Xiao et al. PPJoin,
    both public): order every token set by a global total order (block
    document-frequency asc, then token). If J(A,B) >= t then
    |A∩B| >= ceil(t·|A|), so the smallest common token must sit within the
    first |A| - ceil(t·|A|) + 1 tokens of A — and symmetrically of B.
    Candidate pairs therefore only need to be generated from docs sharing a
    PREFIX token (the rarest ~(1-t) fraction), then verified with the true
    Jaccard. The earlier full block join scored every in-block pair
    (~600k array_intersects at sf0.1, 20 s); this generates ~candidate-only
    verification work (measured 4x faster, and the gap widens with block
    size — block-quadratic vs output-proportional at 100 TB).

    ceil(0.8·n) is computed in INTEGER arithmetic (floor((4n+4)/5)):
    0.8 is not f64-representable and ceil(0.8*5.0) = ceil(4.0000000000000002)
    = 5 would silently shorten the prefix and drop true pairs.

    Tokens are xxhash64'd to bigints up front (same rule as shingles —
    SCALING.md finding 9): set sizes, intersections, and document
    frequencies are hash-invariant (collision odds ~vocab²/2⁶⁴), so the
    Jaccard VALUES equal the oracle's string-set computation while the
    dfreq explode/join, the prefix sort, and the verify intersects all
    move 8-byte keys."""
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(
            F.transform(tokens_col(F.col("text")), lambda t: F.xxhash64(t))
        ).alias("tokset"),
    )
    # feeds candidate generation AND both verify sides; EAGER (r11): the
    # verify-side map stages launch at job start with no dependency on
    # candidate generation and would race a lazy cache, re-running the
    # tokenize per stage (the x_containment finding, same shape).
    # eager_checkpoint (r12) carries the reliability flip switch + the
    # clearCache-lifecycle note (VERDICT r11 items 5/7).
    toks = eager_checkpoint(toks)

    ex = toks.select("doc_id", "lang", "source", F.explode("tokset").alias("token"))
    dfreq = ex.groupBy("lang", "source", "token").agg(
        F.count(F.lit(1)).alias("tdf")
    )
    # global order = (block df asc, token asc); array_sort on (tdf, token)
    # structs gives exactly that lexicographic order
    sorted_toks = (
        ex.join(dfreq, ["lang", "source", "token"])
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tdf", "token"))),
                lambda s: s["token"],
            ).alias("toks_sorted")
        )
    )
    sz = F.size("toks_sorted")
    p_len = sz - F.floor((4 * sz + 4) / 5).cast("int") + 1
    prefix = sorted_toks.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.slice("toks_sorted", 1, p_len)).alias("token"),
    )
    # no bucket cap: dropping a bucket would drop true pairs and break
    # oracle equality; prefix tokens are the rarest in their block, so
    # buckets stay small by construction
    cand = _bucket_pairs(
        prefix, ["lang", "source", "token"], "doc_id", max_bucket=None
    )
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tokset").alias("tokset_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tokset").alias("tokset_b"))
    return _jaccard_verified(
        cand.join(ta, "doc_a").join(tb, "doc_b"),
        ["doc_a", "doc_b"],
        "tokset_a",
        "tokset_b",
        4,
        5,
    )


@query(
    "x_dedup_incremental",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '')) AS tokset
      FROM documents
    )
    SELECT a.doc_id AS new_doc, b.doc_id AS corpus_doc,
           round(len(list_intersect(a.tokset, b.tokset)) /
                 (len(a.tokset) + len(b.tokset)
                  - len(list_intersect(a.tokset, b.tokset))), 4) AS jaccard
    FROM toks a
    JOIN toks b
      ON a.lang = b.lang AND a.source = b.source
     AND substr(md5(CAST(a.doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
     AND substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 1) NOT IN ('0', '1')
    WHERE 5 * len(list_intersect(a.tokset, b.tokset)) >=
          4 * (len(a.tokset) + len(b.tokset)
               - len(list_intersect(a.tokset, b.tokset)))
    """,
)
def x_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: match an INCOMING batch (stand-in: the ~1/8 of
    docs whose md5(doc_id) starts with 0 or 1 — md5 because it is the one
    hash Spark and DuckDB compute identically, and a PSEUDO-RANDOM slice
    because the synthetic corpus plants duplicates at fixed id offsets
    that any modular split would keep on one side) against the standing
    corpus — the production
    "dedup today's crawl against the 100 TB corpus" shape, where
    re-clustering the whole corpus per batch is not an option.

    Asymmetric PPJoin: both sides keep only their prefix tokens under one
    global (block-dfreq asc, token asc) order — if J(A,B) >= 0.8 the pair
    must share a token inside BOTH prefixes (same theorem as
    x_dedup_jaccard) — then batch prefix x corpus prefix is an equi-join
    on (lang, source, token) and survivors verify true Jaccard. Exact
    w.r.t. the oracle's full batch x corpus join.

    Scale shape: the batch prefix side is BROADCAST (a daily batch is
    orders of magnitude smaller than the corpus), so the corpus side
    streams map-side with zero corpus shuffle in candidate generation.
    At 100 TB the corpus's sorted-prefix index and block dfreq table are
    PRECOMPUTED at ingest and stored (they only grow append-only); here
    they are derived in-query from the same documents table. Verification
    joins tokset arrays back by doc_id — candidate-proportional, like
    x_dedup_jaccard."""
    d = table(spark, sf_dir, "documents")
    is_new = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin(
        "0", "1"
    )
    return incremental_match(d.filter(is_new), d.filter(~is_new))


def incremental_match(new_docs: DataFrame, corpus: DataFrame) -> DataFrame:
    """(new_doc, corpus_doc, jaccard) for every pair of an incoming doc and
    a corpus doc in the same (lang, source) block with unigram-set Jaccard
    >= 0.8 — the asymmetric-PPJoin core shared by x_dedup_incremental and
    the streaming crawl-ingest gate (streaming/jobs.py). Both inputs need
    (doc_id, lang, source, text); threshold is fixed at 0.8 so the prefix
    length stays in exact integer arithmetic (see x_dedup_jaccard)."""
    cols = ["doc_id", "lang", "source", "text"]
    d = (
        new_docs.select(*cols).withColumn("is_new", F.lit(True))
        .unionByName(corpus.select(*cols).withColumn("is_new", F.lit(False)))
    )
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        "is_new",
        F.array_distinct(
            F.transform(tokens_col(F.col("text")), lambda t: F.xxhash64(t))
        ).alias("tokset"),
    )
    # feeds prefix generation AND both verify sides; EAGER (r11): the
    # verify-side map stages launch at job start with no dependency on
    # candidate generation and would race a lazy cache, re-running the
    # tokenize per stage (the x_containment finding, same shape).
    # eager_checkpoint (r12): reliability flip switch + lifecycle note.
    toks = eager_checkpoint(toks)

    ex = toks.select(
        "doc_id", "lang", "source", "is_new", F.explode("tokset").alias("token")
    )
    # block dfreq over the WHOLE table: the prefix theorem needs one global
    # total order shared by both sides. The ingest-time-maintained form of
    # that order is no longer hypothetical: canonical_toksets /
    # incremental_match_indexed below swap dfreq order for a fixed hash
    # order so the corpus prefix index can be stored and appended to (the
    # streaming gate uses it; parity pinned in tests) — dfreq order is kept
    # HERE because a one-shot batch query gets better candidate
    # selectivity from it at no storage cost
    dfreq = ex.groupBy("lang", "source", "token").agg(
        F.count(F.lit(1)).alias("tdf")
    )
    sorted_toks = (
        ex.join(dfreq, ["lang", "source", "token"])
        .groupBy("doc_id", "lang", "source", "is_new")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tdf", "token"))),
                lambda s: s["token"],
            ).alias("toks_sorted")
        )
    )
    sz = F.size("toks_sorted")
    p_len = sz - F.floor((4 * sz + 4) / 5).cast("int") + 1
    prefix = sorted_toks.select(
        "doc_id",
        "lang",
        "source",
        "is_new",
        sz.alias("n"),
        F.explode(F.slice("toks_sorted", 1, p_len)).alias("token"),
    ).persist()  # feeds BOTH join sides — unpersisted, the whole
    # dfreq + sort pipeline would evaluate once per side
    new_pref = prefix.filter("is_new").select(
        F.col("doc_id").alias("new_doc"), "lang", "source", "token",
        F.col("n").alias("n_new"),
    )
    corpus_pref = prefix.filter(~F.col("is_new")).select(
        F.col("doc_id").alias("corpus_doc"), "lang", "source", "token",
        F.col("n").alias("n_corp"),
    )
    # PPJoin LENGTH filter (lossless): J >= 4/5 forces
    # 4·max(|A|,|B|) <= 5·min(|A|,|B|) — integer-exact, and the verify
    # predicate (5i >= 4(a+b−i), i <= min(a,b)) already implies it, so
    # the output is unchanged; candidates that can't pass never reach
    # dropDuplicates + the tokset verify joins.
    cand = (
        corpus_pref.join(F.broadcast(new_pref), ["lang", "source", "token"])
        .filter(
            (4 * F.col("n_new") <= 5 * F.col("n_corp"))
            & (4 * F.col("n_corp") <= 5 * F.col("n_new"))
        )
        .select("new_doc", "corpus_doc")
        .dropDuplicates(["new_doc", "corpus_doc"])
    )
    ta = toks.select(F.col("doc_id").alias("new_doc"), F.col("tokset").alias("tokset_a"))
    tb = toks.select(F.col("doc_id").alias("corpus_doc"), F.col("tokset").alias("tokset_b"))
    return _jaccard_verified(
        cand.join(ta, "new_doc").join(tb, "corpus_doc"),
        ["new_doc", "corpus_doc"],
        "tokset_a",
        "tokset_b",
        4,
        5,
    )


def canonical_toksets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, source, tokset) with tokset the doc's DISTINCT token
    hashes sorted ASCENDING BY HASH VALUE — a fixed, corpus-independent
    global total order. The PPJoin prefix theorem holds under ANY shared
    total order (dfreq order merely minimizes candidates); hash order
    trades some candidate selectivity for a prefix that can be computed
    per-doc at ingest time and therefore maintained INCREMENTALLY — the
    property the streaming crawl gate needs (VERDICT r4 item 7). Pure
    map-side: no shuffle, no corpus-wide aggregate."""
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.array_sort(
            F.array_distinct(
                F.transform(tokens_col(F.col("text")), lambda t: F.xxhash64(t))
            )
        ).alias("tokset"),
    )


def canonical_prefixes(toksets: DataFrame) -> DataFrame:
    """Exploded (doc_id, lang, source, token) prefix rows of hash-ordered
    toksets, prefix length |x| - ceil(0.8|x|) + 1 (same exact integer
    arithmetic as incremental_match — threshold fixed at 0.8). Map-side
    explode; this is the row shape the incremental index STORES, so a
    standing corpus never recomputes it."""
    sz = F.size("tokset")
    p_len = sz - F.floor((4 * sz + 4) / 5).cast("int") + 1
    return toksets.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.slice("tokset", 1, p_len)).alias("token"),
    )


def incremental_match_indexed(
    batch_toksets: DataFrame,
    corpus_prefix: DataFrame,
    corpus_toksets: DataFrame,
) -> DataFrame:
    """(new_doc, corpus_doc, jaccard ≥ 0.8) via a STORED corpus prefix
    index — the incremental twin of incremental_match. The batch side
    derives its hash-order prefixes map-side and broadcasts them; the
    corpus side is a pure SCAN of the maintained index (no dfreq groupBy,
    no per-doc re-sort — the per-trigger cost that used to grow with the
    corpus). Verification is exact Jaccard on the full toksets, so the
    output is IDENTICAL to incremental_match's (hash order only changes
    the candidate superset, never the verified matches). At 100 TB the
    index is bucketed by token so the candidate join co-locates and the
    batch's prefix tokens prune index files."""
    new_pref = canonical_prefixes(batch_toksets).select(
        F.col("doc_id").alias("new_doc"), "lang", "source", "token"
    )
    cand = (
        corpus_prefix.join(F.broadcast(new_pref), ["lang", "source", "token"])
        .select(F.col("doc_id").alias("corpus_doc"), "new_doc")
        .dropDuplicates(["new_doc", "corpus_doc"])
    )
    ta = batch_toksets.select(
        F.col("doc_id").alias("new_doc"), F.col("tokset").alias("tokset_a")
    )
    tb = corpus_toksets.select(
        F.col("doc_id").alias("corpus_doc"), F.col("tokset").alias("tokset_b")
    )
    return _jaccard_verified(
        cand.join(F.broadcast(ta), "new_doc").join(tb, "corpus_doc"),
        ["new_doc", "corpus_doc"],
        "tokset_a",
        "tokset_b",
        4,
        5,
    )


MAX_BUCKET = 100  # drop degenerate LSH buckets (> this many docs) — see notes


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int | None = MAX_BUCKET,
) -> DataFrame:
    """Distinct unordered candidate pairs (doc_a < doc_b) of ids sharing a
    bucket. One shuffle (the groupBy); pair generation is an in-bucket
    nested-transform explode, quadratic only within a bucket and (for
    approximate candidate generation) capped at `max_bucket` docs per
    bucket. Pass max_bucket=None when every pair is required for exactness
    (e.g. lossless prefix filtering)."""
    keep = F.size("ids_raw") > 1
    if max_bucket is not None:
        keep = keep & (F.size("ids_raw") <= max_bucket)
    ids_df = (
        df.groupBy(*bucket_cols)
        .agg(F.collect_list(id_col).alias("ids_raw"))
        .filter(keep)
        .select(F.array_sort("ids_raw").alias("ids"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        ids_df.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )


# MINHASH_N independent universal hashes h_i(s) = A_i*s + B_i (mod 2^64):
# odd multipliers derived from the mixing constants, deterministic.
_MH_A = (np.arange(MINHASH_N, dtype=np.uint64) * np.uint64(2) + np.uint64(1)) * _P1
_MH_B = (np.arange(MINHASH_N, dtype=np.uint64) + np.uint64(1)) * _P2


def _minhash_sig_arrays(sh) -> list[np.ndarray]:
    """MAP-SIDE MinHash signature: min over the doc's shingle hashes of N
    universal hashes, computed as one flat numpy pass per Arrow batch
    (np.minimum.reduceat over doc segments). Replaces the earlier
    explode → groupBy(doc_id).agg(N mins) form: same signatures family-wise,
    but ZERO shuffle — at 100 TB the old form shuffled docs × N × 8 bytes
    and paid a stage barrier; this rides the shingle pass. ``sh`` is any
    sequence of int64 shingle arrays (a pandas Series from the standalone
    UDF, or the fresh numpy arrays inside shingle_frame's fused pass —
    exact integer arithmetic, so both paths emit identical bytes)."""
    lens = np.fromiter((len(a) for a in sh), dtype=np.int64, count=len(sh))
    out = np.empty((len(sh), MINHASH_N), dtype=np.uint64)
    nonempty = lens > 0
    out[~nonempty] = np.uint64(0)
    if nonempty.any():
        allh = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a, n in zip(sh, lens) if n]
        ).view(np.uint64)
        ends = np.cumsum(lens[nonempty])
        starts = ends - lens[nonempty]
        sub = np.empty((int(nonempty.sum()), MINHASH_N), dtype=np.uint64)
        for i in range(MINHASH_N):
            sub[:, i] = np.minimum.reduceat(allh * _MH_A[i] + _MH_B[i], starts)
        out[nonempty] = sub
    signed = out.view(np.int64)
    return list(signed)


def _minhash_sig_batch(sh: pd.Series) -> pd.Series:
    return pd.Series(_minhash_sig_arrays(sh))


def _minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, h0..h{N-1}): MinHash signature as N scalar columns, unpacked
    from the map-side array UDF — no shuffle anywhere in signature
    generation. A shingle frame built with ``with_sig=True`` already
    carries the (byte-identical) signature from the fused Arrow pass;
    use it directly so the shingle arrays don't make a second trip
    through the Python boundary. (The pandas_udf is wrapped here, not at
    module level: DDL return-type parsing needs an active SparkSession.)"""
    if "sig" in sh.columns:
        sig = sh.select("doc_id", "sig")
    else:
        sig_udf = F.pandas_udf(_minhash_sig_batch, "array<bigint>")
        sig = sh.select("doc_id", sig_udf("shingles").alias("sig"))
    return sig.select(
        "doc_id",
        *[F.col("sig")[i].alias(f"h{i}") for i in range(MINHASH_N)],
    )


def _lsh_band_candidates(sh: DataFrame) -> DataFrame:
    """LSH candidate pairs from a persisted shingle frame: MinHash
    signature → MINHASH_BANDS band hashes → docs sharing any band bucket.
    The banding stream is SLIM — (doc_id, band_idx, band_hash) only; the
    bucket shuffle never carries shingle arrays. Approximate (capped
    buckets, S-curve recall < 1 in general)."""
    rows_per_band = MINHASH_N // MINHASH_BANDS
    sig = _minhash_signatures(sh)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band_idx"),
                        F.xxhash64(
                            *[
                                F.col(f"h{bnd * rows_per_band + r}")
                                for r in range(rows_per_band)
                            ]
                        ).alias("band_hash"),
                    )
                    for bnd in range(MINHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_hash")
    return _bucket_pairs(bands, ["band_idx", "band_hash"], "doc_id")


def _shingle_prefix_candidates(sh: DataFrame, threshold: float = 0.5) -> DataFrame:
    """LOSSLESS candidate pairs from a persisted shingle frame via PPJoin
    prefix filtering at `threshold` (Chaudhuri et al. SSJoin / Xiao et al.
    PPJoin): order each shingle set by a global total order (corpus
    document-frequency asc, then shingle hash asc); if J(A,B) >= t the
    smallest common shingle must fall within the first
    |A| - ceil(t*|A|) + 1 elements of A — so docs sharing any PREFIX
    shingle cover every true pair. Recall 1.0 by construction at any
    corpus/SF; no bucket cap (a cap would reintroduce loss). Prefix
    lengths use integer arithmetic (ceil(n/2) = floor((n+1)/2) for
    t=0.5) — float ceil(0.5*n) is ulp-unsafe. Same shape as
    x_dedup_jaccard's token-level filter (dedup.py:245) but over
    shingles; cost is output-proportional, not corpus-quadratic."""
    if threshold != 0.5:  # integer prefix arithmetic below is t=0.5-specific
        raise ValueError("lossless prefix filter is pinned at t=0.5")
    ex = sh.select("doc_id", F.explode("shingles").alias("sg"))
    dfreq = ex.groupBy("sg").agg(F.count(F.lit(1)).alias("sdf"))
    sorted_sh = (
        ex.join(dfreq, "sg")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sdf", "sg"))),
                lambda s: s["sg"],
            ).alias("ss")
        )
    )
    sz = F.size("ss")
    p_len = (sz - F.floor((sz + 1) / 2).cast("int") + 1)
    prefix = sorted_sh.select(
        "doc_id", F.explode(F.slice("ss", 1, p_len)).alias("sg")
    )
    return _bucket_pairs(prefix, ["sg"], "doc_id", max_bucket=None)


def _verify_shingle_pairs(
    cand: DataFrame, sh: DataFrame, num: int = 1, den: int = 2
) -> DataFrame:
    """Exact-verify candidate pairs against the true shingle Jaccard —
    re-joins the shingle table by doc_id (two narrow shuffles beat
    shuffling shingle arrays through candidate generation). Precision 1.0
    by construction for any candidate generator. The threshold is a
    RATIONAL (num/den) applied to the exact Jaccard in integer arithmetic
    (jaccard_ge) — the candidate filters are lossless w.r.t. the exact
    threshold, so filtering the rounded value would admit oracle-side
    pairs at [t − 5e-5, t) that never got a Spark candidate."""
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("shingles_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("shingles_b"))
    return _jaccard_verified(
        cand.join(sh_a, "doc_a").join(sh_b, "doc_b"),
        ["doc_a", "doc_b"],
        "shingles_a",
        "shingles_b",
        num,
        den,
    )


def minhash_pairs(d: DataFrame) -> DataFrame:
    """DataFrame-level MinHash+LSH verified near-dup pairs over an
    arbitrary (doc_id, text, ...) frame — the composable form used by
    x_dedup_minhash (whole-table query) and pipelines.pretraining_pipeline
    (runs it on the quality-surviving subset). Same algorithm, same
    scale shape; see x_dedup_minhash's docstring."""
    sh = shingle_frame(d, with_sig=True).persist()
    return _verify_shingle_pairs(_lsh_band_candidates(sh), sh)


def verified_pairs(d: DataFrame) -> DataFrame:
    """LOSSLESS verified near-dup pairs: candidate set = LSH band buckets
    UNION PPJoin prefix-filter buckets, then exact-verified. The prefix
    half guarantees recall 1.0 at any corpus/SF (prefix filtering is
    lossless at a fixed threshold); the LSH half adds only redundant
    candidates that dropDuplicates merges, and stays in the union so this
    query certifies LSH ⊆ truth on every run. Precision 1.0 from the
    verify step. Output therefore EQUALS the exact quadratic truth set by
    construction — no longer corpus-dependent (VERDICT r5 item 1: sf1.0
    had measured LSH recall 0.9996; pure-LSH recall measurement now lives
    only in x_dedup_eval where it belongs)."""
    sh = shingle_frame(d, with_sig=True).persist()
    cand = (
        _lsh_band_candidates(sh)
        .unionByName(_shingle_prefix_candidates(sh))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _verify_shingle_pairs(cand, sh)


@query("x_dedup_minhash")  # rows-only: LSH banding is not ANSI-SQL-expressible
def x_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2b: MinHash + LSH banded near-dup candidates — the 100 TB dedup path.

    shingle set → 16-hash MinHash signature → 8 bands of 2 hashes → hash
    each band → candidate pairs = docs sharing any band bucket → verified
    with true shingle Jaccard >= 0.5.

    Scale shape:
    - the banding stream is SLIM — (doc_id, band_idx, band_hash) only;
      shingle arrays never ride through the n×4-row explode or the bucket
      shuffle.
    - candidate pairs come from groupBy(bucket) + in-bucket pair explode,
      NOT a self-join: one evaluation of the signature pipeline and one
      shuffle instead of two of each.
    - degenerate buckets (boilerplate/empty docs all hashing together) are
      the classic quadratic blowup; buckets over MAX_BUCKET docs are dropped
      (standard production cap — such docs are better handled by exact dedup
      upstream).
    - verification re-joins the shingle table by doc_id: two extra narrow
      shuffles beat shuffling 4x the shingle volume, and the candidate side
      after dropDuplicates is tiny."""
    # persist inside minhash_pairs: the shingle table feeds signature
    # generation AND both verification sides — without it the (CPU-heavy)
    # tokenize+shingle pipeline would evaluate three times. Standard
    # practice in production minhash pipelines (shingle/signature tables
    # are checkpointed); MEMORY_AND_DISK so 100 TB corpora spill, not OOM.
    return minhash_pairs(table(spark, sf_dir, "documents")).orderBy(
        "doc_a", "doc_b"
    )


# Lossless verified-pairs truth set as a DuckDB CTE block, shared by the
# x_dedup_verified and x_split_leakage oracles: PPJoin prefix candidates
# (candidate-quadratic, not corpus-quadratic — same lossless filter as the
# Spark side) exact-verified at the INTEGER threshold 2·i >= u (J >= 1/2).
_VERIFIED_PAIRS_CTE = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS toks
      FROM documents
    ), sh AS (
      SELECT doc_id,
             CASE
               WHEN len(toks) >= 3 THEN list_distinct(
                 list_transform(generate_series(1, len(toks) - 2),
                                i -> toks[i] || ' ' || toks[i + 1]
                                     || ' ' || toks[i + 2]))
               ELSE [chr(1) || array_to_string(toks, ' ')]
             END AS shset
      FROM toks
      WHERE len(toks) > 0
    ), ex AS (
      SELECT doc_id, unnest(shset) AS sg FROM sh
    ), dfreq AS (
      SELECT sg, COUNT(*) AS sdf FROM ex GROUP BY sg
    ), sorted_sh AS (
      -- PPJoin global order: (document frequency asc, shingle asc) —
      -- same lossless prefix filter as the Spark side, so the oracle
      -- is candidate-quadratic, not corpus-quadratic
      SELECT e.doc_id, list(e.sg ORDER BY d.sdf, e.sg) AS ss
      FROM ex e JOIN dfreq d USING (sg)
      GROUP BY e.doc_id
    ), pref AS (
      SELECT doc_id,
             unnest(ss[1:CAST(len(ss) - floor((len(ss) + 1) / 2) + 1 AS INT)])
               AS sg
      FROM sorted_sh
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM pref a JOIN pref b ON a.sg = b.sg AND a.doc_id < b.doc_id
    ), vpairs AS (
      SELECT c.doc_a, c.doc_b,
             round(len(list_intersect(a.shset, b.shset)) /
                   (len(a.shset) + len(b.shset)
                    - len(list_intersect(a.shset, b.shset))), 4) AS jaccard
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b
      WHERE 2 * len(list_intersect(a.shset, b.shset)) >=
            (len(a.shset) + len(b.shset)
             - len(list_intersect(a.shset, b.shset)))
    )
"""


@query(
    "x_dedup_verified",
    oracle=_VERIFIED_PAIRS_CTE
    + """
    SELECT doc_a, doc_b, jaccard FROM vpairs
    """,
)
def x_dedup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2b+ made LOSSLESS (VERDICT r5 item 1): verified near-dup pairs
    whose candidate set is the UNION of the MinHash/LSH band buckets and
    the PPJoin shingle-prefix buckets, exact-verified with the true
    shingle Jaccard at the exact integer threshold ``2·i >= u``.

    Why equality with the exact quadratic truth set now holds at EVERY
    corpus and SF (not just the ones where LSH happens to recall 1.0):
    prefix filtering is lossless at a fixed threshold — every true pair
    shares a prefix shingle under the global (dfreq, shingle) order — so
    recall is 1.0 by construction; the verify step keeps precision 1.0.
    Round 5's sf1.0 red row (2607/2608: one 0.6-Jaccard pair with zero
    matching bands, exactly the 8×2 S-curve's predicted miss) is erased
    structurally, not empirically. The pure-LSH recall MEASUREMENT lives
    in x_dedup_eval, which is the query that claims it.

    The oracle mirrors the same prefix filter (candidate-proportional,
    not corpus-quadratic, so it also holds at sf1.0+). Jaccard values
    over 64-bit hashed shingles equal the oracle's string-3-gram
    computation under hash injectivity on the distinct shingles present
    (collision odds ~|shingles|²/2⁶⁴ — and a collision would surface as
    a hash-mismatch in this very check). The oracle's short-doc rule
    mirrors _shingle_batch: 0 < len < k docs contribute ONE
    order-sensitive whole-doc shingle; empty docs none."""
    return verified_pairs(table(spark, sf_dir, "documents"))


@query(
    "x_split_leakage",
    oracle=_VERIFIED_PAIRS_CTE
    + """
    , labeled AS (
      SELECT doc_a, doc_b, jaccard,
             CASE
               WHEN substr(md5('doc-' || CAST(doc_a AS VARCHAR)), 1, 2) < '0d'
                 THEN 'test'
               WHEN substr(md5('doc-' || CAST(doc_a AS VARCHAR)), 1, 2) < '1a'
                 THEN 'val'
               ELSE 'train'
             END AS split_a,
             CASE
               WHEN substr(md5('doc-' || CAST(doc_b AS VARCHAR)), 1, 2) < '0d'
                 THEN 'test'
               WHEN substr(md5('doc-' || CAST(doc_b AS VARCHAR)), 1, 2) < '1a'
                 THEN 'val'
               ELSE 'train'
             END AS split_b
      FROM vpairs
    )
    SELECT CASE WHEN split_a = 'train' THEN doc_a ELSE doc_b END AS doc_train,
           CASE WHEN split_a = 'train' THEN doc_b ELSE doc_a END AS doc_eval,
           CASE WHEN split_a = 'train' THEN split_b ELSE split_a END
             AS eval_split,
           jaccard
    FROM labeled
    WHERE (split_a = 'train') <> (split_b = 'train')
    """,
)
def x_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D20: train/eval LEAKAGE AUDIT — near-duplicate pairs that cross the
    train/{val,test} boundary of the deterministic hash split
    (sampling.split_col, the same assignment x_split_hash registers).
    A benchmark doc whose near-twin sits in train is the leakage that
    inflates eval scores; this query names every such pair with its
    evidence (the exact shingle Jaccard), so the fix — drop the train
    twin or quarantine the eval doc — is a doc_id-keyed anti-join.

    Differs from x_decontaminate (dedup.py:1035) in both direction and
    machinery: decontamination screens the corpus against a SMALL external
    benchmark via broadcast n-grams; leakage audits the corpus against its
    OWN split, so it rides the full lossless near-dup machinery
    (verified_pairs: LSH ∪ PPJoin-prefix candidates, exact-verified —
    recall 1.0 by construction, see x_dedup_verified).

    Scale shape: the split label is a pure FUNCTION of doc_id (md5-bucket),
    so labeling the pair stream is map-side column arithmetic on the
    (already output-sized) verified-pairs frame — no join back to the
    corpus, no extra shuffle beyond the ones verified_pairs already does.
    val<->test pairs are NOT leakage (neither side trains) and are
    excluded: a pair qualifies iff exactly one side is 'train'.

    Reference analog: the uniqueness gate before insert
    (db_operations.py:111-117) generalized to split-boundary uniqueness.
    """
    from imagingdb_spark.operators.sampling import split_col

    def _split(idcol: str) -> Column:
        return split_col(F.concat(F.lit("doc-"), F.col(idcol).cast("string")))

    pairs = verified_pairs(table(spark, sf_dir, "documents"))
    labeled = pairs.withColumn("split_a", _split("doc_a")).withColumn(
        "split_b", _split("doc_b")
    )
    is_cross = (F.col("split_a") == "train") != (F.col("split_b") == "train")
    a_is_train = F.col("split_a") == "train"
    return labeled.filter(is_cross).select(
        F.when(a_is_train, F.col("doc_a")).otherwise(F.col("doc_b")).alias(
            "doc_train"
        ),
        F.when(a_is_train, F.col("doc_b")).otherwise(F.col("doc_a")).alias(
            "doc_eval"
        ),
        F.when(a_is_train, F.col("split_b")).otherwise(F.col("split_a")).alias(
            "eval_split"
        ),
        "jaccard",
    )


@query("x_dedup_simhash")  # rows-only: bit-manipulation not ANSI-SQL-expressible
def x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2c: SimHash near-dup over shingles. Each shingle votes its hash bits
    ±1; signed bit-sums collapse to a SIMHASH_BITS fingerprint. Candidates =
    identical 16-bit fingerprint prefix, verified by Hamming distance <= 3.

    The fingerprint is computed MAP-SIDE in one Arrow-batched pandas_udf
    over the un-exploded shingle arrays (bit matrix + per-doc segment sums
    via np.add.reduceat): ZERO shuffles until the prefix bucketing. The
    earlier all-JVM form exploded shingles into a 32-column vote
    aggregation — a full extra shuffle of docs x shingles rows and a
    32-accumulator hash agg. At sf0.1 wall-clock is shingle-build-bound
    so both forms measure ~2-4s (BASELINE.md min-of-2 row: 2.5s); the
    difference is the removed shuffle,
    which grows with corpus size while the map-side matrix op stays
    embarrassingly parallel (the Arrow-beats-wide-codegen tradeoff
    documented in operators/similarity.py)."""
    nbits = SIMHASH_BITS

    @F.pandas_udf("long")
    def simhash_of(sh: pd.Series) -> pd.Series:
        lens = np.fromiter((len(a) for a in sh), dtype=np.int64, count=len(sh))
        if not lens.sum():
            return pd.Series(np.zeros(len(sh), dtype=np.int64))
        allh = np.concatenate([np.asarray(a, dtype=np.int64) for a in sh]).view(
            np.uint64
        )
        bits = ((allh[:, None] >> np.arange(nbits, dtype=np.uint64)) & 1).astype(
            np.int64
        )
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        ones = np.add.reduceat(bits, starts, axis=0)
        votes = 2 * ones - lens[:, None]  # (+1 per set bit, -1 per clear)
        weights = (1 << np.arange(nbits)).astype(np.int64)
        return pd.Series((votes > 0) @ weights)

    simhash = shingled_docs(spark, sf_dir).select(
        "doc_id", simhash_of("shingles").alias("simhash")
    )
    keyed = simhash.select(
        "doc_id",
        "simhash",
        F.shiftright(F.col("simhash"), SIMHASH_BITS // 2).alias("prefix"),
    )
    # Same bucket-pair shape as _bucket_pairs but carrying the scalar simhash
    # through the bucket (cheap, unlike shingle arrays) so no join-back is
    # needed: groupBy(prefix) → in-bucket pair explode → hamming filter.
    buckets = (
        keyed.groupBy("prefix")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ms_raw"))
        .filter((F.size("ms_raw") > 1) & (F.size("ms_raw") <= MAX_BUCKET))
        .select(F.array_sort("ms_raw").alias("ms"))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    F.bit_count(x["simhash"].bitwiseXOR(y["simhash"])).alias(
                        "hamming"
                    ),
                ),
            ),
        )
    )
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= 3)
        .dropDuplicates(["doc_a", "doc_b"])
        .orderBy("doc_a", "doc_b")
    )


# Decontamination window: production pipelines use 8-13-gram overlap; the
# synthetic corpus has no shared runs that long (0 hits at k>=6), so 4 keeps
# the operator's output non-trivial while the shape is k-independent.
CONTAM_K = 4


@query(
    "x_decontaminate",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(t) >= {CONTAM_K}
                    THEN list_transform(range(len(t) - {CONTAM_K} + 1),
                                        i -> array_to_string(t[i+1:i+{CONTAM_K}], ' '))
                    ELSE [array_to_string(t, ' ')] END) AS s
      FROM toks
      WHERE len(t) > 0
    ), bench AS (
      SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0
    )
    SELECT c.doc_id, CAST(COUNT(DISTINCT c.g) AS BIGINT) AS n_overlap
    FROM corpus c JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
    """,
)
def x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any
    {CONTAM_K}-gram with the held-out benchmark set (here: doc_id % 97 == 0
    stands in for the eval suite) and report the count of distinct
    overlapping n-grams — the overlap filter run before every pretraining
    corpus ships.

    Scale shape: the benchmark side is SMALL by definition (eval suites,
    not the corpus), so its distinct n-gram hashes broadcast; the corpus
    side streams through one explode + broadcast-hash-join + per-doc
    count-distinct — no shuffle of corpus n-grams except the final
    doc-keyed partial aggregation. n-grams are bigint hashes end-to-end
    (SCALING.md finding 9); counts are hash-invariant (injective modulo
    2^-64 collisions) so the oracle's string-n-gram counts match exactly.
    Uses the vectorized Arrow shingler at the LONGER k=CONTAM_K window —
    decontamination wants longer n-grams than near-dup shingling. Each
    side filters doc_id BEFORE shingling (mapInPandas is opaque to
    Catalyst, so a post-filter would shingle the whole corpus twice);
    the bench side therefore only ever tokenizes the eval suite."""
    d = table(spark, sf_dir, "documents")
    bench = (
        shingle_frame(d.filter(F.col("doc_id") % 97 == 0), k=CONTAM_K)
        .select(F.explode("shingles").alias("g"))
        .distinct()
    )
    corpus = shingle_frame(d.filter(F.col("doc_id") % 97 != 0), k=CONTAM_K).select(
        "doc_id", F.explode("shingles").alias("g")
    )
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").alias("n_overlap"))
    )


@query(
    "x_fuzzy_join",
    oracle="""
    SELECT a.p_brand AS brand, a.p_partkey AS key_a, b.p_partkey AS key_b,
           a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a
    JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def x_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string-similarity join: part-name pairs within edit distance 2
    inside a (brand, size) block — the catalog-dedup shape for typo'd
    entity names, complementing the token-set (Jaccard) and bit-signature
    (SimHash) families with character-level similarity.

    Scale shape: an EQUI-join on the blocking key with levenshtein as a
    residual — never a cartesian string join. Two cheap residuals run
    before the O(len²) edit distance: the length band |len(a)-len(b)| <= 2
    (edit distance is bounded below by the length difference, so this
    drops no true pair) and the key inequality. At 100 TB the blocking key
    is the only shuffle; degenerate blocks would get the same salting
    treatment as joins.salted_join."""
    p = table(spark, sf_dir, "part")
    a = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_a"),
        F.col("p_name").alias("name_a"),
    )
    b = p.select(
        F.col("p_brand").alias("brand"),
        F.col("p_size").alias("size"),
        F.col("p_partkey").alias("key_b"),
        F.col("p_name").alias("name_b"),
    )
    return (
        a.join(b, ["brand", "size"])
        .filter(
            (F.col("key_a") < F.col("key_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= F.lit(2)
            )
            & (F.levenshtein("name_a", "name_b") <= F.lit(2))
        )
        .select(
            "brand",
            "key_a",
            "key_b",
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").cast("long").alias("edit_dist"),
        )
    )


SPAN_TOKENS = 8  # non-overlapping span width for line-level exact dedup


@query(
    "x_span_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), n AS (
      SELECT doc_id, t,
             CAST(ceil(len(t) / {SPAN_TOKENS}.0) AS BIGINT) AS n_spans
      FROM toks WHERE len(t) > 0
    ), s AS (
      SELECT doc_id, t, unnest(range(n_spans)) AS i FROM n
    ), spans AS (
      SELECT doc_id, i,
             array_to_string(t[i * {SPAN_TOKENS} + 1 :
                               i * {SPAN_TOKENS} + {SPAN_TOKENS}], ' ')
               AS span_text
      FROM s
    ), df AS (
      SELECT span_text, count(DISTINCT doc_id) AS ndocs
      FROM spans GROUP BY span_text
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           coalesce(string_agg(CASE WHEN ndocs < 2 THEN span_text END,
                               ' ' ORDER BY i), '') AS text_clean
    FROM spans JOIN df USING (span_text)
    GROUP BY doc_id
    """,
)
def x_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact dedup — the CCNet / RefinedWeb "remove duplicated
    lines across documents" pass, expressed over fixed {SPAN_TOKENS}-token
    non-overlapping spans (this corpus has no newlines; on real text the
    splitter is `split(text, '\\n')` and everything downstream is
    unchanged). A span appearing verbatim in ≥2 distinct documents
    (boilerplate: headers, cookie banners, nav bars) is deleted from ALL
    of them; each doc is reassembled from its surviving spans in order.

    Scale shape: tokenize+slice is map-side (one explode, rows ≈ tokens /
    {SPAN_TOKENS}); cross-doc duplication is ONE span-keyed window pass
    (min(doc_id) != max(doc_id) over the span partition — the exact
    "≥ 2 distinct docs" predicate without a count-distinct aggregate
    joined back, so the span rows shuffle once, not twice); reassembly
    is one doc_id-keyed groupBy. At 100 TB the window key is the 8-byte
    xxhash of the span instead of its text, and the reassembly
    groupBy(doc_id) collects only (i, span_hash, keep) — the actual text
    rewrite happens in the same pass via the collected keep-mask. Peak
    state per doc is its own span list — bounded by doc length, never by
    corpus size."""
    d = table(spark, sf_dir, "documents")
    npart = spark.sparkContext.defaultParallelism
    toks = (
        d.select("doc_id", "text")
        .repartition(npart)
        .select("doc_id", tokens_col(F.col("text")).alias("t"))
        .filter(F.size("t") > 0)
    )
    n_spans = F.ceil(F.size("t") / float(SPAN_TOKENS)).cast("bigint")
    spans = toks.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_spans - 1)).alias("i"),
        F.col("t"),
    ).select(
        "doc_id",
        "i",
        F.array_join(
            F.slice("t", (F.col("i") * SPAN_TOKENS + 1).cast("int"), SPAN_TOKENS),
            " ",
        ).alias("span_text"),
    )
    # "appears in >= 2 distinct documents" needs only min(doc_id) !=
    # max(doc_id) over the span's partition — a WINDOW on the same rows,
    # not a count-distinct aggregate joined back. One pass, no persist,
    # no join: the old agg+join shape re-shuffled every span row by
    # span_text a second time and double-passed the persisted span table
    # (r11, guide §2.4: two operations keyed the same way share one
    # exchange — here they collapse into one operator).
    w_span = Window.partitionBy("span_text")
    joined = spans.withColumn(
        "__dup", F.min("doc_id").over(w_span) != F.max("doc_id").over(w_span)
    )
    kept_struct = F.when(
        ~F.col("__dup"), F.struct(F.col("i"), F.col("span_text"))
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans"),
        F.sum(F.when(F.col("__dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_spans"),
        F.coalesce(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x["span_text"],
                ),
                " ",
            ),
            F.lit(""),
        ).alias("text_clean"),
    )


@query("x_dedup_eval")  # rows-only: metric of two pipelines, not a table op
def x_dedup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evaluate the approximate dedup pipeline against exact ground truth:
    recall/precision of MinHash+LSH verified pairs (x_dedup_minhash)
    versus the EXACT set of shingle-Jaccard >= 0.5 pairs, computed
    losslessly with the same PPJoin prefix theorem as x_dedup_jaccard but
    over SHINGLE sets with no block key (minhash runs unblocked, so its
    ground truth must too). Same similarity, same threshold, same shingle
    family — so precision must be exactly 1.0 (verified candidates are a
    subset of the truth) and recall measures ONLY what banding misses;
    the S-curve math in x_dedup_minhash's docstring predicts it. One
    metrics row, promoted to a first-class query so the measurement ships
    with the engine instead of living in a notebook.

    Scale shape: truth generation is prefix-filtered (never all-pairs) —
    prefix length |s| - ceil(|s|/2) + 1 in exact integer arithmetic;
    both pair sets are near-dup-sized; the comparison is one join + a
    global aggregate. At 100 TB you run it on a sampled block: recall of
    a hash-based method is block-size-invariant."""
    sh = shingled_docs(spark, sf_dir).filter(F.size("shingles") > 0).persist()
    ex = sh.select("doc_id", F.explode("shingles").alias("sg"))
    dfreq = ex.groupBy("sg").agg(F.count(F.lit(1)).alias("sdf"))
    sorted_sh = (
        ex.join(dfreq, "sg")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sdf", "sg"))),
                lambda s: s["sg"],
            ).alias("ss")
        )
    )
    sz = F.size("ss")
    p_len = (sz - F.floor((sz + 1) / 2) + 1).cast("int")
    prefix = sorted_sh.select(
        "doc_id", F.explode(F.slice("ss", 1, p_len)).alias("sg")
    )
    cand = _bucket_pairs(prefix, ["sg"], "doc_id", max_bucket=None)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    truth = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        # exact integer threshold — the SAME filter x_dedup_minhash's
        # verify step applies, so every pair lands on the same side of
        # the threshold in both sets and the precision-is-1.0 argument
        # holds exactly (ADVICE r3 #1; rounded-value filtering retired
        # with the jaccard_ge sweep).
        .filter(jaccard_ge(F.col("sh_a"), F.col("sh_b"), 1, 2))
        .select("doc_a", "doc_b")
    )
    lsh = x_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b")
    hits = truth.join(lsh, ["doc_a", "doc_b"], "inner")
    n_truth = truth.count()
    n_lsh = lsh.count()
    n_hits = hits.count()
    return spark.createDataFrame(
        [(
            n_truth,
            n_lsh,
            n_hits,
            round(n_hits / n_truth, 4) if n_truth else 1.0,
            round(n_hits / n_lsh, 4) if n_lsh else 1.0,
        )],
        "n_exact_pairs long, n_lsh_pairs long, n_hits long, "
        "recall double, precision double",
    )


NOVELTY_COMMON_DF = 3  # an n-gram in > this many docs counts as "common"


@query(
    "x_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         t -> t <> '') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             CASE
               WHEN len(t) >= {CONTAM_K} THEN list_distinct(
                 list_transform(generate_series(1, len(t) - {CONTAM_K} + 1),
                   i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]
                        || ' ' || t[i + 3]))
               ELSE [chr(1) || array_to_string(t, ' ')]
             END AS gs
      FROM toks WHERE len(t) > 0
    ), ex AS (
      SELECT doc_id, unnest(gs) AS g FROM grams
    ), df AS (
      SELECT g, COUNT(*) AS gdf FROM ex GROUP BY g
    )
    SELECT ex.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(*) FILTER (df.gdf > {NOVELTY_COMMON_DF}) AS BIGINT)
             AS n_common,
           round(1.0 - COUNT(*) FILTER (df.gdf > {NOVELTY_COMMON_DF})
                 / CAST(COUNT(*) AS DOUBLE), 4) + 0.0 AS novelty
    FROM ex JOIN df USING (g)
    GROUP BY ex.doc_id
    """,
)
def x_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document n-gram novelty: the share of a document's distinct
    {CONTAM_K}-grams that are NOT corpus-common (document frequency >
    {NOVELTY_COMMON_DF}) — the memorization-risk / boilerplate signal
    that complements x_repetition (within-doc) and x_decontaminate
    (vs a held-out set): a low-novelty doc is mostly text the model
    sees many times anyway.

    Scale shape: identical to x_decontaminate's — one vectorized
    shingling pass (hashed {CONTAM_K}-grams, hash-invariant counts),
    one vocabulary-sized df aggregate, one equi-join back (AQE
    broadcasts the df side when it fits; at web scale the common-gram
    table, filtered to gdf > {NOVELTY_COMMON_DF} BEFORE the join, is
    far smaller than the full df table — the filter is pushed exactly
    there), one doc-keyed aggregation. No windows, no quadratics."""
    ex = (
        shingled_docs(spark, sf_dir, k=CONTAM_K)
        .select("doc_id", F.explode("shingles").alias("g"))
        .persist()  # feeds df AND the join side; clearCache convention
    )
    # common-gram table filtered BEFORE the join back: at scale this is
    # the small side (boilerplate grams), so it broadcasts
    common = (
        ex.groupBy("g")
        .agg(F.count(F.lit(1)).alias("gdf"))
        .filter(F.col("gdf") > NOVELTY_COMMON_DF)
        .select("g")
    )
    return (
        ex.join(common.withColumn("is_common", F.lit(1)), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce("is_common", F.lit(0))).cast("bigint").alias("n_common"),
            (
                F.round(
                    1.0
                    - F.sum(F.coalesce("is_common", F.lit(0)))
                    / F.count(F.lit(1)).cast("double"),
                    4,
                )
                + 0.0
            ).alias("novelty"),
        )
    )


SUBSTR_SEED_TOKENS = 8   # seed width: any shared run >= this is witnessed
SUBSTR_OCC_CAP = 50      # boilerplate guard: seeds occurring more often are
#                          dropped on BOTH engines (deterministic, mirrored)


@query(
    "x_substring_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS t
      FROM documents
    ), p AS (
      SELECT doc_id, t,
             unnest(range(len(t) - {SUBSTR_SEED_TOKENS} + 1)) AS pos
      FROM t WHERE len(t) >= {SUBSTR_SEED_TOKENS}
    ), spans AS (
      SELECT doc_id, pos,
             md5(array_to_string(
               t[pos + 1 : pos + {SUBSTR_SEED_TOKENS}], ' ')) AS h
      FROM p
    ), rare AS (
      SELECT h FROM spans GROUP BY h
      HAVING count(*) BETWEEN 2 AND {SUBSTR_OCC_CAP}
    ), m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.pos AS pa, b.pos - a.pos AS delta
      FROM spans a JOIN rare USING (h) JOIN spans b USING (h)
      WHERE a.doc_id < b.doc_id
    ), isl AS (
      SELECT doc_a, doc_b, delta, pa,
             pa - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, delta ORDER BY pa) AS grp
      FROM m
    ), runs AS (
      SELECT doc_a, doc_b,
             {SUBSTR_SEED_TOKENS} + count(*) - 1 AS run_len
      FROM isl GROUP BY doc_a, doc_b, delta, grp
    )
    SELECT doc_a, doc_b,
           CAST(max(run_len) AS BIGINT) AS max_shared_run,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM runs
    GROUP BY doc_a, doc_b
    """,
)
def x_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length exact substring dedup — the "Deduplicating Training
    Data Makes Language Models Better" (Lee et al., ACL 2022 — public)
    suffix-array pass re-expressed relationally: for every document pair
    sharing a verbatim token run of >= SUBSTR_SEED_TOKENS tokens, report
    the LONGEST shared run and the number of distinct shared runs.
    Sliding SUBSTR_SEED_TOKENS-token seed spans at every position witness any run
    >= L; runs reconstruct from seed matches by gaps-and-islands — seeds
    of one true run match at one aligned offset (delta = pos_b - pos_a)
    at consecutive pos_a, so an island of k consecutive seeds proves a
    run of exactly L + k - 1 tokens (consecutive same-delta seeds imply
    token-level extension, so islands never overcount). Seeds occurring
    more than SUBSTR_OCC_CAP times corpus-wide are boilerplate and are
    dropped identically on both engines (the Lee et al. suffix-array
    pipeline caps the same way), keeping the blowup bound at CAP^2 pairs
    per seed.

    Engine parity: the seed join keys on md5 of the span text in BOTH
    the Spark plan and the oracle, so semantics (collisions included)
    are identical by construction.

    Scale shape: tokenize+slide is map-side (one explode, rows = token
    count); ONE shuffle on the seed hash groups the occurrences, the cap
    filters the collected group (never more than SUBSTR_OCC_CAP structs
    per seed), and cross-doc pairs explode map-side from that bounded
    array — the phash_near_dups candidate shape. Deliberately NOT a
    spans-vs-rare-seeds self-join: a "rare seeds" table grows with the
    corpus (it is not a dim), so a plan that lets the optimizer
    broadcast it melts the driver at scale (observed at sf10 before this
    shape). The islands window partitions by (doc_a, doc_b, delta),
    groups no larger than a doc's token count; the shuffles carry
    (hash, doc, pos) only — never text. Nothing is ever corpus x
    corpus."""
    L = SUBSTR_SEED_TOKENS
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("t")).filter(
        F.size("t") >= L
    )
    spans = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("t") - L),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i + 1, L))),
            )
        ).alias("pos", "h"),
    )
    # pair generation happens INSIDE the seed groups (the phash_near_dups
    # shape) — one shuffle on h, occurrence cap applied to the collected
    # group, cross-doc pairs exploded from the bounded array. No
    # spans-vs-rare self-join: a "rare seeds" table GROWS WITH THE CORPUS
    # (it is not a dim), so any plan that lets the optimizer broadcast it
    # melts the driver at scale — observed as an sf10 broadcast OOM before
    # this rewrite.
    groups = (
        spans.groupBy("h")
        .agg(F.collect_list(F.struct("doc_id", "pos")).alias("occ"))
        .filter((F.size("occ") >= 2) & (F.size("occ") <= SUBSTR_OCC_CAP))
    )
    pair_col = F.flatten(
        F.transform(
            F.col("occ"),
            lambda x, i: F.filter(
                F.transform(
                    F.slice(F.col("occ"), i + 2, F.size(F.col("occ"))),
                    lambda y: F.struct(
                        F.least(x["doc_id"], y["doc_id"]).alias("doc_a"),
                        F.greatest(x["doc_id"], y["doc_id"]).alias("doc_b"),
                        F.when(x["doc_id"] < y["doc_id"], x["pos"])
                        .otherwise(y["pos"])
                        .alias("pa"),
                        (
                            F.when(x["doc_id"] < y["doc_id"], y["pos"]).otherwise(
                                x["pos"]
                            )
                            - F.when(x["doc_id"] < y["doc_id"], x["pos"]).otherwise(
                                y["pos"]
                            )
                        ).alias("delta"),
                    ),
                ),
                lambda p: p["doc_a"] != p["doc_b"],
            ),
        )
    )
    m = groups.select(F.explode(pair_col).alias("p")).select(
        "p.doc_a", "p.doc_b", "p.pa", "p.delta"
    )
    isl = m.withColumn(
        "grp",
        F.col("pa")
        - F.row_number().over(
            Window.partitionBy("doc_a", "doc_b", "delta").orderBy("pa")
        ),
    )
    runs = isl.groupBy("doc_a", "doc_b", "delta", "grp").agg(
        (F.lit(L) + F.count(F.lit(1)) - 1).alias("run_len")
    )
    return runs.groupBy("doc_a", "doc_b").agg(
        F.max("run_len").cast("bigint").alias("max_shared_run"),
        F.count(F.lit(1)).cast("bigint").alias("n_runs"),
    )


CONTAIN_T = 0.9  # directed containment threshold |A∩B|/|A|


@query(
    "x_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                       t -> t <> '')) AS tokset
      FROM documents
    )
    SELECT a.doc_id AS doc_sub, b.doc_id AS doc_sup,
           round(len(list_intersect(a.tokset, b.tokset)) / len(a.tokset), 4)
             AS containment
    FROM toks a
    JOIN toks b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
    WHERE len(a.tokset) > 0
      AND 10 * len(list_intersect(a.tokset, b.tokset)) >= 9 * len(a.tokset)
    """,
)
def x_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2i: ASYMMETRIC containment near-dup — directed pairs where ≥90%
    of doc_sub's token set appears in doc_sup, within a (lang, source)
    block. Containment C(A→B) = |A∩B|/|A| is what catches quote-inside-
    article, excerpt-inside-page, and template-subset duplication that
    symmetric Jaccard misses (C ≥ J always, and a short doc fully quoted
    by a long one has high C but low J) — the SSJoin containment variant
    (Chaudhuri et al. 2006, public).

    Lossless asymmetric prefix filter: if |A∩B| ≥ ceil(t·|A|) then fewer
    than ceil(t·|A|) tokens of A sit OUTSIDE its first
    |A| − ceil(t·|A|) + 1 tokens under the global (block-df asc, token)
    order, so at least one intersecting token is in A's prefix — and that
    token is anywhere in B. Candidates therefore join A's PREFIX tokens
    against B's FULL posting list (the asymmetry vs x_dedup_jaccard's
    prefix-vs-prefix: only the contained side gets to shrink). Prefix
    tokens are the rarest in their block, so each posting bucket is small
    by construction; the verify step computes the exact containment on
    the full token sets for candidates only. ceil(0.9·n) is INTEGER
    floor((9n+9)/10) — float ceil(0.9*10.0) under-shoots and would drop
    true pairs (same guard as x_dedup_jaccard's 0.8).

    Scale: the posting side is the corpus token table keyed by (block,
    token) — the same maintained index shape incremental_match_indexed
    already builds — and the prefix side is ~(1−t) of each doc's tokens;
    no block-quadratic pair generation anywhere."""
    d = table(spark, sf_dir, "documents")
    # eager localCheckpoint, not a lazy persist (r11): the verify-side
    # map stages (ta/tb below) have no dependency on the candidate
    # stages, so they launch at job start and would race the unbuilt
    # cache, re-running the tokenize+hash pass per stage; the checkpoint
    # materializes it once before anything fans out.
    toks = d.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(
            F.transform(tokens_col(F.col("text")), lambda t: F.xxhash64(t))
        ).alias("tokset"),
    ).filter(F.size("tokset") > 0)
    toks = eager_checkpoint(toks)  # flip switch + lifecycle: see helper

    ex = toks.select(
        "doc_id", "lang", "source", F.size("tokset").alias("n"),
        F.explode("tokset").alias("token"),
    )
    dfreq = ex.groupBy("lang", "source", "token").agg(
        F.count(F.lit(1)).alias("tdf")
    )
    # dfreq is the block-conditional VOCABULARY (Heaps-law-sized —
    # megabytes at 100 TB). A FORCED F.broadcast(dfreq) was measured and
    # REVERTED in r11 (1.13x: the blocking broadcast-build barrier beat
    # the shuffle AQE already coalesces at this SF) — AQE picks the
    # strategy from real sizes here, and at 100 TB the vocabulary-sized
    # side is exactly what its runtime stats would broadcast.
    # (ADVICE r11: this note previously described the rejected forced
    # broadcast as if implemented.)
    sorted_toks = (
        ex.join(dfreq, ["lang", "source", "token"])
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tdf", "token"))),
                lambda s: s["token"],
            ).alias("toks_sorted")
        )
    )
    sz = F.size("toks_sorted")
    p_len = sz - F.floor((9 * sz + 9) / 10).cast("int") + 1
    prefix = sorted_toks.select(
        F.col("doc_id").alias("doc_sub"),
        "lang",
        "source",
        sz.alias("n_sub"),
        F.explode(F.slice("toks_sorted", 1, p_len)).alias("token"),
    )
    postings = ex.select(
        F.col("doc_id").alias("doc_sup"), "lang", "source", "n", "token"
    )
    # length filter (SSJoin, lossless): C(A→B) >= 0.9 forces
    # |B| >= |A∩B| >= ceil(0.9·|A|), and for integers 10·|B| >= 9·|A| is
    # exactly |B| >= ceil(0.9·|A|) — so candidates failing it cannot
    # pass the verify predicate (10·i >= 9·n with i <= |B|). Measured at
    # sf0.1: 288k → 198k pairs entering distinct+verify (−31%).
    cand = (
        prefix.join(postings, ["lang", "source", "token"])
        .filter(F.col("doc_sub") != F.col("doc_sup"))
        .filter(10 * F.col("n") >= 9 * F.col("n_sub"))
        .select("doc_sub", "doc_sup")
        .distinct()
    )
    ta = toks.select(F.col("doc_id").alias("doc_sub"), F.col("tokset").alias("set_sub"))
    tb = toks.select(F.col("doc_id").alias("doc_sup"), F.col("tokset").alias("set_sup"))
    # threshold in INTEGER arithmetic on the UNROUNDED containment —
    # filtering the rounded value admits pairs at [t - 5e-5, t) that
    # the prefix filter never generated candidates for (lossless only
    # w.r.t. the exact threshold); rounding is presentation only.
    # Intersection size computed ONCE in a projection that drops the
    # token arrays (same single-evaluation shape as _jaccard_verified).
    i, n = F.col("__i"), F.col("__n")
    sized = (
        cand.join(ta, "doc_sub")
        .join(tb, "doc_sup")
        .select(
            "doc_sub",
            "doc_sup",
            F.size(F.array_intersect("set_sub", "set_sup")).alias("__i"),
            F.size("set_sub").alias("__n"),
        )
    )
    return sized.filter(10 * i >= 9 * n).select(
        "doc_sub",
        "doc_sup",
        F.round(i / n, 4).alias("containment"),
    )
