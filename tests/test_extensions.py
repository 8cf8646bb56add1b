"""Extension-operator tests with planted ground truth: near-dup detection
must actually find planted near-duplicates (the synthetic corpus has none),
similarity search must rank an identical vector first, multimodal plumbing
must round-trip payloads through Arrow batches."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from imagingdb_spark import multimodal
from imagingdb_spark.operators.dedup import jaccard, shingles_from_tokens
from imagingdb_spark.operators.text import tokens_col


def _shingles(df):
    return (
        df.select(tokens_col(F.col("text")).alias("toks"))
        .select(F.transform("toks", lambda t: F.xxhash64(t)).alias("th"))
        .select(shingles_from_tokens(F.col("th")).alias("s"))
    )
from imagingdb_spark.operators.similarity import cosine, dot


BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    rows = [
        (0, BASE, "en", "src0"),
        (1, BASE.replace("lazy", "sleepy"), "en", "src0"),        # near-dup of 0
        (2, BASE, "en", "src1"),                                   # exact dup of 0
        (3, "completely different text about spark query engines "
            "and distributed joins at scale", "en", "src0"),
        (4, "short doc", "en", "src1"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


class TestShingles:
    def test_shingle_construction(self, spark):
        """Shingles are order-sensitive k-window HASHES: 'a b c d' gives
        exactly 2 distinct shingles, and the same windows from a different
        doc hash identically (set semantics survive the hashing)."""
        df = spark.createDataFrame([("a b c d",), ("b c d a",)], "text string")
        rows = _shingles(df).collect()
        assert len(rows[0]["s"]) == 2                       # 'a b c', 'b c d'
        # 'b c d a' windows: 'b c d', 'c d a' — shares exactly one shingle
        assert len(set(rows[0]["s"]) & set(rows[1]["s"])) == 1

    def test_order_sensitivity(self, spark):
        """Reversed word order must produce disjoint shingles (this is why
        shingles, not unigram sets: unigram sets would be identical)."""
        df = spark.createDataFrame([("a b c d e",), ("e d c b a",)], "text string")
        rows = _shingles(df).collect()
        assert not set(rows[0]["s"]) & set(rows[1]["s"])

    def test_short_doc_whole_text_shingle(self, spark):
        df = spark.createDataFrame([("short doc",), ("short doc",), ("doc short",)], "text string")
        rows = _shingles(df).collect()
        assert len(rows[0]["s"]) == 1
        assert rows[0]["s"] == rows[1]["s"]      # same 2 tokens, same hash
        assert rows[0]["s"] != rows[2]["s"]      # order matters

    def test_jaccard_identical_is_one(self, spark):
        df = spark.createDataFrame([(["a", "b"], ["a", "b"])], "x array<string>, y array<string>")
        got = df.select(jaccard(F.col("x"), F.col("y")).alias("j")).collect()[0]["j"]
        assert got == 1.0


class TestMinhashFindsPlantedDups:
    def test_planted_pairs_found(self, spark, planted_docs, monkeypatch):
        import imagingdb_spark.catalog as catalog
        from imagingdb_spark.operators import dedup

        monkeypatch.setattr(
            catalog, "table", lambda spark_, sf, name: planted_docs
        )
        monkeypatch.setattr(dedup, "table", lambda spark_, sf, name: planted_docs)
        got = dedup.x_dedup_minhash(spark, "ignored").collect()
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in got}
        assert (0, 2) in pairs and pairs[(0, 2)] == 1.0   # exact dup
        assert (0, 1) in pairs and pairs[(0, 1)] > 0.5     # near dup
        assert not any(3 in p or 4 in p for p in pairs)    # non-dups excluded


class TestSimilarity:
    def test_identical_vector_ranks_first(self, spark):
        rng = np.random.default_rng(7)
        vecs = [(i, [float(x) for x in rng.normal(size=8)], i % 2) for i in range(1, 50)]
        vecs.append((0, vecs[0][1], 0))    # vec 0 == vec 1
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>, label int")
        probe = df.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q"))
        scored = (
            df.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(probe))
            .select("vec_id", cosine(F.col("embedding"), F.col("q")).alias("sim"))
            .orderBy(F.desc("sim"))
        )
        top = scored.collect()[0]
        assert top["vec_id"] == 1 and top["sim"] == pytest.approx(1.0)

    def test_dot_matches_numpy(self, spark):
        a, b = [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]
        df = spark.createDataFrame([(a, b)], "x array<double>, y array<double>")
        got = df.select(dot(F.col("x"), F.col("y")).alias("d")).collect()[0]["d"]
        assert got == pytest.approx(np.dot(a, b))

    def test_embed_tiling_equals_one_shot_gram(self):
        """A skewed label bigger than the tile must produce EXACTLY the
        pairs of the untiled gram matrix (tile pairs are a memory layout,
        not an approximation)."""
        import pandas as pd

        from imagingdb_spark.operators.similarity import _embed_block_pairs

        rng = np.random.default_rng(11)
        base = rng.normal(size=16)
        rows = []
        for i in range(10):  # 10 rows >> tile=3; half are near-dups of base
            v = base + rng.normal(scale=0.1 if i % 2 else 2.0, size=16)
            rows.append({"vec_id": i, "label": np.int32(1), "embedding": v})
        pdf = pd.DataFrame(rows)
        one_shot = _embed_block_pairs(pdf, 0.4, tile=10_000)
        tiled = _embed_block_pairs(pdf, 0.4, tile=3)
        key = lambda df: sorted(zip(df["vec_a"], df["vec_b"], df["cosine_sim"].round(6)))
        assert len(one_shot) > 0
        assert key(one_shot) == key(tiled)

    def test_approx_sketch_error_bounds(self, spark):
        """HLL++ cardinality must land within 5% of exact; the p50 sketch
        quantile within the [min, max] of its group (sanity bound)."""
        from imagingdb_spark.operators.aggregates import a_approx_sketch
        from imagingdb_spark.catalog import table

        sf_dir = "/root/testdata/sf0.001"
        got = {r["l_returnflag"]: r for r in a_approx_sketch(spark, sf_dir).collect()}
        exact = {
            r["l_returnflag"]: r
            for r in table(spark, sf_dir, "lineitem")
            .groupBy("l_returnflag")
            .agg(
                F.countDistinct("l_orderkey").alias("n"),
                F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
            )
            .collect()
        }
        for flag, row in got.items():
            assert abs(row["approx_orders"] - exact[flag]["n"]) <= 0.05 * exact[flag]["n"]
            assert abs(row["p50_price"] - exact[flag]["p50"]) <= 0.02 * exact[flag]["p50"]

    def test_ann_recall_vs_exact_topk(self, spark):
        """Multi-table multi-probe LSH must recover >=80% of the exact
        top-10 on the driver corpus (the VERDICT's recall bar). The driver
        embeddings are weakly separated (max cosine ~0.47), so this is the
        hard case for hyperplane LSH — a real near-dup corpus does better."""
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        exact = {r["vec_id"] for r in S.x_topk_sim(spark, sf_dir).collect()}
        ann = {r["vec_id"] for r in S.x_ann_lsh(spark, sf_dir).collect()}
        assert len(exact) == 10
        assert len(ann & exact) / 10 >= 0.8

    def test_ivf_recall_vs_exact_topk(self, spark):
        """IVF-Flat with IVF_PROBE/IVF_K = 1/4 of the cells must recover
        >=70% of the exact top-10 on the weakly-separated driver corpus
        (near-neighbors concentrate in the query's nearest cells; corpora
        with real cluster structure do much better)."""
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        exact = {r["vec_id"] for r in S.x_topk_sim(spark, sf_dir).collect()}
        ivf = {r["vec_id"] for r in S.x_ann_ivf(spark, sf_dir).collect()}
        assert len(exact) == 10
        assert len(ivf & exact) / 10 >= 0.7


class TestMultimodal:
    @pytest.fixture()
    def frames_df(self, spark):
        rows = [
            ("DS-1", c, z, 0, 0, 4, 2, "uint8", bytes([c * 10 + z + i for i in range(8)]))
            for c in range(2)
            for z in range(2)
        ]
        return spark.createDataFrame(rows, multimodal.FRAME_SCHEMA)

    def test_decode_rejects_non_png(self):
        # round 3: decode_png is REAL (pure-numpy codec); junk bytes now
        # fail the signature check instead of hitting a stub
        with pytest.raises(ValueError, match="PNG"):
            multimodal.decode_png(b"bytes", "uint8")

    def test_frame_features_with_fake_decoder(self, frames_df):
        got = multimodal.frame_features(frames_df, decoder=multimodal.fake_decoder)
        rows = {(r["channel_idx"], r["slice_idx"]): r for r in got.collect()}
        assert len(rows) == 4
        r = rows[(1, 1)]
        payload = bytes([1 * 10 + 1 + i for i in range(8)])
        import hashlib

        assert r["n_bytes"] == 8
        assert r["payload_sha256"] == hashlib.sha256(payload).hexdigest()
        assert r["mean_intensity"] == pytest.approx(np.frombuffer(payload, np.uint8).mean())

    def test_assemble_stack_shape_and_order(self, frames_df):
        got = multimodal.assemble_stack(frames_df, decoder=multimodal.fake_decoder)
        rows = got.collect()
        assert len(rows) == 1
        r = rows[0]
        # Z=2, C=2 kept; T=P=1 squeezed; X=8 payload elements
        assert r["dim_order"] == "ZCX"
        assert r["shape"] == [2, 2, 8]
        stack = np.array(r["stack"]).reshape(r["shape"])
        # frame (c=1, z=0): payload bytes 10..17 at stack[z=0, c=1]
        assert list(stack[0, 1]) == [10.0 + i for i in range(8)]


class TestMultimodalResizeSample:
    @pytest.fixture()
    def frames_df(self, spark):
        rows = [
            ("DS-1", c, z, t, 0, 4, 2, "uint8",
             bytes([c * 10 + z + t + i for i in range(8)]))
            for c in range(2)
            for z in range(2)
            for t in range(3)
        ]
        return spark.createDataFrame(rows, multimodal.FRAME_SCHEMA)

    def test_resize_rewrites_payload_and_dims(self, frames_df):
        got = multimodal.resize_frames(
            frames_df, out_height=2, out_width=2,
            decoder=multimodal.fake_decoder,
        )
        rows = got.collect()
        assert len(rows) == frames_df.count()
        for r in rows:
            assert r["im_height"] == 2 and r["im_width"] == 2
            assert len(bytes(r["payload"])) == 4  # 2x2 uint8
        # deterministic nearest-neighbor sampling: first byte survives
        first = next(r for r in rows if r["channel_idx"] == 0
                     and r["slice_idx"] == 0 and r["time_idx"] == 0)
        assert bytes(first["payload"])[0] == 0

    def test_resize_with_injected_resizer(self, frames_df):
        calls = []

        def doubler(arr, h, w):
            calls.append(1)
            return np.full((h, w), 7, dtype=arr.dtype)

        got = multimodal.resize_frames(
            frames_df, 3, 3, resizer=doubler, decoder=multimodal.fake_decoder
        ).collect()
        assert all(bytes(r["payload"]) == bytes([7] * 9) for r in got)

    def test_sample_every_nth_per_dataset(self, frames_df):
        got = multimodal.sample_frames(frames_df, every_nth=3)
        rows = got.collect()
        # 12 frames per dataset, every 3rd in (t,z,c,p) order -> 4 kept
        assert len(rows) == 4
        # deterministic: ranks 1,4,7,10 of the (time,slice,channel,pos) order
        kept = sorted((r["time_idx"], r["slice_idx"], r["channel_idx"]) for r in rows)
        assert kept == [(0, 0, 0), (0, 1, 1), (1, 1, 0), (2, 0, 1)]

    def test_sample_nth_one_keeps_all(self, frames_df):
        assert multimodal.sample_frames(frames_df, 1).count() == frames_df.count()


class TestConnectedComponents:
    def test_chains_and_islands(self, spark):
        from imagingdb_spark.operators.graph import connected_components

        pairs = spark.createDataFrame(
            # a 5-chain (needs multiple propagation rounds), a 2-island,
            # and a triangle sharing no nodes with either
            [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (20, 21), (21, 22), (20, 22)],
            "doc_a long, doc_b long",
        )
        got = {r["doc_id"]: r["cluster_id"]
               for r in connected_components(pairs).collect()}
        spark.catalog.clearCache()
        assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                       10: 10, 11: 10, 20: 20, 21: 20, 22: 20}

    def test_nonconvergence_raises(self, spark):
        from imagingdb_spark.operators.graph import connected_components

        pairs = spark.createDataFrame(
            [(i, i + 1) for i in range(1, 8)], "doc_a long, doc_b long"
        )
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(pairs, max_iter=1)
        spark.catalog.clearCache()

    def test_non_numeric_ids_fail_loudly(self, spark):
        """String ids would NULL the decimal convergence sum and exit after
        one round with silently wrong clusters — must raise instead."""
        from imagingdb_spark.operators.graph import connected_components

        pairs = spark.createDataFrame(
            [("a", "b"), ("b", "c")], "doc_a string, doc_b string"
        )
        with pytest.raises(TypeError, match="numeric node ids"):
            connected_components(pairs)

    def test_mixed_type_ids_fail_loudly(self, spark):
        """ADVICE r6: numeric src + string dst slipped past a src-only
        guard — dst labels cast to NULL in the union and clusters came
        out silently wrong. Both endpoints must be checked."""
        from imagingdb_spark.operators.graph import connected_components

        pairs = spark.createDataFrame(
            [(1, "b"), (2, "c")], "doc_a long, doc_b string"
        )
        with pytest.raises(TypeError, match="doc_b"):
            connected_components(pairs)

    def test_retain_canonical_longest_wins(self, spark):
        from imagingdb_spark.operators.graph import retain_canonical

        clusters = spark.createDataFrame(
            # one 3-cluster, one 2-cluster with a length tie
            [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
            "doc_id long, cluster_id long",
        )
        docs = spark.createDataFrame(
            [(1, 50), (2, 90), (3, 90), (10, 7), (11, 7)],
            "doc_id long, n_chars long",
        )
        rows = {r["doc_id"]: r for r in retain_canonical(docs, clusters).collect()}
        spark.catalog.clearCache()
        # cluster 1: docs 2 and 3 tie at 90 chars -> min doc_id 2 wins
        assert [rows[i]["canonical_id"] for i in (1, 2, 3)] == [2, 2, 2]
        assert [rows[i]["kept"] for i in (1, 2, 3)] == [False, True, False]
        # cluster 10: tie at 7 chars -> min doc_id 10 wins
        assert [rows[i]["canonical_id"] for i in (10, 11)] == [10, 10]
        assert [rows[i]["kept"] for i in (10, 11)] == [True, False]

    def test_soft_dedup_weights_sum_to_effective_corpus(self, spark):
        """Soft dedup invariants on the real corpus: singletons weigh 1,
        cluster members weigh 1/cluster_size, so total weight equals
        (singletons + number of clusters) — one gradient-unit per unique
        piece of content."""
        from imagingdb_spark.operators.graph import (
            x_dedup_cluster, x_dedup_weights,
        )

        sf = "/root/testdata/sf0.001"
        rows = x_dedup_weights(spark, sf).collect()
        clusters = x_dedup_cluster(spark, sf).collect()
        spark.catalog.clearCache()
        n_docs = len(rows)
        members = {r["doc_id"] for r in clusters}
        n_clusters = len({r["cluster_id"] for r in clusters})
        for r in rows:
            if r["doc_id"] in members:
                assert r["cluster_size"] > 1 or r["weight"] == 1.0
                assert abs(r["weight"] - round(1 / r["cluster_size"], 4)) < 1e-9
            else:
                assert (r["cluster_size"], r["weight"]) == (1, 1.0)
        total = sum(r["weight"] for r in rows)
        expected = (n_docs - len(members)) + n_clusters
        # rounding to 4 decimals perturbs each member by < 5e-5
        assert abs(total - expected) < 5e-5 * len(members) + 1e-6

    def test_retain_invariants_on_corpus(self, spark):
        from imagingdb_spark.operators.graph import x_dedup_retain

        rows = x_dedup_retain(spark, "/root/testdata/sf0.001").collect()
        spark.catalog.clearCache()
        assert rows, "sf0.001 has planted near-dup clusters"
        by_cluster: dict[int, list] = {}
        for r in rows:
            by_cluster.setdefault(r["cluster_id"], []).append(r)
        for cid, members in by_cluster.items():
            kept = [r for r in members if r["kept"]]
            assert len(kept) == 1, f"cluster {cid}: exactly one keeper"
            canon = kept[0]["doc_id"]
            assert all(r["canonical_id"] == canon for r in members)
            assert all(r["kept"] == (r["doc_id"] == canon) for r in members)

    def test_shard_shuffle_dense_and_deterministic(self, spark):
        from tests.conftest import SF_DIR
        from imagingdb_spark.operators.sampling import x_shard_shuffle

        rows = x_shard_shuffle(spark, SF_DIR).collect()
        by_shard: dict[str, list[int]] = {}
        for r in rows:
            by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
        # positions are dense 1..n within every shard (a dataloader can
        # seek by (shard, pos) with no gaps)
        for shard, ps in by_shard.items():
            assert sorted(ps) == list(range(1, len(ps) + 1)), shard
        # content-addressed: a second run reproduces the exact order
        again = x_shard_shuffle(spark, SF_DIR).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))

    def test_compact_keeps_keepers_and_singletons(self, spark):
        from imagingdb_spark.operators.graph import compact

        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in range(1, 8)], "doc_id long, body string"
        )
        clusters = spark.createDataFrame(
            # {1,2,3} keeper 1, {5,6} keeper 5; 4 and 7 never near-dupped
            [(1, 1), (2, 1), (3, 1), (5, 5), (6, 5)],
            "doc_id long, cluster_id long",
        )
        kept = sorted(r["doc_id"] for r in compact(docs, clusters).collect())
        assert kept == [1, 4, 5, 7]


class TestPacking:
    def test_pack_constraints_and_determinism(self, spark):
        """Every bin respects the token budget (singleton over-budget docs
        excepted), every tokenized doc lands in exactly one bin, and two
        runs produce identical bins (hash partitioner + FFD order are both
        deterministic)."""
        from imagingdb_spark.operators.text import (
            PACK_BUDGET,
            tokens_col,
            x_pack_sequences,
        )

        sf_dir = "/root/testdata/sf0.001"
        bins = x_pack_sequences(spark, sf_dir).collect()
        for r in bins:
            assert r["total_tokens"] <= PACK_BUDGET or r["n_docs"] == 1
            assert r["n_docs"] >= 1
        docs = spark.read.parquet(sf_dir + "/documents.parquet")
        n_docs = docs.filter(F.size(tokens_col(F.col("text"))) > 0).count()
        assert sum(r["n_docs"] for r in bins) == n_docs
        again = x_pack_sequences(spark, sf_dir).collect()
        assert sorted(map(tuple, bins)) == sorted(map(tuple, again))


class TestAudioFeatures:
    def test_audio_features_with_fake_decoder(self, spark):
        """Windowed RMS math must match a straight numpy computation on the
        decoded samples, the decode stub must raise, and empty payloads
        must not crash the batch."""
        import struct

        samples = [1000, -2000, 3000, -4000, 500, -600]
        payload = struct.pack(f"<{len(samples)}h", *samples)
        df = spark.createDataFrame(
            [("c1", payload, 16000), ("c2", b"", 16000)],
            "clip_id string, payload binary, sample_rate int",
        )
        got = {
            r["clip_id"]: r
            for r in multimodal.audio_features(
                df, window=4, decoder=multimodal.fake_pcm_decoder
            ).collect()
        }
        a = np.array(samples, dtype=np.float64) / 32768.0
        r1 = got["c1"]
        assert r1["n_samples"] == 6 and r1["n_windows"] == 2
        assert r1["rms"] == pytest.approx(float(np.sqrt((a * a).mean())))
        assert r1["peak"] == pytest.approx(float(np.abs(a).max()))
        assert r1["window_rms"][0] == pytest.approx(
            float(np.sqrt((a[:4] ** 2).mean())), abs=1e-6
        )
        assert r1["window_rms"][1] == pytest.approx(
            float(np.sqrt((a[4:] ** 2).mean())), abs=1e-6
        )
        # empty payload decodes to the 1-sample silence stand-in
        assert got["c2"]["rms"] == 0.0

        with pytest.raises(Exception):
            multimodal.audio_features(df).collect()


class TestGapfillNullValues:
    """Round-3 ADVICE fix: is_gap comes from the join miss, and the fill
    carries the matched row's value even when that value is NULL (a
    NULL-valued observation must not be skipped by the forward fill,
    matching the oracle's ASOF-join semantics)."""

    def test_null_observation_fills_forward_and_is_not_gap(
        self, spark, monkeypatch
    ):
        import datetime as dt

        from imagingdb_spark.operators import streaming_batch as sb

        rows = [
            (1, dt.datetime(2024, 1, 1, 0, 5), 10, 1.0),
            (2, dt.datetime(2024, 1, 1, 1, 10), 10, None),  # NULL-valued obs
            # hour 2 has no observation at all → gap
            (3, dt.datetime(2024, 1, 1, 3, 0), 10, 4.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double"
        )
        monkeypatch.setattr(sb, "table", lambda s, sf, name: df)
        out = {
            r.hour_ts.hour: r
            for r in sb.x_gapfill(spark, "ignored").collect()
        }
        assert len(out) == 4
        assert out[0].filled_value == 1.0 and out[0].is_gap is False
        # NULL-valued observation: its slot is NOT a gap, fill is NULL
        assert out[1].filled_value is None and out[1].is_gap is False
        # true gap: forward fill carries the NULL from hour 1, not 1.0
        assert out[2].filled_value is None and out[2].is_gap is True
        assert out[3].filled_value == 4.0 and out[3].is_gap is False


class TestSemDedup:
    def test_soundness_every_drop_has_kept_partner(self, spark):
        """A vector may only be dropped because of an above-threshold
        near-dup with a smaller id in its cell — verify against exact
        cosine recomputed in numpy for every dropped vector."""
        import numpy as np

        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        out = {
            r["vec_id"]: (r["cell"], r["is_dropped"])
            for r in S.x_semdedup(spark, sf_dir).collect()
        }
        emb = {
            r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
        }
        assert len(out) == len(emb)  # one verdict per vector
        dropped = [v for v, (_, d) in out.items() if d]
        for v in dropped:
            cell = out[v][0]
            partners = [
                u
                for u, (c, _) in out.items()
                if c == cell and u < v
            ]
            best = max(
                float(
                    emb[v] @ emb[u]
                    / (np.linalg.norm(emb[v]) * np.linalg.norm(emb[u]))
                )
                for u in partners
            )
            assert round(best, 4) >= S.SEMDEDUP_THRESHOLD, (v, best)

    def test_planted_duplicates_are_found(self, spark, tmp_path):
        """Recall on clustered data: plant exact near-duplicates (tiny
        deterministic perturbations of existing vectors) — k-means must
        put each copy in its original's cell and the copy (larger id)
        must be dropped."""
        import numpy as np

        from imagingdb_spark.operators import similarity as S

        base = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).collect()
        rows, max_id = [], max(r["vec_id"] for r in base)
        for r in base:
            rows.append((r["vec_id"], r["label"], list(r["embedding"])))
        planted = []
        for i, r in enumerate(base[:10]):
            v = np.asarray(r["embedding"], dtype=np.float32)
            v = v * (1.0 + 1e-4 * (i + 1))  # same direction → cosine 1.0
            planted.append(max_id + 1 + i)
            rows.append((max_id + 1 + i, r["label"], [float(x) for x in v]))
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<float>"
        )
        d = str(tmp_path / "sfplant")
        df.coalesce(1).write.parquet(f"{d}/embeddings.parquet")
        out = {
            r["vec_id"]: r["is_dropped"]
            for r in S.x_semdedup(spark, d).collect()
        }
        found = sum(out[p] for p in planted)
        assert found >= 9, f"only {found}/10 planted dups dropped"

    def test_deterministic(self, spark):
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        a = sorted(map(tuple, S.x_semdedup(spark, sf_dir).collect()))
        b = sorted(map(tuple, S.x_semdedup(spark, sf_dir).collect()))
        assert a == b


class TestSessionize:
    def test_agrees_with_session_window_aggregates(self, spark):
        """The per-event assignment and Spark's session_window aggregates
        must describe the SAME sessions: identical session count per user
        and identical total session count."""
        from imagingdb_spark.operators import streaming_batch as sb

        sf_dir = "/root/testdata/sf0.001"
        assigned = sb.x_sessionize(spark, sf_dir)
        per_user = (
            assigned.groupBy("user_id")
            .agg(F.max("session_idx").alias("n_sessions"))
            .collect()
        )
        agg = (
            sb.st_session(spark, sf_dir)
            .groupBy("user_id")
            .count()
            .collect()
        )
        a = {r["user_id"]: r["n_sessions"] for r in per_user}
        b = {r["user_id"]: r["count"] for r in agg}
        assert a == b

    def test_single_exchange_plan(self, spark):
        """Both stacked windows (lag + running sum) share one user_id
        exchange — a second Exchange would mean the sort/partition reuse
        regressed."""
        from imagingdb_spark.operators import streaming_batch as sb

        plan = (
            sb.x_sessionize(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange hashpartitioning") == 1, plan


class TestSpanDedup:
    def test_boilerplate_removed_from_all_docs(self, spark):
        """A span shared by >=2 docs must vanish from every doc's
        text_clean; unique spans must all survive."""
        from imagingdb_spark.operators import dedup as D

        sf_dir = "/root/testdata/sf0.001"
        rows = D.x_span_dedup(spark, sf_dir).collect()
        assert all(r["n_dup_spans"] <= r["n_spans"] for r in rows)
        # reassembled token count = (n_spans - n_dup_spans) spans' tokens;
        # every kept doc's clean text is a subsequence of spans, so its
        # token count is <= original and 0 iff all spans were duplicated
        for r in rows:
            n_clean = len([t for t in r["text_clean"].split(" ") if t])
            if r["n_dup_spans"] == r["n_spans"]:
                assert n_clean == 0
            else:
                assert 0 < n_clean <= r["n_spans"] * D.SPAN_TOKENS

    def test_finds_cross_doc_duplicates(self, spark):
        """The synthetic corpus's small vocabulary plants real cross-doc
        span collisions — the operator must find some (else the test
        would be vacuous)."""
        from imagingdb_spark.operators import dedup as D

        total = (
            D.x_span_dedup(spark, "/root/testdata/sf0.001")
            .agg(F.sum("n_dup_spans"))
            .collect()[0][0]
        )
        assert total > 0


class TestSourceCap:
    def test_cap_enforced_and_stable(self, spark):
        from imagingdb_spark.operators import sampling as S

        sf_dir = "/root/testdata/sf0.001"
        rows = S.x_source_cap(spark, sf_dir).collect()
        kept_per_source = {}
        for r in rows:
            if r["kept"]:
                kept_per_source[r["source"]] = kept_per_source.get(r["source"], 0) + 1
            assert r["kept"] == (r["rk"] <= S.SOURCE_CAP)
        assert kept_per_source and all(
            v <= S.SOURCE_CAP for v in kept_per_source.values()
        )
        # content-addressed: a second run keeps the identical doc set
        again = {
            r["doc_id"] for r in S.x_source_cap(spark, sf_dir).collect() if r["kept"]
        }
        assert again == {r["doc_id"] for r in rows if r["kept"]}


class TestTableDiff:
    def test_statuses_partition_the_keyspace(self, spark):
        from imagingdb_spark.operators import merge as M
        from imagingdb_spark.catalog import table

        sf_dir = "/root/testdata/sf0.001"
        rows = M.x_table_diff(spark, sf_dir).collect()
        by = {}
        for r in rows:
            by.setdefault(r["status"], set()).add(r["doc_id"])
        # statuses are disjoint and every original doc is accounted for
        assert not (by.get("removed", set()) & by.get("added", set()))
        n_docs = table(spark, sf_dir, "documents").count()
        assert (
            len(by.get("removed", set()))
            + len(by.get("changed", set()))
            + len(by.get("unchanged", set()))
            == n_docs
        )
        assert all(d >= M.INSERT_ID_OFFSET for d in by.get("added", set()))

    def test_diff_of_identical_snapshots_is_all_unchanged(self, spark):
        from imagingdb_spark.operators.merge import table_diff
        from imagingdb_spark.catalog import table

        d = table(spark, "/root/testdata/sf0.001", "documents").select(
            "doc_id", "text"
        )
        out = table_diff(d, d, key="doc_id", cmp="text")
        assert out.filter(F.col("status") != "unchanged").count() == 0


class TestScrub:
    def test_redaction_is_complete_and_counted(self, spark):
        from imagingdb_spark.operators import text as T

        out = T.x_scrub(spark, "/root/testdata/sf0.001").collect()
        import re

        assert sum(r["n_redactions"] for r in out) > 0
        for r in out:
            assert not re.search(r"[0-9]", r["props_clean"])
            assert r["props_clean"].count(T.SCRUB_TOKEN) == r["n_redactions"]


class TestTrendTopK:
    def test_rank_bounded_and_ordered(self, spark):
        from imagingdb_spark.operators import streaming_batch as sb

        rows = sb.st_topk_trend(spark, "/root/testdata/sf0.001").collect()
        per_win = {}
        for r in rows:
            per_win.setdefault(r["window_start"], []).append(r)
        for win, rs in per_win.items():
            rs.sort(key=lambda r: r["rk"])
            assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
            assert len(rs) <= sb.TREND_K
            counts = [r["n_events"] for r in rs]
            assert counts == sorted(counts, reverse=True)


class TestTemporalLookup:
    def test_one_tier_per_event_and_no_leakage(self, spark):
        """Every event resolves to exactly one dimension interval, and no
        event BEFORE a user's upgrade day ever sees 'pro' (the leakage
        the point-in-time join exists to prevent)."""
        from imagingdb_spark.operators import joins as J
        from imagingdb_spark.catalog import table
        from datetime import datetime, timedelta

        sf_dir = "/root/testdata/sf0.001"
        out = J.j_temporal_lookup(spark, sf_dir).collect()
        n_events = table(spark, sf_dir, "events").count()
        assert len(out) == n_events
        ev = {
            r["event_id"]: r["ts"]
            for r in table(spark, sf_dir, "events")
            .select("event_id", "ts")
            .collect()
        }
        base = datetime(2024, 1, 3)
        for r in out:
            if r["tier"] == "pro":
                up_ts = base + timedelta(days=r["user_id"] % 25)
                assert ev[r["event_id"]] >= up_ts


class TestInvertedIndex:
    def test_postings_sorted_and_consistent(self, spark):
        from imagingdb_spark.operators import lm

        rows = lm.x_inverted_index(spark, "/root/testdata/sf0.001").collect()
        assert rows
        for r in rows:
            # postings is a serialized (comma-joined) list so the driver's
            # canonicalizer can hash it (CORRECTNESS_r04 fix)
            assert isinstance(r["postings"], str)
            p = [int(x) for x in r["postings"].split(",")]
            assert p == sorted(p)
            assert len(p) == len(set(p)) == r["df"]
            assert r["cf"] >= r["df"]

    def test_sharded_index_bounds_stopword_posting_lists(self, spark):
        """A planted stopword appearing in every one of 600 docs must come
        back as multiple (term, block_idx) rows whose posting arrays are
        all bounded (~block_size, pinned at 2×), while a rare term stays a
        single block; the union of a term's blocks must equal its exact
        posting set."""
        from imagingdb_spark.operators import lm

        docs = spark.createDataFrame(
            [(i, f"stopword unique{i}" + (" rare" if i < 7 else ""))
             for i in range(600)],
            "doc_id long, text string",
        )
        rows = lm.inverted_index_sharded(docs, block_size=50).collect()
        by_term = {}
        for r in rows:
            by_term.setdefault(r["term"], []).append(r)
        stop = by_term["stopword"]
        assert len(stop) == 12  # ceil(600/50) hash blocks
        assert max(len(r["postings"]) for r in stop) <= 100  # 2x block_size
        assert sorted(d for r in stop for d in r["postings"]) == list(range(600))
        assert all(r["df"] == 600 and r["cf"] == 600 for r in stop)
        rare = by_term["rare"]
        assert len(rare) == 1 and sorted(rare[0]["postings"]) == list(range(7))
        for r in rows:  # within-block sort order holds everywhere
            assert list(r["postings"]) == sorted(r["postings"])


class TestPageRank:
    def test_matches_numpy_power_iteration(self, spark):
        """Spark PageRank at sf0.001 must match a dense numpy power
        iteration on the collected edge set to float tolerance."""
        from imagingdb_spark.operators import graph as G
        from imagingdb_spark.operators.dedup import x_dedup_jaccard

        sf_dir = "/root/testdata/sf0.001"
        pairs = x_dedup_jaccard(spark, sf_dir)
        got_df = G.pagerank(pairs)
        got = {r["doc_id"]: r["rank"] for r in got_df.collect()}
        edges = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
        nodes = sorted({x for e in edges for x in e})
        idx = {v: i for i, v in enumerate(nodes)}
        import numpy as np

        adj = np.zeros((len(nodes), len(nodes)))
        for a, b in edges:
            adj[idx[a], idx[b]] = 1.0
            adj[idx[b], idx[a]] = 1.0
        deg = adj.sum(axis=1)
        r = np.ones(len(nodes))
        for _ in range(G.PR_ITER):
            r = (1 - G.PR_DAMPING) + G.PR_DAMPING * adj.T @ (r / deg)
        assert len(got) == len(nodes)
        for v, i in idx.items():
            assert abs(got[v] - r[i]) < 1e-9, v

    def test_self_loops_filtered(self, spark):
        """A caller passing (x, x) pairs must get the same ranks as one
        passing the loop-free edge set (ADVICE r3 #4): symmetrization
        drops self-loops so they contribute nothing."""
        from imagingdb_spark.operators import graph as G

        clean = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_a long, doc_b long"
        )
        loopy = clean.union(
            spark.createDataFrame([(1, 1), (3, 3)], "doc_a long, doc_b long")
        )
        want = {r["doc_id"]: r["rank"] for r in G.pagerank(clean).collect()}
        got = {r["doc_id"]: r["rank"] for r in G.pagerank(loopy).collect()}
        assert got == want

    def test_mass_conserved(self, spark):
        from imagingdb_spark.operators import graph as G

        out = G.x_pagerank(spark, "/root/testdata/sf0.001")
        rows = out.collect()
        total = sum(r["rank"] for r in rows)
        assert abs(total - len(rows)) < 1e-3
        assert all(r["rank"] > 0 for r in rows)


class TestCdcApply:
    def test_competing_changes_last_write_wins(self, spark):
        from imagingdb_spark.operators.merge import cdc_apply

        base = spark.createDataFrame(
            [(1, "one"), (2, "two"), (3, "three")], "doc_id long, text string"
        )
        log = spark.createDataFrame(
            [
                (1, 1, "U", "one-v2"),
                (1, 2, "U", "one-v3"),   # later seq wins
                (2, 1, "D", None),
                (3, 1, "U", "three-v2"),
                (3, 2, "D", None),       # delete after update wins
                (9, 1, "U", "nine"),     # insert-by-update of unknown key
            ],
            "doc_id long, seq long, op string, text string",
        )
        got = {r["doc_id"]: (r["text"], r["last_seq"])
               for r in cdc_apply(base, log, "doc_id").collect()}
        assert got == {1: ("one-v3", 2), 9: ("nine", 1)} | {
            k: v for k, v in got.items() if k not in (1, 9)
        }
        assert 2 not in got and 3 not in got
        assert got[9] == ("nine", 1)

    def test_empty_log_is_identity(self, spark):
        from imagingdb_spark.operators.merge import cdc_apply

        base = spark.createDataFrame([(1, "a")], "doc_id long, text string")
        log = spark.createDataFrame([], "doc_id long, seq long, op string, text string")
        out = cdc_apply(base, log, "doc_id").collect()
        assert [(r["doc_id"], r["text"], r["last_seq"]) for r in out] == [(1, "a", 0)]


class TestTokenIds:
    def test_round_trippable_for_in_vocab_and_bounded_ids(self, spark):
        from imagingdb_spark.operators import lm

        rows = lm.x_token_ids(spark, "/root/testdata/sf0.001").collect()
        assert rows
        max_id = lm.VOCAB_SIZE + lm.OOV_BUCKETS - 1
        for r in rows:
            assert isinstance(r["ids"], str)  # driver-hashable serialization
            ids = [int(x) for x in r["ids"].split(",")] if r["ids"] else []
            assert all(0 <= i <= max_id for i in ids)
            n_oov_ids = sum(1 for i in ids if i >= lm.VOCAB_SIZE)
            assert n_oov_ids == r["n_oov"]


class TestCappedHashRank:
    def test_equivalent_to_plain_window(self, spark):
        """capped_hash_rank must return EXACTLY the rows+ranks the plain
        (skew-unsafe) window query returns, on real data with groups well
        above the oversampled prefilter threshold (cap=3 over 25-doc
        sources at sf0.001 forces the prefilter path)."""
        from pyspark.sql import Window
        from imagingdb_spark.catalog import table
        from imagingdb_spark.operators.sampling import capped_hash_rank

        sf_dir = "/root/testdata/sf0.001"
        d = table(spark, sf_dir, "documents").select("doc_id", "source")
        h = F.md5(F.concat(F.lit("chr-"), F.col("doc_id").cast("string")))
        cap = 3
        got = {
            (r["source"], r["doc_id"], r["rk"])
            for r in capped_hash_rank(d, "source", h, cap).collect()
        }
        w = Window.partitionBy("source").orderBy(h)
        want = {
            (r["source"], r["doc_id"], r["rk"])
            for r in d.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= cap)
            .collect()
        }
        assert got == want and got

    def test_tiebreak_pins_rank_under_hash_collisions(self, spark):
        """With a deliberately non-injective hash (constant), ranks within
        a group are arbitrary WITHOUT a tiebreak; with tiebreak=doc_id the
        result must equal the plain window ordered by (hash, doc_id)
        exactly (ADVICE r3 #2)."""
        from pyspark.sql import Window
        from imagingdb_spark.operators.sampling import capped_hash_rank

        d = spark.createDataFrame(
            [(i, "g") for i in range(40)], "doc_id long, grp string"
        )
        h = F.lit("aaaa")  # every row collides
        cap = 5
        got = {
            (r["doc_id"], r["rk"])
            for r in capped_hash_rank(
                d, "grp", h, cap, tiebreak="doc_id"
            ).collect()
        }
        w = Window.partitionBy("grp").orderBy(h, "doc_id")
        want = {
            (r["doc_id"], r["rk"])
            for r in d.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= cap)
            .collect()
        }
        assert got == want and len(got) == cap

    def test_small_groups_bypass_prefilter(self, spark):
        """Groups under the oversample target must never lose rows."""
        from imagingdb_spark.operators.sampling import capped_hash_rank

        d = spark.createDataFrame(
            [(i, "g") for i in range(4)], "doc_id long, grp string"
        )
        h = F.md5(F.col("doc_id").cast("string"))
        out = capped_hash_rank(d, "grp", h, cap=10).collect()
        assert len(out) == 4

    def test_adversarial_hash_skew_still_exact(self, spark):
        """All hashes crammed into the top of the hex space ('ff' prefix)
        defeats the uniformity assumption — the audit-and-widen loop must
        still return exactly the plain-window answer."""
        from pyspark.sql import Window
        from imagingdb_spark.operators.sampling import capped_hash_rank

        d = spark.createDataFrame(
            [(i, "g") for i in range(25)], "doc_id long, grp string"
        )
        h = F.concat(F.lit("ff"), F.md5(F.col("doc_id").cast("string")))
        cap = 3
        got = {
            (r["doc_id"], r["rk"])
            for r in capped_hash_rank(d, "grp", h, cap).collect()
        }
        w = Window.partitionBy("grp").orderBy(h)
        want = {
            (r["doc_id"], r["rk"])
            for r in d.withColumn("rk", F.row_number().over(w).cast("bigint"))
            .filter(F.col("rk") <= cap)
            .collect()
        }
        assert got == want and len(got) == cap


class TestReviewRegressions:
    def test_table_diff_null_content_is_unchanged(self, spark):
        """NULL cmp values on both sides must classify unchanged (null-safe
        compare), not phantom-changed."""
        from imagingdb_spark.operators.merge import table_diff

        a = spark.createDataFrame([(1, None), (2, "x")], "doc_id long, text string")
        out = {r["doc_id"]: r["status"] for r in
               table_diff(a, a, key="doc_id", cmp="text").collect()}
        assert out == {1: "unchanged", 2: "unchanged"}

    def test_cdc_seq_tie_resolves_atomically(self, spark):
        """Two log rows with the SAME seq must resolve as one whole row
        (highest (seq, op, attrs) tuple), never a column mix; here
        ('U','new') beats ('D',NULL) because 'U' > 'D'."""
        from imagingdb_spark.operators.merge import cdc_apply

        base = spark.createDataFrame([(1, "old")], "doc_id long, text string")
        log = spark.createDataFrame(
            [(1, 5, "U", "new"), (1, 5, "D", None)],
            "doc_id long, seq long, op string, text string",
        )
        out = cdc_apply(base, log, "doc_id").collect()
        assert [(r["doc_id"], r["text"], r["last_seq"]) for r in out] == [
            (1, "new", 5)
        ]

    def test_cdc_null_update_at_max_seq_wins(self, spark):
        """An update that legitimately sets the column to NULL must NOT
        resurrect older content (the arg_max/max_by NULL-skip trap)."""
        from imagingdb_spark.operators.merge import cdc_apply

        base = spark.createDataFrame([(1, "old")], "doc_id long, text string")
        log = spark.createDataFrame(
            [(1, 1, "U", "mid"), (1, 2, "U", None)],
            "doc_id long, seq long, op string, text string",
        )
        out = cdc_apply(base, log, "doc_id").collect()
        assert [(r["doc_id"], r["text"], r["last_seq"]) for r in out] == [
            (1, None, 2)
        ]


class TestDedupEval:
    def test_recall_precision_bounds(self, spark):
        """LSH with post-verification must hit high recall AND perfect
        precision vs the exact pair set (verified candidates can't contain
        false positives; banding may miss a tail of true pairs)."""
        from imagingdb_spark.operators import dedup as D

        row = D.x_dedup_eval(spark, "/root/testdata/sf0.001").collect()[0]
        assert row["n_hits"] <= min(row["n_exact_pairs"], row["n_lsh_pairs"])
        assert row["recall"] >= 0.9
        assert row["precision"] >= 0.9


class TestCdcModelCheck:
    def test_random_logs_match_python_model(self, spark):
        """cdc_apply vs a driver-side reference model over randomized logs
        with seq ties, deletes, NULL texts, and unknown keys. The model
        mirrors Spark struct-max ordering (NULL field sorts smallest)."""
        import random

        from imagingdb_spark.operators.merge import cdc_apply

        rng = random.Random(20260814)
        for trial in range(8):
            base_rows = [(k, f"base{k}") for k in range(4)]
            log_rows = []
            for _ in range(rng.randint(1, 12)):
                k = rng.randint(0, 5)
                seq = rng.randint(1, 4)
                op = rng.choice(["U", "U", "D"])
                text = None if (op == "D" or rng.random() < 0.2) else (
                    f"t{rng.randint(0, 9)}"
                )
                log_rows.append((k, seq, op, text))
            base = spark.createDataFrame(base_rows, "doc_id long, text string")
            log = spark.createDataFrame(
                log_rows, "doc_id long, seq long, op string, text string"
            )
            got = {
                r["doc_id"]: (r["text"], r["last_seq"])
                for r in cdc_apply(base, log, "doc_id").collect()
            }
            # reference model: struct-max per key (None sorts first)
            want = {}
            winners = {}
            for k, seq, op, text in log_rows:
                cand = (seq, op, (text is not None, text or ""))
                if k not in winners or cand > winners[k]:
                    winners[k] = cand
            base_d = dict(base_rows)
            keys = set(base_d) | set(winners)
            for k in keys:
                if k in winners:
                    seq, op, (has_text, text) = winners[k]
                    if op != "D":
                        want[k] = (text if has_text else None, seq)
                else:
                    want[k] = (base_d[k], 0)
            assert got == want, f"trial {trial}: {got} != {want}"


class TestCappedRankModelCheck:
    def test_random_caps_and_skews_match_plain_window(self, spark):
        """capped_hash_rank over randomized group layouts, caps, and
        oversample factors must equal the plain window exactly."""
        import random

        from pyspark.sql import Window
        from imagingdb_spark.operators.sampling import capped_hash_rank

        rng = random.Random(20260815)
        for trial in range(5):
            rows = []
            doc = 0
            for g in range(rng.randint(1, 4)):
                for _ in range(rng.randint(1, 40)):
                    rows.append((doc, f"g{g}"))
                    doc += 1
            cap = rng.randint(1, 6)
            over = rng.choice([1.5, 2.0, 3.0])
            d = spark.createDataFrame(rows, "doc_id long, grp string")
            h = F.md5(F.concat(F.lit(f"s{trial}-"), F.col("doc_id").cast("string")))
            got = {
                (r["grp"], r["doc_id"], r["rk"])
                for r in capped_hash_rank(d, "grp", h, cap, oversample=over).collect()
            }
            w = Window.partitionBy("grp").orderBy(h)
            want = {
                (r["grp"], r["doc_id"], r["rk"])
                for r in d.withColumn(
                    "rk", F.row_number().over(w).cast("bigint")
                )
                .filter(F.col("rk") <= cap)
                .collect()
            }
            assert got == want, f"trial {trial} cap={cap} over={over}"


class TestSentencesUdtf:
    """x_sentences: the real @udtf leg of §2.10 — plan shape + edge
    parity (oracle equality is the driver/selfcheck's job)."""

    def test_arrow_udtf_in_plan_no_shuffle(self, spark):
        from imagingdb_spark.operators.text import x_sentences

        df = x_sentences(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPythonUDTF" in plan
        assert "Exchange" not in plan

    def test_edge_docs(self, spark):
        import re

        from imagingdb_spark.operators.text import SENT_SPLIT, x_sentences

        rows = x_sentences(spark, "/root/testdata/sf0.001").collect()
        assert rows and all(r["n_tokens"] >= 0 for r in rows)
        # python-side model check on a tricky corpus
        from pyspark.sql.functions import udtf  # noqa: F401  (API present)

        for text, want in [
            ("a b. c d! e", [(0, "a b", 2), (1, "c d", 2), (2, "e", 1)]),
            (". leading", [(0, "leading", 1)]),
            ("no terminator", [(0, "no terminator", 2)]),
            ("trailing.", [(0, "trailing.", 1)]),
        ]:
            parts = [p for p in re.split(SENT_SPLIT, text) if p != ""]
            got = [(i, p, len(p.split())) for i, p in enumerate(parts)]
            assert got == want, text


class TestBpeTrain:
    """x_bpe_train vs a pure-Python reference BPE trainer: exact
    merge-table equality (same freq weighting, same greedy apply, same
    (left, right) tiebreak)."""

    @staticmethod
    def _reference_bpe(word_freqs, n_merges):
        syms = {w: list(w) for w in word_freqs}
        merges = []
        for r in range(n_merges):
            counts = {}
            for w, f in word_freqs.items():
                s = syms[w]
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] = counts.get((s[i], s[i + 1]), 0) + f
            if not counts:
                break
            (a, b), n = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            merges.append((r, a, b, n))
            for w in syms:
                s = syms[w]
                res, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        res.append(a + b)
                        i += 2
                    else:
                        res.append(s[i])
                        i += 1
                syms[w] = res
        return merges

    def test_matches_reference(self, spark):
        from collections import Counter

        from imagingdb_spark.operators.lm import BPE_MERGES, x_bpe_train
        from imagingdb_spark.catalog import table

        sf_dir = "/root/testdata/sf0.001"
        got = [
            (r["rank"], r["left"], r["right"], r["pair_freq"])
            for r in x_bpe_train(spark, sf_dir).orderBy("rank").collect()
        ]
        texts = [
            r["text"]
            for r in table(spark, sf_dir, "documents").select("text").collect()
        ]
        wf = Counter(
            t for txt in texts if txt for t in txt.lower().split() if t
        )
        want = self._reference_bpe(dict(wf), BPE_MERGES)
        assert got == want and len(got) == BPE_MERGES

    def test_merged_symbols_compound(self, spark):
        """Later merges must be able to consume earlier merged symbols
        (the whole point of the iteration)."""
        from imagingdb_spark.operators.lm import x_bpe_train

        rows = x_bpe_train(spark, "/root/testdata/sf0.001").collect()
        assert any(len(r["left"]) > 1 or len(r["right"]) > 1 for r in rows)


class TestAnnEval:
    def test_recall_floors(self, spark):
        """The shipped recall metric must meet the same floors the unit
        recall tests pin (LSH ≥ 0.8, IVF ≥ 0.7 at sf0.001)."""
        from imagingdb_spark.operators.similarity import x_ann_eval

        row = x_ann_eval(spark, "/root/testdata/sf0.001").collect()[0]
        assert row["k"] == 10
        assert row["recall_lsh"] >= 0.8
        assert row["recall_ivf"] >= 0.7


class TestHardNegativesAnn:
    def test_full_probe_reproduces_exact_path(self, spark):
        """With probe=IVF_K every cell is scanned, so the registered
        cell-cogrouped miner (x_hard_negatives since round 6) must
        reproduce the demoted one-machine collect+broadcast path
        bit-for-bit — same rounded cosines, same ranks, same tiebreaks —
        while never collecting the corpus to the driver."""
        from imagingdb_spark.catalog import table
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        e = table(spark, sf_dir, "embeddings")
        got = {
            (r["anchor"], r["rk"]): (r["negative"], r["cos"])
            for r in S.x_hard_negatives(spark, sf_dir).collect()
        }
        want = {
            (r["anchor"], r["rk"]): (r["negative"], r["cos"])
            for r in S.hard_negatives_broadcast(e).collect()
        }
        assert got == want and want

    def test_partial_probe_recall_floor(self, spark):
        """At the default probe fraction (6/16 cells) the mined negative
        sets must overlap the exact ones above a pinned floor, even on
        this near-uniform corpus (IVF's worst case)."""
        from imagingdb_spark.catalog import table
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        e = table(spark, sf_dir, "embeddings")
        cents = S._ivf_centroids(e)
        got = {}
        for r in S.hard_negatives_ann(e, cents).collect():
            got.setdefault(r["anchor"], set()).add(r["negative"])
        exact = {}
        for r in S.x_hard_negatives(spark, sf_dir).collect():
            exact.setdefault(r["anchor"], set()).add(r["negative"])
        assert set(got) == set(exact)  # every anchor mined
        hits = sum(len(got[a] & exact[a]) for a in exact)
        total = sum(len(v) for v in exact.values())
        assert hits / total >= 0.5


class TestSemdedupEval:
    def test_counts_sound_and_planted_regime_documented(self, spark):
        """n_hits ≤ min(n_truth, n_cell_pairs); recall in [0, 1]. The
        absolute recall is intentionally low at the synthetic threshold
        (random-cosine regime) — the planted-dup test above pins the real
        operating regime."""
        from imagingdb_spark.operators.similarity import x_semdedup_eval

        r = x_semdedup_eval(spark, "/root/testdata/sf0.001").collect()[0]
        assert r["n_hits"] <= min(r["n_truth_pairs"], r["n_cell_pairs"])
        assert 0.0 <= r["recall"] <= 1.0


class TestBpeEncode:
    def test_parity_with_pure_python(self, spark):
        """Distributed encode must agree doc-for-doc with the pure-Python
        kernel applied to the same trained merges."""
        from imagingdb_spark.catalog import table
        from imagingdb_spark.operators.lm import (
            bpe_encode_word,
            x_bpe_encode,
            x_bpe_train,
        )

        sf_dir = "/root/testdata/sf0.001"
        merges = [
            (r["left"], r["right"])
            for r in x_bpe_train(spark, sf_dir).orderBy("rank").collect()
        ]
        ranks = {p: i for i, p in enumerate(merges)}
        got = {
            r["doc_id"]: (r["n_words"], r["n_subwords"])
            for r in x_bpe_encode(spark, sf_dir).collect()
        }
        texts = {
            r["doc_id"]: r["text"]
            for r in table(spark, sf_dir, "documents").collect()
        }
        assert set(got) == set(texts)
        for doc_id, text in texts.items():
            words = text.lower().split() if text else []
            want = (
                len(words),
                sum(len(bpe_encode_word(w, ranks)) for w in words),
            )
            assert got[doc_id] == want, doc_id

    def test_merges_compress(self, spark):
        """Trained merges must strictly beat character-level tokenization
        and subword counts must be at least the word count."""
        from imagingdb_spark.operators.lm import x_bpe_encode
        from imagingdb_spark.catalog import table

        sf_dir = "/root/testdata/sf0.001"
        rows = x_bpe_encode(spark, sf_dir).collect()
        texts = {
            r["doc_id"]: r["text"]
            for r in table(spark, sf_dir, "documents").collect()
        }
        n_chars = sum(
            len(w) for t in texts.values() if t for w in t.lower().split()
        )
        n_sub = sum(r["n_subwords"] for r in rows)
        n_words = sum(r["n_words"] for r in rows)
        assert n_words <= n_sub < n_chars


class TestSplitLeakage:
    @staticmethod
    def _split_of(i: int) -> str:
        import hashlib

        b = hashlib.md5(f"doc-{i}".encode()).hexdigest()[:2]
        return "test" if b < "0d" else ("val" if b < "1a" else "train")

    def test_planted_cross_split_pair_found_oriented(self, spark, tmp_path):
        """A planted near-dup pair with one side in train and one in an
        eval split must be reported, oriented (doc_train, doc_eval); a
        same-split near-dup pair and an eval<->eval pair must not."""
        from imagingdb_spark.operators.dedup import x_split_leakage

        splits = {i: self._split_of(i) for i in range(3000)}
        train_ids = [i for i, s in splits.items() if s == "train"]
        test_ids = [i for i, s in splits.items() if s == "test"]
        val_ids = [i for i, s in splits.items() if s == "val"]
        near = BASE.replace("lazy", "sleepy")
        far = "unrelated words entirely disjoint tokens here nothing shared"
        rows = [
            (train_ids[0], BASE),          # train <-> test near-dup: leakage
            (test_ids[0], near),
            # train-only text, fourth disjoint family — no pair anywhere
            (train_ids[1], "ingest manifest checksum frame dataset "
                           "storage backend upload rollback ledger"),
            (test_ids[1], far + " alpha"), # test <-> val near-dup: NOT leakage
            (val_ids[0], far + " beta"),
            # train <-> train near-dup (third text family, disjoint from
            # both BASE and far, so it can't pair cross-split): NOT leakage
            (train_ids[2], "metrics shuffle stage executor broadcast "
                           "partition codegen catalyst tungsten arrow"),
            (train_ids[3], "metrics shuffle stage executor broadcast "
                           "partition codegen catalyst tungsten parquet"),
        ]
        d = str(tmp_path / "sfleak")
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(d + "/documents.parquet")
        got = x_split_leakage(spark, d).collect()
        crossers = {(r["doc_train"], r["doc_eval"], r["eval_split"]) for r in got}
        assert (train_ids[0], test_ids[0], "test") in crossers
        reported_ids = {r["doc_train"] for r in got} | {r["doc_eval"] for r in got}
        # train<->train pair and the eval<->eval pair must be absent
        assert train_ids[2] not in reported_ids
        assert train_ids[3] not in reported_ids
        assert test_ids[1] not in reported_ids
        assert val_ids[0] not in reported_ids
        for r in got:  # orientation invariant: left is always the train doc
            assert self._split_of(r["doc_train"]) == "train"
            assert self._split_of(r["doc_eval"]) == r["eval_split"] != "train"
            assert r["jaccard"] >= 0.5


class TestHeavyHitters:
    def test_mg_candidates_superset_of_true_heavy(self, spark):
        """Misra–Gries guarantee: with capacity k, every token whose global
        share exceeds 1/(k+1) must appear in the candidate set — exercised
        with a tiny k against an adversarial long tail of singletons."""
        import random

        from imagingdb_spark.operators.text import _mg_sketch_partitions

        rng = random.Random(20260814)
        toks = (
            ["heavy_a"] * 400 + ["heavy_b"] * 250
            + [f"rare{i}" for i in range(600)]
        )
        rng.shuffle(toks)
        df = spark.createDataFrame([(t,) for t in toks], "tok string").repartition(7)
        k = 8
        cand = {r["tok"] for r in _mg_sketch_partitions(df, k=k).collect()}
        n = len(toks)
        for tok, freq in (("heavy_a", 400), ("heavy_b", 250)):
            assert freq / n > 1.0 / (k + 1)
            assert tok in cand

    def test_exact_vs_python_on_planted_corpus(self, spark, tmp_path):
        """The registered query's output must EQUAL the exact heavy-hitter
        set computed in pure Python — the sketch only prunes."""
        from collections import Counter

        from imagingdb_spark.operators.text import HH_PHI, x_heavy_hitters

        docs = [
            (0, "x x x x y y z " + " ".join(f"t{i}" for i in range(40))),
            (1, "x x y w " + " ".join(f"u{i}" for i in range(30))),
            (2, ""),
            (3, None),
        ]
        d = str(tmp_path / "sfhh")
        spark.createDataFrame(
            [(i, t, "en", "s", 0) for i, t in docs],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(d + "/documents.parquet")
        got = {r["tok"]: (r["n_occ"], r["share"]) for r in x_heavy_hitters(spark, d).collect()}
        cnt = Counter(
            t for _, txt in docs if txt for t in txt.lower().split() if t
        )
        n = sum(cnt.values())
        want = {t: c for t, c in cnt.items() if c / n >= HH_PHI}
        assert set(got) == set(want)
        for t, c in want.items():
            assert got[t][0] == c
            assert got[t][1] == round(c / n, 4)


class TestEmbedPca:
    def test_components_match_pure_numpy(self, spark):
        """pca_components (distributed sufficient statistics, pinned fold
        order) must reproduce a pure-numpy PCA on the collected data to
        float64 precision, including sign pinning and descending order."""
        from imagingdb_spark.operators.similarity import PCA_Q, pca_components

        rng = np.random.default_rng(7)
        X = rng.normal(size=(257, 12)) @ np.diag(np.linspace(3, 0.1, 12))
        df = spark.createDataFrame(
            [(i, [float(v) for v in X[i]], int(i % 3)) for i in range(len(X))],
            "vec_id long, embedding array<float>, label int",
        ).repartition(5)
        Xf = np.stack([np.asarray(r, dtype=np.float32) for r in X.astype(np.float32)]).astype(np.float64)
        mean, comps, ev = pca_components(df, q=PCA_Q)
        mean_np = Xf.mean(axis=0)
        cov_np = np.cov(Xf, rowvar=False)
        w, v = np.linalg.eigh(cov_np)
        order = np.argsort(w)[::-1][:PCA_Q]
        comps_np = v[:, order]
        for j in range(comps_np.shape[1]):
            p = int(np.argmax(np.abs(comps_np[:, j])))
            if comps_np[p, j] < 0:
                comps_np[:, j] = -comps_np[:, j]
        assert np.allclose(mean, mean_np, atol=1e-9)
        assert np.allclose(ev, w[order], atol=1e-8)
        assert np.allclose(comps, comps_np, atol=1e-7)
        assert list(ev) == sorted(ev, reverse=True)

    def test_projection_parity_and_determinism(self, spark):
        """x_embed_pca scores equal (X - mean) @ comps rounded to 4
        decimals, and two runs produce identical output."""
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        rows = S.x_embed_pca(spark, sf_dir).collect()
        again = S.x_embed_pca(spark, sf_dir).collect()
        assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
        e = spark.read.parquet(sf_dir + "/embeddings.parquet")
        X = np.stack(
            [np.asarray(r["embedding"], dtype=np.float64) for r in e.collect()]
        )
        ids = [r["vec_id"] for r in e.collect()]
        mean, comps, _ = S.pca_components(e)
        want = np.round((X - mean) @ comps, 4)
        got = {}
        for r in rows:
            got.setdefault(r["vec_id"], {})[r["pc"]] = r["score"]
        for i, vid in enumerate(ids):
            for q in range(S.PCA_Q):
                assert got[vid][q] == pytest.approx(want[i, q], abs=1e-12)


class TestRebalance:
    def test_every_class_reaches_majority_count(self, spark):
        """After oversampling, every label holds exactly max-class-count
        rows; base rows all appear; copy_idx is dense 1..copies."""
        from collections import Counter

        from imagingdb_spark.operators.sampling import x_rebalance

        sf_dir = "/root/testdata/sf0.001"
        rows = x_rebalance(spark, sf_dir).collect()
        e = spark.read.parquet(sf_dir + "/embeddings.parquet").collect()
        orig = Counter(r["label"] for r in e)
        m = max(orig.values())
        per_label = Counter(r["label"] for r in rows)
        assert set(per_label) == set(orig)
        assert all(c == m for c in per_label.values())
        # every source row appears at least once (oversampling never drops)
        assert {r["vec_id"] for r in rows} == {r["vec_id"] for r in e}
        # copies of one vec are dense 1..n
        by_vec = {}
        for r in rows:
            by_vec.setdefault(r["vec_id"], []).append(r["copy_idx"])
        for v, idxs in by_vec.items():
            assert sorted(idxs) == list(range(1, len(idxs) + 1))

    def test_deterministic_across_runs(self, spark):
        from imagingdb_spark.operators.sampling import x_rebalance

        sf_dir = "/root/testdata/sf0.001"
        a = sorted(map(tuple, x_rebalance(spark, sf_dir).collect()))
        b = sorted(map(tuple, x_rebalance(spark, sf_dir).collect()))
        assert a == b


class TestPhash:
    @staticmethod
    def _frames_df(spark, images):
        rows = [
            (f"DS-{i}", 0, 0, 0, i, im.shape[1], im.shape[0], "uint8",
             multimodal.serialize_im(im))
            for i, im in enumerate(images)
        ]
        return spark.createDataFrame(rows, multimodal.FRAME_SCHEMA)

    def test_invariance_and_discrimination(self, spark):
        """pHash must be close for the same image under brightness shift
        and mild noise, close under downscaling, and far for independent
        images — the properties payload-sha dedup lacks."""
        rng = np.random.default_rng(11)
        base = rng.integers(0, 200, size=(64, 64), dtype=np.uint8)
        # smooth it so downsampling is well-behaved (natural images are
        # low-frequency; pure white noise is the pathological case)
        k = np.ones(5) / 5
        smooth = np.apply_along_axis(
            lambda r: np.convolve(r, k, mode="same"), 0, base
        )
        smooth = np.apply_along_axis(
            lambda r: np.convolve(r, k, mode="same"), 1, smooth
        ).astype(np.uint8)
        brighter = np.clip(smooth.astype(np.int16) + 30, 0, 255).astype(np.uint8)
        noisy = np.clip(
            smooth.astype(np.int16) + rng.integers(-4, 5, smooth.shape),
            0, 255,
        ).astype(np.uint8)
        half = smooth.reshape(32, 2, 32, 2).mean(axis=(1, 3)).astype(np.uint8)
        other = rng.integers(0, 200, size=(64, 64), dtype=np.uint8)
        other = np.apply_along_axis(
            lambda r: np.convolve(r, k, mode="same"), 0, other
        )
        other = np.apply_along_axis(
            lambda r: np.convolve(r, k, mode="same"), 1, other
        ).astype(np.uint8)

        h = [multimodal._phash_one(x) for x in (smooth, brighter, noisy, half, other)]
        def ham(a, b):
            return bin(a ^ b).count("1")
        assert ham(h[0], h[1]) <= multimodal.PHASH_MAX_DISTANCE  # brightness
        assert ham(h[0], h[2]) <= multimodal.PHASH_MAX_DISTANCE  # noise
        assert ham(h[0], h[3]) <= multimodal.PHASH_MAX_DISTANCE  # 2x downscale
        assert ham(h[0], h[4]) > 20                               # different image

    def test_near_dup_pairs_end_to_end(self, spark):
        """phash_frames + phash_near_dups over real PNG payloads: the
        planted near-dup pair (and only it) is found; within the lossless
        band radius candidate generation cannot miss."""
        rng = np.random.default_rng(12)
        k = np.ones(5) / 5
        def mk():
            a = rng.integers(0, 200, size=(48, 48), dtype=np.uint8)
            a = np.apply_along_axis(lambda r: np.convolve(r, k, mode="same"), 0, a)
            return np.apply_along_axis(
                lambda r: np.convolve(r, k, mode="same"), 1, a
            ).astype(np.uint8)
        im0 = mk()
        im1 = np.clip(im0.astype(np.int16) + 15, 0, 255).astype(np.uint8)
        im2, im3 = mk(), mk()
        frames = self._frames_df(spark, [im0, im1, im2, im3])
        hashed = multimodal.phash_frames(frames).withColumn(
            "frame_id",
            F.concat_ws("_", "dataset_serial", "pos_idx"),
        )
        pairs = multimodal.phash_near_dups(hashed).collect()
        got = {(r["frame_a"], r["frame_b"]) for r in pairs}
        assert got == {("DS-0_0", "DS-1_1")}
        assert all(r["hamming"] <= multimodal.PHASH_MAX_DISTANCE for r in pairs)

    def test_near_dups_leave_no_cache_entry(self, spark):
        """ADVICE r6: the distinct-hash groups frame used to be persist()ed
        without an unpersist, leaking a CacheManager entry per invocation
        in long-lived sessions. Now an eager localCheckpoint: blocks are
        ContextCleaner-owned, and the session cache must stay empty."""
        spark.catalog.clearCache()  # earlier tests may have left entries
        cm = spark._jsparkSession.sharedState().cacheManager()
        assert cm.isEmpty()
        rows = [("a", 0x123456789ABCDE7), ("b", 0x123456789ABCDE7 ^ 3)]
        df = spark.createDataFrame(rows, "frame_id string, phash long")
        multimodal.phash_near_dups(df).collect()
        assert cm.isEmpty(), "phash_near_dups leaked a cached plan"

    def test_banding_is_lossless_within_radius(self, spark):
        """Adversarial: craft hash pairs at exactly the max distance by
        flipping bits spread across different bands — the pigeonhole
        guarantee must still bucket them together."""
        base = 0x123456789ABCDE7
        flips = [0, 9, 18, 27, 36, 45]  # 6 bits in 6 DIFFERENT bands
        h2 = base
        for b in flips:
            h2 ^= 1 << b
        rows = [("a", base), ("b", h2), ("c", 0x7FAAAAAAAAAAAAAA)]
        df = spark.createDataFrame(rows, "frame_id string, phash long")
        got = {(r["frame_a"], r["frame_b"], r["hamming"])
               for r in multimodal.phash_near_dups(df).collect()}
        assert got == {("a", "b", 6)}
        with pytest.raises(ValueError):
            multimodal.phash_near_dups(df, max_distance=8)

    def test_identical_hash_groups_collapse(self, spark):
        """The degenerate case the bucket stage must survive at scale:
        many frames sharing one phash (blank frames). hamming-0 pairs come
        from the exact group; cross pairs expand to every member of both
        groups; banding itself only ever sees DISTINCT hash values."""
        base = 0x123456789ABCDE7
        near = base ^ (1 << 5) ^ (1 << 40)  # hamming 2
        far = 0x7F0F0F0F0F0F0F0F
        rows = [("a", base), ("b", base), ("c", base),
                ("d", near), ("e", near), ("f", far)]
        df = spark.createDataFrame(rows, "frame_id string, phash long")
        got = {(r["frame_a"], r["frame_b"], r["hamming"])
               for r in multimodal.phash_near_dups(df).collect()}
        expected = {
            ("a", "b", 0), ("a", "c", 0), ("b", "c", 0),  # group base
            ("d", "e", 0),                                 # group near
            ("a", "d", 2), ("a", "e", 2), ("b", "d", 2),   # cross product
            ("b", "e", 2), ("c", "d", 2), ("c", "e", 2),
        }
        assert got == expected

    def test_x_phash_dedup_matches_bruteforce(self, spark):
        """The registered rows-only query vs a local brute-force twin:
        rebuild the synthetic frame corpus in plain Python over the same
        documents, pHash each frame locally, compare EVERY pair — the
        distributed banding+verify pipeline must produce exactly the
        all-pairs answer (losslessness end-to-end, planted dups found)."""
        import hashlib
        import itertools

        import pandas as pd

        sf_dir = "/root/testdata/sf0.001"
        got = {
            (r["frame_a"], r["frame_b"], r["hamming"])
            for r in multimodal.x_phash_dedup(spark, sf_dir).collect()
        }
        docs = pd.read_parquet(f"{sf_dir}/documents.parquet",
                               columns=["doc_id", "text"])
        local = {}
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            h = int.from_bytes(hashlib.sha256(text.encode()).digest()[:8],
                               "big")
            im = multimodal._im_from_bits(h)
            local[f"DOC-{doc_id}_0"] = multimodal._phash_one(im)
            if doc_id % 7 == 0:
                bi = h % 64
                by, bx = (bi // 8) * 4, (bi % 8) * 4
                a = im.copy()
                a[by:by + 2, bx:bx + 2] = 255 - a[by:by + 2, bx:bx + 2]
                local[f"DOC-{doc_id}_1"] = multimodal._phash_one(a)
            if doc_id % 23 == 0:
                local[f"DOC-{doc_id}_2"] = multimodal._phash_one(im)
        expected = set()
        for fa, fb in itertools.combinations(sorted(local), 2):
            d = bin(local[fa] ^ local[fb]).count("1")
            if d <= multimodal.PHASH_MAX_DISTANCE:
                expected.add((fa, fb, d))
        assert got == expected
        # planted structure is present: every 23rd doc's exact copy pairs
        # at hamming 0 and some near-dup plants landed within the radius
        assert any(h == 0 for _, _, h in got)
        assert any(h > 0 for _, _, h in got)


class TestDsirSelect:
    """x_dsir_select: hashed-n-gram importance weights (DSIR, public).
    The oracle pins engine equality; here we pin the SEMANTICS — a pool
    document written in the target's vocabulary must out-rank pool
    documents written in a disjoint vocabulary, and the weight must equal
    an independent pure-Python computation of the same formula."""

    TARGET = "query plan scan filter join aggregate shuffle partition"
    OTHER = "rivers mountains valleys forests deserts glaciers tundra"

    def _docs(self, spark, tmp_path):
        rows = [
            # target corpus (lang='en'): all TARGET vocabulary
            (0, self.TARGET, "en"),
            (1, self.TARGET + " broadcast exchange", "en"),
            # pool: one target-looking doc planted among OTHER-vocab docs
            (10, self.TARGET + " codegen", "de"),
            (11, self.OTHER, "fr"),
            (12, self.OTHER + " plains", "zh"),
            (13, self.OTHER + " steppes meadows", "es"),
        ]
        d = str(tmp_path / "sfdsir")
        spark.createDataFrame(
            [(i, t, lang, "src0", len(t)) for i, t, lang in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(d + "/documents.parquet")
        return d

    def test_target_vocab_doc_ranks_first(self, spark, tmp_path):
        from imagingdb_spark.operators.sampling import x_dsir_select

        got = x_dsir_select(spark, self._docs(spark, tmp_path)).collect()
        ids = [r["doc_id"] for r in got]
        assert set(ids) == {10, 11, 12, 13}  # pool only, never the target
        assert ids[0] == 10  # the planted target-vocab doc wins
        w = {r["doc_id"]: r["dsir_weight"] for r in got}
        assert w[10] > 0 > max(w[11], w[12], w[13])

    def test_weight_matches_python_twin(self, spark, tmp_path):
        """Bit-for-bit parity with an independent hashlib+math.log twin
        folding bucket contributions in the same ascending-bucket order."""
        import hashlib
        import math
        from collections import Counter

        from imagingdb_spark.operators.sampling import (
            DSIR_BUCKETS,
            x_dsir_select,
        )

        def grams(text):
            toks = [t for t in text.lower().split() if t]
            return toks + [
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            ]

        def bucket(g):
            return hashlib.md5(g.encode()).hexdigest()[:2]

        rows = {
            0: (self.TARGET, "en"),
            1: (self.TARGET + " broadcast exchange", "en"),
            10: (self.TARGET + " codegen", "de"),
            11: (self.OTHER, "fr"),
            12: (self.OTHER + " plains", "zh"),
            13: (self.OTHER + " steppes meadows", "es"),
        }
        tb: Counter = Counter()
        pb: dict[int, Counter] = {}
        for i, (t, lang) in rows.items():
            c = Counter(bucket(g) for g in grams(t))
            if lang == "en":
                tb.update(c)
            else:
                pb[i] = c
        rb: Counter = Counter()
        for c in pb.values():
            rb.update(c)
        tt, rt = float(sum(tb.values())), float(sum(rb.values()))
        lr = {
            b: math.log((tb.get(b, 0) + 1) / (tt + DSIR_BUCKETS))
            - math.log((n + 1) / (rt + DSIR_BUCKETS))
            for b, n in rb.items()
        }
        expect = {
            i: round(
                sum(c[b] * lr[b] for b in sorted(c)), 4
            )
            + 0.0
            for i, c in pb.items()
        }
        got = {
            r["doc_id"]: r["dsir_weight"]
            for r in x_dsir_select(
                spark, self._docs(spark, tmp_path)
            ).collect()
        }
        assert got == expect


class TestPqQuantize:
    """x_pq_quantize: product quantization (rows-only — k-means codebooks
    aren't SQL-expressible) gets its correctness from (1) bit-level
    numpy parity of the distributed encode against the shared
    _pq_assign_codes/_pq_reconstruct math, (2) run-to-run determinism,
    (3) a planted corpus of exactly PQ_K distinct vectors that must
    reconstruct with zero error."""

    def test_encode_matches_numpy_twin(self, spark):
        import numpy as np

        from imagingdb_spark.catalog import table
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        e = table(spark, sf_dir, "embeddings")
        codebooks = S._pq_codebooks(e)
        rows = e.select("vec_id", "embedding").collect()
        x = np.asarray([r["embedding"] for r in rows], dtype=np.float64)
        codes = S._pq_assign_codes(codebooks, x)
        err = np.sqrt(
            ((x - S._pq_reconstruct(codebooks, codes)) ** 2).sum(axis=1)
        )
        expect = {
            r["vec_id"]: ("-".join(map(str, c)), round(float(v), 4))
            for r, c, v in zip(rows, codes, err)
        }
        got = {
            r["vec_id"]: (r["codes"], r["recon_l2"])
            for r in S.x_pq_quantize(spark, sf_dir).collect()
        }
        assert got == expect

    def test_deterministic_across_runs(self, spark):
        from imagingdb_spark.operators.similarity import x_pq_quantize

        sf_dir = "/root/testdata/sf0.001"
        a = sorted(map(tuple, x_pq_quantize(spark, sf_dir).collect()))
        spark.catalog.clearCache()
        b = sorted(map(tuple, x_pq_quantize(spark, sf_dir).collect()))
        assert a == b

    def test_planted_codebook_corpus_reconstructs_exactly(self, spark, tmp_path):
        """A corpus drawn (with repetition) from 4 distinct vectors —
        fewer modes than PQ_K seeds, so every mode is guaranteed a seed
        centroid equal to it and Lloyd sits at a zero-error fixed point
        (with modes == PQ_K a hash-sampled init can MISS a mode; k-means
        promises a local optimum, not mode coverage). Every vector must
        then reconstruct with zero L2 error."""
        import numpy as np

        from imagingdb_spark.operators.similarity import x_pq_quantize

        rng = np.random.default_rng(7)
        basis = rng.normal(size=(4, 64)).round(3)
        rows = [
            (i, int(i % 3), [float(v) for v in basis[i % 4]])
            for i in range(200)
        ]
        d = str(tmp_path / "sfpq")
        spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        ).coalesce(1).write.parquet(d + "/embeddings.parquet")
        got = x_pq_quantize(spark, d).collect()
        assert len(got) == 200
        assert all(r["recon_l2"] == 0.0 for r in got)


class TestAudioFingerprint:
    """x_audio_dedup (D5d): the audio twin of TestPhash — fingerprint
    invariances, lossless banding parity vs a local all-pairs popcount
    twin, and the planted dup structure of the synthetic WAV corpus."""

    def _clip(self, seed=3):
        import numpy as np

        from imagingdb_spark import multimodal as M

        rng = np.random.default_rng(seed)
        amps = 0.01 + 0.07 * rng.random((M.AFP_SEGMENTS, M.AFP_BANDS))
        ts = np.arange(M.SYNTH_CLIP_SEG) / M.SYNTH_CLIP_RATE
        band_bins = (M.SYNTH_CLIP_SEG // 2) // M.AFP_BANDS
        carriers = np.array(
            [
                (1 + band_bins * b + band_bins // 2)
                * M.SYNTH_CLIP_RATE
                / M.SYNTH_CLIP_SEG
                for b in range(M.AFP_BANDS)
            ]
        )
        segs = [
            (
                amps[s][None, :]
                * np.sin(2 * np.pi * carriers[None, :] * ts[:, None])
            ).sum(axis=1)
            for s in range(M.AFP_SEGMENTS)
        ]
        return np.concatenate(segs)

    @staticmethod
    def _ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    def test_gain_invariant_exactly(self):
        """Positive gain scales every band energy by g^2, so every
        delta-of-delta keeps its sign: hamming must be exactly 0."""
        from imagingdb_spark.multimodal import _afp_one

        a = self._clip()
        for g in (0.25, 0.5, 2.0, 7.3):
            assert self._ham(_afp_one(a), _afp_one(g * a)) == 0

    def test_noise_lands_in_near_dup_band(self):
        import numpy as np

        from imagingdb_spark.multimodal import AFP_MAX_DISTANCE, _afp_one

        a = self._clip()
        rng = np.random.default_rng(99)
        noisy = a + 0.008 * rng.standard_normal(len(a))
        assert 0 <= self._ham(_afp_one(a), _afp_one(noisy)) <= AFP_MAX_DISTANCE

    def test_independent_clips_are_far(self):
        from imagingdb_spark.multimodal import _afp_one

        h1, h2 = _afp_one(self._clip(1)), _afp_one(self._clip(2))
        assert self._ham(h1, h2) > 20

    def test_g711_roundtrip_stays_near(self):
        """mulaw companding (8-bit G.711) is exactly the lossy re-encode
        the fingerprint exists to catch: the round-tripped clip must stay
        within the near-dup radius of the original."""
        from imagingdb_spark import wav
        from imagingdb_spark.multimodal import (
            AFP_MAX_DISTANCE,
            SYNTH_CLIP_RATE,
            _afp_one,
        )

        a = self._clip()
        rt, _, _ = wav.decode_wav(wav.encode_wav(a, SYNTH_CLIP_RATE, codec="mulaw"))
        assert self._ham(_afp_one(a), _afp_one(rt)) <= AFP_MAX_DISTANCE

    def test_pipeline_matches_bruteforce_twin(self, spark):
        """afp_near_dups over the synthetic corpus == all-pairs popcount
        at the same threshold (banding is lossless by pigeonhole)."""
        from itertools import combinations

        from imagingdb_spark import multimodal as M
        from imagingdb_spark.catalog import table

        sf_dir = "/root/testdata/sf0.001"
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        hashed = M.afp_clips(M.synth_clips(docs)).collect()
        byid = {r["clip_id"]: r["afp"] for r in hashed}
        expect = {
            (min(x, y), max(x, y), self._ham(byid[x], byid[y]))
            for x, y in combinations(byid, 2)
            if self._ham(byid[x], byid[y]) <= M.AFP_MAX_DISTANCE
        }
        got = {
            (r["clip_a"], r["clip_b"], r["hamming"])
            for r in M.x_audio_dedup(spark, sf_dir).collect()
        }
        assert got == expect

    def test_planted_structure_found(self, spark):
        """Every planted exact dup (X_0, X_2) must surface at hamming 0
        and every planted near-dup (X_0, X_1) within the radius."""
        from imagingdb_spark import multimodal as M
        from imagingdb_spark.catalog import table

        sf_dir = "/root/testdata/sf0.001"
        docs = table(spark, sf_dir, "documents").select("doc_id", "text")
        n_docs = docs.count()
        got = {
            (r["clip_a"], r["clip_b"]): r["hamming"]
            for r in M.x_audio_dedup(spark, sf_dir).collect()
        }
        for i in range(0, n_docs, 23):
            assert got[(f"DOC-{i}_0", f"DOC-{i}_2")] == 0
        for i in range(0, n_docs, 7):
            assert got[(f"DOC-{i}_0", f"DOC-{i}_1")] <= M.AFP_MAX_DISTANCE


class TestSubstringDedup:
    """x_substring_dedup: the oracle pins engine equality; here we pin the
    SEMANTICS on planted runs — exact run length recovery, sub-seed runs
    invisible, boilerplate cap enforced."""

    def _write(self, spark, tmp_path, rows):
        d = str(tmp_path / "sfsub")
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(d + "/documents.parquet")
        return d

    def test_planted_run_lengths_exact(self, spark, tmp_path):
        from imagingdb_spark.operators.dedup import x_substring_dedup

        run13 = " ".join(f"r{i}" for i in range(13))   # 13-token shared run
        run7 = " ".join(f"s{i}" for i in range(7))     # below the 8 seed
        rows = [
            (0, f"alpha beta {run13} gamma delta epsilon zeta"),
            (1, f"one two three four five six {run13} seven eight"),
            (2, f"p q r s t u v w {run7} x y z aa bb"),
            (3, f"ff gg hh ii jj kk ll mm {run7} nn oo pp qq rr"),
        ]
        got = {
            (r["doc_a"], r["doc_b"]): (r["max_shared_run"], r["n_runs"])
            for r in x_substring_dedup(
                spark, self._write(spark, tmp_path, rows)
            ).collect()
        }
        assert got == {(0, 1): (13, 1)}  # 7 < seed width: pair 2-3 absent

    def test_two_disjoint_runs_counted(self, spark, tmp_path):
        from imagingdb_spark.operators.dedup import x_substring_dedup

        ra = " ".join(f"a{i}" for i in range(9))
        rb = " ".join(f"b{i}" for i in range(11))
        rows = [
            (0, f"{ra} filler0 filler1 filler2 {rb}"),
            (1, f"start0 start1 {ra} mid0 mid1 mid2 mid3 {rb} end0"),
        ]
        got = {
            (r["doc_a"], r["doc_b"]): (r["max_shared_run"], r["n_runs"])
            for r in x_substring_dedup(
                spark, self._write(spark, tmp_path, rows)
            ).collect()
        }
        assert got == {(0, 1): (11, 2)}

    def test_boilerplate_cap_drops_ubiquitous_seed(self, spark, tmp_path):
        from imagingdb_spark.operators.dedup import (
            SUBSTR_OCC_CAP,
            x_substring_dedup,
        )

        banner = " ".join(f"nav{i}" for i in range(8))  # exactly one seed
        rows = [
            (i, f"u{i}a u{i}b {banner} u{i}c u{i}d")
            for i in range(SUBSTR_OCC_CAP + 1)  # occ = CAP+1 > CAP
        ]
        got = x_substring_dedup(
            spark, self._write(spark, tmp_path, rows)
        ).collect()
        assert got == []  # the only shared seed is over the cap


class TestAnnPq:
    """x_ann_pq: ADC shortlist + exact re-rank must recover most of the
    exact top-10 (the x_ann_lsh/x_ann_ivf recall discipline), and the
    scores it reports are EXACT cosines (re-ranked), so overlapping ids
    carry identical scores."""

    def test_recall_vs_exact_topk(self, spark):
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        exact = {r["vec_id"] for r in S.x_topk_sim(spark, sf_dir).collect()}
        pq = {r["vec_id"] for r in S.x_ann_pq(spark, sf_dir).collect()}
        assert len(exact & pq) >= 8  # recall >= 0.8 on the testdata

    def test_reported_scores_are_exact(self, spark):
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        exact = {
            r["vec_id"]: r["cosine_sim"]
            for r in S.x_topk_sim(spark, sf_dir).collect()
        }
        for r in S.x_ann_pq(spark, sf_dir).collect():
            if r["vec_id"] in exact:
                assert r["cosine_sim"] == exact[r["vec_id"]]


class TestAnnIvfPq:
    """x_ann_ivfpq: the IVF x residual-PQ composition must recover most of
    the exact top-10 (>= the x_ann_pq floor, since IVF pruning is the only
    extra loss source and the probe covers the query's neighborhood), with
    exact re-ranked scores; and its recall can never exceed IVF-flat's
    (pruning dominates), which pins the composition wiring."""

    def test_recall_vs_exact_topk(self, spark):
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        exact = {r["vec_id"] for r in S.x_topk_sim(spark, sf_dir).collect()}
        ivfpq = {r["vec_id"] for r in S.x_ann_ivfpq(spark, sf_dir).collect()}
        assert len(exact & ivfpq) >= 8  # recall >= 0.8 on the testdata
        # the IVF-flat path over the same probed cells is the ceiling
        ivf = {r["vec_id"] for r in S.x_ann_ivf(spark, sf_dir).collect()}
        assert len(exact & ivfpq) <= len(exact & ivf) + 1

    def test_reported_scores_are_exact(self, spark):
        from imagingdb_spark.operators import similarity as S

        sf_dir = "/root/testdata/sf0.001"
        exact = {
            r["vec_id"]: r["cosine_sim"]
            for r in S.x_topk_sim(spark, sf_dir).collect()
        }
        for r in S.x_ann_ivfpq(spark, sf_dir).collect():
            if r["vec_id"] in exact:
                assert r["cosine_sim"] == exact[r["vec_id"]]


class TestDsirResample:
    """x_dsir_resample: the oracle pins engine equality; here we pin (1)
    the Gumbel key against an independent hashlib+math twin and (2) the
    resampling bias — selected docs carry higher mean weight than the
    pool at large."""

    def test_gumbel_key_matches_python_twin(self, spark):
        import hashlib
        import math

        from imagingdb_spark.operators.sampling import x_dsir_resample

        sf_dir = "/root/testdata/sf0.001"
        got = x_dsir_resample(spark, sf_dir).collect()
        assert len(got) == 100
        for r in got[:20]:
            h4 = hashlib.md5(f"gum-{r['doc_id']}".encode()).hexdigest()[:4]
            u = (int(h4, 16) + 0.5) / 65536.0
            g = -math.log(-math.log(u))
            assert r["gumbel_key"] == round(r["dsir_weight"] + g, 4) + 0.0 or \
                abs(r["gumbel_key"] - (r["dsir_weight"] + g)) < 2e-4
            # (weights are rounded for display; reconstruct within the
            # rounding granularity)

    def test_resampling_is_weight_biased(self, spark):
        from pyspark.sql import functions as F

        from imagingdb_spark.operators.sampling import (
            dsir_weights,
            x_dsir_resample,
        )

        sf_dir = "/root/testdata/sf0.001"
        pool_mean = dsir_weights(spark, sf_dir).agg(
            F.avg("wt")
        ).collect()[0][0]
        sel = x_dsir_resample(spark, sf_dir).collect()
        sel_mean = sum(r["dsir_weight"] for r in sel) / len(sel)
        assert sel_mean > pool_mean


class TestSceneChanges:
    """x_scene_changes: every planted cut — and ONLY the planted cut —
    must surface, at the exact digest-derived time index."""

    def test_planted_cuts_recovered_exactly(self, spark):
        import hashlib

        from imagingdb_spark.catalog import table
        from imagingdb_spark.multimodal import SCENE_SERIES_LEN, x_scene_changes

        sf_dir = "/root/testdata/sf0.001"
        docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
        expect = {}
        for r in docs:
            dig = hashlib.sha256(r["text"].encode()).digest()
            expect[f"DOC-{r['doc_id']}"] = 2 + dig[16] % (SCENE_SERIES_LEN - 3)
        got = {}
        for r in x_scene_changes(spark, sf_dir).collect():
            got.setdefault(r["dataset_serial"], []).append(r["time_idx"])
        assert set(got) == set(expect)
        for serial, cuts in got.items():
            assert cuts == [expect[serial]], serial

    def test_drift_never_crosses_threshold(self, spark):
        """The smooth-drift steps (the non-cut transitions) must all sit
        at or below the near-dup radius — scene detection's false-positive
        guard on this construction."""
        from pyspark.sql import functions as F
        from pyspark.sql import Window as W

        from imagingdb_spark.catalog import table
        from imagingdb_spark import multimodal as M

        sf_dir = "/root/testdata/sf0.001"
        docs = table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
        hashed = M.phash_frames(M.synth_frame_series(docs))
        w = W.partitionBy("dataset_serial").orderBy("time_idx")
        steps = (
            hashed.withColumn("prev", F.lag("phash").over(w))
            .filter(F.col("prev").isNotNull())
            .withColumn(
                "ham", F.bit_count(F.col("phash").bitwiseXOR(F.col("prev")))
            )
        )
        per = steps.groupBy("dataset_serial").agg(
            F.sum(
                F.when(F.col("ham") > M.SCENE_THRESHOLD, 1).otherwise(0)
            ).alias("n_cuts"),
            F.max(
                F.when(F.col("ham") <= M.SCENE_THRESHOLD, F.col("ham"))
            ).alias("max_drift"),
        ).collect()
        for r in per:
            assert r["n_cuts"] == 1
            assert r["max_drift"] <= M.SCENE_THRESHOLD


def test_pq_codebooks_tiny_corpus_does_not_crash(spark, tmp_path):
    """A corpus whose deterministic training sample holds fewer than PQ_K
    vectors must still train (seeds cycle; duplicate centroids are
    harmless fixed points) — the tiny-tenant edge case."""
    import numpy as np

    from imagingdb_spark.operators.similarity import PQ_K, x_pq_quantize

    rng = np.random.default_rng(11)
    rows = [
        (i, 0, [float(v) for v in rng.normal(size=64)]) for i in range(6)
    ]
    d = str(tmp_path / "sftiny")
    spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    ).coalesce(1).write.parquet(d + "/embeddings.parquet")
    got = x_pq_quantize(spark, d).collect()
    assert len(got) == 6
    assert all(len(r["codes"].split("-")) == 8 for r in got)


def test_multimodal_synth_tolerates_null_text(spark, tmp_path):
    """A null-text document (which tokens_col and every oracle tolerate)
    must not crash the synthetic frame/clip/series generators — it simply
    yields no payload."""
    from imagingdb_spark.multimodal import (
        x_audio_dedup,
        x_phash_dedup,
        x_scene_changes,
    )

    d = str(tmp_path / "sfnull")
    spark.createDataFrame(
        [
            (0, "alpha beta gamma delta", "en", "s", 22),
            (1, None, "en", "s", 0),
            (2, "epsilon zeta eta theta", "de", "s", 22),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(d + "/documents.parquet")
    assert x_phash_dedup(spark, d).count() == 3   # doc 0's planted trio
    assert x_audio_dedup(spark, d).count() == 3
    assert x_scene_changes(spark, d).count() == 2  # one cut per real doc


class TestTriangles:
    """x_triangles semantics on planted graphs (the oracle pins engine
    equality at sf0.01/sf1.0; here the triangle enumeration itself)."""

    def test_known_graphs(self, spark):
        from imagingdb_spark.operators.graph import triangle_counts

        def counts(pairs):
            df = spark.createDataFrame(pairs, "u long, v long")
            return {
                r["node"]: r["n_triangles"]
                for r in triangle_counts(df).collect()
            }

        # K4: every node is in C(3,2)=3 triangles
        k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
        assert counts(k4) == {0: 3, 1: 3, 2: 3, 3: 3}
        # triangle + pendant: pendant node participates in none
        assert counts([(1, 2), (2, 3), (1, 3), (3, 4)]) == {1: 1, 2: 1, 3: 1}
        # path: triangle-free
        assert counts([(1, 2), (2, 3), (3, 4)]) == {}
        # duplicate edges are deduped, not double-counted
        assert counts([(1, 2), (1, 2), (2, 3), (1, 3)]) == {1: 1, 2: 1, 3: 1}

    def test_basket_graph_and_cap(self, spark, tmp_path):
        from imagingdb_spark.operators.graph import (
            TRI_MAX_BASKET,
            x_triangles,
        )

        rows = [(1, 1), (1, 2), (2, 2), (2, 3), (3, 1), (3, 3)]
        # an over-cap basket whose parts would otherwise form many
        # triangles must contribute NO edges
        rows += [(9, 100 + i) for i in range(TRI_MAX_BASKET + 1)]
        d = str(tmp_path / "sft")
        spark.createDataFrame(
            rows, "l_orderkey long, l_partkey long"
        ).coalesce(1).write.parquet(d + "/lineitem.parquet")
        got = {
            r["part"]: r["n_triangles"] for r in x_triangles(spark, d).collect()
        }
        assert got == {1: 1, 2: 1, 3: 1}  # no part >= 100 appears


class TestContainment:
    """x_containment semantics: directed sub/sup detection, the >= 0.9
    boundary, and block isolation (oracle pins engine equality)."""

    def _write(self, spark, tmp_path, rows):
        d = str(tmp_path / "sfc")
        spark.createDataFrame(
            [(i, t, lang, "src0", len(t)) for i, t, lang in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(d + "/documents.parquet")
        return d

    def test_directed_subset_detected_once(self, spark, tmp_path):
        from imagingdb_spark.operators.dedup import x_containment

        sub = " ".join(f"t{i}" for i in range(10))
        sup = sub + " " + " ".join(f"extra{i}" for i in range(20))
        got = {
            (r["doc_sub"], r["doc_sup"]): r["containment"]
            for r in x_containment(
                spark, self._write(spark, tmp_path, [(0, sub, "en"), (1, sup, "en")])
            ).collect()
        }
        # 0 ⊂ 1 at containment 1.0; the reverse is 10/30 and absent
        assert got == {(0, 1): 1.0}

    def test_boundary_is_inclusive(self, spark, tmp_path):
        from imagingdb_spark.operators.dedup import x_containment

        a = " ".join(f"t{i}" for i in range(10))          # 10 tokens
        b = " ".join(f"t{i}" for i in range(9)) + " zzz"  # 9 shared
        got = {
            (r["doc_sub"], r["doc_sup"]): r["containment"]
            for r in x_containment(
                spark, self._write(spark, tmp_path, [(0, a, "en"), (1, b, "en")])
            ).collect()
        }
        # both directions are exactly 9/10 = 0.9: >= is inclusive
        assert got == {(0, 1): 0.9, (1, 0): 0.9}

    def test_blocks_isolate_languages(self, spark, tmp_path):
        from imagingdb_spark.operators.dedup import x_containment

        t = " ".join(f"t{i}" for i in range(10))
        got = x_containment(
            spark, self._write(spark, tmp_path, [(0, t, "en"), (1, t, "fr")])
        ).collect()
        assert got == []


class TestPerplexityBucket:
    """x_perplexity_bucket semantics: per-language terciles ordered by the
    language's own LM score (oracle pins engine equality)."""

    def _write(self, spark, tmp_path, rows):
        d = str(tmp_path / "sfp")
        spark.createDataFrame(
            [(i, t, lang, "src0", len(t)) for i, t, lang in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(d + "/documents.parquet")
        return d

    def test_terciles_order_by_own_language_lm(self, spark, tmp_path):
        from imagingdb_spark.operators.lm import x_perplexity_bucket

        rows = [
            # en: d0 all common tokens, d1 mixed, d2 all-singleton -> tail
            (0, "alpha alpha beta beta alpha beta", "en"),
            (1, "alpha beta odd1 odd2", "en"),
            (2, "uniq1 uniq2 uniq3 uniq4", "en"),
            # fr: its own LM — one doc per tercile even with 3 docs
            (10, "bon bon bon", "fr"),
            (11, "bon jour", "fr"),
            (12, "rare1 rare2", "fr"),
        ]
        d = self._write(spark, tmp_path, rows)
        out = x_perplexity_bucket(spark, d).collect()
        by_id = {r["doc_id"]: (r["bucket"], r["avg_logprob"]) for r in out}
        assert by_id[0][0] == "head" and by_id[2][0] == "tail"
        assert by_id[1][0] == "middle"
        assert by_id[10][0] == "head" and by_id[12][0] == "tail"
        # within each language: head score >= middle >= tail
        assert by_id[0][1] >= by_id[1][1] >= by_id[2][1]
        assert by_id[10][1] >= by_id[11][1] >= by_id[12][1]
        # deterministic across rebuilds
        out2 = x_perplexity_bucket(spark, d).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2))

    def test_cutoff_bucketing_equals_ntile_window(self, spark):
        """ntile3_by_cutoffs (the 100 TB path: bounded histogram +
        broadcast cutoffs, NO per-language window over the corpus) must
        be row-identical to the definitional ntile(3) window — across a
        dominant language, heavy score TIES straddling both boundaries,
        n % 3 in every residue class, and 1- and 2-row languages."""
        import random

        from pyspark.sql import Window

        from imagingdb_spark.operators.lm import ntile3_by_cutoffs

        rng = random.Random(81)
        rows = []
        did = 0
        for lang, n in (("en", 97), ("fr", 12), ("de", 8), ("xx", 1), ("yy", 2)):
            for _ in range(n):
                # few distinct scores -> massive ties at the boundaries
                rows.append((did, lang, float(rng.choice([-1.5, -2.0, -2.5]))))
                did += 1
        scored = spark.createDataFrame(
            rows, "doc_id long, lang string, avg_logprob double"
        )
        w = Window.partitionBy("lang").orderBy(
            F.col("avg_logprob").desc(), F.col("doc_id").asc()
        )
        n3 = F.ntile(3).over(w)
        want = sorted(
            map(
                tuple,
                scored.select(
                    "doc_id",
                    "lang",
                    "avg_logprob",
                    F.when(n3 == 1, "head")
                    .when(n3 == 2, "middle")
                    .otherwise("tail")
                    .alias("bucket"),
                ).collect(),
            )
        )
        got = sorted(
            map(
                tuple,
                ntile3_by_cutoffs(
                    scored, "lang", "avg_logprob", "doc_id"
                ).collect(),
            )
        )
        assert got == want

    def test_cutoffs_null_partition_and_null_score(self, spark):
        """A NULL partition value is its own ntile partition (the window
        groups NULLs together) — rows must not be dropped by the joins;
        a NULL score is refused loudly (its DESC position is
        engine-dependent)."""
        from pyspark.sql import Window

        from imagingdb_spark.operators.lm import ntile3_by_cutoffs

        rows = [(i, None if i < 7 else "en", float(-(i % 3)) - 1.0)
                for i in range(20)]
        scored = spark.createDataFrame(
            rows, "doc_id long, lang string, avg_logprob double"
        )
        w = Window.partitionBy("lang").orderBy(
            F.col("avg_logprob").desc(), F.col("doc_id").asc()
        )
        n3 = F.ntile(3).over(w)
        want = sorted(
            map(
                tuple,
                scored.select(
                    "doc_id", "lang", "avg_logprob",
                    F.when(n3 == 1, "head").when(n3 == 2, "middle")
                    .otherwise("tail").alias("bucket"),
                ).collect(),
            ),
            key=str,
        )
        got = sorted(
            map(
                tuple,
                ntile3_by_cutoffs(
                    scored, "lang", "avg_logprob", "doc_id"
                ).collect(),
            ),
            key=str,
        )
        assert got == want and len(got) == 20

        bad = spark.createDataFrame(
            [(1, "en", None)], "doc_id long, lang string, avg_logprob double"
        )
        with pytest.raises(ValueError, match="NULL"):
            ntile3_by_cutoffs(bad, "lang", "avg_logprob", "doc_id")

    def test_vocab_broadcast_gated_on_threshold(self, spark, tmp_path):
        """The vocabulary join is broadcast only while its estimated size
        fits spark.sql.autoBroadcastJoinThreshold; below the estimate it
        is a plain join with the same rows."""
        import re

        from imagingdb_spark.operators.lm import x_perplexity_bucket

        rows = [
            (i, f"tok{i % 7} tok{i % 3} common", "en" if i % 2 else "fr")
            for i in range(30)
        ]
        d = self._write(spark, tmp_path, rows)

        def run():
            spark.catalog.clearCache()  # scored's cache would carry the join
            df = x_perplexity_bucket(spark, d)
            plan = df._jdf.queryExecution().executedPlan().toString()
            joins = set(re.findall(r"(\w+) \[lang#\d+, tok#\d+\]", plan))
            return joins, sorted(map(tuple, df.collect()))

        joins, out = run()
        assert joins == {"BroadcastHashJoin"}
        key = "spark.sql.autoBroadcastJoinThreshold"
        old = spark.conf.get(key)
        spark.conf.set(key, "1")
        try:
            low_joins, low_out = run()
        finally:
            spark.conf.set(key, old)
            spark.catalog.clearCache()
        assert "BroadcastHashJoin" not in low_joins and low_joins
        assert low_out == out

    def test_registered_plan_has_no_corpus_window(self, spark, tmp_path):
        """The registered query's executed plan must contain NO Window
        operator at all — the tie-split window runs only inside the
        driver-side boundary pass over boundary-value docs."""
        from imagingdb_spark.operators.lm import x_perplexity_bucket

        rows = [(i, f"tok{i % 7} tok{i % 3} common", "en") for i in range(30)]
        d = self._write(spark, tmp_path, rows)
        df = x_perplexity_bucket(spark, d)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan


class TestNtile3OnePass:
    """Round-9 task 7: the boundary-tie resolution rides the returned
    plan (one driver round-trip total) and the histogram collect is
    width-guarded."""

    def test_histogram_width_guard(self, spark):
        from imagingdb_spark.operators.lm import ntile3_by_cutoffs

        scored = spark.createDataFrame(
            [(i, "en", -float(i) / 10_000) for i in range(60)],
            "doc_id long, lang string, avg_logprob double",
        )
        with pytest.raises(ValueError, match="histogram exceeds 10"):
            ntile3_by_cutoffs(
                scored, "lang", "avg_logprob", "doc_id", max_hist_rows=10
            )
        # at the guard boundary it still works
        out = ntile3_by_cutoffs(
            scored, "lang", "avg_logprob", "doc_id", max_hist_rows=60
        )
        assert out.count() == 60

    def test_single_action_after_histogram(self, spark):
        """Building the bucketing plan costs exactly ONE Spark action —
        the histogram collect; the boundary-tie aggregation is lazy (it
        used to be a second collect). Counted via the SQL execution
        store (job counts are AQE-stage-dependent)."""
        from imagingdb_spark.operators.lm import ntile3_by_cutoffs

        scored = spark.createDataFrame(
            [(i, "en", -float(i % 5)) for i in range(40)],
            "doc_id long, lang string, avg_logprob double",
        )
        store = spark._jsparkSession.sharedState().statusStore()
        before = store.executionsCount()
        df = ntile3_by_cutoffs(scored, "lang", "avg_logprob", "doc_id")
        mid = store.executionsCount() - before
        assert mid <= 1, f"plan construction ran {mid} actions (want 1)"
        assert df.count() == 40


class TestTrianglesBatchedClosing:
    """Round-9 task 5: the closing join's edge-hash batching (spill
    bound) must enumerate the identical triangle multiset."""

    def test_batched_equals_single_shot(self, spark):
        import random

        from imagingdb_spark.operators.graph import triangle_counts

        rng = random.Random(7)
        edges = {(a, b) for a, b in (
            sorted(rng.sample(range(60), 2)) for _ in range(500)
        )}
        df = spark.createDataFrame(sorted(edges), "u long, v long")
        single = {
            (r["node"], r["n_triangles"])
            for r in triangle_counts(df).collect()
        }
        # cap sized to split this graph's ~10-15k wedge units into a
        # handful of batches (each batch is a full Spark job — hundreds
        # would dominate the suite's wall clock for no extra coverage)
        batched = {
            (r["node"], r["n_triangles"])
            for r in triangle_counts(
                df, max_closing_units=4000
            ).collect()
        }
        assert batched == single and len(single) > 10

    def test_registered_query_unchanged(self, spark):
        from imagingdb_spark import registry

        registry.load_all()
        got = registry.QUERIES["x_triangles"](
            spark, "/root/testdata/sf0.001"
        ).collect()
        assert len(got) == 20
