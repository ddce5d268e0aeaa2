"""Dedup operator tests: reference keep-first semantics + scale extensions."""

import pytest
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.operators import dedup, similarity


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id string, row_order long, text string")


class TestExactDedup:
    def test_keep_first_and_lineage(self, spark):
        df = _docs(
            spark,
            [
                ("a", 0, "Hello World"),
                ("b", 1, "hello   world"),   # same canonical form -> dup of a
                ("c", 2, "something else"),
                ("d", 3, "HELLO WORLD "),    # dup of a
                ("e", 4, None),              # null canonicalises to ""
                ("f", 5, "   "),             # also "" -> dup group with e
            ],
        )
        out = dedup.exact_dedup(df, text_col="text", order_col="row_order").orderBy("row_order")
        rows = {r.doc_id: r for r in out.collect()}
        assert not rows["a"].is_dup_exact and rows["a"].dup_of is None
        assert rows["b"].is_dup_exact and rows["b"].dup_of == "a"
        assert not rows["c"].is_dup_exact
        assert rows["d"].is_dup_exact and rows["d"].dup_of == "a"
        assert not rows["e"].is_dup_exact  # first empty doc is canonical
        assert rows["f"].is_dup_exact and rows["f"].dup_of == "e"
        assert rows["b"].drop_reason == "exact_duplicate"
        assert rows["a"].drop_reason is None

    def test_existing_drop_reason_not_overwritten(self, spark):
        df = _docs(spark, [("a", 0, "x y z"), ("b", 1, "x y z")]).withColumn(
            "drop_reason",
            F.when(F.col("doc_id") == "b", F.lit("already_dropped")),
        )
        out = dedup.exact_dedup(df, text_col="text", order_col="row_order")
        rows = {r.doc_id: r for r in out.collect()}
        assert rows["b"].drop_reason == "already_dropped"  # first-writer-wins
        assert rows["b"].is_dup_exact  # flag still set, like the reference

    def test_narrow_shuffle_identical_results(self, spark):
        """A hot key (60 copies of one text) keeps its first row and marks
        every later copy a duplicate of it; ``respect_drop_reason`` gives an
        already-dropped copy a solo key, so it is neither canonical nor
        marked."""
        rows = [(f"d{i:03d}", i, "the same boilerplate page") for i in range(60)]
        rows += [("u1", 100, "unique one"), ("u2", 101, "unique two"), ("n0", 102, None)]
        df = _docs(spark, rows).withColumn(
            "drop_reason", F.when(F.col("doc_id") == "d005", F.lit("already_dropped"))
        )
        for respect in (False, True):
            out = dedup.exact_dedup(
                df, text_col="text", order_col="row_order", respect_drop_reason=respect
            )
            got = {
                r.doc_id: (r.is_dup_exact, r.dup_of, r.drop_reason)
                for r in out.collect()
            }
            want = {k: (False, None, None) for k in ("d000", "u1", "u2", "n0")}
            want.update(
                {f"d{i:03d}": (True, "d000", "exact_duplicate") for i in range(1, 60)}
            )
            want["d005"] = (
                (False, None, "already_dropped") if respect
                else (True, "d000", "already_dropped")
            )
            assert got == want, respect


class TestNearDedup:
    def test_prefix_grouping(self, spark):
        base = "word " * 50  # 250 chars canonical
        df = _docs(
            spark,
            [
                ("a", 0, base + "ending one"),
                ("b", 1, base + "totally different ending two"),  # same 200-char prefix
                ("c", 2, "short text"),                           # too short for near-dup
            ],
        )
        out = dedup.dedup_stage(df, text_col="text", id_col="doc_id", near_dup_min_len=200,
                                near_key_chars=200)
        rows = {r.doc_id: r for r in out.collect()}
        assert not rows["a"].is_dup_near
        assert rows["b"].is_dup_near and rows["b"].dup_of == "a"
        assert rows["b"].drop_reason == "near_duplicate"
        assert not rows["c"].is_dup_near

    def test_exact_dup_excluded_from_near(self, spark):
        text = "word " * 120  # 600 chars: near_key = first 500
        df = _docs(spark, [("a", 0, text), ("b", 1, text)])
        out = dedup.dedup_stage(df, text_col="text", id_col="doc_id")
        rows = {r.doc_id: r for r in out.collect()}
        assert rows["b"].is_dup_exact and not rows["b"].is_dup_near
        assert rows["b"].drop_reason == "exact_duplicate"


class TestMinHashLSH:
    def test_near_identical_docs_are_candidates(self, spark):
        doc = ("the quick brown fox jumps over the lazy dog and then runs far away "
               "through the green fields towards the old farm house near the river")
        df = spark.createDataFrame(
            [(1, doc), (2, doc + " tail"), (3, "entirely unrelated content about "
              "spark catalyst optimizer plans and shuffle partitions in clusters")],
            "doc_id long, text string",
        )
        cand = dedup.minhash_lsh_candidates(df, "text", num_hashes=32, bands=16)
        pairs = {(r.id_a, r.id_b) for r in cand.collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_jaccard_verification(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y z w v u t s")],
            "doc_id long, text string",
        )
        out = dedup.ngram_jaccard_pairs(df, "text", shingle_size=3, threshold=0.8)
        pairs = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
        assert pairs == {(1, 2): 1.0}

    def test_lsh_plus_verify_compose(self, spark):
        doc = "one two three four five six seven eight nine ten eleven twelve"
        df = spark.createDataFrame(
            [(1, doc), (2, doc), (3, "alpha beta gamma delta epsilon zeta eta theta")],
            "doc_id long, text string",
        )
        cand = dedup.minhash_lsh_candidates(df, "text")
        verified = dedup.ngram_jaccard_pairs(df, "text", threshold=0.9, candidates=cand)
        assert {(r.id_a, r.id_b) for r in verified.collect()} == {(1, 2)}


class TestLshBucketCap:
    """The 100 TB skew guard: oversized LSH buckets degrade to a linear star
    instead of a k²/2 pairwise blow-up inside one task."""

    def _identical_corpus(self, spark, n):
        doc = ("repeated boilerplate footer text about cookies privacy "
               "newsletter subscribe terms conditions contact us sitemap")
        return spark.createDataFrame(
            [(i, doc) for i in range(n)], "doc_id long, text string"
        )

    def test_oversized_bucket_emits_star_not_quadratic(self, spark):
        df = self._identical_corpus(spark, 1000)
        cand = dedup.minhash_lsh_candidates(df, "text", max_bucket_size=100)
        rows = cand.collect()
        # star over every (band_id, band_sig) bucket of the 1000 identical
        # docs: each band yields the same 999 (0, j) edges -> distinct = 999,
        # not 1000*999/2 = 499500.
        assert len(rows) == 999
        assert {r.id_a for r in rows} == {0}
        assert {r.id_b for r in rows} == set(range(1, 1000))

    def test_capped_dedup_still_collapses_cluster(self, spark):
        df = self._identical_corpus(spark, 300)
        out = dedup.minhash_dedup(df, "text", max_bucket_size=50,
                                  jaccard_threshold=0.8)
        rows = {r.doc_id: r for r in out.collect()}
        assert not rows[0].is_dup_minhash        # min id is canonical
        for i in range(1, 300):
            assert rows[i].is_dup_minhash and rows[i].dup_of_minhash == 0

    def test_observation_reports_pruned_candidates(self, spark):
        from pyspark.sql import Observation

        obs = Observation("lsh_cap")
        df = self._identical_corpus(spark, 200)
        cand = dedup.minhash_lsh_candidates(
            df, "text", max_bucket_size=100, bucket_observation=obs
        )
        n = cand.count()
        assert n == 199
        got = obs.get
        # 8 bands x 1 oversized bucket each; each pruned 200*199/2 - 199 pairs
        assert got["lsh_oversized_buckets"] == 8
        assert got["lsh_pairs_pruned"] == 8 * (200 * 199 // 2 - 199)

    def test_under_cap_identical_to_uncapped(self, spark):
        docs = [(i, f"some normal document number {i} with shared phrasing "
                    "about spark catalyst optimizer plans") for i in range(30)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        capped = {(r.id_a, r.id_b)
                  for r in dedup.minhash_lsh_candidates(df, "text").collect()}
        uncapped = {(r.id_a, r.id_b)
                    for r in dedup.minhash_lsh_candidates(
                        df, "text", max_bucket_size=None).collect()}
        assert capped == uncapped

    def test_fixture_buckets_stay_under_default_cap(self, spark, sf_dir):
        """The oracle-refereed queries pin max_bucket_size=None explicitly,
        but the engine-default capped mode must ALSO match the referee on
        the driver fixtures — i.e. no fixture bucket may exceed the default
        cap. If corpus growth ever trips this, the capped default would
        silently diverge from exact-pairs semantics on refereed data."""
        import inspect

        default_cap = inspect.signature(
            dedup.minhash_lsh_candidates
        ).parameters["max_bucket_size"].default
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        capped = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_candidates(docs, "text").collect()
        }
        uncapped = {
            (r.id_a, r.id_b)
            for r in dedup.minhash_lsh_candidates(
                docs, "text", max_bucket_size=None
            ).collect()
        }
        assert capped == uncapped, (
            f"fixture LSH buckets exceed the default cap ({default_cap}); "
            "capped default no longer equals the exact-pairs referee mode"
        )


class TestSimHash:
    def test_identical_and_different(self, spark):
        df = spark.createDataFrame(
            [(1, "spark engine data pipeline quality"), (2, "spark engine data pipeline quality"),
             (3, "zebra yak xylophone walrus vulture")],
            "doc_id long, text string",
        )
        out = dedup.simhash_pairs(df, "text", max_hamming=0)
        pairs = {(r.id_a, r.id_b): r.hamming for r in out.collect()}
        assert pairs.get((1, 2)) == 0
        assert (1, 3) not in pairs


class TestEmbeddingSimilarity:
    def test_cosine_topk_exact(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        query = emb.filter(F.col("vec_id") == 0).collect()[0].embedding
        top = similarity.cosine_topk(emb, query, k=5).collect()
        assert top[0].vec_id == 0  # self-match first
        assert top[0].score == pytest.approx(1.0, abs=1e-9)
        scores = [r.score for r in top]
        assert scores == sorted(scores, reverse=True)

    def test_knn_join(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
        out = similarity.knn_join(queries, emb, k=4)
        rows = out.collect()
        assert len(rows) == 12
        by_q = {}
        for r in rows:
            by_q.setdefault(r.query_id, []).append(r)
        for q, rs in by_q.items():
            assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3, 4]
            assert sorted(rs, key=lambda r: r.rank)[0].vec_id == q  # self first

    def test_embedding_near_dup_pairs_self_similarity(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
        doubled = emb.union(emb.withColumn("vec_id", F.col("vec_id") + 10000))
        out = dedup.embedding_near_dup_pairs(doubled, threshold=0.9999)
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        for i in [r.vec_id for r in emb.collect()]:
            assert (i, i + 10000) in pairs

    def test_lsh_bucketed_near_dup_finds_exact_copies(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(50)
        doubled = emb.union(emb.withColumn("vec_id", F.col("vec_id") + 10000))
        out = dedup.embedding_near_dup_pairs(
            doubled, threshold=0.9999, lsh_planes=4, dim=64
        )
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        # identical vectors share every hyperplane side -> always same bucket
        for i in [r.vec_id for r in emb.collect()]:
            assert (i, i + 10000) in pairs

    def test_or_amplified_lsh_recall(self, spark, sf_dir):
        """8 bands x 2 planes must recover >= 90% of the exact pair set at
        the fixture threshold — the recall the single AND bucket loses below
        cosine ~0.95 (it finds ~30% here)."""
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        brute = {(r.id_a, r.id_b) for r in
                 dedup.embedding_near_dup_pairs(emb, threshold=0.45).collect()}
        assert brute, "fixture must contain near-dup pairs"
        ampl = {(r.id_a, r.id_b) for r in
                dedup.embedding_near_dup_pairs(
                    emb, threshold=0.45, lsh_planes=2, lsh_seed=7,
                    dim=64, lsh_bands=8).collect()}
        assert ampl <= brute          # exact verify inside: no false positives
        assert len(ampl) / len(brute) >= 0.9

    def test_train_ivf_centroids_recovers_clusters_from_bad_init(self, spark):
        """Lloyd refinement must fix a pathological coarse quantizer: 4 true
        clusters, all 4 init centroids taken from ONE cluster. After a few
        rounds the mean cosine of vectors to their assigned centroid (the
        k-means objective) must improve and the cells must rebalance from
        one-giant-cell toward the true 40/40/40/40 structure."""
        import numpy as np

        rng = np.random.RandomState(7)
        centers = rng.randn(4, 8) * 4.0
        vecs = []
        for ci, c in enumerate(centers):
            for j in range(40):
                vecs.append((ci * 40 + j, (c + rng.randn(8) * 0.3).tolist()))
        df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
        # bad init: 4 near-identical centroids, all inside cluster 0
        init = df.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )

        def objective(cents):
            assigned = similarity.ivf_assign(df, cents)
            joined = (
                df.join(assigned, "vec_id")
                .join(
                    cents.select(
                        F.col("centroid_id").alias("cell"),
                        F.col("centroid_vec").alias("_cv"),
                    ),
                    "cell",
                )
                .select(similarity.cosine(F.col("embedding"), F.col("_cv")).alias("c"))
            )
            return joined.agg(F.avg("c")).collect()[0][0]

        def max_cell(cents):
            assigned = similarity.ivf_assign(df, cents)
            return max(
                r.n for r in assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
            )

        trained = similarity.train_ivf_centroids(df, init, n_iter=4)
        assert objective(trained) > objective(init) + 0.05
        assert max_cell(trained) < max_cell(init)
        assert max_cell(trained) <= 80  # rebalanced away from one-giant-cell

    def test_train_ivf_centroids_rejects_nonpositive_iters(self, spark):
        df = spark.createDataFrame([(1, [1.0, 0.0])], "vec_id long, embedding array<double>")
        init = df.select(
            F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
        )
        with pytest.raises(ValueError, match="n_iter"):
            similarity.train_ivf_centroids(df, init, n_iter=0)

    def test_lsh_topk_contains_self(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        query = emb.filter(F.col("vec_id") == 7).collect()[0].embedding
        top = similarity.lsh_topk(emb, query, k=5)
        ids = [r.vec_id for r in top.collect()]
        assert 7 in ids  # query's own bucket contains itself


class TestConnectedComponents:
    def test_chain_and_star(self, spark, monkeypatch):
        # chain 1-2-3-4, star 10-(11,12), singleton edge 20-21
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (20, 21)],
            "id_a long, id_b long",
        )
        want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}
        # default: small graph takes the driver union-find fast path
        comp = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
        assert comp == want
        # forcing the distributed loop must give identical labels
        monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
        loop = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
        assert loop == want

    def test_fast_path_matches_loop_on_string_ids(self, spark, monkeypatch):
        """Union-find min-label == distributed min-label on string ids too
        (Spark's binary string min == Python's code-point min)."""
        pairs = spark.createDataFrame(
            [("b", "c"), ("a", "b"), ("x", "y"), ("é", "e")],
            "id_a string, id_b string",
        )
        fast = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
        monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
        loop = {r.id: r.component for r in dedup.connected_components(pairs).collect()}
        assert fast == loop == {
            "a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "e": "e", "é": "e",
        }

    def test_rejects_nonpositive_max_iter(self, spark):
        """max_iter <= 0 would return identity labels with no warning (the
        loop body never runs) — it must raise instead."""
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        for bad in (0, -1):
            with pytest.raises(ValueError, match="max_iter"):
                dedup.connected_components(pairs, max_iter=bad)

    def test_warns_when_diameter_exceeds_max_iter(self, spark, monkeypatch):
        import warnings

        # the warning is a distributed-loop contract; pin that path (the
        # union-find fast path always converges and never warns)
        monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
        # one round cannot finish any multi-hop chain
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(6)], "id_a long, id_b long"
        )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            dedup.connected_components(chain, max_iter=1).collect()
        assert any("did not converge" in str(x.message) for x in w)
        # with enough rounds the same chain converges silently and correctly
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            comp = {r.id: r.component
                    for r in dedup.connected_components(chain).collect()}
        assert not any("did not converge" in str(x.message) for x in w)
        assert set(comp.values()) == {0}

    def test_long_chain_converges_in_log_rounds(self, spark, monkeypatch):
        """Pointer jumping: a 120-hop path converges well inside 10 rounds
        (O(log diameter)); plain min-label propagation would need 120."""
        import warnings

        monkeypatch.setattr(dedup, "_CC_DRIVER_MAX_EDGES", 0)
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(120)], "id_a long, id_b long"
        )
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            comp = {r.id: r.component
                    for r in dedup.connected_components(chain, max_iter=10).collect()}
        assert not any("did not converge" in str(x.message) for x in w)
        assert set(comp.values()) == {0} and len(comp) == 121

    def test_minhash_dedup_end_to_end(self, spark):
        base = ("the quick brown fox jumps over the lazy dog and runs through the "
                "field towards the river near the old mill where the miller works")
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, base + " extra"),
             (4, "completely different words about catalyst optimizer shuffles "
                 "partitions executors broadcast joins and adaptive execution")],
            "doc_id long, text string",
        )
        out = {r.doc_id: r for r in
               dedup.minhash_dedup(df, "text", jaccard_threshold=0.5).collect()}
        assert not out[1].is_dup_minhash          # smallest id is canonical
        assert out[2].is_dup_minhash and out[2].dup_of_minhash == 1
        assert out[3].is_dup_minhash and out[3].dup_of_minhash == 1
        assert out[2].drop_reason == "minhash_duplicate"
        assert not out[4].is_dup_minhash and out[4].drop_reason is None


class TestSnapshotDedup:
    def test_raises_on_column_collision(self, spark):
        df = spark.createDataFrame(
            [("a", "text", "deadbeef")], "doc_id string, text string, exact_hash string"
        )
        manifest = spark.createDataFrame([("deadbeef",)], "exact_hash string")
        with pytest.raises(ValueError, match="exact_hash"):
            dedup.dedup_against_snapshot(df, manifest)

    def test_flags_known_canonical_hashes(self, spark):
        snapshot_docs = spark.createDataFrame(
            [(1, "Hello   World"), (2, "prior doc")], "doc_id long, text string"
        )
        from llm_pretraining_data_pipeline_spark.functions.hashing import sha256_hex
        from llm_pretraining_data_pipeline_spark.functions.text_norm import (
            canonicalize_for_exact,
        )

        manifest = snapshot_docs.select(
            sha256_hex(canonicalize_for_exact("text")).alias("exact_hash")
        )
        batch = spark.createDataFrame(
            [
                (10, "hello world"),        # canonical match (case/ws-insensitive)
                (11, "brand new doc"),
                (12, None),                 # null canonicalises to ""
                (13, "PRIOR    doc"),
            ],
            "doc_id long, text string",
        )
        out = {
            r.doc_id: r.is_known
            for r in dedup.dedup_against_snapshot(batch, manifest).collect()
        }
        assert out == {10: True, 11: False, 12: False, 13: True}

    def test_empty_snapshot_keeps_everything(self, spark):
        batch = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
        manifest = batch.limit(0).select(F.col("text").alias("exact_hash"))
        rows = dedup.dedup_against_snapshot(batch, manifest).collect()
        assert len(rows) == 2 and not any(r.is_known for r in rows)


class TestSemDeDup:
    """SemDeDup (Abbas et al. 2023): cluster-then-compare semantic dedup."""

    def _fixture(self, spark):
        # Two well-separated clusters on axes e0/e1; within cluster 0 three
        # near-identical vectors (pairwise cosine ~1) plus one genuinely
        # different direction that still lands in cluster 0's cell.
        vecs = [
            (10, [1.0, 0.0, 0.0, 0.0]),
            (11, [0.999, 0.001, 0.0, 0.0]),   # semdup of 10
            (12, [0.998, 0.002, 0.0, 0.0]),   # semdup of 10
            (13, [0.75, 0.0, 0.66, 0.0]),     # cluster 0, but cos~0.75: kept
            (20, [0.0, 1.0, 0.0, 0.0]),
            (21, [0.0, 1.0, 0.001, 0.0]),     # semdup of 20
        ]
        emb = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in vecs],
            "vec_id long, embedding array<float>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
            "centroid_id long, centroid_vec array<double>",
        )
        return emb, cents

    def test_keep_first_within_cluster(self, spark):
        emb, cents = self._fixture(spark)
        out = {r.vec_id: r for r in dedup.semdedup(emb, cents, threshold=0.95).collect()}
        assert len(out) == 6  # one row per input vector
        assert not out[10].is_semdup and out[10].semdup_of is None
        assert out[11].is_semdup and out[11].semdup_of == 10
        assert out[12].is_semdup and out[12].semdup_of == 10
        assert not out[13].is_semdup  # same cell, below threshold
        assert not out[20].is_semdup
        assert out[21].is_semdup and out[21].semdup_of == 20
        # cluster assignment is part of the contract
        assert out[13].cell == 0 and out[21].cell == 1

    def test_cross_cluster_dups_not_seen(self, spark):
        # SemDeDup's precision/cost trade: near-identical vectors split
        # across cells are NOT compared (the paper accepts this; recall
        # comes from cluster granularity). Pin the semantics.
        emb = spark.createDataFrame(
            [(1, [1.0, 0.009, 0.0, 0.0]), (2, [1.0, 0.011, 0.0, 0.0])],
            "vec_id long, embedding array<float>",
        )
        cents = spark.createDataFrame(
            [(0, [1.0, 0.01, 0.0, 0.0]), (1, [1.0, 0.0101, 0.0, 0.0])],
            "centroid_id long, centroid_vec array<double>",
        )
        out = {r.vec_id: r for r in dedup.semdedup(emb, cents, threshold=0.95).collect()}
        if out[1].cell != out[2].cell:
            assert not out[2].is_semdup

    def test_no_cartesian_in_plan(self, spark):
        emb, cents = self._fixture(spark)
        plan = dedup.semdedup(emb, cents)._jdf.queryExecution().executedPlan().toString()
        # The pairwise compare must be an EQUI-join on cell (hash/merge),
        # never a cartesian over the corpus. The only nested-loop joins in
        # the plan are ivf_assign's broadcast of the tiny centroid table —
        # every one must be a BuildRight broadcast, not CartesianProduct.
        assert "CartesianProduct" not in plan
        import re

        pair_joins = re.findall(r"(SortMergeJoin|ShuffledHashJoin) \[cell", plan)
        assert pair_joins, f"no equi-join on cell in plan:\n{plan}"


class TestProductQuantization:
    """PQ encode/ADC semantics (operators/similarity.py)."""

    def _emb(self, spark):
        import numpy as np

        rng = np.random.RandomState(3)
        rows = [(i, [float(x) for x in rng.uniform(-1, 1, 8)]) for i in range(20)]
        # vec 15 = exact copy of codebook vector 2; vec 16 = near-copy of 3
        rows[15] = (15, rows[2][1])
        rows[16] = (16, [x + 0.01 for x in rows[3][1]])
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_codebook_vector_encodes_to_itself(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import similarity as S

        emb = self._emb(spark)
        cb = S.pq_codebooks_first_k(emb, m=4, k=8, dim=8)
        codes = {r.vec_id: r.codes for r in S.pq_encode(emb, cb, m=4, dim=8).collect()}
        assert len(codes) == 20 and all(len(c) == 4 for c in codes.values())
        assert codes[2] == [2, 2, 2, 2]   # member of the codebook: distance 0
        assert codes[15] == [2, 2, 2, 2]  # exact copy → same codes

    def test_adc_ranks_near_copy_first(self, spark):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators import similarity as S

        emb = self._emb(spark)
        cb = S.pq_codebooks_first_k(emb, m=4, k=8, dim=8)
        codes = S.pq_encode(emb, cb, m=4, dim=8)
        q = emb.filter(F.col("vec_id") == 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        top = S.pq_adc_topk(codes, cb, q, k=20, m=4, dim=8).collect()
        by_rank = sorted(top, key=lambda r: r.rank)
        # 3 itself and its near-copy 16 share codes -> identical ADC 0.0,
        # tie broken by id
        assert [r.vec_id for r in by_rank[:2]] == [3, 16]
        assert by_rank[0].adc_dist == 0.0 and by_rank[1].adc_dist == 0.0
        # ADC distances are non-decreasing in rank
        dists = [r.adc_dist for r in by_rank]
        assert dists == sorted(dists)

    def test_pq_plan_broadcasts_codebooks(self, spark):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators import similarity as S

        emb = self._emb(spark)
        cb = S.pq_codebooks_first_k(emb, m=4, k=8, dim=8)
        codes = S.pq_encode(emb, cb, m=4, dim=8)
        q = emb.filter(F.col("vec_id") == 3).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        plan = (
            S.pq_adc_topk(codes, cb, q, k=5, m=4, dim=8)
            ._jdf.queryExecution().executedPlan().toString()
        )
        # codebook + distance-table joins are hinted broadcasts; the corpus
        # side must never sort-merge against them or go cartesian
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_pq_rejects_indivisible_dim(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import similarity as S

        with pytest.raises(ValueError, match="dim % m"):
            S.pq_subspaces(F.col("x"), m=4, dim=10)


class TestIvfPq:
    def test_full_probe_equals_brute_adc_and_pruning_works(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        assigned = similarity.ivf_assign(emb, cents)
        cb = similarity.pq_codebooks_first_k(emb, m=4, k=8, dim=64)
        codes = similarity.pq_encode(emb, cb, m=4, dim=64)
        queries = emb.filter(F.col("vec_id").isin([1, 2])).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        # with n_probe = all 8 cells nothing is pruned: IVF-PQ must equal
        # the brute ADC ranking exactly
        full = similarity.ivf_pq_topk(
            codes, assigned, cents, cb, queries, k=10, n_probe=8
        )
        brute = similarity.pq_adc_topk(codes, cb, queries, k=10)
        a = [(r.query_id, r.vec_id, round(r.adc_dist, 9), r.rank)
             for r in full.orderBy("query_id", "rank").collect()]
        b = [(r.query_id, r.vec_id, round(r.adc_dist, 9), r.rank)
             for r in brute.orderBy("query_id", "rank").collect()]
        assert a == b
        # with n_probe=1 every returned candidate sits in the query's cell
        one = similarity.ivf_pq_topk(
            codes, assigned, cents, cb, queries, k=10, n_probe=1
        )
        cells = {r.vec_id: r.cell for r in assigned.collect()}
        qcells = {r.query_id: cells[r.query_id] for r in queries.select("query_id").collect()}
        for r in one.collect():
            assert cells[r.vec_id] == qcells[r.query_id]

    def test_multi_cell_assignment_does_not_duplicate_adc_terms(
        self, spark, sf_dir
    ):
        """ADVICE r7 (low): with ivf_assign(n_cells=2) — an input the
        docstring invites — a candidate reached via two probed cells must
        not double every subspace term of adc_dist. Distances under the
        multi-cell assignment must equal the single-cell ones for every
        returned pair, and pairs must be unique."""
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        cb = similarity.pq_codebooks_first_k(emb, m=4, k=8, dim=64)
        codes = similarity.pq_encode(emb, cb, m=4, dim=64)
        queries = emb.filter(F.col("vec_id").isin([1, 2])).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        multi = similarity.ivf_pq_topk(
            codes, similarity.ivf_assign(emb, cents, n_cells=2), cents, cb,
            queries, k=10, n_probe=8,
        )
        single = similarity.ivf_pq_topk(
            codes, similarity.ivf_assign(emb, cents), cents, cb,
            queries, k=10, n_probe=8,
        )
        rows = multi.collect()
        pairs = [(r.query_id, r.vec_id) for r in rows]
        assert len(pairs) == len(set(pairs))
        want = {
            (r.query_id, r.vec_id): round(r.adc_dist, 9)
            for r in single.collect()
        }
        # n_probe=8 == all cells, so both runs rank the full corpus: every
        # distance must agree exactly (pre-fix the multi-cell run doubled
        # the duplicated candidates' distances)
        got = {(r.query_id, r.vec_id): round(r.adc_dist, 9) for r in rows}
        assert got == want

    def test_plan_never_cartesian(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        assigned = similarity.ivf_assign(emb, cents)
        cb = similarity.pq_codebooks_first_k(emb, m=4, k=8, dim=64)
        codes = similarity.pq_encode(emb, cb, m=4, dim=64)
        queries = emb.filter(F.col("vec_id") == 1).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
        )
        out = similarity.ivf_pq_topk(codes, assigned, cents, cb, queries)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


class TestShingleDfCap:
    """Round 8: the DF-capped inverted-index candidate path — the
    stop-shingle guard (the inverted index's analogue of the LSH
    oversized-bucket star cap)."""

    def _frame(self, spark):
        # w0..w39 base; doc 2 quotes doc 1's first 6 tokens; every doc
        # shares the hot phrase "common hot shingle" (DF = n_docs)
        hot = "common hot shingle"
        rows = [
            (1, " ".join(f"w{i}" for i in range(40)) + " " + hot),
            (2, " ".join(f"w{i}" for i in range(6)) + " " + hot),
            (3, "completely different tokens here " + hot),
            (4, "another unrelated document text " + hot),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_equals_brute_when_cap_not_binding(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        df = self._frame(spark)
        brute = {
            (r.id_a, r.id_b)
            for r in ngram_containment_pairs(df, "text", threshold=0.7).collect()
        }
        capped = {
            (r.id_a, r.id_b)
            for r in ngram_containment_pairs(
                df, "text", threshold=0.7, max_shingle_df=100
            ).collect()
        }
        assert capped == brute == {(1, 2)}

    def test_quote_found_via_rare_shingles_under_tight_cap(self, spark):
        """Cap 2 kills the hot phrase's candidates, but the quote still
        surfaces through its rare w0..w5 shingles (DF=2) — the documented
        recall contract."""
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            ngram_containment_pairs,
        )

        out = ngram_containment_pairs(
            self._frame(spark), "text", threshold=0.7, max_shingle_df=2
        ).collect()
        assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}
        # verification still scores the FULL sets (hot shingles included):
        # quote side contains the hot trigram too, so containment_b stays
        # below 1.0 only if some quote shingle is missing from doc 1 —
        # here every quote shingle IS in doc 1 except the splice trigrams
        row = out[0]
        assert row.containment_b >= 0.7

    def test_pair_sharing_only_hot_shingles_is_dropped(self, spark):
        """Docs 3 and 4 overlap ONLY in the hot phrase: under the cap they
        produce no candidate — the explicit recall tradeoff."""
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            ngram_jaccard_pairs,
        )

        df = self._frame(spark)
        # threshold 0 => any candidate pair is emitted; cap 2 must still
        # exclude (3,4) because their only shared shingles have DF=4
        out = ngram_jaccard_pairs(
            df, "text", threshold=0.0, max_shingle_df=2
        ).collect()
        assert (3, 4) not in {(r.id_a, r.id_b) for r in out}
        # without the cap the candidate exists
        brute = ngram_jaccard_pairs(df, "text", threshold=0.0).collect()
        assert (3, 4) in {(r.id_a, r.id_b) for r in brute}

    def test_one_shuffle_candidate_plan(self, spark):
        """The capped index must not self-join two corpus-sized exploded
        frames on the SHINGLE key (the k(k-1)/2 pair explosion): the pair
        expansion happens inside the shingle groupBy. The ONLY join
        allowed is the ADVICE-r8 DF-cap SEMI join (keyed on ``_sh``
        against the distinct in-cap shingle keys, multiplicity 1) that
        keeps a hot shingle from ever building its id array in an
        aggregation buffer — so assert: no cartesian, no inner/outer
        join at all, and every semi join keys on ``_sh``, never ``_id``."""
        import re

        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            _shingle_df_candidates,
        )
        from llm_pretraining_data_pipeline_spark.functions import hashing
        from pyspark.sql import functions as F

        df = self._frame(spark).select(
            F.col("doc_id").alias("_id"),
            F.array_distinct(hashing.token_shingles("text", 3)).alias("_set"),
        )
        plan = (
            _shingle_df_candidates(df, 10)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        join_lines = [
            ln for ln in plan.splitlines()
            if re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", ln)
        ]
        for ln in join_lines:
            assert "LeftSemi" in ln, f"non-semi join in capped index: {ln}"
            assert "_sh" in ln and "_id#" not in ln, (
                f"join must key on the shingle, not ids: {ln}"
            )


class TestMinhashEstimateError:
    """d17's audit as a standalone operator with the d04/d16 scale valve
    (VERDICT r8 item 2)."""

    @staticmethod
    def _frame(spark):
        # two near-dup clusters + noise; jaccard(1,2) and (3,4) high
        base = " ".join(f"tok{i}" for i in range(30))
        rows = [
            (1, base),
            (2, base + " extra trailing words"),
            (3, "alpha beta gamma delta epsilon zeta eta theta " * 3),
            (4, "alpha beta gamma delta epsilon zeta eta theta " * 3 + "iota"),
            (5, "completely unrelated text about nothing shared at all"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_candidates_fed_equals_brute_on_those_pairs(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            minhash_estimate_error,
        )

        df = self._frame(spark)
        brute = {
            (r.id_a, r.id_b): (r.jaccard, r.est_jaccard, r.est_error)
            for r in minhash_estimate_error(df, "text", threshold=0.3).collect()
        }
        assert brute, "fixture must produce near-dup pairs"
        cand = spark.createDataFrame(
            [(a, b) for (a, b) in brute], "id_a long, id_b long"
        )
        fed = {
            (r.id_a, r.id_b): (r.jaccard, r.est_jaccard, r.est_error)
            for r in minhash_estimate_error(
                df, "text", threshold=0.3, candidates=cand
            ).collect()
        }
        assert fed == brute

    def test_candidates_restrict_the_audit(self, spark):
        """Pairs not in the candidate frame are never scored — the audit
        cost is O(|candidates|), not O(pairs sharing a shingle)."""
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            minhash_estimate_error,
        )

        df = self._frame(spark)
        cand = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        out = minhash_estimate_error(
            df, "text", threshold=0.3, candidates=cand
        ).collect()
        assert {(r.id_a, r.id_b) for r in out} == {(1, 2)}

    def test_df_cap_passthrough_equals_brute_when_not_binding(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            minhash_estimate_error,
        )

        df = self._frame(spark)
        brute = {
            (r.id_a, r.id_b)
            for r in minhash_estimate_error(df, "text", threshold=0.3).collect()
        }
        capped = {
            (r.id_a, r.id_b)
            for r in minhash_estimate_error(
                df, "text", threshold=0.3, max_shingle_df=100
            ).collect()
        }
        assert capped == brute

    def test_estimator_is_dyadic_and_bounded(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            minhash_estimate_error,
        )

        out = minhash_estimate_error(
            self._frame(spark), "text", threshold=0.3
        ).collect()
        for r in out:
            assert 0.0 <= r.est_jaccard <= 1.0
            # k/32 grid: est * 32 is an exact integer
            assert abs(r.est_jaccard * 32 - round(r.est_jaccard * 32)) < 1e-12


class TestQualityAwareDedup:
    """quality_aware_dedup: best-of-cluster representative selection."""

    def test_keeps_highest_quality_not_first(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            quality_aware_dedup,
        )
        dup = "alpha bravo charlie delta echo foxtrot golf hotel india"
        rows = [
            (1, dup, 10),           # cluster member, low quality
            (2, dup, 90),           # cluster member, HIGH quality -> rep
            (3, dup, 90),           # tie with 2 -> smaller id (2) wins
            (4, "unrelated words entirely different text here now", 5),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string, quality long")
        out = {r["doc_id"]: r for r in quality_aware_dedup(
            df, "text", "quality", jaccard_threshold=0.5,
            max_bucket_size=None).collect()}
        assert not out[2]["is_dup_quality"]          # rep is id 2, not id 1
        assert out[1]["is_dup_quality"] and out[1]["dup_of_quality"] == 2
        assert out[3]["is_dup_quality"] and out[3]["dup_of_quality"] == 2
        assert out[3]["drop_reason"] == "quality_duplicate"
        assert not out[4]["is_dup_quality"]           # singleton survives
        assert out[4]["dup_of_quality"] is None

    def test_existing_drop_reason_wins(self, spark):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            quality_aware_dedup,
        )
        dup = "kilo lima mike november oscar papa quebec romeo sierra"
        df = spark.createDataFrame(
            [(1, dup, 1), (2, dup, 2)], "doc_id long, text string, quality long"
        ).withColumn(
            "drop_reason", F.when(F.col("doc_id") == 1, F.lit("already_dropped"))
        )
        out = {r["doc_id"]: r for r in quality_aware_dedup(
            df, "text", "quality", jaccard_threshold=0.5,
            max_bucket_size=None).collect()}
        assert out[1]["drop_reason"] == "already_dropped"  # first-writer-wins
        assert out[2]["drop_reason"] is None               # rep keeps none

    def test_no_window_in_plan(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            quality_aware_dedup,
        )
        df = spark.createDataFrame(
            [(1, "a b c d", 1)], "doc_id long, text string, quality long"
        )
        plan = (
            quality_aware_dedup(df, "text", "quality")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        # representative selection must be the groupBy argmax, never a
        # window over the corpus (skew safety at a hot cluster)
        assert "Window" not in plan


class TestWinnowing:
    """winnow_fingerprints: MOSS local fingerprinting (dedup.py)."""

    def _fps(self, spark, texts, **kw):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            winnow_fingerprints,
        )
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        out = winnow_fingerprints(df, "text", **kw).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
        return by_doc

    def test_shared_run_guarantee(self, spark):
        # two docs sharing a run of w+k-1 = 6 tokens MUST share a fingerprint
        shared = "alpha bravo charlie delta echo foxtrot"
        fps = self._fps(spark, [
            "one two three " + shared + " four five six",
            "unrelated prefix words here " + shared + " tail words differ",
            "completely different text with no overlap at all whatsoever",
        ], k=3, w=4)
        assert fps[0] & fps[1], "shared 6-token run must share a fingerprint"
        assert not (fps[0] & fps[2])

    def test_density_bound(self, spark):
        text = " ".join(f"tok{(i * 7) % 23}" for i in range(100))
        fps = self._fps(spark, [text], k=3, w=4)
        n_grams = 100 - 2
        n_windows = n_grams - 4 + 1
        assert 0 < len(fps[0]) <= n_windows
        # distinct window minima are far sparser than the gram count
        assert len(fps[0]) < n_grams / 2

    def test_short_and_empty_docs(self, spark):
        fps = self._fps(spark, ["just two", ""], k=3, w=4)
        assert len(fps.get(0, set())) == 1   # sub-window doc: global min
        assert 1 not in fps                  # empty doc: no fingerprints

    def test_selection_is_window_minima(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            winnow_fingerprints,
        )
        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(20)))], "doc_id long, text string"
        )
        row = winnow_fingerprints(df, "text", k=3, w=4, exploded=False).collect()[0]
        hashes = row["_grams"]
        expected = {
            min(hashes[i : i + 4]) for i in range(len(hashes) - 3)
        }
        assert set(row["fingerprints"]) == expected

    def test_no_shuffle_in_plan(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            winnow_fingerprints,
        )
        df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
        plan = (
            winnow_fingerprints(df, "text")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestWinnowPairs:
    """winnow_pairs: MOSS matching with the fingerprint DF cap."""

    def test_quote_pairs_guaranteed(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            winnow_pairs,
        )
        shared = "alpha bravo charlie delta echo foxtrot golf hotel"
        rows = [
            (1, "lead in words " + shared + " trailing text one two"),
            (2, "other beginning " + shared + " different ending here"),
            (3, "no overlap whatsoever in this document at all truly"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = winnow_pairs(df, "text", k=3, w=4).collect()
        pairs = {(r["id_a"], r["id_b"]): r["shared_fps"] for r in out}
        assert (1, 2) in pairs and pairs[(1, 2)] >= 1
        assert not any(3 in p for p in pairs)

    def test_fp_df_cap_drops_boilerplate(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            winnow_pairs,
        )
        boiler = "same exact boilerplate text repeated in every doc"
        rows = [(i, boiler) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        # every fingerprint has DF=10 > cap=5 -> no pairs at all
        assert winnow_pairs(df, "text", k=3, w=4, max_fp_df=5).count() == 0
        # uncapped: all 45 pairs
        assert winnow_pairs(df, "text", k=3, w=4, max_fp_df=None).count() == 45

    def test_cap_prefilter_is_semi_join(self, spark):
        from llm_pretraining_data_pipeline_spark.operators.dedup import (
            winnow_pairs,
        )
        df = spark.createDataFrame(
            [(1, "a b c d e f g h")], "doc_id long, text string"
        )
        plan = (
            winnow_pairs(df, "text")
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        assert "LeftSemi" in plan


class TestNearDedupAgainstIndex:
    """minhash_index_frame + near_dedup_against_index: incremental
    near-dup against a persisted LSH index (round 13) — the near twin of
    dedup_against_snapshot."""

    SNAP = [
        (0, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "one two three four five six seven eight nine ten eleven"),
        (4, "completely different snapshot content with many words here"),
    ]

    def _index(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        snap = spark.createDataFrame(self.SNAP, "doc_id long, text string")
        return dedup.minhash_index_frame(snap, "text")

    def _flag(self, spark, rows, index=None, **kw):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = dedup.near_dedup_against_index(
            df, index if index is not None else self._index(spark), **kw
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        return {r["doc_id"]: r for r in out.collect()}

    def test_exact_copy_and_miss(self, spark):
        got = self._flag(spark, [
            (11, self.SNAP[0][1]),                      # copy of doc 0
            (13, "totally novel text nothing like the snapshot corpus"),
        ])
        assert got[11]["is_known_near"] is True
        assert got[11]["known_of"] == 0
        assert got[11]["known_est"] == 1.0
        assert got[13]["is_known_near"] is False
        assert got[13]["known_of"] is None and got[13]["known_est"] is None

    def test_near_copy_estimates_below_one(self, spark):
        got = self._flag(spark, [
            (21, self.SNAP[1][1] + " twelve thirteen"),
        ], threshold=0.3)
        assert got[21]["is_known_near"] is True
        assert got[21]["known_of"] == 2
        assert 0.3 <= got[21]["known_est"] < 1.0

    def test_threshold_gates_the_flag(self, spark):
        rows = [(31, self.SNAP[1][1] + " twelve thirteen fourteen")]
        lo = self._flag(spark, rows, threshold=0.1)
        hi = self._flag(spark, rows, threshold=0.99)
        assert lo[31]["is_known_near"] is True
        assert hi[31]["is_known_near"] is False

    def test_empty_text_never_matches(self, spark):
        got = self._flag(spark, [(41, ""), (43, None)])
        assert got[41]["is_known_near"] is False
        assert got[43]["is_known_near"] is False

    def test_bucket_cap_keeps_canonical_members(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        # a hot bucket: five identical snapshot docs share every band;
        # cap=2 keeps the two smallest ids as the bucket's canonicals
        snap = spark.createDataFrame(
            [(i, "same boilerplate text repeated across mirror hosts ok")
             for i in (10, 11, 12, 13, 14)],
            "doc_id long, text string",
        )
        idx = dedup.minhash_index_frame(snap, "text")
        got = self._flag(
            spark,
            [(51, "same boilerplate text repeated across mirror hosts ok")],
            index=idx, max_bucket_size=2,
        )
        # still resolves, and to the canonical (smallest) snapshot id
        assert got[51]["is_known_near"] is True
        assert got[51]["known_of"] == 10

    def test_capped_equals_uncapped_on_small_buckets(self, spark):
        rows = [(61, self.SNAP[0][1]), (63, "unrelated words entirely")]
        a = self._flag(spark, rows, max_bucket_size=None)
        b = self._flag(spark, rows, max_bucket_size=1024)
        assert {
            k: (v["is_known_near"], v["known_of"], v["known_est"])
            for k, v in a.items()
        } == {
            k: (v["is_known_near"], v["known_of"], v["known_est"])
            for k, v in b.items()
        }

    def test_column_clash_guard(self, spark):
        import pytest as _pytest

        from llm_pretraining_data_pipeline_spark.operators import dedup

        df = spark.createDataFrame(
            [(1, "x", True)], "doc_id long, text string, is_known_near boolean"
        )
        with _pytest.raises(ValueError, match="is_known_near"):
            dedup.near_dedup_against_index(df, self._index(spark))

    def test_cap_eviction_does_not_lose_cross_band_pairs(self, spark):
        # the witness under a bucket cap must pick the minimum matching
        # band AMONG THE BANDS THE OLD DOC SURVIVED IN: here old id 50
        # matches the new doc in every band, but four smaller filler ids
        # share (only) its band-0 bucket, so cap=4 evicts 50 from band 0
        # while bands 1-7 keep it — the pair must still be emitted once
        from llm_pretraining_data_pipeline_spark.operators import dedup

        new = spark.createDataFrame(
            [(100, self.SNAP[0][1])], "doc_id long, text string"
        )
        sig = dedup._minhash_sig_frame(new, "text").collect()[0]["sig"]
        rows = []

        def band_rows(oid, s):
            out = []
            for b in range(8):
                key = "-".join(str(v) for v in s[b * 4:(b + 1) * 4])
                out.append((oid, b, key, s))
            return out

        rows += band_rows(50, list(sig))  # full match, every band
        for fid in (1, 2, 3, 4):
            # fillers share ONLY band 0's slice; other lanes differ
            fsig = [v if i < 4 else v + 1000 + fid for i, v in enumerate(sig)]
            rows += band_rows(fid, fsig)
        idx = spark.createDataFrame(
            rows,
            "id long, band_id int, band_sig string, sig array<int>",
        )
        got = {
            r["doc_id"]: r
            for r in dedup.near_dedup_against_index(
                new, idx, threshold=0.5, max_bucket_size=4
            ).collect()
        }
        assert got[100]["is_known_near"] is True
        assert got[100]["known_of"] == 50
        assert got[100]["known_est"] == 1.0
        # and the verdict stream emits the pair exactly once
        pairs = dedup.near_dup_verdicts_against_index(
            new, idx, threshold=0.5, max_bucket_size=4
        ).collect()
        assert [(r["new_id"], r["known_of"]) for r in pairs] == [(100, 50)]

    def test_string_ids_tie_break_to_smallest(self, spark):
        # ADVICE r13: the best-pick tie-break used -id inside a max
        # struct, which nulls out for STRING ids (non-ANSI) and silently
        # flipped ties to the LARGEST id. Two identical snapshot docs
        # under string ids: the flag must resolve to the smaller one.
        from llm_pretraining_data_pipeline_spark.operators import dedup

        txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        snap = spark.createDataFrame(
            [("doc-b", txt), ("doc-a", txt)], "doc_id string, text string"
        )
        idx = dedup.minhash_index_frame(snap, "text")
        new = spark.createDataFrame(
            [("doc-z", txt)], "doc_id string, text string"
        )
        got = dedup.near_dedup_against_index(
            new, idx, threshold=0.5, max_bucket_size=None
        ).collect()[0]
        assert got["is_known_near"] is True
        assert got["known_of"] == "doc-a"
        assert got["known_est"] == 1.0

    def test_late_sig_attach_matches_wide_path(self, spark):
        # round 16 (guide §8): with index_sigs= the verdict path consumes
        # the index NARROW — the frame passed here has NO sig column at
        # all, so any code touching _old_sig before the late attach would
        # fail analysis — and the output must equal the wide path's,
        # capped and uncapped.
        from llm_pretraining_data_pipeline_spark.operators import dedup

        wide = self._index(spark)
        narrow = wide.select("id", "band_id", "band_sig")
        sigs = wide.select("id", "sig").dropDuplicates(["id"])
        new = spark.createDataFrame(
            [(11, self.SNAP[0][1]),
             (13, self.SNAP[1][1] + " with a small tail change"),
             (15, "entirely novel words never seen in the snapshot side")],
            "doc_id long, text string",
        )
        for cap in (None, 2):
            want = sorted(
                tuple(r)
                for r in dedup.near_dup_verdicts_against_index(
                    new, wide, threshold=0.3, max_bucket_size=cap
                ).collect()
            )
            got = sorted(
                tuple(r)
                for r in dedup.near_dup_verdicts_against_index(
                    new, narrow, threshold=0.3, max_bucket_size=cap,
                    index_sigs=sigs,
                ).collect()
            )
            assert got == want and want, (cap, want, got)

    def test_duplicate_index_rows_do_not_eat_cap_slots(self, spark):
        # ADVICE r13: duplicate (id, band) rows in a hand-built index
        # must not count against max_bucket_size (dense_rank counts
        # distinct ids) and must not surface duplicate verdicts.
        from llm_pretraining_data_pipeline_spark.operators import dedup

        new = spark.createDataFrame(
            [(100, self.SNAP[0][1])], "doc_id long, text string"
        )
        sig = list(
            dedup._minhash_sig_frame(new, "text").collect()[0]["sig"]
        )
        rows = []
        for b in range(8):
            key = "-".join(str(v) for v in sig[b * 4:(b + 1) * 4])
            # id 7 present THREE times per band; id 9 once. cap=2 must
            # keep BOTH distinct ids (dups don't eat slots).
            rows += [(7, b, key, sig)] * 3
            rows.append((9, b, key, sig))
        idx = spark.createDataFrame(
            rows, "id long, band_id int, band_sig string, sig array<int>"
        )
        pairs = sorted(
            (r["new_id"], r["known_of"])
            for r in dedup.near_dup_verdicts_against_index(
                new, idx, threshold=0.5, max_bucket_size=2
            ).collect()
        )
        assert pairs == [(100, 7), (100, 9)]
        got = dedup.near_dedup_against_index(
            new, idx, threshold=0.5, max_bucket_size=2
        ).collect()[0]
        assert got["known_of"] == 7 and got["known_est"] == 1.0


class TestStoredMinhashIndex:
    """write_minhash_index + read_minhash_index_for_batch +
    near_dedup_against_stored_index + merge_minhash_index (round 14):
    the persisted-index read path must PRUNE at the file listing, and
    index maintenance must compose generations without a rebuild."""

    SNAP = TestNearDedupAgainstIndex.SNAP

    def _write(self, spark, tmp_path, sig_buckets=8, docs=None):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        snap = spark.createDataFrame(
            docs if docs is not None else self.SNAP,
            "doc_id long, text string",
        )
        idx = dedup.minhash_index_frame(snap, "text")
        path = str(tmp_path / "mh_index")
        dedup.write_minhash_index(idx, path, sig_buckets=sig_buckets)
        return path, idx

    def test_second_night_reuses_generated_code(
        self, spark, tmp_path, codegen_compiles
    ):
        # a long-lived application runs the same night again and again:
        # the second identical night must find its generated classes in
        # the codegen cache (Spark's 100-entry default evicts them between
        # nights, and each night recompiles about 130). Spark keys that
        # cache by class loader as well as by source, and whether a class
        # is first generated on the planning thread or on a task thread
        # varies from run to run, so a few (0-8 seen at local[4]) still
        # compile once more for the other loader.
        import shutil

        path, _ = self._write(spark, tmp_path, sig_buckets=4)
        pristine = str(tmp_path / "pristine")
        shutil.copytree(path, pristine)
        batch = spark.createDataFrame(
            [(11, self.SNAP[0][1]), (12, self.SNAP[0][1] + " lambda"),
             (13, "totally novel text nothing like the snapshot corpus")],
            "doc_id long, text string",
        )
        compiled = []
        for _ in range(2):
            shutil.rmtree(path)
            shutil.copytree(pristine, path)
            before = codegen_compiles()
            dedup.minhash_dedup(batch, "text", id_col="doc_id").collect()
            dedup.near_dedup_against_stored_index(batch, path).collect()
            dedup.write_minhash_index(
                dedup.minhash_index_frame(batch, "text"), path,
                mode="append", dedupe_ids=False,
            )
            compiled.append(codegen_compiles() - before)
        assert compiled[1] <= 16, compiled

    def test_pruned_read_prunes_and_matches_full(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        path, idx = self._write(spark, tmp_path)
        new = spark.createDataFrame(
            [(11, self.SNAP[0][1]),
             (13, "totally novel text nothing like the snapshot corpus")],
            "doc_id long, text string",
        )
        # checkpoint=False so the bands FileScan stays visible in the
        # plan (a materialised lazy checkpoint shows as ExistingRDD)
        pruned, banded = dedup.read_minhash_index_for_batch(
            new, path, checkpoint=False
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        pf_lines = [
            seg.splitlines()[0]
            for seg in plan.split("PartitionFilters:")[1:]
        ]
        assert any(
            "band_id" in ln and "sig_bucket" in ln for ln in pf_lines
        ), pf_lines
        # the pruned bands scan must touch a strict subset of the bands
        # files (inputFiles() ignores partition filters — count the
        # files that actually contribute rows; partition filters pass
        # every row of a matched partition through, so this IS the
        # matched file set)
        bands_t, _ = dedup.read_minhash_split_frames(
            new, path, checkpoint=False
        )
        n_total = len(spark.read.parquet(f"{path}/bands").inputFiles())
        n_read = (
            bands_t.select(F.input_file_name().alias("f")).distinct().count()
        )
        assert 0 < n_read < n_total

        got = {
            r["doc_id"]: r
            for r in dedup.near_dedup_against_stored_index(
                new, path, threshold=0.5
            ).collect()
        }
        want = {
            r["doc_id"]: r
            for r in dedup.near_dedup_against_index(
                new, idx, threshold=0.5
            ).collect()
        }
        assert {
            k: (v["is_known_near"], v["known_of"], v["known_est"])
            for k, v in got.items()
        } == {
            k: (v["is_known_near"], v["known_of"], v["known_est"])
            for k, v in want.items()
        }

    def _layout_gated_calls(self, spark, path):
        """Every reader, appender and delete of the stored index."""
        from llm_pretraining_data_pipeline_spark.operators import dedup

        new = spark.createDataFrame(
            [(11, self.SNAP[1][1])], "doc_id long, text string"
        )
        return {
            "read": lambda: dedup.read_minhash_index_for_batch(new, path),
            "frames": lambda: dedup.read_minhash_split_frames(new, path),
            "flag": lambda: dedup.near_dedup_against_stored_index(
                new, path
            ).collect(),
            "open": lambda: dedup.open_minhash_index(spark, path),
            "append": lambda: dedup.write_minhash_index(
                dedup.minhash_index_frame(new, "text"), path,
                mode="append", dedupe_ids=False,
            ),
            "delete": lambda: dedup.delete_from_minhash_index(new, path),
        }

    def test_no_sidecar_raises(self, spark, tmp_path):
        # the sidecar is the only source of the layout: without it no
        # reader, appender or delete guesses bucket counts
        import os

        path, _ = self._write(spark, tmp_path)
        os.remove(f"{path}/_index_meta.json")
        for name, call in self._layout_gated_calls(spark, path).items():
            with pytest.raises(ValueError, match="_index_meta.json") as e:
                call()
            assert path in str(e.value), name

    def test_monolithic_sidecar_raises(self, spark, tmp_path):
        # an index whose sidecar names another layout (the retired
        # monolithic one) is refused, never read as if it were split
        import json

        from llm_pretraining_data_pipeline_spark.operators import dedup

        path, _ = self._write(spark, tmp_path, sig_buckets=3)
        meta = json.load(open(f"{path}/_index_meta.json"))
        assert meta["layout"] == "split" and meta["sig_buckets"] == 3
        dedup._write_index_meta(
            spark, path,
            {"version": 1, "layout": "monolithic", "sig_buckets": 3},
        )
        for name, call in self._layout_gated_calls(spark, path).items():
            with pytest.raises(ValueError, match="'monolithic'") as e:
                call()
            assert path in str(e.value), name

    def test_crashed_rebuild_leaves_no_sidecar(
        self, spark, tmp_path, monkeypatch
    ):
        # a rebuild deletes the old sidecar before its first table write
        # and writes the new one last: when the sigs write dies midway,
        # the index must be refused, not described by the old sidecar
        import os

        from pyspark.sql.readwriter import DataFrameWriter

        from llm_pretraining_data_pipeline_spark.operators import dedup

        path, idx = self._write(spark, tmp_path)
        real_parquet = DataFrameWriter.parquet

        def failing_parquet(writer, p, *args, **kwargs):
            if p.endswith("/sigs"):
                raise RuntimeError("simulated crash in the sigs write")
            return real_parquet(writer, p, *args, **kwargs)

        monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
        with pytest.raises(RuntimeError, match="simulated crash"):
            dedup.write_minhash_index(idx, path, sig_buckets=4)
        monkeypatch.undo()
        assert not os.path.exists(f"{path}/_index_meta.json")
        new = spark.createDataFrame(
            [(11, self.SNAP[1][1])], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="_index_meta.json"):
            dedup.near_dedup_against_stored_index(new, path)

    def test_split_auto_id_buckets_and_sidecar_roundtrip(
        self, spark, tmp_path
    ):
        # id_buckets is always derived from the doc count (next-pow2
        # of docs/256, floor 8 — a tiny index must NOT shard into
        # thousands of directories), recorded in the sidecar, and the
        # reader prunes with the recorded value.
        import json
        import os

        from llm_pretraining_data_pipeline_spark.operators import dedup

        snap = spark.createDataFrame(self.SNAP, "doc_id long, text string")
        idx = dedup.minhash_index_frame(snap, "text")
        path = str(tmp_path / "mh_split_auto")
        dedup.write_minhash_index(idx, path, sig_buckets=4)
        meta = json.load(open(f"{path}/_index_meta.json"))
        assert meta == {
            "version": 1, "layout": "split",
            "sig_buckets": 4, "id_buckets": 8,
        }
        dirs = [
            d for d in os.listdir(f"{path}/sigs")
            if d.startswith("id_bucket=")
        ]
        assert 0 < len(dirs) <= 8
        new = spark.createDataFrame(
            [(11, self.SNAP[1][1])], "doc_id long, text string"
        )
        got = dedup.near_dedup_against_stored_index(
            new, path, threshold=0.5
        ).collect()[0]
        assert got["is_known_near"] is True and got["known_of"] == 2

    def test_append_adopts_sidecar_layout_and_explicit_mismatch_raises(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        from llm_pretraining_data_pipeline_spark.operators import dedup

        snap = spark.createDataFrame(self.SNAP, "doc_id long, text string")
        path = str(tmp_path / "mh_split_append")
        dedup.write_minhash_index(
            dedup.minhash_index_frame(snap, "text"), path, sig_buckets=4,
        )
        nb = spark.createDataFrame(
            [(50, "a brand new night document with fresh words entirely")],
            "doc_id long, text string",
        )
        # append states NO bucket count: adopts the sidecar's
        dedup.write_minhash_index(
            dedup.minhash_index_frame(nb, "text"), path,
            mode="append", dedupe_ids=False,
        )
        got = {
            r["doc_id"]: r["is_known_near"]
            for r in dedup.near_dedup_against_stored_index(
                nb.unionByName(
                    spark.createDataFrame(
                        [(60, "nothing shared with anything here at all")],
                        "doc_id long, text string",
                    )
                ),
                path, threshold=0.5,
            ).collect()
        }
        assert got == {50: True, 60: False}
        # an EXPLICIT sig_buckets that differs from the sidecar must
        # fail loudly, naming the path, before anything is written
        n_bands = spark.read.parquet(f"{path}/bands").count()
        with _pytest.raises(ValueError, match="sig_buckets=8") as e:
            dedup.write_minhash_index(
                dedup.minhash_index_frame(nb, "text"), path,
                mode="append", sig_buckets=8,
            )
        assert path in str(e.value)
        assert spark.read.parquet(f"{path}/bands").count() == n_bands
        # the matching explicit value is accepted
        dedup.write_minhash_index(
            dedup.minhash_index_frame(nb, "text"), path,
            mode="append", sig_buckets=4,
        )

    def test_empty_batch_reads_nothing(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        path, _ = self._write(spark, tmp_path)
        new = spark.createDataFrame(
            [(41, ""), (43, None)], "doc_id long, text string"
        )
        pruned, _ = dedup.read_minhash_index_for_batch(new, path)
        assert pruned.count() == 0
        out = {
            r["doc_id"]: r["is_known_near"]
            for r in dedup.near_dedup_against_stored_index(
                new, path
            ).collect()
        }
        assert out == {41: False, 43: False}

    def test_merge_append_is_shuffle_free_and_flags_both_generations(
        self, spark, tmp_path
    ):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        gen1 = spark.createDataFrame(
            [self.SNAP[0]], "doc_id long, text string"
        )
        gen2 = spark.createDataFrame(
            [self.SNAP[1]], "doc_id long, text string"
        )
        i1 = dedup.minhash_index_frame(gen1, "text")
        i2 = dedup.minhash_index_frame(gen2, "text")
        # disjoint generations: dedupe_ids=False is the ZERO-shuffle
        # append fast path (the safe default's anti-join is covered by
        # test_merge_default_drops_reingested_ids)
        merged = dedup.merge_minhash_index(i1, i2, dedupe_ids=False)
        assert "Exchange" not in (
            merged._jdf.queryExecution().executedPlan().toString()
        )
        new = spark.createDataFrame(
            [(101, self.SNAP[0][1]), (103, self.SNAP[1][1])],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["known_of"]
            for r in dedup.near_dedup_against_index(
                new, merged, threshold=0.5
            ).collect()
        }
        assert got == {101: 0, 103: 2}

    def test_merge_compaction_caps_and_collapses_duplicates(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        txt = "same boilerplate text repeated across mirror hosts ok"
        gen1 = spark.createDataFrame(
            [(i, txt) for i in (10, 11, 12)], "doc_id long, text string"
        )
        # delta re-ingests id 11 (duplicate rows) and adds 13, 14
        delta = spark.createDataFrame(
            [(i, txt) for i in (11, 13, 14)], "doc_id long, text string"
        )
        i1 = dedup.minhash_index_frame(gen1, "text")
        i2 = dedup.minhash_index_frame(delta, "text")
        # dedupe_ids=False: the CAP's window must collapse the duplicate
        # rows on its own (dedupe_ids=True would remove them upstream)
        merged = dedup.merge_minhash_index(
            i1, i2, max_bucket_size=2, dedupe_ids=False
        )
        per_bucket = (
            merged.groupBy("band_id", "band_sig")
            .agg(F.collect_set("id").alias("ids"), F.count("*").alias("n"))
            .collect()
        )
        for r in per_bucket:
            # 2 smallest distinct ids; duplicate (11, band) rows collapsed
            assert sorted(r["ids"]) == [10, 11]
            assert r["n"] == 2

    def test_merge_default_drops_reingested_ids(self, spark):
        # review finding r14: a re-ingested id must not land twice in an
        # UNCAPPED merged index — duplicate (id, band) rows would break
        # near_dup_verdicts_against_index's one-row-per-pair contract
        from llm_pretraining_data_pipeline_spark.operators import dedup

        txt = "same boilerplate text repeated across mirror hosts ok"
        gen1 = spark.createDataFrame(
            [(10, txt), (12, txt)], "doc_id long, text string"
        )
        delta = spark.createDataFrame(
            [(10, txt), (14, txt)], "doc_id long, text string"
        )
        i1 = dedup.minhash_index_frame(gen1, "text")
        i2 = dedup.minhash_index_frame(delta, "text")
        merged = dedup.merge_minhash_index(i1, i2)  # default dedupe_ids
        counts = (
            merged.groupBy("id", "band_id").count()
            .where(F.col("count") > 1).count()
        )
        assert counts == 0
        assert sorted(
            r["id"] for r in merged.select("id").distinct().collect()
        ) == [10, 12, 14]
        new = spark.createDataFrame([(101, txt)], "doc_id long, text string")
        pairs = dedup.near_dup_verdicts_against_index(
            new, merged, threshold=0.5
        ).collect()
        assert sorted(
            (r["new_id"], r["known_of"]) for r in pairs
        ) == [(101, 10), (101, 12), (101, 14)]

    def test_split_layout_is_consumer_blind(self, spark, tmp_path):
        # the stored index keeps the signature once per doc (bands
        # table + sigs table, attached at read): same verdicts as the
        # in-memory index, pruning intact
        from llm_pretraining_data_pipeline_spark.operators import dedup

        snap = spark.createDataFrame(self.SNAP, "doc_id long, text string")
        idx = dedup.minhash_index_frame(snap, "text")
        split = str(tmp_path / "split")
        dedup.write_minhash_index(idx, split, sig_buckets=8)
        new = spark.createDataFrame(
            [(11, self.SNAP[0][1]),
             (13, "totally novel text nothing like the snapshot corpus")],
            "doc_id long, text string",
        )

        def flags(frame):
            return {
                r["doc_id"]: (r["is_known_near"], r["known_of"],
                              r["known_est"])
                for r in frame.collect()
            }

        a = flags(dedup.near_dedup_against_index(new, idx, threshold=0.5))
        b = flags(
            dedup.near_dedup_against_stored_index(new, split, threshold=0.5)
        )
        assert a == b
        assert a[11] == (True, 0, 1.0)
        # BOTH tables prune at the file listing (round 15, VERDICT r14
        # item 1): the bands scan on its (band_id, sig_bucket) keys and
        # the sigs scan on the id-buckets derived from the pruned bands.
        # checkpoint=False so the bands FileScan stays visible in the
        # plan (the default lazy checkpoint, once materialised by the
        # id-bucket collect, shows as ExistingRDD instead)
        pruned, _ = dedup.read_minhash_index_for_batch(
            new, split, checkpoint=False
        )
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        pf_lines = [
            seg.splitlines()[0]
            for seg in plan.split("PartitionFilters:")[1:]
        ]
        assert any(
            "band_id" in ln and "sig_bucket" in ln for ln in pf_lines
        ), pf_lines
        # one touched bucket renders '=', several render 'IN'
        assert any(
            "id_bucket" in ln and ("IN" in ln or "=" in ln)
            for ln in pf_lines
        ), pf_lines

    def test_append_mode_composes_partition_dirs(self, spark, tmp_path):
        # write_minhash_index(mode="append"): night N's bands partitions
        # AND sigs rows land beside night N-1's, and the pruned reader
        # sees BOTH generations — the on-disk counterpart of
        # merge_minhash_index for disjoint ids
        from llm_pretraining_data_pipeline_spark.operators import dedup

        gen1 = spark.createDataFrame(
            [self.SNAP[0]], "doc_id long, text string"
        )
        gen2 = spark.createDataFrame(
            [self.SNAP[1]], "doc_id long, text string"
        )
        path = str(tmp_path / "mh_gen")
        dedup.write_minhash_index(
            dedup.minhash_index_frame(gen1, "text"), path, sig_buckets=8
        )
        dedup.write_minhash_index(
            dedup.minhash_index_frame(gen2, "text"), path, sig_buckets=8,
            mode="append",
        )
        new = spark.createDataFrame(
            [(101, self.SNAP[0][1]), (103, self.SNAP[1][1])],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["known_of"]
            for r in dedup.near_dedup_against_stored_index(
                new, path, threshold=0.5
            ).collect()
        }
        assert got == {101: 0, 103: 2}

    def test_empty_stored_index_flags_all_false(self, spark, tmp_path):
        # bootstrap night: an EMPTY persisted index (both table dirs
        # present with only _SUCCESS) must flag every batch doc false,
        # not crash the parquet read
        from llm_pretraining_data_pipeline_spark.operators import dedup

        empty = spark.createDataFrame([], "doc_id long, text string")
        path = str(tmp_path / "mh_empty")
        dedup.write_minhash_index(
            dedup.minhash_index_frame(empty, "text"), path, sig_buckets=8
        )
        new = spark.createDataFrame(
            [(1, self.SNAP[0][1])], "doc_id long, text string"
        )
        got = dedup.near_dedup_against_stored_index(new, path).collect()[0]
        assert got["is_known_near"] is False and got["known_of"] is None

    def test_split_selective_read_prunes_sigs_files(self, spark, tmp_path):
        # VERDICT r14 item 1: a selective night against the split
        # layout must read a strict SUBSET of the sigs table's files —
        # the id-buckets touched by the pruned bands — not O(index)
        from llm_pretraining_data_pipeline_spark.operators import dedup

        docs = [(i, f"unique snapshot document number {i} with body "
                    f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
                for i in range(40)]
        snap = spark.createDataFrame(docs, "doc_id long, text string")
        idx = dedup.minhash_index_frame(snap, "text")
        path = str(tmp_path / "mh_split_sel")
        dedup.write_minhash_index(idx, path, sig_buckets=8)
        sigs_total = len(spark.read.parquet(f"{path}/sigs").inputFiles())
        bands_total = len(spark.read.parquet(f"{path}/bands").inputFiles())
        new = spark.createDataFrame(
            [(101, docs[0][1])], "doc_id long, text string"
        )
        # checkpoint=False: a materialised lazy checkpoint turns the
        # bands scan into ExistingRDD, where input_file_name() is ''
        bands_t, sigs_t = dedup.read_minhash_split_frames(
            new, path, checkpoint=False
        )

        def files_read(frame):
            return frame.select(
                F.input_file_name().alias("f")
            ).distinct().count()

        assert 0 < files_read(sigs_t) < sigs_total
        assert 0 < files_read(bands_t) < bands_total
        # and the verdict is still the full-index one
        got = dedup.near_dedup_against_stored_index(
            new, path, threshold=0.5
        ).collect()[0]
        assert got["is_known_near"] is True and got["known_of"] == 0

    def test_split_append_reingested_id_lands_once(self, spark, tmp_path):
        # ADVICE r14: an appended night that re-ingests a known id must
        # NOT land a second (id, sig) row — the read-time equi-join
        # would fan out every matching band row into duplicate pairs
        from llm_pretraining_data_pipeline_spark.operators import dedup

        txt = self.SNAP[0][1]
        path = str(tmp_path / "mh_split_reingest")
        gen1 = spark.createDataFrame(
            [(10, txt)], "doc_id long, text string"
        )
        dedup.write_minhash_index(
            dedup.minhash_index_frame(gen1, "text"), path, sig_buckets=8,
        )
        # night 2 re-ingests 10 and adds 14
        gen2 = spark.createDataFrame(
            [(10, txt), (14, txt)], "doc_id long, text string"
        )
        dedup.write_minhash_index(
            dedup.minhash_index_frame(gen2, "text"), path, mode="append",
        )
        sigs = spark.read.parquet(f"{path}/sigs")
        assert sigs.count() == 2  # one row per distinct id
        new = spark.createDataFrame([(101, txt)], "doc_id long, text string")
        pairs = dedup.near_dup_verdicts_against_index(
            new,
            dedup.read_minhash_index_for_batch(new, path)[0],
            threshold=0.5,
        ).collect()
        assert sorted((r["new_id"], r["known_of"]) for r in pairs) == [
            (101, 10), (101, 14)
        ]

    def test_split_append_partial_failure_heals_on_retry(
        self, spark, tmp_path
    ):
        # review finding r15: the split layout's append is two
        # non-atomic commits. Simulate 'bands landed, sigs write
        # failed' for night 2, then retry the full append — the
        # per-table guards must re-write ONLY the missing sigs rows:
        # no duplicate bands rows, no duplicate sigs rows, and the
        # healed index answers correctly.
        from llm_pretraining_data_pipeline_spark.operators import dedup

        path = str(tmp_path / "mh_split_retry")
        gen1 = spark.createDataFrame(
            [self.SNAP[0]], "doc_id long, text string"
        )
        dedup.write_minhash_index(
            dedup.minhash_index_frame(gen1, "text"), path, sig_buckets=8,
        )
        gen2 = spark.createDataFrame(
            [self.SNAP[1]], "doc_id long, text string"
        )
        idx2 = dedup.minhash_index_frame(gen2, "text")
        # partial failure: only the bands half of night 2 lands
        (
            idx2.select("id", "band_id", "band_sig")
            .withColumn(
                "sig_bucket", dedup._sig_bucket(F.col("band_sig"), 8)
            )
            .repartition("band_id", "sig_bucket")
            .write.mode("append")
            .partitionBy("band_id", "sig_bucket")
            .parquet(f"{path}/bands")
        )
        # retry of the full append
        dedup.write_minhash_index(idx2, path, mode="append")
        bands = spark.read.parquet(f"{path}/bands")
        dup_bands = (
            bands.groupBy("id", "band_id").count()
            .where(F.col("count") > 1).count()
        )
        assert dup_bands == 0
        sigs = spark.read.parquet(f"{path}/sigs")
        assert sigs.count() == 2  # one row per distinct id
        new = spark.createDataFrame(
            [(101, self.SNAP[0][1]), (103, self.SNAP[1][1])],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["known_of"]
            for r in dedup.near_dedup_against_stored_index(
                new, path, threshold=0.5
            ).collect()
        }
        assert got == {101: 0, 103: 2}

    def test_mistyped_index_path_raises(self, spark, tmp_path):
        # ADVICE r14 (medium): a wrong path must FAIL, never silently
        # flag every doc is_known_near=false
        from pyspark.errors import AnalysisException

        from llm_pretraining_data_pipeline_spark.operators import dedup

        new = spark.createDataFrame(
            [(1, self.SNAP[0][1])], "doc_id long, text string"
        )
        with pytest.raises(AnalysisException):
            dedup.near_dedup_against_stored_index(
                new, str(tmp_path / "no_such_index")
            ).collect()

    def test_half_written_split_index_raises(self, spark, tmp_path):
        # bands present but sigs missing (or vice versa) is a broken
        # artifact, not an empty index
        from llm_pretraining_data_pipeline_spark.operators import dedup

        path = str(tmp_path / "mh_half")
        gen = spark.createDataFrame(
            [self.SNAP[0]], "doc_id long, text string"
        )
        dedup.write_minhash_index(
            dedup.minhash_index_frame(gen, "text"), path, sig_buckets=8,
        )
        import shutil as _sh

        _sh.rmtree(f"{path}/sigs")
        new = spark.createDataFrame(
            [(1, self.SNAP[0][1])], "doc_id long, text string"
        )
        with pytest.raises(ValueError, match="half-written"):
            dedup.read_minhash_index_for_batch(new, path)


class TestDeleteFromMinhashIndex:
    """delete_from_minhash_index (round 15): targeted removal from a
    persisted index — only the partitions the doomed docs' band keys
    touch are rewritten, cells emptied entirely are removed, and the
    re-append path works afterwards."""

    SNAP = TestNearDedupAgainstIndex.SNAP

    def _build(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        snap = spark.createDataFrame(self.SNAP, "doc_id long, text string")
        idx = dedup.minhash_index_frame(snap, "text")
        path = str(tmp_path / "mh_del")
        dedup.write_minhash_index(idx, path, sig_buckets=8)
        return path

    def test_delete_all_docs_empties_cells_and_flags_nothing(
        self, spark, tmp_path
    ):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        path = self._build(spark, tmp_path)
        everything = spark.createDataFrame(
            self.SNAP, "doc_id long, text string"
        )
        dedup.delete_from_minhash_index(everything, path)
        # every partition directory is gone or empty; the reader treats
        # the result as an empty index (bootstrap contract)
        new = spark.createDataFrame(
            [(1, self.SNAP[0][1])], "doc_id long, text string"
        )
        got = dedup.near_dedup_against_stored_index(new, path).collect()[0]
        assert got["is_known_near"] is False

    def test_split_delete_removes_bands_and_sigs(self, spark, tmp_path):
        import re as _re

        from llm_pretraining_data_pipeline_spark.operators import dedup

        path = self._build(spark, tmp_path)
        bands_before = set(spark.read.parquet(f"{path}/bands").inputFiles())
        doomed = spark.createDataFrame(
            [self.SNAP[1]], "doc_id long, text string"
        )
        touched = {
            (r["band_id"], r["sig_bucket"])
            for r in dedup._new_banded_frame(doomed, "text").select(
                "band_id",
                dedup._sig_bucket(F.col("band_sig"), 8).alias("sig_bucket"),
            ).distinct().collect()
        }
        dedup.delete_from_minhash_index(doomed, path)
        bands = spark.read.parquet(f"{path}/bands")
        assert bands.where(F.col("id") == 2).count() == 0
        # the other docs' band rows fully intact
        assert bands.where(F.col("id") == 0).count() == 8
        assert bands.where(F.col("id") == 4).count() == 8
        sigs = spark.read.parquet(f"{path}/sigs")
        assert sigs.where(F.col("id") == 2).count() == 0
        assert sigs.count() == 2  # the other two docs' sigs intact

        # untouched bands cells' files were NOT rewritten, and no stale
        # file from a touched cell survives
        def cell_of(f):
            m = _re.search(r"band_id=(\d+)/sig_bucket=(\d+)", f)
            return (int(m.group(1)), int(m.group(2)))

        untouched_before = {
            f for f in bands_before if cell_of(f) not in touched
        }
        after = set(bands.inputFiles())
        assert untouched_before <= after
        assert all(
            f in untouched_before or cell_of(f) in touched for f in after
        )
        # verdicts no longer name the deleted doc; others still match
        new = spark.createDataFrame(
            [(11, self.SNAP[1][1]), (13, self.SNAP[0][1])],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["is_known_near"], r["known_of"])
            for r in dedup.near_dedup_against_stored_index(
                new, path, threshold=0.5
            ).collect()
        }
        assert got[11] == (False, None)
        assert got[13] == (True, 0)

    def test_unknown_id_is_noop(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        path = self._build(spark, tmp_path)

        def counts():
            return tuple(
                spark.read.parquet(f"{path}/{t}").count()
                for t in ("bands", "sigs")
            )

        n0 = counts()
        dedup.delete_from_minhash_index(
            spark.createDataFrame(
                [(999, "text that was never indexed at all ok")],
                "doc_id long, text string",
            ),
            path,
        )
        assert counts() == n0

    def test_delete_then_reappend_works(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        path = self._build(spark, tmp_path)
        gen = spark.createDataFrame(
            [self.SNAP[0]], "doc_id long, text string"
        )
        dedup.delete_from_minhash_index(gen, path)
        # re-append the same id: the guard anti-joins CURRENT ids, the
        # deleted doc is absent, so the append lands exactly once
        dedup.write_minhash_index(
            dedup.minhash_index_frame(gen, "text"), path, mode="append",
        )
        t = spark.read.parquet(f"{path}/bands")
        assert t.where(F.col("id") == 0).count() == 8
        assert (
            t.groupBy("id", "band_id").count()
            .where(F.col("count") > 1).count() == 0
        )
        sigs = spark.read.parquet(f"{path}/sigs")
        assert sigs.where(F.col("id") == 0).count() == 1
