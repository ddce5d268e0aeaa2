"""Physical-plan assertions: the 100 TB-mindedness gate.

Correctness tests prove the answers are right; these prove the PLANS are the
ones that survive a 1000-executor cluster: filters reach the parquet scan,
small dimensions broadcast, scans prune columns, top-k avoids global sorts.
"""

import contextlib
import importlib.util
import io
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.queries import QUERIES
import llm_pretraining_data_pipeline_spark.queries_corpus  # noqa: F401 (registers)
import llm_pretraining_data_pipeline_spark.queries_ext  # noqa: F401 (registers)
import llm_pretraining_data_pipeline_spark.queries_rel  # noqa: F401 (registers)


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _tree(plan: str) -> list[str]:
    """Node names of a formatted plan's tree, root first (``Exchange (3)``)."""
    return [
        re.sub(r"^[\s+\-*]*", "", line)
        for line in plan.split("\n\n")[0].splitlines()[1:]
    ]


def _exchanges(plan: str) -> list[str]:
    """The partitioning of every Exchange node, root first."""
    args = dict(re.findall(r"\n\((\d+)\) Exchange\n(?:.+\n)*?Arguments: ([^,\n]+)", plan))
    return [
        args[re.search(r"\((\d+)\)$", node).group(1)]
        for node in _tree(plan) if node.startswith("Exchange ")
    ]


def _round_robin(spark) -> str:
    return f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})"


def _assert_spread_directly_above_scan(spark, plan: str) -> None:
    """In a linear plan whose bottom Exchange is the round-robin spread,
    only ingest's projections and the scan lie below it: doc_id and
    row_order are computed on the scan's own split."""
    assert _exchanges(plan)[-1] == _round_robin(spark), plan
    nodes = _tree(plan)
    bottom = max(i for i, node in enumerate(nodes) if node.startswith("Exchange "))
    below = nodes[bottom + 1:]
    assert below[-1].startswith("Scan json"), plan
    assert all(node.startswith("Project ") for node in below[:-1]), plan


def _split_and_one_split_inputs(spark, tmp_path):
    """The same two docs as a frame split defaultParallelism ways and as a
    one-split JSONL scan (the CLI's input shape)."""
    import json

    from llm_pretraining_data_pipeline_spark.sources import io as src

    rows = [("u1", "some text here"), ("u2", "other text there")]
    split = spark.createDataFrame(rows, "url string, text string")
    assert split.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    path = tmp_path / "one.jsonl"
    path.write_text("".join(json.dumps({"url": u, "text": t}) + "\n" for u, t in rows))
    one = src.read_jsonl(spark, str(path))
    assert one.rdd.getNumPartitions() == 1
    return split, one


class TestPlanQuality:
    def test_q1_filter_pushed_to_parquet(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q1_pricing_summary"].spark(spark, sf_dir))
        assert "PushedFilters" in plan
        assert "l_shipdate" in plan.split("PushedFilters")[1].splitlines()[0]

    def test_q1_scan_prunes_columns(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q1_pricing_summary"].spark(spark, sf_dir))
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_partkey" not in read_schema  # unused column stays on disk
        assert "l_quantity" in read_schema

    def test_q3_broadcasts_dimensions(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q3_shipping_priority"].spark(spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert plan.count("SortMergeJoin") == 0  # both dims below threshold

    def test_q5_snowflake_all_broadcast(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q5_local_supplier"].spark(spark, sf_dir))
        assert plan.count("BroadcastHashJoin") >= 4
        assert "SortMergeJoin" not in plan

    def test_broadcast_hint_is_size_aware(self, spark, sf_dir):
        """maybe_broadcast hints only under the size limit; above it the join
        strategy is left to Catalyst/AQE (fact tables must never carry an
        unconditional broadcast hint — at 100 TB that OOMs the driver)."""
        from llm_pretraining_data_pipeline_spark.sources import io as src

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet")
        assert src.table_size_bytes(sf_dir, "orders") > 0

        hinted = li.join(
            src.maybe_broadcast(o, sf_dir, "orders"), li.l_orderkey == o.o_orderkey
        )
        assert "BroadcastHashJoin" in plan_of(hinted)

        unhinted = li.join(
            src.maybe_broadcast(o, sf_dir, "orders", limit_bytes=0),
            li.l_orderkey == o.o_orderkey,
        )
        # no hint -> Catalyst's own sizing decides; at this SF orders exceeds
        # the default 10 MB autoBroadcastJoinThreshold only via the hint
        assert "ResolvedHint" not in unhinted._jdf.queryExecution().analyzed().toString()

    def test_topk_uses_partial_top_k_not_global_sort(self, spark, sf_dir):
        plan = plan_of(QUERIES["emb_cosine_topk"].spark(spark, sf_dir))
        assert "TakeOrderedAndProject" in plan

    def test_doc_scalar_query_scans_two_columns(self, spark, sf_dir):
        plan = plan_of(QUERIES["p05_quality_metrics"].spark(spark, sf_dir))
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "text" in read_schema and "doc_id" in read_schema
        for unused in ("lang", "source", "n_chars"):
            assert unused not in read_schema

    def test_pipeline_has_no_shuffle_before_dedup(self, spark, tmp_path):
        """Stages 1-4 (ingest through deep-clean) are one narrow pass over
        an input split at least defaultParallelism ways — zero exchanges
        until the dedup window. A one-split input gets exactly one
        exchange: ingest's round-robin spread, directly above the scan."""
        from llm_pretraining_data_pipeline_spark.plans import pipeline as P

        cfg = P.PipelineConfig(use_nfkc=False)
        split, one = _split_and_one_split_inputs(spark, tmp_path)
        plan = plan_of(P.deep_clean_pii(P.clean_filter(P.ingest(split), cfg), cfg))
        assert _exchanges(plan) == [], plan

        plan = plan_of(P.deep_clean_pii(P.clean_filter(P.ingest(one), cfg), cfg))
        assert _exchanges(plan) == [_round_robin(spark)], plan
        _assert_spread_directly_above_scan(spark, plan)

    def test_pipeline_dedup_shuffles_exactly_twice(self, spark, tmp_path):
        """The full pipeline's only exchanges are the two dedup windows
        (exact_hash, near_key) — everything else stays fused — plus, for a
        one-split input, ingest's spread directly above the scan."""
        from llm_pretraining_data_pipeline_spark.plans import pipeline as P

        cfg = P.PipelineConfig(use_nfkc=False)
        split, one = _split_and_one_split_inputs(spark, tmp_path)
        plan = plan_of(P.run_pipeline(split, cfg))
        exchanges = _exchanges(plan)
        assert len(exchanges) == 2, plan
        assert _round_robin(spark) not in exchanges, plan

        plan = plan_of(P.run_pipeline(one, cfg))
        exchanges = _exchanges(plan)
        assert len(exchanges) == 3, plan
        assert exchanges.count(_round_robin(spark)) == 1, plan
        _assert_spread_directly_above_scan(spark, plan)

    def test_pipeline_python_nodes(self, spark):
        """The default pipeline runs its per-row Python in exactly one
        Arrow pass: clean metrics, lang ID and token stats together. NFKC
        runs in the JVM (ICU4J), so no Python node serves it. Each UDF is
        named after its row function."""
        from llm_pretraining_data_pipeline_spark.plans import pipeline as P

        raw = spark.createDataFrame([("u1", "some text here")], "url string, text string")
        plan = P.run_pipeline(raw, P.PipelineConfig())._jdf.queryExecution().executedPlan()
        nodes = [
            line for line in plan.toString().splitlines() if "ArrowEvalPython" in line
        ]
        assert len(nodes) == 1, nodes
        udfs = set(re.findall(r"\b(_\w+)\(", nodes[0].split("], [")[0]))
        assert udfs == {"_clean_metrics_py", "_langid_trigrams", "_token_stats_py"}, udfs
        assert "reflect(com.ibm.icu.text.Normalizer, compose" in plan.toString()

    def test_semi_join_stays_semi(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_semi_join"].spark(spark, sf_dir))
        assert "LeftSemi" in plan

    def test_q4_exists_is_semi_with_residual(self, spark, sf_dir):
        """Correlated EXISTS compiles to one semi-join carrying the non-equi
        residual — never a join + distinct or a nested loop over orders."""
        plan = plan_of(QUERIES["rel_q4_order_priority"].spark(spark, sf_dir))
        assert "LeftSemi" in plan
        assert "NestedLoop" not in plan

    def test_q10_all_broadcast_topk(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q10_returned_items"].spark(spark, sf_dir))
        assert plan.count("SortMergeJoin") == 0
        assert "TakeOrderedAndProject" in plan  # top-20 never globally sorts

    def test_q21_dual_correlation_is_semi_plus_anti(self, spark, sf_dir):
        """Q21's EXISTS-other-supplier / NOT-EXISTS-other-late-supplier pair
        compiles to one LeftSemi and one LeftAnti on the orderkey equi key
        with the suppkey non-equi residual — never a nested loop, and the
        top-20 never globally sorts."""
        plan = plan_of(QUERIES["rel_q21_waiting_suppliers"].spark(spark, sf_dir))
        assert "LeftSemi" in plan
        assert "LeftAnti" in plan
        assert "NestedLoop" not in plan
        assert "TakeOrderedAndProject" in plan

    def test_q22_anti_join_and_tiny_scalar_broadcast(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q22_idle_customers"].spark(spark, sf_dir))
        assert "LeftAnti" in plan
        # the 1-row global-average frame joins via broadcast, not shuffle
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_q2_broadcast_dims_and_topk(self, spark, sf_dir):
        """Q2's region/nation/supplier/part dims all broadcast; the
        decorrelated per-part MIN joins back without a nested loop, and the
        top-100 never globally sorts."""
        plan = plan_of(QUERIES["rel_q2_min_cost_supplier"].spark(spark, sf_dir))
        assert "NestedLoop" not in plan
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan

    def test_q11_scalar_threshold_broadcasts(self, spark, sf_dir):
        """Q11's global-sum threshold is a 1-row frame joined via broadcast
        (nested-loop over ONE row is the cheap plan), never a shuffle."""
        plan = plan_of(QUERIES["rel_q11_important_stock"].spark(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
        assert plan.count("SortMergeJoin") == 0

    def test_q20_semi_joins_preserved(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q20_promotion_suppliers"].spark(spark, sf_dir))
        assert "LeftSemi" in plan
        assert "NestedLoop" not in plan

    def test_lsh_topk_prunes_bucket(self, spark, sf_dir):
        """LSH probe must filter to one bucket before scoring."""
        from llm_pretraining_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.first().embedding
        plan = plan_of(similarity.lsh_topk(emb, q, k=5))
        assert "Filter" in plan and "TakeOrderedAndProject" in plan


class TestIvfIndex:
    """write_ivf_index + ivf_topk_indexed: the IVF scale path must prune at
    the file listing, and the precomputed-assignment probe must agree with
    the recompute-per-query demo path."""

    def test_indexed_probe_partition_prunes_and_matches(self, spark, sf_dir, tmp_path):
        from llm_pretraining_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).first().embedding]
        index_path = str(tmp_path / "ivf_index")
        similarity.write_ivf_index(emb, centroids, index_path)

        probed = similarity.ivf_topk_indexed(
            spark, index_path, centroids, qv, k=5, n_probe=1
        )
        plan = plan_of(probed)
        pf_line = plan.split("PartitionFilters:")[1].splitlines()[0]
        assert "cell" in pf_line  # pruned at file listing, not post-scan

        demo = similarity.ivf_topk(emb, centroids, qv, k=5, n_probe=1)
        assert [(r[0], round(r[1], 9)) for r in probed.collect()] == [
            (r[0], round(r[1], 9)) for r in demo.collect()
        ]

    def test_plan_construction_is_action_free(self, spark, sf_dir):
        """VERDICT r11 item 2: building an ivf_topk or LSH near-dup plan
        must run ZERO Spark jobs — probe-cell routing is a broadcast-joined
        limit frame, not a collect, and the LSH path requires `dim` instead
        of probing the data. Asserted via a dedicated job group: any action
        fired during construction would register a job id under it."""
        from llm_pretraining_data_pipeline_spark.operators import (
            dedup, similarity,
        )

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).first().embedding]
        sc = spark.sparkContext
        group = "plan-construction-probe"
        sc.setJobGroup(group, "must stay empty")
        try:
            demo = similarity.ivf_topk(emb, centroids, qv, k=5, n_probe=2)
            pairs = dedup.embedding_near_dup_pairs(
                emb, threshold=0.9, lsh_planes=4, dim=64, lsh_bands=2
            )
            _ = demo.schema, pairs.schema  # analysis only, no execution
        finally:
            sc.setJobGroup("plan-construction-done", "")
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []

    def test_lsh_without_dim_raises(self, spark, sf_dir):
        import pytest

        from llm_pretraining_data_pipeline_spark.operators import dedup

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        with pytest.raises(ValueError, match="requires `dim`"):
            dedup.embedding_near_dup_pairs(emb, threshold=0.9, lsh_planes=4)

    def test_precomputed_assignment_skips_reassign(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.operators import similarity

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        centroids = emb.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("centroid_vec"),
        )
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).first().embedding]
        assigned = similarity.ivf_assign(emb, centroids)
        with_pre = similarity.ivf_topk(
            emb, centroids, qv, k=5, n_probe=1, assigned=assigned
        )
        # the precomputed path's plan must not contain the assignment's
        # argmax window (one Window = the probe's own; the recompute demo
        # path embeds a second one)
        assert plan_of(with_pre).count("Window") <= plan_of(
            similarity.ivf_topk(emb, centroids, qv, k=5, n_probe=1)
        ).count("Window")
        demo = similarity.ivf_topk(emb, centroids, qv, k=5, n_probe=1)
        assert [r[0] for r in with_pre.collect()] == [r[0] for r in demo.collect()]


class TestCorpusPlanQuality:
    """Scale shapes of the corpus-analytics operators (operators/corpus.py)."""

    def test_repetition_signals_is_shuffle_free(self, spark, sf_dir):
        """The Gopher signals are a pure map: the HOF run-length scan must
        produce a plan with no Exchange at all — at 100 TB this operator
        costs exactly one pass over the scan, embarrassingly parallel."""
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.repetition_signals(docs))
        assert "Exchange" not in plan
        assert "pythonUDF" not in plan.lower()  # JVM-only, no Arrow round-trip

    def test_repetition_signals_prunes_scan(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.repetition_signals(docs))
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "text" in read_schema and "source" not in read_schema

    def test_stratified_sample_is_narrow_filter(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(
            corpus.hash_stratified_sample(docs, "lang", {"en": 0.5})
        )
        assert "Exchange" not in plan  # sampling never moves data

    def test_pack_sequences_broadcasts_offsets_no_global_window(self, spark, sf_dir):
        """The two-phase cumsum must broadcast the nshards-row offset table
        and keep every window partitioned by shard — a global-order window
        (empty partition spec) would funnel the corpus through one task."""
        from llm_pretraining_data_pipeline_spark.functions import metrics
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", metrics.n_words("text").alias("n_tok"))
        )
        df = corpus.pack_sequences(docs, 128, nshards=8)
        plan = plan_of(df)
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan
        # every Window node must carry a non-empty partition spec
        for chunk in plan.split("Arguments")[1:]:
            head = chunk.splitlines()[0]
            if "windowspecdefinition" in head:
                assert "shard" in head

    def test_span_dedup_shuffles_hashes_not_text(self, spark, sf_dir):
        """The keep-first shuffle keys on the 60-bit window hash exactly
        once; window text never appears in an exchange."""
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = corpus.span_dedup(docs, w=12)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("hashpartitioning(_gh") == 1, plan

    def test_cross_doc_dup_ngrams_groups_on_hash(self, spark, sf_dir):
        """Shuffle keys are the 60-bit gram hashes, not raw gram strings —
        the exchanged rows stay narrow at web scale."""
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.cross_doc_dup_ngram_stats(docs, n=5))
        assert "hashpartitioning(gh" in plan


class TestCurationPlanQuality:
    """Round-5 operators: the plan shapes their docstrings claim."""

    def test_lm_score_is_shuffle_free(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.functions import lm

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(docs.select("doc_id", lm.doc_lm_struct("text").alias("s")))
        assert "Exchange" not in plan

    def test_chunk_spans_is_shuffle_free(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.chunk_spans(docs))
        assert "Exchange" not in plan

    def test_url_dedup_single_shuffle_on_norm(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.functions import urls

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", F.concat(F.lit("http://x/"), F.col("doc_id")).alias("url")
        )
        # raw executedPlan string: explain("formatted") splits the node
        # name and its hashpartitioning arguments across sections
        plan = urls.url_dedup(docs)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        # partition key is the solo-guarded group derived from url_norm
        assert "hashpartitioning(_url_group" in plan

    def test_gopher_filter_no_shuffle_joins(self, spark, sf_dir):
        """The signals join back on doc_id without a cartesian; with AQE the
        small fixture broadcasts — at any size there must be no
        CartesianProduct and no shuffle keyed on text."""
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.gopher_quality_filter(docs))
        assert "CartesianProduct" not in plan
        assert "hashpartitioning(text" not in plan


class TestC4PlanQuality:
    """Round-6 C4 operators: claimed plan shapes."""

    def test_c4_filter_is_shuffle_free(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.c4_quality_filter(docs))
        assert "Exchange" not in plan

    def test_c4_span_dedup_window_carries_narrow_rows(self, spark, sf_dir):
        """The keep-first window shuffles (span, id, start) only — whole
        documents never enter an exchange — and there is no cartesian."""
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = corpus.c4_span_dedup(docs)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "hashpartitioning(span" in plan
        assert "hashpartitioning(text" not in plan


class TestLateRound6Plans:
    def test_q16_anti_join_and_broadcast_part(self, spark, sf_dir):
        plan = plan_of(QUERIES["rel_q16_supplier_part_counts"].spark(spark, sf_dir))
        assert "LeftAnti" in plan        # NOT IN compiled to anti join
        assert "BroadcastHashJoin" in plan
        assert "NestedLoop" not in plan

    def test_bigram_lm_trains_without_cartesian(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.functions import lm

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(lm.train_bigram_lm(docs))
        assert "CartesianProduct" not in plan
        # the scalar vocab total rides a 1-row broadcast
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    def test_hash_split_is_shuffle_free(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.hash_split(docs))
        assert "Exchange" not in plan


class TestTrainedLmPlans:
    def test_unigram_topv_never_global_sorts(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.functions import lm

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(lm.train_unigram_lm(docs, vocab_size=200))
        assert "TakeOrderedAndProject" in plan  # top-V, not a global sort
        assert "CartesianProduct" not in plan


class TestShardedWritePlans:
    def test_hashed_shard_export_has_no_single_partition_window(
        self, spark, sf_dir, tmp_path
    ):
        """The scale write path (write_sharded_corpus_jsonl) must stay fully
        parallel: hash sharding adds no Window and no single-partition
        exchange, unlike the positional assign_shards (reference parity)
        whose global row_number serialises — pinned here as the contrast."""
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators import sharding

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        hashed = sharding.assign_shards_hashed(docs, num_shards=16)
        frame = hashed.select(
            "shard_id",
            F.to_json(F.struct("doc_id", "text", "source")).alias("value"),
        )
        plan = plan_of(frame)
        assert "Window" not in plan
        assert "SinglePartition" not in plan
        # the positional variant DOES pay the global order — documented trap
        positional = plan_of(sharding.assign_shards(docs, docs_per_shard=100))
        assert "Window" in positional and "SinglePartition" in positional

    def test_sharded_write_rehearsal_and_manifest(self, spark, sf_dir, tmp_path):
        import json
        import os

        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.plans import exports

        docs = (
            spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text", "source",
                    F.col("n_chars").cast("long").alias("n_tokens"))
        )
        out_dir = str(tmp_path / "shards")
        man = exports.write_sharded_corpus_jsonl(
            docs, out_dir, num_shards=8
        )
        assert man["num_shards"] == 8
        assert man["total_docs"] == docs.count()
        shard_dirs = [d for d in os.listdir(out_dir) if d.startswith("shard_id=")]
        assert len(shard_dirs) == 8  # every shard wrote its own directory
        # manifest counts match what actually landed on disk
        back = spark.read.text(f"{out_dir}/shard_id=3")
        per_shard = {s["shard_id"]: s["num_docs"] for s in man["shards"]}
        assert back.count() == per_shard[3]
        # rows round-trip as JSON with the contracted fields
        row = json.loads(back.first().value)
        assert set(row) == {"doc_id", "text", "source"}
        exports.write_manifest(man, str(tmp_path / "manifest.json"))
        with open(tmp_path / "manifest.json") as f:
            assert json.load(f)["total_docs"] == man["total_docs"]


class TestRound7Plans:
    def test_hashed_scorer_is_pure_jvm_zero_shuffle(self, spark, sf_dir):
        """The 100 TB hot path: scoring with frozen weights must plan as a
        single whole-stage-codegen-friendly projection — no Exchange, no
        Python evaluation node (the weights ride as a literal array)."""
        from llm_pretraining_data_pipeline_spark.functions import scoring

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(
            scoring.hashed_quality_score(docs, "text", [0.1] * 32, 0.0)
        )
        assert "Exchange" not in plan
        assert "Python" not in plan  # no ArrowEvalPython/BatchEvalPython

    def test_exact_substr_narrow_exchanges_and_broadcast_joinback(
        self, spark, sf_dir
    ):
        """exact_substr_dedup: the only exchanges are the hash-keyed
        keep-first window and the per-doc loser aggregation (narrow rows);
        the verdict joins BACK to the corpus by broadcast on lightly
        duplicated corpora, never a cartesian."""
        import re

        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(corpus.exact_substr_dedup(docs, min_tokens=10))
        assert len(re.findall(r"Exchange ", plan)) <= 3
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan


class TestRound8Plans:
    def test_url_filter_is_single_projection(self, spark, sf_dir):
        """The URL stage must stay the cheapest drop in the pipeline: one
        CaseWhen projection over the scan, no Exchange, no Python node."""
        from llm_pretraining_data_pipeline_spark.functions import urls

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id",
            F.concat(F.lit("https://d"), F.col("doc_id"), F.lit(".org/p"))
            .alias("url"),
        )
        plan = plan_of(urls.url_quality_filter(docs, blocklist=["x.org"]))
        assert "Exchange" not in plan
        assert "Python" not in plan

    def test_ks_drift_windows_run_on_aggregated_frame(self, spark, sf_dir):
        """The KS cumulative window must sit ABOVE the value groupBy (one
        row per distinct value), never on the corpus: exactly one
        hash-partitioned exchange below the first Window node."""
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = corpus.ks_drift(docs, "n_chars", "source", "src3", "src7")
        plan = plan_of(df)
        first_window = plan.index("Window")
        below = plan[first_window:]
        # the aggregation feeding the window is upstream (printed after in
        # formatted plans); assert the HashAggregate pair exists and the
        # plan never broadcasts/cartesians the corpus
        assert "HashAggregate" in below
        assert "CartesianProduct" not in plan

    def test_gram_novelty_single_distinct_plus_agg(self, spark, sf_dir):
        """gram_novelty: distinct + gram groupBy + scalar agg — and no
        join at all (the two sides meet in ONE aggregation, not a
        gram-keyed join of two corpus-sized frames)."""
        from llm_pretraining_data_pipeline_spark.operators import corpus

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        df = corpus.gram_novelty(docs, "text", "source", "src0", "src1")
        plan = plan_of(df)
        assert "Join" not in plan
        assert "CartesianProduct" not in plan

    def test_containment_reuses_inverted_index_no_cartesian(
        self, spark, sf_dir
    ):
        from llm_pretraining_data_pipeline_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(
            dedup.ngram_containment_pairs(docs, "text", threshold=0.9)
        )
        assert "CartesianProduct" not in plan


class TestRound9Plans:
    def test_minhash_est_error_candidates_path_skips_shingle_self_join(
        self, spark, sf_dir
    ):
        """VERDICT r8 item 2: with a candidates frame fed in (the LSH
        scale path), the estimator audit must verify ONLY those pairs —
        the exact-Jaccard side never explodes shingles into the brute
        inverted-index self-join. Without candidates the brute index IS
        the plan (Generate/explode present) — the registry fixture."""
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        cand = spark.createDataFrame(
            [(1, 2), (3, 4)], "id_a long, id_b long"
        )
        plan = plan_of(
            dedup.minhash_estimate_error(docs, "text", candidates=cand)
        )
        # no explode anywhere: shingle sets and signatures are per-row
        # HOF arrays, and the only joins key the candidate ids
        assert "Generate" not in plan
        assert "CartesianProduct" not in plan
        # brute fixture path: the inverted index explodes (sanity check
        # that the assertion above is actually discriminating)
        brute = plan_of(dedup.minhash_estimate_error(docs, "text"))
        assert "Generate" in brute

    def test_minhash_est_error_df_cap_path_semi_joins_on_shingle(
        self, spark, sf_dir
    ):
        """max_shingle_df= flows through to the DF-capped one-shuffle
        index: no inner shingle self-join of two exploded corpus frames
        (the ADVICE-r8 cap semi-join is the only shingle-keyed join)."""
        import re

        from llm_pretraining_data_pipeline_spark.operators import dedup

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = plan_of(
            dedup.minhash_estimate_error(docs, "text", max_shingle_df=64)
        )
        assert "CartesianProduct" not in plan
        for ln in plan.splitlines():
            if re.search(r"(SortMergeJoin|ShuffledHashJoin)", ln) and "_sh#" in ln:
                assert "LeftSemi" in ln, f"inner shingle self-join: {ln}"

    def test_emb_decontaminate_broadcasts_eval_no_window(self, spark, sf_dir):
        """The eval side must broadcast (benchmark sets are small by
        nature) and the per-vector argmax must be the map-side-combinable
        max(struct) aggregation, not a corpus-wide window."""
        plan = plan_of(QUERIES["emb_decontaminate"].spark(spark, sf_dir))
        assert "BroadcastNestedLoopJoin" in plan
        assert "CartesianProduct" not in plan
        assert "Window" not in plan
        assert "SortMergeJoin" not in plan

    def test_calibration_curve_zero_joins_partial_agg(self, spark, sf_dir):
        """p39 is a scan -> score-expression -> 10..100-bucket groupBy:
        no joins of any kind, and the aggregate has a partial (map-side
        combine) phase before its single exchange."""
        import re

        plan = plan_of(QUERIES["p39_calibration_curve"].spark(spark, sf_dir))
        assert "Join" not in plan
        assert "CartesianProduct" not in plan
        # formatted mode prints each node once in the tree and once as a
        # numbered detail header — count the detail headers
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
        assert "hashpartitioning" in plan
        assert "partial" in plan.lower()  # HashAggregate(partial)


class TestRound11Plans:
    """Plan shapes for the round-11 surface: CDX build, crawl funnel."""

    def _blob_frame(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import warc
        body = b"plan test body"
        http = (
            b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            b"Content-Length: %d\r\n\r\n" % len(body) + body
        )
        blob = warc.encode_warc([("response", "https://a.example/x", "r1", http)])
        return spark.createDataFrame(
            [(1, bytearray(blob))], "file_id long, payload binary"
        )

    def test_cdx_build_is_shuffle_free(self, spark):
        # blob explode + HTTP split + SURT/digest: the whole sidecar
        # build must be a straight map — zero Exchange at any scale
        from llm_pretraining_data_pipeline_spark.sources import cdx
        plan = (
            cdx.cdx_records(self._blob_frame(spark))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan

    def test_cdxj_line_assembly_stays_jvm(self, spark):
        # to_json/concat_ws on top of the build adds no Python stage
        # beyond the two Arrow ingest stages and no shuffle
        from llm_pretraining_data_pipeline_spark.sources import cdx
        plan = (
            cdx.cdxj_lines(cdx.cdx_records(self._blob_frame(spark)))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        # exactly the explode (mapInPandas) + the HTTP-split pandas_udf
        assert plan.count("ArrowEvalPython") == 1
        assert plan.count("MapInPandas") == 1

    def test_crawl_funnel_no_cartesian_and_bounded_exchanges(self, spark):
        from llm_pretraining_data_pipeline_spark.plans.crawl import (
            CrawlCorpusConfig, crawl_funnel_summary, run_crawl_to_corpus,
        )
        from llm_pretraining_data_pipeline_spark.plans.web_curation import (
            WebCurationConfig,
        )
        out = crawl_funnel_summary(
            run_crawl_to_corpus(
                self._blob_frame(spark),
                CrawlCorpusConfig(
                    curation=WebCurationConfig(
                        min_sentences=1, apply_gopher=False
                    )
                ),
            )
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
        # the only shuffles allowed are the curation windows (url /
        # span / exact dedup), the dedup mark join-backs, and the final
        # summary aggregation; the span subtree appears twice in plan
        # text but runtime ReusedExchange serves the second reference
        # (checkpointing it measured 1.6x slower — round-11 A/B). 16
        # today; a regression that funnels the corpus through extra
        # exchanges trips the bound.
        assert plan.count("Exchange") <= 18, plan.count("Exchange")


class TestRound12bPlans:
    """Plan shapes for the round-12 continuation surface: revisit
    resolution, budget selection, charset decode, incremental ingest."""

    def test_charset_decode_is_pure_jvm_zero_shuffle(self, spark):
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )
        df = spark.createDataFrame(
            [(bytearray(b"x"), "utf-8")], "body binary, charset string"
        )
        plan = (
            df.select(http_body_text_charset().alias("d"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan
        assert "Python" not in plan and "Pandas" not in plan

    def test_resolve_revisits_bounded_exchanges_no_window(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx, warc
        blob = warc.encode_warc([
            ("response", "https://a/x", "r1",
             b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok"),
        ])
        df = spark.createDataFrame(
            [(1, bytearray(blob))], "file_id long, payload binary"
        )
        recs = warc.warc_records(df, headers=("WARC-Payload-Digest",))
        plan = (
            cdx.resolve_revisits(recs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        assert "Window" not in plan
        # one digest groupBy (partial+final) + one equi-join: the
        # revisit path needs at most 3 exchanges; the pass-through
        # branch none
        assert plan.count("Exchange") <= 3

    def test_budget_select_windows_only_the_boundary_bin(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import corpus
        df = spark.createDataFrame(
            [(i, float(i % 10) / 10.0, 10) for i in range(100)],
            "doc_id long, score double, n_tok long",
        )
        out = corpus.budget_select(
            df, 300, value_col="score", token_col="n_tok", buckets=16
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        # exactly ONE window (the boundary bin), fed by a pushed-down
        # bin filter — never a corpus-wide global sort
        assert plan.count("Window") == 1
        win_idx = plan.index("Window")
        assert "Filter" in plan[win_idx:], "window must sit above the bin filter"

    def test_cdx_incremental_single_anti_join(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        prev = spark.createDataFrame([("d1", "s")], "digest string, surt string")
        cur = spark.createDataFrame([("d2", "s")], "digest string, surt string")
        plan = (
            cdx.cdx_incremental(cur, prev)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "LeftAnti" in plan
        assert "CartesianProduct" not in plan and "Window" not in plan

    def test_anchor_aggregation_is_two_level_partial_agg(self, spark, sf_dir):
        plan = plan_of(QUERIES["f26_anchor_text"].spark(spark, sf_dir))
        assert "CartesianProduct" not in plan
        # partial aggregation must exist (map-side combine on the
        # (target, anchor) level) and no window anywhere
        assert "partial" in plan.lower()
        assert "Window" not in plan


ROOT = Path(__file__).resolve().parent.parent


def _plan_audit_module():
    spec = importlib.util.spec_from_file_location("plan_audit", ROOT / "scripts" / "plan_audit.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class TestPlanAuditCheck:
    """``plan_audit.py --check`` reads node counts back from the rendered
    file and names each query whose counts drifted. Only the last test
    builds plans."""

    def test_committed_audit_parses_every_query(self):
        committed = _plan_audit_module().parse((ROOT / "PLAN_AUDIT.md").read_text())
        assert set(committed) == set(QUERIES), set(committed) ^ set(QUERIES)

    def test_drift_names_changed_added_and_missing_queries(self):
        audit = _plan_audit_module()
        labels = [label for label, _ in audit.NODES]
        rows = [(name, dict.fromkeys(labels, 1)) for name in ("q_a", "q_b", "q_c")]
        committed = audit.parse(audit.render(rows, [], 1.0))
        assert audit.drift(committed, rows, []) == []
        changed = [(name, dict(c, ArrowEval=2 if name == "q_b" else 1)) for name, c in rows]
        lines = audit.drift(committed, changed[:2] + [("q_d", rows[0][1])], [("q_e", "boom")])
        assert [line.split(":")[0] for line in lines] == ["q_b", "q_c", "q_d", "q_e"]

    def test_registered_plans_match_committed_audit(self, spark):
        """Every registered plan, built in this session, has the node
        counts ``PLAN_AUDIT.md`` lists: plan drift fails here, not only
        under ``plan_audit.py --check`` (~2 min on 4 vCPUs)."""
        audit = _plan_audit_module()
        committed = audit.parse((ROOT / "PLAN_AUDIT.md").read_text())
        rows, errors, _ = audit.audit()
        assert audit.drift(committed, rows, errors) == []
