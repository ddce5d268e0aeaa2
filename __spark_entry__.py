"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship end-to-end document pipeline; ``queries`` /
``oracle_sql`` expose the operator inventory (SURVEY.md §2) with DuckDB
oracle SQL for every SQL-expressible operator. Implementation lives in
``llm_pretraining_data_pipeline_spark``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full 8-stage pipeline over sf0.001 documents, returning
    the per-outcome summary (kept subsets + drop reasons with counts and mean
    quality) — the engine's metrics_summary contract in one DataFrame.

    The language filter is disabled for the synthetic corpus (random word
    soup has no coherent language; the filter itself is exercised by
    tests/test_pipeline_e2e.py with language-bearing fixtures).
    """
    from llm_pretraining_data_pipeline_spark.plans import pipeline as P
    from llm_pretraining_data_pipeline_spark.session import get_spark

    get_spark()  # patch runtime conf (AQE/arrow/UTC) on the driver's session

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw = docs.select(
        F.concat(F.lit("http://testdata/"), F.col("doc_id")).alias("url"), "text"
    )
    cfg = P.PipelineConfig(use_nfkc=True, apply_lang_filter=False)
    out = P.run_pipeline(raw, cfg)
    outcome = F.coalesce(
        F.col("drop_reason"), F.concat(F.lit("kept:"), F.col("subset"))
    )
    return (
        out.groupBy(outcome.alias("outcome"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.avg("quality_score"), 6).alias("avg_quality"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy(F.desc("cnt"), F.col("outcome"))
    )


# Registry head order: the queries listed here come first — (a) those
# whose code path changed in round 16, then (b, c) those whose last oracle
# check is oldest — and every other registered query follows in
# registration order.
_PRIORITY_R16 = [
    # (a) changed this round
    "d24_pruned_index", "d25_index_merge", "d27_split_selective",
    "d28_index_delete", "ev_stream_near_stored",
    "p42_html_entities",
    # (b) the full r10-stale tail (29)
    "p23_pick_text", "p30_train_unigram_lm", "p31_trained_lm_score",
    "p32_fix_mojibake", "p34_bigram_lm_score", "p41_main_content",
    "p41b_main_content_smooth", "rel_anti_join", "rel_cube_lineitem",
    "rel_distinct_counts", "rel_grouping_sets", "rel_having_large_orders",
    "rel_in_subquery", "rel_outer_join", "rel_pivot",
    "rel_q12_shipmode_case", "rel_q14_promo_ratio", "rel_q19_disjunctive",
    "rel_q1_pricing_summary", "rel_q3_shipping_priority",
    "rel_q5_local_supplier", "rel_q6_revenue_delta", "rel_rollup_orders",
    "rel_semi_join", "s05_wet_export", "s06_wat_export",
    "win_above_avg_orders", "win_rank_family",
    "win_top3_orders_per_customer",
    # (c) r11-stale, 14 of 38 (alphabetical slice)
    "a01_source_counts", "a02_boolean_mask_sums", "a05_numeric_summary",
    "a07_histogram", "a08_top_sources", "a09_lang_breakdown",
    "a13_domain_stats", "a14_source_overlap", "a15_quality_deciles",
    "corp_rep_signals", "d12_corpus_diff", "emb_cosine_topk",
    "emb_knn_join", "emb_label_stats",
]


def _registry():
    from llm_pretraining_data_pipeline_spark import queries as q
    from llm_pretraining_data_pipeline_spark import queries_corpus  # noqa: F401 (registers)
    from llm_pretraining_data_pipeline_spark import queries_ext  # noqa: F401 (registers)
    from llm_pretraining_data_pipeline_spark import queries_rel  # noqa: F401 (registers)

    ordered = {n: q.QUERIES[n] for n in _PRIORITY_R16 if n in q.QUERIES}
    ordered.update({n: qd for n, qd in q.QUERIES.items() if n not in ordered})
    return ordered


def _patched(fn: Callable[[SparkSession, str], DataFrame]):
    """Wrap a query callable so an externally-provided SparkSession gets the
    engine's runtime-settable confs (UTC, arrow, AQE, nanosAsLong) before the
    query builds its plan — the driver's session is not built by us."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from llm_pretraining_data_pipeline_spark.session import _apply_runtime_conf, default_parallelism

        _apply_runtime_conf(spark, default_parallelism())
        return fn(spark, sf_dir)

    return run


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: _patched(qd.spark) for name, qd in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in _registry().items() if qd.oracle is not None}
