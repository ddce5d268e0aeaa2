"""Stage-8 exports + reporting contract over a real pipeline run."""

import json
import os

import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.operators import reporting, sharding
from llm_pretraining_data_pipeline_spark.plans import exports
from llm_pretraining_data_pipeline_spark.plans import pipeline as P
from llm_pretraining_data_pipeline_spark.sources import io as src


@pytest.fixture(scope="module")
def pipeline_result(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    raw = docs.select(
        F.concat(F.lit("http://t/"), F.col("doc_id")).alias("url"), "text"
    )
    out = P.run_pipeline(
        raw, P.PipelineConfig(use_nfkc=False, apply_lang_filter=False)
    ).cache()
    yield out
    out.unpersist()


def _summary_frame(spark):
    """3 kept and 7 dropped rows with every column metrics_summary reads;
    the dropped rows' values must not reach the kept-row blocks."""
    kept = [
        (None, "high_quality", "en", 10, 0.9, 1, 0, 0, 0, True),
        (None, "rest", "en", 20, 0.5, 0, 2, 0, 0, True),
        (None, "rest", "de", 30, 0.6, 0, 0, 0, 0, False),
    ]
    dropped = [
        (reason, "rest", "fr", 99, 0.1, 5, 5, 5, 5, True)
        for reason, n in (("near_duplicate", 2), ("too_long", 3), ("exact_duplicate", 2))
        for _ in range(n)
    ]
    return spark.createDataFrame(
        kept + dropped,
        "drop_reason string, subset string, lang string, n_tokens int, "
        "quality_score double, pii_email_hits int, pii_phone_hits int, "
        "pii_cc_hits int, pii_iban_hits int, has_pii boolean",
    )


class TestExports:
    def test_text_jsonl(self, spark, pipeline_result, tmp_path):
        out = str(tmp_path / "text_jsonl")
        kept = P.kept(pipeline_result)
        exports.write_text_jsonl(kept, out)
        lines = [
            json.loads(l)
            for f in os.listdir(out) if f.startswith("part-")
            for l in open(os.path.join(out, f)).read().splitlines()
        ]
        assert len(lines) == kept.count()
        assert all(list(l.keys()) == ["doc_id", "text", "source"] for l in lines)
        assert all(l["text"].strip() for l in lines)

    def test_sharded_export_with_manifest(self, spark, pipeline_result, tmp_path):
        kept = sharding.assign_shards(P.kept(pipeline_result), docs_per_shard=100)
        out = str(tmp_path / "shards")
        manifest = exports.write_sharded_jsonl(kept, out)
        shard_dirs = sorted(d for d in os.listdir(out) if d.startswith("shard_id="))
        assert len(shard_dirs) == manifest["num_shards"]
        assert manifest["total_docs"] == kept.count()
        assert manifest["total_tokens"] == (
            kept.agg(F.sum("n_tokens")).collect()[0][0]
        )
        exports.write_manifest(manifest, str(tmp_path / "manifest.json"))
        assert json.load(open(tmp_path / "manifest.json")) == manifest

    def test_csv_report_sink(self, spark, pipeline_result, tmp_path):
        from llm_pretraining_data_pipeline_spark.operators.aggregates import (
            drop_reason_counts,
        )

        out = str(tmp_path / "drop_reasons_csv")
        src.write_csv_report(drop_reason_counts(pipeline_result), out)
        files = [f for f in os.listdir(out) if f.endswith(".csv")]
        assert len(files) == 1
        content = open(os.path.join(out, files[0])).read().splitlines()
        assert content[0] == "drop_reason,count"


class TestReporting:
    def test_metrics_summary_shape(self, pipeline_result):
        s = reporting.metrics_summary(pipeline_result)
        assert s["docs"]["input"] == 500
        assert s["docs"]["kept"] + s["docs"]["dropped"] == 500
        assert s["n_tokens"]["total"] > 0
        assert s["n_tokens"]["min"] <= s["n_tokens"]["median"] <= s["n_tokens"]["max"]
        assert 0.0 <= s["quality_score"]["mean"] <= 1.0
        assert sum(s["subsets"].values()) == s["docs"]["kept"]
        assert sum(s["drop_reasons"].values()) == s["docs"]["dropped"]
        assert set(s["pii"]) == {"email", "phone", "cc", "iban", "docs_with_pii"}

    def test_metrics_summary_leaves_callers_cache(self, spark):
        df = _summary_frame(spark).cache()
        try:
            reporting.metrics_summary(df)
            assert df.is_cached
            assert df.storageLevel != StorageLevel.NONE
        finally:
            df.unpersist()

    def test_render_report_leaves_callers_cache(self, spark, tmp_path):
        df = _summary_frame(spark).cache()
        try:
            reporting.render_report(
                df, str(tmp_path / "plots"), str(tmp_path / "reports")
            )
            assert df.is_cached
            assert df.storageLevel != StorageLevel.NONE
        finally:
            df.unpersist()

    def test_metrics_summary_two_aggregations(self, spark):
        """An uncached frame: cached for the summary's two aggregations and
        freed after, in at most 6 jobs (AQE runs each shuffle map stage as
        its own job); every block's keys are in count-descending, then
        name order."""
        df = _summary_frame(spark)
        sc = spark.sparkContext
        sc.setJobGroup("metrics_summary", "metrics_summary")
        try:
            s = reporting.metrics_summary(df)
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert len(sc.statusTracker().getJobIdsForGroup("metrics_summary")) <= 6
        assert df.storageLevel == StorageLevel.NONE
        assert s == {
            "docs": {"input": 10, "kept": 3, "dropped": 7},
            "n_tokens": {"count": 3, "mean": 20.0, "min": 10.0, "median": 20.0,
                         "max": 30.0, "total": 60},
            "quality_score": {"count": 3, "mean": pytest.approx(2.0 / 3),
                              "min": 0.5, "median": 0.6, "max": 0.9},
            "subsets": {"rest": 2, "high_quality": 1},
            "lang": {"en": 2, "de": 1},
            "pii": {"email": 1, "phone": 2, "cc": 0, "iban": 0, "docs_with_pii": 2},
            "drop_reasons": {"too_long": 3, "exact_duplicate": 2, "near_duplicate": 2},
        }
        assert (list(s["subsets"]), list(s["lang"]), list(s["drop_reasons"])) == (
            ["rest", "high_quality"], ["en", "de"],
            ["too_long", "exact_duplicate", "near_duplicate"],
        )

    def test_histogram_render_gated(self, pipeline_result, tmp_path):
        paths = reporting.render_histograms(
            P.kept(pipeline_result), str(tmp_path / "plots")
        )
        try:
            import matplotlib  # noqa: F401

            assert len(paths) == 2 and all(os.path.exists(p) for p in paths)
        except ImportError:
            assert paths == []


class TestFullReportParity:
    """render_report must produce the reference's COMPLETE output set
    (plots_charts.py main): 9 metric histograms, 4 PII bars + summary bar,
    metrics.json with describe blocks, pii_stats.csv, drop_reason_counts.csv.
    """

    def test_all_reference_files_written(self, pipeline_result, tmp_path):
        pytest.importorskip("matplotlib")
        out = reporting.render_report(
            pipeline_result, str(tmp_path / "plots"), str(tmp_path / "reports")
        )
        plot_names = sorted(os.path.basename(p) for p in out["plots"])
        expected_hists = sorted(
            f"hist_{c}.png" for c, _ in reporting.REFERENCE_HISTOGRAMS
        )
        expected_bars = sorted(
            [f"bar_{c}.png" for c in reporting.PII_COLUMNS] + ["bar_pii_summary.png"]
        )
        assert plot_names == sorted(expected_hists + expected_bars)
        for p in out["plots"] + out["reports"]:
            assert os.path.exists(p) and os.path.getsize(p) > 0

        with open(os.path.join(tmp_path, "reports", "metrics.json")) as f:
            metrics = json.load(f)
        # pandas-describe-shaped blocks (plots_charts.py:97-106)
        for col in ("n_tokens", "quality_score"):
            assert set(metrics[col]) == {
                "count", "mean", "std", "min", "25%", "50%", "75%", "max"
            }
        assert metrics["counts"]["input_rows"] == (
            metrics["counts"]["kept_rows"] + metrics["counts"]["dropped_rows"]
        )
        assert set(metrics["pii_aggregate"]) == {
            "pii_email_hits", "pii_phone_hits", "pii_cc_hits", "pii_iban_hits",
            "has_pii",
        }

    def test_report_csvs_have_rows(self, pipeline_result, tmp_path):
        out = reporting.render_report(
            pipeline_result, str(tmp_path / "plots"), str(tmp_path / "reports")
        )
        drop_csv = [p for p in out["reports"] if p.endswith("drop_reason_counts.csv")][0]
        # Spark CSV sink convention: a directory with a single part file
        part = [f for f in os.listdir(drop_csv) if f.startswith("part-")][0]
        with open(os.path.join(drop_csv, part)) as f:
            lines = [ln for ln in f.read().splitlines() if ln]
        assert lines[0].startswith("drop_reason")
        assert len(lines) >= 2

    def test_plot_aggregates_without_matplotlib(self, pipeline_result):
        """The Spark side of every reference plot is computable regardless of
        matplotlib: 9 histogram frames + PII value counts + summary sums."""
        from llm_pretraining_data_pipeline_spark.operators.aggregates import histogram

        kept = pipeline_result.filter(F.col("drop_reason").isNull())
        for col, bins in reporting.REFERENCE_HISTOGRAMS:
            assert col in pipeline_result.columns, col
            rows = histogram(kept.filter(F.col(col).isNotNull()), col, bins=bins).collect()
            assert rows, col
            assert sum(r["count"] for r in rows) == kept.filter(
                F.col(col).isNotNull()
            ).count()

        aggs = reporting.pii_bar_aggregates(pipeline_result)
        assert set(aggs["value_counts"]) == set(reporting.PII_COLUMNS)
        assert set(aggs["summary"]) == set(reporting.PII_COLUMNS)
        total_rows = pipeline_result.count()
        for col, counts in aggs["value_counts"].items():
            assert sum(r["cnt"] for r in counts) <= total_rows
            assert len(counts) <= 30
