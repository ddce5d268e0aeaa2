"""Reporting layer: the reference's metrics_summary.json golden-output shape
(reports/metrics_summary.json:1-52, produced by plots_charts.py:111-340).

Everything heavy is a Spark aggregation; only scalar aggregates and ≤100-row
histograms reach the driver. PNG rendering is gated behind matplotlib
availability (aggregates are the contract; plots are presentation).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.operators.aggregates import (
    drop_reason_counts,
    histogram,
)


@contextmanager
def _cached(df: DataFrame) -> Iterator[DataFrame]:
    """``df`` cached for the block: a frame the caller has not cached is
    cached here and unpersisted after; a cached one is left cached."""
    owned = df.storageLevel == StorageLevel.NONE
    if owned:
        df = df.cache()
    try:
        yield df
    finally:
        if owned:
            df.unpersist()


def _stats_aggs(col: str, kept: Column) -> list[Column]:
    """count/mean/min/exact median/max of ``col`` over the kept rows, as
    columns of a global aggregation (nulls, i.e. dropped rows, are skipped)."""
    v = F.when(kept, F.col(col))
    return [
        F.count(v).alias(f"{col}.count"),
        F.avg(v).alias(f"{col}.mean"),
        F.min(v).alias(f"{col}.min"),
        F.median(v).alias(f"{col}.median"),
        F.max(v).alias(f"{col}.max"),
    ]


def _stats_block(row: dict, col: str) -> dict:
    def num(stat: str) -> float | None:
        v = row[f"{col}.{stat}"]
        return None if v is None else float(v)

    return {"count": int(row[f"{col}.count"] or 0), "mean": num("mean"),
            "min": num("min"), "median": num("median"), "max": num("max")}


def _by_count(counts: dict) -> dict:
    """Count-descending, then by name — ``drop_reason_counts``' order."""
    return dict(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0] or "")))


def metrics_summary(result: DataFrame) -> dict:
    """Reference-shaped run summary from the fused pipeline result frame.

    Mirrors the blocks of reports/metrics_summary.json (stage counts,
    n_tokens distribution, quality/subset distribution, PII totals, drop
    reasons) in two aggregations: one global ``agg`` over every row (the
    kept-row blocks are ``when(kept, ...)`` columns, the median exact), and
    one ``groupBy(drop_reason, subset, lang).count()`` that the driver folds
    into the subsets, lang and drop_reasons blocks, each ordered by count
    descending, then name. A frame the caller has not cached is cached for
    the two and unpersisted after; a cached one is left cached.
    """
    with _cached(result) as result:
        kept = F.col("drop_reason").isNull()
        pii = {"email": "pii_email_hits", "phone": "pii_phone_hits",
               "cc": "pii_cc_hits", "iban": "pii_iban_hits"}
        row = result.agg(
            F.count(F.lit(1)).alias("input"),
            F.count_if(kept).alias("kept"),
            *_stats_aggs("n_tokens", kept),
            F.sum(F.when(kept, F.col("n_tokens"))).alias("n_tokens.total"),
            *_stats_aggs("quality_score", kept),
            *[F.sum(F.when(kept, F.col(c))).alias(k) for k, c in pii.items()],
            F.count_if(kept & F.col("has_pii")).alias("docs_with_pii"),
        ).collect()[0].asDict()
        groups = result.groupBy("drop_reason", "subset", "lang").count().collect()

    subsets, langs, drops = Counter(), Counter(), Counter()
    for g in groups:
        if g["drop_reason"] is None:
            subsets[g["subset"]] += g["count"]
            langs[g["lang"]] += g["count"]
        else:
            drops[g["drop_reason"]] += g["count"]
    return {
        "docs": {
            "input": int(row["input"]),
            "kept": int(row["kept"]),
            "dropped": int(row["input"] - row["kept"]),
        },
        "n_tokens": {**_stats_block(row, "n_tokens"),
                     "total": int(row["n_tokens.total"] or 0)},
        "quality_score": _stats_block(row, "quality_score"),
        "subsets": _by_count(subsets),
        "lang": _by_count(langs),
        "pii": {k: int(row[k] or 0) for k in (*pii, "docs_with_pii")},
        "drop_reasons": _by_count(drops),
    }


# The reference's full render set (plots_charts.py:144-259): 9 metric
# histograms (n_tokens..stopword_ratio) + 4 per-type PII bar charts + the PII
# summary bar. (col, bins) mirror the reference's save_histogram calls.
REFERENCE_HISTOGRAMS: list[tuple[str, int]] = [
    ("n_tokens", 80),
    ("char_len", 80),
    ("word_count", 80),
    ("lang_score", 50),
    ("quality_score", 50),
    ("alpha_ratio", 50),
    ("repetition_ratio", 50),
    ("unique_token_ratio", 50),
    ("stopword_ratio", 50),
]
PII_COLUMNS = ["pii_email_hits", "pii_phone_hits", "pii_cc_hits", "pii_iban_hits"]


def _describe_block(df: DataFrame, col: str) -> dict:
    """pandas ``Series.describe()`` twin as ONE Spark aggregation
    (plots_charts.py:97-106 series_describe_for_json)."""
    row = df.filter(F.col(col).isNotNull()).agg(
        F.count(col).alias("count"),
        F.avg(col).alias("mean"),
        F.stddev(col).alias("std"),
        F.min(col).alias("min"),
        F.expr(f"percentile({col}, 0.25)").alias("p25"),
        F.expr(f"percentile({col}, 0.5)").alias("p50"),
        F.expr(f"percentile({col}, 0.75)").alias("p75"),
        F.max(col).alias("max"),
    ).collect()[0]
    if not row["count"]:
        return {}
    return {
        "count": float(row["count"]),
        "mean": float(row["mean"]),
        "std": float(row["std"]) if row["std"] is not None else 0.0,
        "min": float(row["min"]),
        "25%": float(row["p25"]),
        "50%": float(row["p50"]),
        "75%": float(row["p75"]),
        "max": float(row["max"]),
    }


def render_report(result: DataFrame, plots_dir: str, reports_dir: str) -> dict:
    """Full reference reporting parity over the fused pipeline result
    (plots_charts.py main(): 9 histograms, 4 PII bars + summary bar,
    metrics.json, pii_stats.csv, drop_reason_counts.csv).

    Spark does every aggregation (histogram bins, value counts, describes);
    the driver only renders ≤100-row aggregates with matplotlib. The
    reference reads per-stage parquet checkpoints; the fused frame carries
    all stage columns, so kept rows stand in for the stage-N "clean" frames
    and the whole frame for the dropped-row concat. Returns
    {"plots": [...], "reports": [...]} of written paths. A frame the caller
    has cached stays cached.
    """
    import json
    import os

    os.makedirs(reports_dir, exist_ok=True)
    with _cached(result) as result:
        kept = result.filter(F.col("drop_reason").isNull())
        written: dict = {"plots": [], "reports": []}

        # ---- 9 metric histograms + 4 PII bars + summary (matplotlib-gated)
        written["plots"] += render_histograms(
            kept, plots_dir,
            cols=[c for c, _ in REFERENCE_HISTOGRAMS],
            bins_by_col=dict(REFERENCE_HISTOGRAMS),
            file_prefix="hist_",
        )
        written["plots"] += render_pii_bars(result, plots_dir)

        # ---- metrics.json (plots_charts.py:262-340)
        metrics: dict = {}
        for col in ("n_tokens", "lang_score", "quality_score"):
            if col in kept.columns:
                metrics[col] = _describe_block(kept, col)
        if "subset" in kept.columns:
            metrics["subset_counts"] = {
                str(r["subset"]): int(r["cnt"])
                for r in kept.groupBy("subset").agg(F.count(F.lit(1)).alias("cnt")).collect()
            }
        totals = result.agg(
            F.count(F.lit(1)).alias("input_rows"),
            F.count_if(F.col("drop_reason").isNull()).alias("kept_rows"),
        ).collect()[0]
        metrics["counts"] = {
            "input_rows": int(totals["input_rows"]),
            "kept_rows": int(totals["kept_rows"]),
            "dropped_rows": int(totals["input_rows"] - totals["kept_rows"]),
        }
        pii_agg_cols = [c for c in PII_COLUMNS if c in result.columns]
        if pii_agg_cols:
            aggs = [F.sum(c).alias(c) for c in pii_agg_cols]
            if "has_pii" in result.columns:
                aggs.append(F.count_if(F.col("has_pii")).alias("has_pii"))
            metrics["pii_aggregate"] = {
                k: int(v or 0) for k, v in result.agg(*aggs).collect()[0].asDict().items()
            }
        metrics_path = os.path.join(reports_dir, "metrics.json")
        with open(metrics_path, "w", encoding="utf-8") as f:
            json.dump(metrics, f, indent=2)
        written["reports"].append(metrics_path)

        # ---- pii_stats.csv (full column dump, Spark CSV writer) + drop counts
        if pii_agg_cols:
            from llm_pretraining_data_pipeline_spark.sources.io import write_csv_report

            pii_path = os.path.join(reports_dir, "pii_stats.csv")
            cols = pii_agg_cols + (["has_pii"] if "has_pii" in result.columns else [])
            write_csv_report(result.select(*cols), pii_path)
            written["reports"].append(pii_path)

        drop_path = os.path.join(reports_dir, "drop_reason_counts.csv")
        from llm_pretraining_data_pipeline_spark.sources.io import write_csv_report

        write_csv_report(drop_reason_counts(result), drop_path)
        written["reports"].append(drop_path)

    return written


def pii_bar_aggregates(result: DataFrame) -> dict:
    """Spark side of the reference's PII bars (plots_charts.py:238-259):
    per-type top-30 value counts + the summary sums. Always computable —
    rendering (render_pii_bars) is the matplotlib-gated presentation layer."""
    present = [c for c in PII_COLUMNS if c in result.columns]
    out: dict = {"value_counts": {}, "summary": {}}
    for col in present:
        out["value_counts"][col] = (
            result.filter(F.col(col).isNotNull())
            .groupBy(col)
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.col(col))
            .limit(30)
            .collect()
        )
    if present:
        sums = result.agg(*[F.sum(c).alias(c) for c in present]).collect()[0]
        out["summary"] = {c: int(sums[c] or 0) for c in present}
    return out


def render_pii_bars(result: DataFrame, out_dir: str) -> list[str]:
    """The reference's 4 per-type PII ``value_counts`` bars + the summary bar
    (plots_charts.py:238-259). Spark aggregates; driver renders."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:
        return []

    import os

    os.makedirs(out_dir, exist_ok=True)
    written = []
    aggs = pii_bar_aggregates(result)
    for col, counts in aggs["value_counts"].items():
        if not counts:
            continue
        fig, ax = plt.subplots(figsize=(10, 6))
        ax.bar([str(r[col]) for r in counts], [r["cnt"] for r in counts])
        ax.set_title(f"{col} Distribution")
        ax.set_xlabel(col)
        ax.set_ylabel("Count")
        path = os.path.join(out_dir, f"bar_{col}.png")
        fig.savefig(path)
        plt.close(fig)
        written.append(path)
    if len(aggs["summary"]) == len(PII_COLUMNS):
        fig, ax = plt.subplots(figsize=(8, 5))
        ax.bar(list(aggs["summary"]), list(aggs["summary"].values()))
        ax.set_title("PII Hit Summary by Type")
        ax.set_ylabel("Total Hits")
        path = os.path.join(out_dir, "bar_pii_summary.png")
        fig.savefig(path)
        plt.close(fig)
        written.append(path)
    return written


def render_histograms(result: DataFrame, out_dir: str,
                      cols: list[str] | None = None,
                      bins_by_col: dict[str, int] | None = None,
                      file_prefix: str = "") -> list[str]:
    """S7 plot sink: Spark-side histogram aggregation, matplotlib rendering
    driver-side. Returns written paths; no-op (empty list) without matplotlib."""
    try:
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt
    except ImportError:
        return []

    import os

    os.makedirs(out_dir, exist_ok=True)
    written = []
    for col in cols or ["n_tokens", "quality_score"]:
        if col not in result.columns:
            continue
        n_bins = (bins_by_col or {}).get(col, 50)
        bins = histogram(
            result.filter(F.col(col).isNotNull()), col, bins=n_bins
        ).collect()
        if not bins:
            continue
        fig, ax = plt.subplots(figsize=(8, 4))
        ax.bar([r.bin_lo for r in bins], [r["count"] for r in bins],
               width=[r.bin_hi - r.bin_lo for r in bins], align="edge")
        ax.set_title(f"{col} distribution")
        name = f"{file_prefix}{col}.png" if file_prefix else f"{col}_hist.png"
        path = os.path.join(out_dir, name)
        fig.savefig(path)
        plt.close(fig)
        written.append(path)
    return written
