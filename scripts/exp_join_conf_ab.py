#!/usr/bin/env python
"""Isolated A/B of join-strategy configs on the two heaviest bench
entries (guide §3.1): each invocation runs ONE entry in ONE fresh JVM
with the conf set from argv, prints one JSON line. Drive it
alternating A/B/A/B from the shell so session drift cancels.

Usage: python scripts/exp_join_conf_ab.py ENTRY CONF_JSON
  ENTRY ∈ {near_index_e2e, pipeline_minhash_e2e, minhash_lsh_dedup}
  CONF_JSON: extra spark confs, e.g.
    '{"spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold":"134217728"}'
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
COPIES = int(os.environ.get("BENCH_PIPELINE_COPIES", "100"))


def main() -> int:
    entry, conf = sys.argv[1], json.loads(sys.argv[2] or "{}")
    from pyspark.sql import functions as F

    from llm_pretraining_data_pipeline_spark.operators import dedup as DD
    from llm_pretraining_data_pipeline_spark.plans import pipeline as P
    from llm_pretraining_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=f"exp_join_{entry}",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false", **conf},
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copies = spark.range(COPIES).withColumnRenamed("id", "copy")
    # JVM warm-up as in bench.py
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().count()

    out = {"entry": entry, "conf": conf}
    if entry == "near_index_e2e":
        ni_base = (
            docs.crossJoin(copies)
            .select(
                (F.col("doc_id") * COPIES + F.col("copy")).alias("doc_id"),
                "text",
            )
            .repartition(CPUS)
        )
        ni_snap = ni_base.where(F.col("doc_id") % 2 == 0)
        ni_new = ni_base.where(F.col("doc_id") % 2 == 1)
        ni_dir = tempfile.mkdtemp(prefix="exp_join_ni_")
        try:
            DD.write_minhash_index(
                DD.minhash_index_frame(ni_snap, "text"),
                f"{ni_dir}/idx", sig_buckets=256,
            )
            reps = int(os.environ.get("EXP_REPEATS", "1"))
            runs = []
            for _ in range(reps):
                t0 = time.time()
                row = (
                    DD.near_dedup_against_stored_index(
                        ni_new, f"{ni_dir}/idx", threshold=0.7,
                    )
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.sum(
                            F.col("is_known_near").cast("long")
                        ).alias("fl"),
                    )
                    .collect()[0]
                )
                runs.append(round(time.time() - t0, 3))
            out["sec"] = runs[0]
            out["runs"] = runs
            out["min"] = min(runs)
            out["n"], out["flagged"] = int(row["n"]), int(row["fl"])
        finally:
            shutil.rmtree(ni_dir, ignore_errors=True)
    elif entry == "pipeline_minhash_e2e":
        raw = (
            docs.crossJoin(copies)
            .select(
                F.concat(
                    F.lit("http://bench/"), F.col("doc_id"), F.lit("/"),
                    F.col("copy"),
                ).alias("url"),
                "text",
            )
            .repartition(CPUS)
        )
        t0 = time.time()
        row = (
            P.run_pipeline(
                raw,
                P.PipelineConfig(
                    use_nfkc=True, apply_lang_filter=False,
                    use_minhash_dedup=True, tokenizer_backend="regex",
                ),
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.length("text_pii_masked")).alias("chars"),
                F.sum("n_tokens").alias("toks"),
                F.sum(
                    F.length(F.coalesce("drop_reason", F.lit("")))
                ).alias("reasons"),
                F.sum("quality_score").alias("quality"),
                F.sum(F.length("subset")).alias("subsets"),
            )
            .collect()[0]
        )
        out["sec"] = round(time.time() - t0, 3)
        out["n"] = int(row["n"])
        out["reasons"] = int(row["reasons"])
    elif entry == "minhash_lsh_dedup":
        t0 = time.time()
        out["n"] = DD.minhash_lsh_candidates(
            docs, "text", num_hashes=32, bands=8
        ).count()
        out["sec"] = round(time.time() - t0, 3)
    else:
        raise SystemExit(f"unknown entry {entry}")
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
