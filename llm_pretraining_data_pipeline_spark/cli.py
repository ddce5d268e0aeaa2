"""Console entry point: the engine's equivalent of the reference's
``python run_pipeline.py`` (run_pipeline.py:24-69 there — eight
subprocesses passing parquet files; here one SparkSession and either a
single fused plan or reference-style per-stage checkpoints). Installed as
``llm-pipeline-spark`` by pyproject.toml; ``scripts/run_pipeline.py``
delegates here for in-repo use.

Usage:
    llm-pipeline-spark --input raw.jsonl --out outdir
        [--checkpointed] [--no-nfkc] [--no-lang-filter] [--trigram-langid]
        [--docs-per-shard N] [--cpus N]

Outputs under --out:
    final.parquet/            full result frame (kept + dropped, all columns)
    train_shards/             sharded tokenised JSONL (shard_id=K dirs)
    text.jsonl/               stage-8 text export
    manifest.json             shard manifest
    metrics_summary.json      reference-shaped run summary
    drop_reason_counts.csv/   drop-reason report
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="llm-pipeline-spark")
    ap.add_argument("--input", required=True, help="line-delimited JSON with url/text")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpointed", action="store_true",
                    help="write reference-style per-stage parquet checkpoints")
    ap.add_argument("--no-nfkc", action="store_true")
    ap.add_argument("--no-lang-filter", action="store_true")
    ap.add_argument("--trigram-langid", action="store_true")
    ap.add_argument("--docs-per-shard", type=int, default=50_000)
    ap.add_argument(
        "--hashed-shards", type=int, default=0, metavar="N",
        help="use HASH sharding into N shards for the training export "
             "(the 100 TB path: fully parallel write, no global-order "
             "window; shard sizes statistically equal). 0 = reference-"
             "style positional shards of --docs-per-shard docs",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from llm_pretraining_data_pipeline_spark.operators import reporting, sharding
    from llm_pretraining_data_pipeline_spark.plans import exports
    from llm_pretraining_data_pipeline_spark.plans import pipeline as P
    from llm_pretraining_data_pipeline_spark.session import get_spark
    from llm_pretraining_data_pipeline_spark.sources import io as src

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = get_spark(app_name="run-pipeline", master=master)
    cfg = P.PipelineConfig(
        use_nfkc=not args.no_nfkc,
        apply_lang_filter=not args.no_lang_filter,
        langid_trigrams=args.trigram_langid,
        docs_per_shard=args.docs_per_shard,
    )

    t0 = time.time()
    raw = src.read_jsonl(spark, args.input)
    if args.checkpointed:
        paths = P.run_pipeline_checkpointed(spark, raw, args.out, cfg)
        result = spark.read.parquet(paths["tokenise"])
    else:
        result = P.run_pipeline(raw, cfg)
    result = result.cache()
    try:
        os.makedirs(args.out, exist_ok=True)
        result.write.mode("overwrite").parquet(f"{args.out}/final.parquet")
        if args.hashed_shards > 0:
            kept = sharding.assign_shards_hashed(
                P.kept(result), num_shards=args.hashed_shards
            )
        else:
            kept = sharding.assign_shards(
                P.kept(result), docs_per_shard=args.docs_per_shard
            )
        manifest = exports.write_sharded_jsonl(kept, f"{args.out}/train_shards")
        exports.write_manifest(manifest, f"{args.out}/manifest.json")
        exports.write_text_jsonl(P.kept(result), f"{args.out}/text.jsonl")
        summary = reporting.metrics_summary(result)
    finally:
        # the cache is keyed by plan: left in place, a later run over the
        # same input path in this JVM would be served these rows
        result.unpersist()
    # drop_reason_counts(result)'s rows and order, from the summary's counts;
    # literals, not a Python-list frame, which would start Python workers
    counts = F.array(*[
        F.struct(F.lit(r), F.lit(n)) for r, n in summary["drop_reasons"].items()
    ])
    src.write_csv_report(
        spark.range(1).select(
            F.inline(counts.cast("array<struct<drop_reason:string,count:bigint>>"))
        ),
        f"{args.out}/drop_reason_counts.csv",
    )
    summary["wall_seconds"] = round(time.time() - t0, 2)
    with open(f"{args.out}/metrics_summary.json", "w") as f:
        json.dump(summary, f, indent=2, default=str)

    print(json.dumps({
        "input_docs": summary["docs"]["input"],
        "kept_docs": summary["docs"]["kept"],
        "total_tokens": summary["n_tokens"]["total"],
        "num_shards": manifest["num_shards"],
        "wall_seconds": summary["wall_seconds"],
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
