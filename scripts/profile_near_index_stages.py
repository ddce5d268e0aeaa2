#!/usr/bin/env python
"""Stage-level decomposition of the near_index_* bench entries
(guide §1): how much of build/e2e is the MinHash signature pass vs the
index write vs the pruned-read+verdict join.

Same fixture as bench.py's near_index entries (250k snap / 250k new).
Stages (noop-forced, REPEATS runs, min+median recorded):

  snap_hash     minhash_index_frame(ni_snap) -> noop  (build's hash share)
  build_write   write_minhash_index(...)              (one-off, repeats=1 each loop re-writes)
  new_hash      _new_banded_frame(ni_new) -> noop     (e2e's hash share)
  e2e           near_dedup_against_stored_index agg   (the bench entry)

Prints one JSON line.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from pyspark.sql import functions as F  # noqa: E402

from llm_pretraining_data_pipeline_spark import session  # noqa: E402
from llm_pretraining_data_pipeline_spark.operators import dedup as DD  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
COPIES = int(os.environ.get("BENCH_PIPELINE_COPIES", "100"))
REPEATS = int(os.environ.get("PROFILE_REPEATS", "3"))
NI_SIG_BUCKETS = 256


def main() -> int:
    spark = session.get_spark(
        app_name="profile_near_index_stages",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sc = spark.sparkContext

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copies = spark.range(COPIES).withColumnRenamed("id", "copy")
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

    timings: dict[str, dict] = {}

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    def timed(name: str, fn, repeats: int = REPEATS):
        runs = []
        for _ in range(repeats):
            sc.setJobDescription(f"profile:{name}")
            t0 = time.time()
            fn()
            runs.append(round(time.time() - t0, 3))
        sc.setJobDescription(None)
        timings[name] = {
            "min": min(runs),
            "median": sorted(runs)[len(runs) // 2],
            "runs": runs,
        }

    ni_dir = tempfile.mkdtemp(prefix="profile_near_index_")
    try:
        timed(
            "snap_hash",
            lambda: noop(DD.minhash_index_frame(ni_snap, "text")),
        )
        timed(
            "build_write",
            lambda: DD.write_minhash_index(
                DD.minhash_index_frame(ni_snap, "text"),
                f"{ni_dir}/idx",
                sig_buckets=NI_SIG_BUCKETS,
            ),
        )
        timed(
            "new_hash",
            lambda: noop(DD._new_banded_frame(ni_new, "text", id_col="doc_id")),
        )
        timed(
            "e2e",
            lambda: DD.near_dedup_against_stored_index(
                ni_new, f"{ni_dir}/idx", threshold=0.7,
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_known_near").cast("long")).alias("flagged"),
            )
            .collect(),
        )
    finally:
        shutil.rmtree(ni_dir, ignore_errors=True)

    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "timings": timings}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
