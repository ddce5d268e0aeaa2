"""Skew, co-location & spread utilities for the 100 TB path.

Three standard techniques against skew, each with its trade-off documented:

  * AQE skew-join splitting — free, on by default (session.py); handles
    skewed SHUFFLE joins at runtime. First choice.
  * ``salted_join`` — explicit salting for when AQE can't help (e.g. the
    skewed side must also aggregate on the hot key, or the engine predates
    AQE): replicate the dim row R ways, scatter the fact's hot keys across
    R sub-keys.
  * bucketed tables (``write_bucketed``) — pre-shuffle once at write time so
    every later equi-join/agg on the bucket key runs exchange-free.

And the opposite case, too few partitions rather than an uneven spread:
``spread_small_input`` deals a small input out over every core.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# An exchange node's line (Exchange, BroadcastExchange, ReusedExchange) in
# a physical plan's tree string.
_EXCHANGE = re.compile(r"^[\s:+\-]*\w*Exchange\b", re.MULTILINE)


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    salt_buckets: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with the fact side's hot keys scattered over salt buckets.

    fact rows get a random-but-deterministic salt (hash of a row-unique
    expression mod R); dim rows are replicated R times, one per salt value.
    Output equals ``fact.join(dim, key, how)`` row-for-row.
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]), F.lit(salt_buckets))
    salted_fact = fact.withColumn("_salt", salt.cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    salted_dim = dim.withColumn("_salt", salts)
    out = salted_fact.join(salted_dim, [key, "_salt"], how)
    return out.drop("_salt")


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_key: str,
    num_buckets: int = 8,
    sort_by: str | None = None,
) -> None:
    """Persist as a bucketed (+optionally sorted) table: later joins and
    aggregations on ``bucket_key`` between co-bucketed tables need no
    Exchange (verified by tests/test_scale_paths.py)."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table_name)


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` over ``defaultParallelism`` partitions when its
    plan has fewer; otherwise return it unchanged.

    A small file (under ``maxPartitionBytes`` / ``openCostInBytes``) scans
    as one split, so the per-row CPU work above it would run on one core.
    Two callers spread such an input before that work: the pipeline's
    ``ingest`` (for the text chain of stages 2-4, after it has fixed
    ``row_order``) and ``operators.dedup``'s per-doc signature paths
    (MinHash, shingle sets, SimHash, embeddings). At 100 TB the scan
    already has far more splits than cores and this is a no-op, so the
    scale path stays shuffle-free and there is no knob.

    Plan inspection only: no job is run. A plan that already holds an
    exchange comes back unchanged, since reading its partition count would
    run a job at plan-build time: the map stage of a shuffle (whose
    partitions the shuffle sets anyway) or the build of a broadcast.
    Otherwise the count is read off the same physical plan's RDD.
    """
    try:
        plan = df._jdf.queryExecution().executedPlan()
        if _EXCHANGE.search(plan.toString()):
            return df
        nparts = plan.execute().getNumPartitions()
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:  # a streaming frame has no executed plan
        return df
    if 0 < nparts < target:
        return df.repartition(target)
    return df
