"""SparkSession factory with scale-minded defaults.

The knobs here are the ones that matter both on ``local[32]`` (the test rig)
and on a real multi-executor cluster:

  * AQE on (runtime coalescing, skew-join splitting) — the dedup hash groups
    are skew-prone because all-null/empty documents canonicalise to one key
    (reference: duplication.py:39-40 maps null -> "").
  * ``spark.sql.shuffle.partitions`` sized to the parallelism of the rig, not
    the 200 default; AQE coalesces further at runtime.
  * Arrow enabled for every pandas-UDF exchange.
  * Session timezone pinned to UTC so timestamp semantics match the DuckDB
    oracle (DuckDB timestamps are UTC-naive).
  * ``nanosAsLong`` because the test ``events`` table carries parquet
    TIMESTAMP(NANOS) which Spark does not read natively; sources/events.py
    converts to microsecond timestamps (DuckDB-equivalent truncation).
  * ``spark.sql.codegen.cache.maxEntries`` raised from 100 to
    ``CODEGEN_CACHE_ENTRIES``. A long-lived application runs the same plans
    again and again (an incremental near-dedup night, a CLI pass). Writing
    perfbench's index and running one night compiles about 180 distinct
    generated classes, so a 100-entry LRU cache evicts them before they come
    round again: every warm night Janino-compiled 131 classes with
    byte-identical source. With the larger cache a warm night compiles 0-4
    and a warm CLI pass 3, the classes that inline the run's ``ingest_ts``
    literal (25-47 before). Spark also keys the cache by class loader, and
    a class first generated on the thread that plans the query in one pass
    may be generated on a task thread in the next, so a few classes can
    compile once per loader. The setting is static: a reused session keeps
    its own value, and ``get_spark`` logs a warning naming the setting when
    it is smaller.
  * Python call-site capture off (``spark.python.sql.dataFrameDebugging.
    enabled=false``). PySpark 4 otherwise records the Python ``file:line`` on
    every Column call, at about 5 py4j round trips per call. Building
    ``run_pipeline``'s plan took ~5,000 round trips with it and ~2,100
    without; a night ~13.6k and ~5.2k. The trade-off: a runtime error keeps
    its error class, values and operation name but loses the Python
    ``file:line`` (``"plus" was called from …`` instead of ``"__add__" was
    called from <file>:<line>``).

Neither of the last two changes a plan or an output. Together with the
class naming in ``RUNTIME_DEFAULTS`` they raised perfbench ``index_nightly``
docs/s from 31.3 to 40.9 (medians of 10 alternating fresh-JVM pairs, 4 vCPUs,
``local[2]``).
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# About 5x the largest measured per-run count (~180 generated classes for
# perfbench's index set-up plus one night), with room for an application
# that runs several plan families in one JVM.
CODEGEN_CACHE_ENTRIES = 1000
CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
CALL_SITE_KEY = "spark.python.sql.dataFrameDebugging.enabled"

# Runtime-settable defaults: a new session is built with them and a reused
# one gets them re-applied, so both behave the same.
RUNTIME_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE rewrites sort-merge joins to shuffled-hash at runtime when
    # EVERY post-shuffle partition of the build side is under this
    # threshold (guide §3.1) — skipping the sort where a per-partition
    # hash table provably fits. Landed round 16 after a quiet-machine
    # alternating fresh-JVM A/B (the r15 attempts were inconclusive on
    # noisy VMs): near_index_e2e 25.0/26.4/24.5 s vs default
    # 25.7/26.6/25.6, pipeline_minhash_e2e 49.4/50.3 vs 50.3/52.5 —
    # 5/5 paired rounds faster, ~2-4%. Scale-adaptive by construction:
    # a partition-size condition, not a plan hint — at 100 TB the
    # post-shuffle partitions exceed it and sort-merge engages as
    # before; outputs are join-strategy-independent (oracle-refereed).
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": str(128 * 1024 * 1024),
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Name every whole-stage class GeneratedIterator, not
    # GeneratedIteratorForCodegenStage<N>: AQE numbers codegen stages in the
    # order their query stages are planned, which varies with the order
    # concurrent stages finish, so otherwise an identical plan can produce
    # new class sources and miss the codegen cache (a toy index night at
    # local[4] recompiled 14-17 classes on some second nights). The stage id
    # stays in the plan and in the class's leading comment.
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the events testdata table is parquet TIMESTAMP(NANOS); without this
    # an externally-built session fails the read with PARQUET_TYPE_ILLEGAL
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # ...and some generations write it as TIMESTAMP(MICROS, adjusted=false),
    # which Spark would surface as TIMESTAMP_NTZ — a type watermarks and
    # unix_micros reject. With the session TZ pinned to UTC the instants
    # are identical either way, so read NTZ columns as plain TIMESTAMP.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}

_log = logging.getLogger(__name__)
_warned_apps: set[str] = set()


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "llm-pretraining-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Any already-active session is reused but patched with
    ``RUNTIME_DEFAULTS`` and call-site capture turned off, so the engine
    behaves consistently when the caller hands us its own session.
    """
    cpus = default_parallelism()
    parts = shuffle_partitions or cpus

    active = SparkSession.getActiveSession()
    if active is not None:
        _apply_runtime_conf(active, parts)
        return active

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(parts))
        .config(CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES))
        .config(CALL_SITE_KEY, "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**RUNTIME_DEFAULTS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _apply_runtime_conf(spark: SparkSession, shuffle_partitions: int) -> None:
    for k, v in RUNTIME_DEFAULTS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # pragma: no cover - config may be static in some deploys
            pass
    try:
        current = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        if current > 4 * shuffle_partitions:
            spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    except Exception:  # pragma: no cover
        pass
    _disable_call_site_capture()
    _check_codegen_cache(spark)


def _disable_call_site_capture() -> None:
    """Turn off PySpark's per-call call-site capture for a reused session.

    The conf is static, so a reused session keeps its value; but PySpark
    reads it only once per process, into
    ``pyspark.errors.utils._enable_debugging_cache`` at the first Column
    call, and every later call checks that cached flag. Setting the flag
    holds whether or not the first call has already happened.
    """
    from pyspark.errors import utils

    if hasattr(utils, "_enable_debugging_cache"):
        utils._enable_debugging_cache = False


def _check_codegen_cache(spark: SparkSession) -> None:
    """Log one warning per application when the session's generated-code
    cache is smaller than the engine's (a static conf a reused session
    keeps)."""
    entries = int(spark.conf.get(CODEGEN_CACHE_KEY, "100"))
    app = spark.sparkContext.applicationId
    if entries < CODEGEN_CACHE_ENTRIES and app not in _warned_apps:
        _warned_apps.add(app)
        _log.warning(
            "%s is %d on this session, below the engine's %d: warm passes "
            "will recompile generated classes the cache evicted. It is a "
            "static conf; set it when the session is built.",
            CODEGEN_CACHE_KEY, entries, CODEGEN_CACHE_ENTRIES,
        )
