"""Run one benchmark workload in a fresh JVM and print its metrics.

    python3 perfbench/run.py --workload pipeline_cli --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is ``{"meta": ...}`` (environment, host readings, per-pass
figures). Everything else (Spark's log, the CLI's own JSON line) goes to
standard error. ``--trace 0`` reports the end-to-end metrics of one timed,
untraced pass after the warm-up; ``--trace 1`` re-runs that pass layer by
layer and reports the per-layer metrics instead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

PACKAGE = "llm_pretraining_data_pipeline_spark"

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "1/s",
    "cpu_s_per_kdoc": "s",
    "peak_rss_mb": "MB",
    "output_mb": "MB",
    "stored_bytes_per_doc": "B",
    "near_dup_recall": "ratio",
    "dup_precision": "ratio",
}

_STAGES = ("ingest", "clean_filter", "deep_clean_pii", "dedup", "score_mixture", "tokenise")
_SELF_SPANS = (
    "sources.read_jsonl", "dedup.lsh_candidates", "dedup.jaccard_verify",
    "dedup.connected_components", "index.sig", "index.read_for_batch",
    "index.verdict", "index.append", "sharding.assign_shards",
    "exports.write_sharded_jsonl", "exports.write_text_jsonl",
    "reporting.metrics_summary",
)
_DROPS = (
    "too_short_chars", "too_long", "low_alpha_ratio", "high_repetition",
    "repetitive_token_spam", "pii_heavy", "blocked_url", "exact_duplicate",
    "near_duplicate", "non_english", "lang_unknown", "low_lang_confidence",
    "minhash_duplicate", "other",
)
PER_LAYER = (
    {"session.start_s": "s"}
    | {f"pipeline.{s}.{m}": u for s in _STAGES for m, u in (
        ("self_s", "s"), ("task_s", "s"), ("python_cpu_s", "s"),
        ("shuffle_mb", "MB"), ("rows_dropped", "count"))}
    | {f"pipeline.drop.{r}": "count" for r in _DROPS}
    | {f"{s}.self_s": "s" for s in _SELF_SPANS}
    | {
        "dedup.candidate_pairs": "count", "dedup.verified_pairs": "count",
        "dedup.verify_yield": "ratio", "quality.false_dup_rate": "ratio",
        "index.files_read": "count", "index.files_total": "count",
        "index.files_read_pct": "%", "index.bytes_read_mb": "MB",
        "index.candidate_pairs": "count", "index.mb": "MB",
        "exports.files": "count", "exports.mb": "MB",
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.failed_tasks": "count", "spark.gc_s": "s", "spark.spill_mb": "MB",
        "spark.shuffle_mb": "MB", "python.cpu_share": "ratio",
        "host.probe_s": "s", "trace.overhead_pct": "%",
    }
)


def _pin_environment(root: str, work: str, cpus: int) -> dict:
    """Settings that must hold before the JVM starts; returned for the
    run's metadata."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = {
        # session.py would otherwise ask for 16g
        "SPARK_DRIVER_MEMORY": "1g",
        "SPARK_GRAFT_CPUS": str(cpus),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, spark-submit's launcher included: temp files in the
        # checkout, no /tmp/hsperfdata_* files
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def _start_session(work: str, cpus: int):
    from llm_pretraining_data_pipeline_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark, end the JVM, and wait until every process the run
    started (the JVM, its Python daemon and workers) has ended."""
    from pyspark import SparkContext

    from perfbench import procs

    started = [p for p in procs.descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    for grace in (20, 10):
        deadline = time.time() + grace
        while time.time() < deadline and any(procs.alive(p) for p in started):
            time.sleep(0.1)
        for p in filter(procs.alive, started):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _layer_metrics(tracer, extra: dict) -> dict:
    values = dict.fromkeys(PER_LAYER, 0.0)
    names = {s["name"] for s in tracer.spans}
    for stage in _STAGES:
        name = f"pipeline.{stage}"
        if name in names:
            rec = tracer.get(name)
            values[f"{name}.self_s"] = tracer.self_s(name)
            values[f"{name}.task_s"] = rec["spark"]["executorRunTime"] / 1000
            values[f"{name}.python_cpu_s"] = rec["python_cpu_s"]
            values[f"{name}.shuffle_mb"] = (
                rec["spark"]["shuffleReadBytes"] + rec["spark"]["shuffleWriteBytes"]
            ) / 1e6
    for span in _SELF_SPANS:
        if span in names:
            values[f"{span}.self_s"] = tracer.self_s(span)
    if "index.read_for_batch" in names:
        read = tracer.get("index.read_for_batch")["spark"]
        values["index.files_read"] = read["files_read"]
        values["index.bytes_read_mb"] = read["inputBytes"] / 1e6
    totals = {
        k: sum(s["spark"][k] for s in tracer.spans)
        for k in ("jobs", "stages", "numTasks", "numFailedTasks", "jvmGcTime",
                  "memoryBytesSpilled", "diskBytesSpilled", "shuffleReadBytes",
                  "shuffleWriteBytes")
    }
    values["spark.jobs"] = totals["jobs"]
    values["spark.stages"] = totals["stages"]
    values["spark.tasks"] = totals["numTasks"]
    values["spark.failed_tasks"] = totals["numFailedTasks"]
    values["spark.gc_s"] = totals["jvmGcTime"] / 1000
    values["spark.spill_mb"] = (totals["memoryBytesSpilled"] + totals["diskBytesSpilled"]) / 1e6
    values["spark.shuffle_mb"] = (totals["shuffleReadBytes"] + totals["shuffleWriteBytes"]) / 1e6
    values.update(extra)
    if values["index.files_total"]:
        values["index.files_read_pct"] = 100.0 * values["index.files_read"] / values["index.files_total"]
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unregistered per-layer metrics: {sorted(unknown)}")
    return values


def _run(args, root: str, work: str, cpus: int, meta: dict) -> dict:
    from perfbench import procs, spans, workloads

    probe_before = procs.host_snapshot()
    t0 = time.perf_counter()
    spark = _start_session(work, cpus)
    session_s = time.perf_counter() - t0
    from pyspark import SparkContext

    ctx = workloads.Ctx(spark, work, args.seed, SparkContext._gateway.proc.pid)
    wl = workloads.WORKLOADS[args.workload](args.scale)
    try:
        t0 = time.perf_counter()
        wl.setup(ctx)
        prepare_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        # untimed: JIT, codegen, worker spawn
        warm = [wl.run_pass(ctx, 0, warmup=True) for _ in range(wl.warmup_passes)]
        warmup_s = time.perf_counter() - t0
        # one timed pass; its input is sized so it takes about --seconds
        # (10 s on 4 vCPUs), and a second would not fit the run budget
        timed = wl.run_pass(ctx, 1)
        layer = None
        if args.trace:
            tracer = spans.Tracer(spark, ctx.worker_pids)
            cpu0 = ctx.tree_cpu()
            with tracer.span("trace"):
                extra, trace_problems = wl.trace(ctx, tracer)
            traced_cpu = ctx.tree_cpu() - cpu0
            tracer.collect_ledger()
            out_dir = os.path.join(root, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.write(os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json"))
            root_span = tracer.get("trace")
            traced_s = root_span["end"] - root_span["start"]
            py_cpu = sum(s["python_cpu_s"] for s in tracer.spans if s["parent"] == "trace")
            extra |= {
                "session.start_s": session_s,
                "python.cpu_share": py_cpu / traced_cpu if traced_cpu > 0 else 0.0,
                "trace.overhead_pct": 100.0 * (traced_s - timed["wall_s"]) / timed["wall_s"],
                "quality.false_dup_rate": wl.quality[2],
            }
            layer = extra
        rss = procs.peak_rss_mb(ctx.tree_pids())
    finally:
        _stop_session(spark)
    probe_after = procs.host_snapshot()
    if layer is not None:
        layer["host.probe_s"] = (probe_before["probe_s"] + probe_after["probe_s"]) / 2
        metrics = {
            k: {"value": v, "unit": PER_LAYER[k]}
            for k, v in _layer_metrics(tracer, layer).items()
        }
    else:
        recall, precision, _ = wl.quality
        values = {
            # the inputs' generation is the benchmark's own work, not set-up
            "setup_s": session_s + prepare_s - wl.generate_s + warmup_s,
            "docs_per_s": wl.n_docs / timed["wall_s"],
            "cpu_s_per_kdoc": timed["cpu_s"] / (wl.n_docs / 1000),
            "peak_rss_mb": rss,
            "output_mb": timed["output_bytes"] / 1e6,
            "stored_bytes_per_doc": timed["stored_bytes_per_doc"],
            "near_dup_recall": recall,
            "dup_precision": precision,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    checked = warm + [timed]
    if layer is not None:
        checked.append({"problems": trace_problems})
    failed = [p for p in checked if p["problems"]]
    meta.update({
        "workload": args.workload,
        "seed": args.seed,
        "cpus": cpus,
        "docs_per_pass": wl.n_docs,
        "session_s": session_s,
        "prepare_s": prepare_s,
        "generate_s": wl.generate_s,
        "warmup_s": warmup_s,
        "warmup_wall_s": [p["wall_s"] for p in warm],
        "pass_wall_s": timed["wall_s"],
        "pass_cpu_s": timed["cpu_s"],
        "false_dup_rate": wl.quality[2],
        "problems": [q for p in failed for q in p["problems"]][:20],
        "host_before": probe_before,
        "host_after": probe_after,
        "steal_ticks_delta": probe_after["steal_ticks"] - probe_before["steal_ticks"],
        "cli_stdout": getattr(wl, "cli_lines", [None])[:1],
        "tokenizer_backend": getattr(wl, "tokenizer", None),
    })
    return {
        "correct": not failed,
        "attempted": len(checked),
        "failed": len(failed),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pipeline_cli", "index_nightly"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="nominal measuring time; the one timed pass has a fixed size")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="shrink the inputs (smoke tests); figures are then not comparable")
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"run from the root of a checkout: no {PACKAGE}/ in {root}", file=sys.stderr)
        return 2
    sys.path[0] = root  # not perfbench/: its module names are not top-level
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    meta = {"env": _pin_environment(root, work, cpus)}
    real_stdout = os.dup(1)
    os.dup2(2, 1)  # Spark and the CLI print to stdout; keep it for the result
    try:
        result = _run(args, root, work, cpus, meta)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    os.write(real_stdout, (json.dumps({"meta": meta}) + "\n" + json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
