"""The benchmark's workloads. Each one generates its inputs from the seed,
runs timed passes through the package's public entry points, checks every
pass's outputs against the generator's labels, and can re-run one pass
layer by layer under a ``spans.Tracer``.

* ``pipeline_cli``: the product's entry point, ``cli.main``, on a JSONL
  corpus with every drop rule planted. The text chain, exact/prefix dedup
  and the exports do the work; the MinHash operators and the stored index
  do none.
* ``index_nightly``: one night of incremental near-dedup: the batch is
  deduplicated within itself by the batch MinHash path (LSH candidates,
  Jaccard verify, connected components), flagged against a stored MinHash
  index ~10x its size, then appended to it. Read cost, write cost and
  space all show in one workload; the text chain and exports do no work.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import time
from contextlib import redirect_stdout

from pyspark.sql import functions as F

from perfbench import corpus, procs

CLI_PAGES = 1200
WARMUP_PAGES = 60
INDEX_BASE_DOCS = 2500
INDEX_BATCH_DOCS = 250
WARMUP_BATCH_DOCS = 20
INDEX_BANDS = 8  # minhash_index_frame's default
# 4 x 8 bands = 32 partition directories. A night of this size touches all
# of them (a throughput night, not a pruning one); with 16 buckets the
# night's many small file operations made its wall time spread 15-25%
# over ten seeds.
INDEX_SIG_BUCKETS = 4

DUP_REASONS = ("exact_duplicate", "near_duplicate", "minhash_duplicate")
DROP_REASONS = (
    "too_short_chars", "too_long", "low_alpha_ratio", "high_repetition",
    "repetitive_token_spam", "pii_heavy", "blocked_url", "exact_duplicate",
    "near_duplicate", "non_english", "lang_unknown", "low_lang_confidence",
    "minhash_duplicate",
)


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
    return total


def data_files(path: str) -> list[str]:
    """Data files Spark wrote under ``path`` (no checksums or markers)."""
    return [
        os.path.join(root, n)
        for root, _, names in os.walk(path)
        for n in names
        if n.startswith("part-")
    ]


class Ctx:
    """What a workload needs from the run: the session, a scratch
    directory inside the checkout, and the process tree."""

    def __init__(self, spark, work: str, seed: int, jvm_pid: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.jvm_pid = jvm_pid

    def tree_pids(self) -> list[int]:
        return procs.descendants(os.getpid())

    def worker_pids(self) -> list[int]:
        return [p for p in procs.descendants(self.jvm_pid) if p != self.jvm_pid]

    def tree_cpu(self) -> float:
        return procs.cpu_seconds(self.tree_pids())

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _family(labels: dict[str, dict], url: str) -> str:
    label = labels.get(url)
    return (label or {}).get("source") or url


def dup_quality(labels: dict[str, dict], flagged: list[tuple[str, str]]
                ) -> tuple[float, float, float]:
    """``(recall, precision, false_dup_rate)`` of duplicate flags.

    ``flagged`` holds ``(url, canonical_url)`` for every page flagged as a
    duplicate. A planted copy is found when it is flagged as a copy of its
    own family (its source or another copy of that source); a flag is
    correct when page and canonical share a family. The false-duplicate
    rate is the share of fresh pages flagged outside their family.
    """
    copies = [u for u, lab in labels.items() if lab["source"] is not None]
    fresh = [u for u, lab in labels.items() if lab["category"] in ("fresh", "en")]
    hit = {u for u, canon in flagged if _family(labels, u) == _family(labels, canon)}
    flagged_urls = {u for u, _ in flagged}
    recall = sum(u in hit for u in copies) / max(len(copies), 1)
    precision = len(hit) / max(len(flagged_urls), 1)
    false_rate = sum(u in flagged_urls and u not in hit for u in fresh) / max(len(fresh), 1)
    return recall, precision, false_rate


def _write_inputs(ctx: Ctx, pages: list[dict], labels: list[dict], n_warmup: int) -> dict:
    """Write the pages and labels; returns ``{"timed": (path, labels),
    "warmup": (path, labels)}``. The warm-up input is a prefix of the
    pages: it runs the same plans (JIT, codegen, worker spawn) in less
    time, and every copy in it still follows its source."""
    os.makedirs(ctx.path("input"), exist_ok=True)
    corpus.write_jsonl(labels, ctx.path("input", "labels.jsonl"))
    out = {}
    for name, n in (("timed", len(pages)), ("warmup", n_warmup)):
        path = ctx.path("input", f"{name}.jsonl")
        corpus.write_jsonl(pages[:n], path)
        out[name] = (path, {lab["url"]: lab for lab in labels[:n]})
    return out


class Workload:
    name = ""
    warmup_passes = 1

    def __init__(self, scale: float = 1.0):
        """``scale`` shrinks the inputs (the self-tests' smoke runs)."""
        self.scale = scale
        self.quality = (0.0, 0.0, 0.0)

    def _n(self, n: int) -> int:
        return max(10, int(n * self.scale))

    def setup(self, ctx: Ctx) -> None:
        """Make the inputs and whatever a pass starts from; sets
        ``generate_s``, the part spent making the inputs."""
        raise NotImplementedError

    def run_pass(self, ctx: Ctx, i: int, warmup: bool = False) -> dict:
        """Run and time one pass (on the smaller warm-up input if asked);
        returns ``wall_s``, ``cpu_s``, ``output_bytes``,
        ``stored_bytes_per_doc`` and ``problems``."""
        raise NotImplementedError

    def trace(self, ctx: Ctx, tracer) -> tuple[dict, list[str]]:
        """Re-run one pass layer by layer under ``tracer``; returns the
        per-layer counts the spans do not carry, and the problems found."""
        raise NotImplementedError


# ------------------------------------------------------------- the CLI


class PipelineCli(Workload):
    name = "pipeline_cli"
    # Much of a CLI pass is planning large plans, which the JIT keeps
    # speeding up for several passes whatever their size: after one cold
    # 1,200-page pass the next ones took 13.7, 12.5, 11.4, 10.6 s; after
    # four 60-page passes they took 10.2, 10.5, 10.9 s. Two small passes
    # are what the run budget allows.
    warmup_passes = 2

    def setup(self, ctx: Ctx) -> None:
        from llm_pretraining_data_pipeline_spark.functions import bpe

        # Pin the measured work: the CLI's "auto" tokenizer must resolve to
        # the regex stand-in, or figures stop being comparable.
        if bpe.find_gpt2_assets() is not None:
            raise RuntimeError("tokenizer 'auto' would resolve to GPT-2 BPE assets, not regex")
        self.tokenizer = "auto -> regex"
        self.n_docs = self._n(CLI_PAGES)
        t0 = time.perf_counter()
        pages, labels = corpus.pipeline_pages(ctx.seed, self.n_docs)
        self.inputs = _write_inputs(ctx, pages, labels, self._n(WARMUP_PAGES))
        self.generate_s = time.perf_counter() - t0
        self.drops: dict[str, int] = {}
        self.cli_lines: list[dict] = []

    def _cli(self, path: str, out: str) -> int:
        from llm_pretraining_data_pipeline_spark import cli

        buf = io.StringIO()
        with redirect_stdout(buf):  # the CLI's own JSON line is not our result
            rc = cli.main(["--input", path, "--out", out])
        lines = buf.getvalue().strip().splitlines()
        self.cli_lines.append(json.loads(lines[-1]) if lines else {})
        return rc

    def run_pass(self, ctx: Ctx, i: int, warmup: bool = False) -> dict:
        path, labels = self.inputs["warmup" if warmup else "timed"]
        out = ctx.path(f"cli_pass_{i}")
        cpu0 = ctx.tree_cpu()
        t0 = time.perf_counter()
        rc = self._cli(path, out)
        wall = time.perf_counter() - t0
        cpu = ctx.tree_cpu() - cpu0
        output = dir_bytes(out)
        table = dir_bytes(os.path.join(out, "final.parquet"))
        problems = [] if rc == 0 else [f"cli exit code {rc}"]
        problems += self._check(ctx, out, labels)
        shutil.rmtree(out)
        return {"wall_s": wall, "cpu_s": cpu, "output_bytes": output,
                "stored_bytes_per_doc": table / len(labels), "problems": problems}

    def _check(self, ctx: Ctx, out: str, labels: dict) -> list[str]:
        problems = []
        with open(os.path.join(out, "metrics_summary.json")) as f:
            summary = json.load(f)
        docs = summary["docs"]
        self.drops = summary["drop_reasons"]
        if docs["input"] != docs["kept"] + docs["dropped"] or docs["input"] != len(labels):
            problems.append(f"metrics_summary docs do not add up: {docs}")
        with open(os.path.join(out, "manifest.json")) as f:
            manifest = json.load(f)
        if manifest["total_docs"] != docs["kept"]:
            problems.append(f"manifest has {manifest['total_docs']} docs, kept {docs['kept']}")
        rows = (
            ctx.spark.read.parquet(os.path.join(out, "final.parquet"))
            .select("url", "dedup_id", "drop_reason", "dup_of")
            .collect()
        )
        reason_of = {r.url: r.drop_reason for r in rows}
        if len(reason_of) != len(labels):
            problems.append(f"final.parquet has {len(reason_of)} urls for {len(labels)} pages")
        fired, planted = set(), set()
        for url, lab in labels.items():
            # clean English pages, with or without a little PII, are kept;
            # every other page gets its planted rule's drop_reason. So the
            # kept set is exactly the clean pages, in every pass.
            want = corpus.PIPELINE_CATEGORIES.get(lab["category"])
            if want is not None:
                planted.add(want)
            if reason_of.get(url, "missing") != want:
                problems.append(f"{url}: drop_reason {reason_of.get(url, 'missing')!r}, expected {want!r}")
            elif want is not None:
                fired.add(want)
        if planted - fired:
            problems.append(f"planted rules that never fired: {sorted(planted - fired)}")
        # dup_of names the canonical row by dedup_id
        url_of = {str(r.dedup_id): r.url for r in rows}
        flagged = [
            (r.url, url_of.get(str(r.dup_of), ""))
            for r in rows if r.drop_reason in DUP_REASONS
        ]
        self.quality = dup_quality(labels, flagged)
        return problems[:20]

    def trace(self, ctx: Ctx, tracer) -> tuple[dict, list[str]]:
        """Each layer materialised in turn on a checkpointed input, through
        the same public functions, settings and order as ``cli.main``.
        A problem is reported if its drop counts differ from the last
        untraced pass's ``metrics_summary.json``."""
        from llm_pretraining_data_pipeline_spark.operators import reporting, sharding
        from llm_pretraining_data_pipeline_spark.operators.aggregates import drop_reason_counts
        from llm_pretraining_data_pipeline_spark.plans import exports
        from llm_pretraining_data_pipeline_spark.plans import pipeline as P
        from llm_pretraining_data_pipeline_spark.sources import io as src

        # as cli.main builds it when given only --input and --out
        cfg = P.PipelineConfig(
            use_nfkc=True, apply_lang_filter=True, langid_trigrams=False,
            docs_per_shard=50_000,
        )
        out = ctx.path("cli_trace")
        os.makedirs(out, exist_ok=True)
        metrics: dict[str, float] = {}
        with tracer.span("sources.read_jsonl"):
            cur = src.read_jsonl(ctx.spark, self.inputs["timed"][0]).localCheckpoint(eager=True)
        kept_before = cur.count()
        for name, fn in P.STAGES:
            if name == "minhash_near_dedup" and not cfg.use_minhash_dedup:
                continue
            with tracer.span(f"pipeline.{name}"):
                cur = fn(cur, cfg).localCheckpoint(eager=True)
            kept = (
                cur.filter(F.col("drop_reason").isNull()).count()
                if "drop_reason" in cur.columns else cur.count()
            )
            metrics[f"pipeline.{name}.rows_dropped"] = kept_before - kept
            kept_before = kept
        drops = {
            r["drop_reason"]: int(r["count"])
            for r in cur.groupBy("drop_reason").count().collect()
            if r["drop_reason"] is not None
        }
        problems = []
        if drops != self.drops:
            problems.append(f"traced drop counts {drops} differ from the CLI's {self.drops}")
        drops = dict(drops)
        for reason in DROP_REASONS:
            metrics[f"pipeline.drop.{reason}"] = drops.pop(reason, 0)
        metrics["pipeline.drop.other"] = sum(drops.values())
        with tracer.span("exports.final_parquet"):
            cur.write.mode("overwrite").parquet(f"{out}/final.parquet")
        with tracer.span("sharding.assign_shards"):
            sharded = sharding.assign_shards(
                P.kept(cur), docs_per_shard=cfg.docs_per_shard
            ).localCheckpoint(eager=True)
        with tracer.span("exports.write_sharded_jsonl"):
            manifest = exports.write_sharded_jsonl(sharded, f"{out}/train_shards")
            exports.write_manifest(manifest, f"{out}/manifest.json")
        with tracer.span("exports.write_text_jsonl"):
            exports.write_text_jsonl(P.kept(cur), f"{out}/text.jsonl")
        with tracer.span("sources.write_csv_report"):
            src.write_csv_report(drop_reason_counts(cur), f"{out}/drop_reason_counts.csv")
        with tracer.span("reporting.metrics_summary"):
            reporting.metrics_summary(cur)
        written = data_files(f"{out}/train_shards") + data_files(f"{out}/text.jsonl")
        metrics["exports.files"] = len(written)
        metrics["exports.mb"] = sum(os.path.getsize(p) for p in written) / 1e6
        shutil.rmtree(out)
        return metrics, problems


# ------------------------------------------------------- the nightly index


class IndexNightly(Workload):
    name = "index_nightly"

    def setup(self, ctx: Ctx) -> None:
        from llm_pretraining_data_pipeline_spark.operators import dedup as D

        self.n_docs = self._n(INDEX_BATCH_DOCS)
        self.n_base = self._n(INDEX_BASE_DOCS)
        t0 = time.perf_counter()
        base, batch, labels = corpus.index_corpora(ctx.seed, self.n_base, self.n_docs)
        os.makedirs(ctx.path("input"), exist_ok=True)
        corpus.write_jsonl(labels, ctx.path("input", "labels.jsonl"))
        schema = "doc_id LONG, text STRING"
        self.batches = {}
        for name, n in (("timed", self.n_docs), ("warmup", self._n(WARMUP_BATCH_DOCS))):
            corpus.write_jsonl(batch[:n], ctx.path("input", f"{name}.jsonl"))
            path = ctx.path("input", f"{name}.parquet")
            ctx.spark.read.schema(schema).json(ctx.path("input", f"{name}.jsonl")) \
                .write.mode("overwrite").parquet(path)
            self.batches[name] = (path, {lab["url"]: lab for lab in labels[:n]})
        corpus.write_jsonl(base, ctx.path("input", "base.jsonl"))
        self.generate_s = time.perf_counter() - t0
        base_df = ctx.spark.read.schema(schema).json(ctx.path("input", "base.jsonl"))
        self.pristine = ctx.path("index_base")
        self.live = ctx.path("index_live")
        D.write_minhash_index(
            D.minhash_index_frame(base_df), self.pristine, sig_buckets=INDEX_SIG_BUCKETS
        )
        self.rows_before = self._index_rows(ctx, self.pristine)
        self.bytes_before = dir_bytes(self.pristine)

    def _index_rows(self, ctx: Ctx, path: str) -> int:
        # the banded table: the index itself, or its bands part when the
        # signatures are stored apart
        bands = os.path.join(path, "bands")
        return ctx.spark.read.parquet(bands if os.path.isdir(bands) else path).count()

    def _restore(self) -> None:
        shutil.rmtree(self.live, ignore_errors=True)
        shutil.copytree(self.pristine, self.live)

    @staticmethod
    def _within_batch(batch):
        """The batch MinHash path on the night's own pages; one action."""
        from llm_pretraining_data_pipeline_spark.operators import dedup as D

        marked = D.minhash_dedup(batch, "text", id_col="doc_id")
        return marked.agg(F.collect_list(
            F.when(F.col("is_dup_minhash"), F.struct("doc_id", "dup_of_minhash"))
        ).alias("flagged")).collect()[0]["flagged"]

    @staticmethod
    def _summarise(verdict):
        """The verdict's row count and flagged pages; one action."""
        return verdict.agg(
            F.count(F.lit(1)).alias("n"),
            F.collect_list(
                F.when(F.col("is_known_near"), F.struct("doc_id", "known_of"))
            ).alias("flagged"),
        ).collect()[0]

    def run_pass(self, ctx: Ctx, i: int, warmup: bool = False) -> dict:
        from llm_pretraining_data_pipeline_spark.operators import dedup as D

        path, labels = self.batches["warmup" if warmup else "timed"]
        self._restore()  # untimed: every night does the same work
        cpu0 = ctx.tree_cpu()
        t0 = time.perf_counter()
        batch = ctx.spark.read.parquet(path)
        within = self._within_batch(batch)
        verdict = self._summarise(D.near_dedup_against_stored_index(batch, self.live))
        D.write_minhash_index(
            D.minhash_index_frame(batch), self.live, mode="append", dedupe_ids=False
        )
        wall = time.perf_counter() - t0
        cpu = ctx.tree_cpu() - cpu0
        after = dir_bytes(self.live)
        problems = []
        if verdict["n"] != len(labels):
            problems.append(f"verdict has {verdict['n']} rows for a {len(labels)}-doc batch")
        rows_after = self._index_rows(ctx, self.live)
        want = self.rows_before + len(labels) * INDEX_BANDS
        if rows_after != want:
            problems.append(f"index has {rows_after} rows after the append, expected {want}")
        flagged = [(str(r["doc_id"]), str(r["dup_of_minhash"])) for r in within]
        flagged += [(str(r["doc_id"]), str(r["known_of"])) for r in verdict["flagged"]]
        self.quality = dup_quality(labels, flagged)
        return {"wall_s": wall, "cpu_s": cpu, "output_bytes": after - self.bytes_before,
                "stored_bytes_per_doc": after / (self.n_base + len(labels)),
                "problems": problems}

    def trace(self, ctx: Ctx, tracer) -> tuple[dict, list[str]]:
        """The night's layers in turn, through the public functions the
        night calls, composed as they compose them: ``minhash_dedup``'s
        three stages one by one, and ``near_dedup_against_stored_index``
        as its read followed by ``near_dedup_against_index`` on the read's
        output, so the verdict span holds only the verdict."""
        from llm_pretraining_data_pipeline_spark.operators import dedup as D

        self._restore()
        path, labels = self.batches["timed"]
        batch = ctx.spark.read.parquet(path).localCheckpoint(eager=True)
        files_total = len(data_files(self.live))
        with tracer.span("dedup.lsh_candidates"):
            cand = D.minhash_lsh_candidates(batch, "text", id_col="doc_id").localCheckpoint(eager=True)
        with tracer.span("dedup.jaccard_verify"):
            verified = D.ngram_jaccard_pairs(
                batch, "text", id_col="doc_id", candidates=cand
            ).localCheckpoint(eager=True)
        with tracer.span("dedup.connected_components"):
            D.connected_components(verified).localCheckpoint(eager=True)
        with tracer.span("index.sig"):
            sig = D.minhash_index_frame(batch).localCheckpoint(eager=True)
        with tracer.span("index.read_for_batch"):
            pruned, new_banded = D.read_minhash_index_for_batch(batch, self.live)
            pruned = pruned.localCheckpoint(eager=True)
            new_banded = new_banded.localCheckpoint(eager=True)
        with tracer.span("index.verdict"):
            n_verdict = self._summarise(
                D.near_dedup_against_index(batch, pruned, new_banded=new_banded)
            )["n"]
        with tracer.span("index.append"):
            D.write_minhash_index(sig, self.live, mode="append", dedupe_ids=False)
        n_cand, n_verified = cand.count(), verified.count()
        # the verdict's candidate pairs: its band join under the same
        # bucket cap, each pair once, before the estimate threshold
        index_candidates = D.near_dup_verdicts_against_index(
            batch, pruned, new_banded=new_banded, threshold=0.0, max_bucket_size=1024,
        ).count()
        problems = []
        if n_verdict != len(labels):
            problems.append(f"traced verdict has {n_verdict} rows for a {len(labels)}-doc batch")
        metrics = {
            "dedup.candidate_pairs": n_cand,
            "dedup.verified_pairs": n_verified,
            "dedup.verify_yield": n_verified / max(n_cand, 1),
            "index.files_total": files_total,
            "index.candidate_pairs": index_candidates,
            "index.mb": dir_bytes(self.live) / 1e6,
        }
        return metrics, problems


WORKLOADS = {w.name: w for w in (PipelineCli, IndexNightly)}
