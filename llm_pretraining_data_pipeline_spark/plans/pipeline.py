"""The 8-stage LLM-pretraining data pipeline, Spark-first.

Reference orchestration: run_pipeline.py:24-49 — eight subprocesses passing
parquet files. Here every stage is a pure ``DataFrame -> DataFrame`` function
returning an *unexecuted* plan; ``run_pipeline`` composes them lazily so
Catalyst fuses the whole pipeline (one scan, one projection chain, shuffles
only at dedup/shard, plus ingest's round-robin spread of an input with
fewer splits than cores), while ``run_pipeline_checkpointed`` writes the same
per-stage parquet boundaries the reference has when inspectability matters.

Stage map (reference file : our stage function):
  ingest.py                    : ingest
  text_clean_and_filter.py     : clean_filter        (stage 2, F1+F2+F3)
  deep_clean_and_pii.py        : deep_clean_pii      (stage 4, F4+F5)
  duplication.py               : operators.dedup.dedup_stage (stage 5)
  scoring_and_mixture.py       : score_mixture       (stage 6)
  Tokenisation_JSONL_export.py : tokenise            (stage 7, F6)
  sharding.py                  : operators.sharding  (stage 7b)
  Export_to_jsonl.py           : export via sources.io.write_jsonl (stage 8)
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions import (
    hashing,
    langid,
    metrics_vec,
    pii,
    scoring,
    structural,
    text_norm,
    tokenizer,
)
from llm_pretraining_data_pipeline_spark.operators import dedup as dedup_ops
from llm_pretraining_data_pipeline_spark.operators.rules import apply_rules, rule_column
from llm_pretraining_data_pipeline_spark.operators.skew import spread_small_input


@dataclass
class PipelineConfig:
    """Thresholds, all defaulting to the reference's values (cited inline)."""

    min_chars: int = 20            # text_clean_and_filter.py:92
    min_words: int = 2             # :93
    max_chars: int = 100_000       # :94
    allowed_langs: tuple = ("en",)  # :695
    min_lang_conf: float = 0.80    # :696
    non_latin_threshold: float = 0.50  # :698
    apply_lang_filter: bool = True  # language_filter_stage is always called (:692)
    min_words_quality: int = 5     # :563
    max_words_quality: int = 5000  # :565
    min_alpha_ratio: float = 0.5   # :567
    max_repetition: float = 0.8    # :569
    blocked_url_patterns: tuple = (r"/ads/", r"example-spam-site\.com")  # :574-577
    max_pii_hits: int = 20         # :585
    max_toxicity: float = 0.8      # :591
    low_unique_ratio: float = 0.20      # deep_clean_and_pii.py:343
    high_stopword_ratio: float = 0.95   # :344
    min_tokens_for_stats: int = 10      # :345
    drop_pii: bool = False              # :342 (off by default)
    near_dup_min_len: int = 200         # duplication.py:71
    near_key_chars: int = 500           # :72
    use_minhash_dedup: bool = False      # optional stage 5b (scale near-dup)
    minhash_shingle_size: int = 3
    minhash_num_hashes: int = 32
    minhash_bands: int = 8
    minhash_jaccard: float = 0.8
    minhash_seed: int = 42
    mixture_name: str = "web_sample"    # scoring_and_mixture.py:113
    high_quality_threshold: float = 0.8  # :114
    min_tokens: int = 10                 # Tokenisation_JSONL_export.py:60
    max_tokens: int = 2048               # :61
    docs_per_shard: int = 50_000         # sharding.py:31
    use_nfkc: bool = True
    # blend char-trigram evidence into lang ID (default on: two independent
    # weak signals are markedly more robust on natural prose than stopword
    # profiles alone; the reference's langdetect is likewise n-gram based)
    langid_trigrams: bool = True
    # "auto": full published GPT-2 assets > regex stand-in — exact reference
    # ids whenever the assets are present (drop the public
    # encoder.json/vocab.bpe into functions/bpe_assets/ or point
    # $SPARK_GRAFT_GPT2_ASSETS at them); warns and uses the regex stand-in
    # otherwise. "hf" runs transformers. See
    # functions/tokenizer.py:with_tokenisation.
    tokenizer_backend: str = "auto"  # "auto" | "regex" | "bpe" | "hf"
    # P8 model-quality backend: "logistic" = the real scorer (deterministic
    # logistic over quality features, pure Catalyst); "constant" = the
    # reference's 0.5 stub (text_clean_and_filter.py:370-378) for bit-parity.
    model_quality_backend: str = "logistic"
    source_name: str = "mainpipe_v1"     # ingest.py:131


def ingest(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Stage 1: identity + provenance + deterministic encounter order.

    row_order uses monotonically_increasing_id (partition-prefixed, stable
    for a given input split) — the distributed stand-in for the pandas index.
    It is fixed on the scan's own splits, BEFORE ``spread_small_input``
    deals a small input (fewer splits than cores) round-robin over every
    core for the text chain: row_order, doc_id, and so every canonical
    choice and shard position, are the same with or without the spread.
    """
    return spread_small_input(
        df.withColumns({
            "doc_id": hashing.make_doc_id("url", "text"),
            "source": F.lit(cfg.source_name),
            "ingest_ts": F.current_timestamp(),
            "row_order": F.monotonically_increasing_id(),
        })
    )


def clean_filter(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Stage 2: normalise + prefilter (F1) + metrics + language (F2) +
    PII/toxicity/model_q + quality filter (F3).

    The entire stage is one projection chain + one when-cascade — Catalyst
    fuses it into a single whole-stage-codegen'd pass over the data. Each
    ``withColumns`` below is one dependency step: its columns read only
    columns of earlier steps, so the plan is built in 7 projections, not
    one per column.
    """
    out = df.withColumn("text_norm", text_norm.normalize_text_expr("text", nfkc=cfg.use_nfkc))
    out = out.withColumns({
        "char_len": text_norm.char_len("text_norm"),
        "word_count": text_norm.word_count("text_norm"),
    })

    # F1 prefilter (text_clean_and_filter.py:133-184). `non_string` cannot
    # occur in a typed engine (schema enforces string) but stays for parity.
    raw, norm = F.col("text"), F.col("text_norm")
    not_empty = norm.isNotNull()
    out = out.withColumns({
        **rule_column(
            out,
            [
                ("missing", raw.isNull()),
                ("empty_after_clean", norm.isNull()),
                ("null_like", F.lower(F.trim(norm)).isin(*text_norm.NULL_LIKE_STRINGS)),
                ("numeric_like", norm.rlike(r"^[\d\.\-]+$")),
                ("too_short_chars", (F.col("char_len") < cfg.min_chars) & not_empty),
                ("too_short_words", (F.col("word_count") < cfg.min_words) & not_empty),
                ("too_long", (F.col("char_len") > cfg.max_chars) & not_empty),
            ],
        ),
        # Reference reassigns text = text_norm downstream (:655-656).
        "text": F.coalesce(norm, F.lit(None).cast("string")),
    })

    # Quality metrics on the normalised text (:660-661). One Arrow pass
    # computes the whole stage-2 metric block (these four + the six
    # toxicity scores below + non_latin_ratio) — bit-identical to the
    # expression forms in metrics.py/toxicity.py, which re-tokenise the
    # text once per metric (metrics_vec.py has the rationale and contract).
    # Language ID (:692-699): the Arrow-batched heuristic (bit-identical to
    # langid.langid_struct, whose 15 regex scans per row are the heaviest
    # tree in the chain). With the Arrow metrics, measured 36 s against
    # 88 s for the pure-Catalyst chain at 500k docs/local[32] (warm).
    out = out.withColumns({
        "_m": metrics_vec.clean_metrics_struct("text"),
        "_lang": langid.langid_struct_vectorized("text", use_trigrams=cfg.langid_trigrams),
    })
    out = out.withColumns({
        "n_chars": F.col("_m.n_chars"),
        "n_words": F.col("_m.n_words"),
        "alpha_ratio": F.col("_m.alpha_ratio"),
        "repetition_ratio": F.col("_m.repetition_ratio"),
        "lang_pred": F.col("_lang.lang"),
        "lang_score": F.col("_lang.score"),
        "non_latin_ratio": F.col("_m.non_latin_ratio"),
    })
    lang_rules = {}
    if cfg.apply_lang_filter:
        allowed = list(cfg.allowed_langs)
        lang_rules = rule_column(
            out,
            [
                ("lang_unknown", F.col("lang_pred") == "unk"),
                ("non_english", ~F.col("lang_pred").isin(*allowed)),
                (
                    "low_lang_confidence",
                    F.col("lang_pred").isin(*allowed) & (F.col("lang_score") < cfg.min_lang_conf),
                ),
                ("non_latin_heavy", F.col("non_latin_ratio") > cfg.non_latin_threshold),
            ],
        )
    # PII heuristics + toxicity + model hook (:708-720).
    out = out.withColumns({
        **lang_rules,
        "lang": F.col("lang_pred"),
        "email_hits": pii.email_hits("text"),
        "phone_hits": pii.simple_phone_hits("text"),
        **{
            name: F.col(f"_m.{name}")
            for name in (
                "toxicity", "severe_toxicity", "insult", "threat",
                "identity_attack", "sexual_explicit",
            )
        },
    })

    # F3 quality filter (quality_filter_row, :537-595).
    url = F.coalesce(F.col("url").cast("string"), F.lit(""))
    blocked = F.lit(False)
    for pat in cfg.blocked_url_patterns:
        blocked = blocked | url.rlike(pat)
    out = out.withColumns({
        "model_q": scoring.model_quality_score(
            "lang_score", "alpha_ratio", "repetition_ratio", "n_words",
            # has_pii proper is a stage-4 column; at this point the reference
            # only has the simple hit counters (:708-709), so P8 uses those.
            (F.col("email_hits") + F.col("phone_hits")) > 0,
            backend=cfg.model_quality_backend,
        ),
        **rule_column(
            out,
            [
                ("empty_text", F.col("text").isNull() | (F.trim(F.col("text")) == "")),
                ("too_short", F.col("n_words") < cfg.min_words_quality),
                ("too_long", F.col("n_words") > cfg.max_words_quality),
                ("low_alpha_ratio", F.col("alpha_ratio") < cfg.min_alpha_ratio),
                ("high_repetition", F.col("repetition_ratio") > cfg.max_repetition),
                ("blocked_url", blocked),
                ("pii_heavy", (F.col("email_hits") + F.col("phone_hits")) > cfg.max_pii_hits),
                ("high_toxicity", F.col("toxicity") >= cfg.max_toxicity),
            ],
        ),
    })
    return out.drop("_m", "_lang")


def deep_clean_pii(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Stage 4: structural cleanup + token stats + low-info filters (F4) +
    PII mask (deep_clean_and_pii.py:339-619), one ``withColumns`` per
    dependency step."""
    out = df.withColumn("text_deep_clean", structural.structural_cleanup("text_norm"))
    # One Arrow pass for the whole token-stat block (metrics_vec.py); the
    # spam predicate is re-expressed over the struct fields with the
    # identical guarded-ratio arithmetic as is_repetitive_token_spam.
    out = out.withColumn("_ts", metrics_vec.token_stats_struct("text_deep_clean"))
    token_count = F.col("_ts.token_count")
    max_freq_ratio = F.when(
        token_count > 0,
        F.col("_ts.max_token_frequency").cast("double") / token_count.cast("double"),
    ).otherwise(F.lit(0.0))
    spam = (token_count >= 3) & (max_freq_ratio > F.lit(0.70))
    enough = token_count >= cfg.min_tokens_for_stats
    out = out.withColumns({
        "token_count": token_count,
        "unique_tokens": F.col("_ts.unique_tokens"),
        "unique_token_ratio": F.col("_ts.unique_token_ratio"),
        "stopword_ratio": F.col("_ts.stopword_ratio"),
        **rule_column(
            out,
            [
                ("repetitive_token_spam", spam),
                (
                    "low_unique_token_ratio",
                    enough & (F.col("_ts.unique_token_ratio") < cfg.low_unique_ratio),
                ),
                (
                    "high_stopword_ratio",
                    enough & (F.col("_ts.stopword_ratio") > cfg.high_stopword_ratio),
                ),
            ],
        ),
        "text_pii_masked": pii.mask_pii("text_deep_clean"),
        "pii_email_hits": pii.email_hits("text_deep_clean"),
        "pii_phone_hits": pii.phone_hits("text_deep_clean"),
        "pii_cc_hits": pii.cc_hits("text_deep_clean"),
        "pii_iban_hits": pii.iban_hits("text_deep_clean"),
    })
    out = out.withColumn(
        "has_pii",
        (F.col("pii_email_hits") + F.col("pii_phone_hits") + F.col("pii_cc_hits")
         + F.col("pii_iban_hits")) > 0,
    )
    if cfg.drop_pii:
        out = apply_rules(out, [("pii", F.col("has_pii"))])
    return out.drop("_ts")


def dedup(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Stage 5: exact + prefix near dedup (windowed, dup_of lineage)."""
    return dedup_ops.dedup_stage(
        df,
        text_col="text_pii_masked",
        id_col="doc_id",
        near_dup_min_len=cfg.near_dup_min_len,
        near_key_chars=cfg.near_key_chars,
        # The reference's dedup subprocess reads the kept-rows parquet only;
        # in the fused plan, dropped rows flow through for the histogram but
        # must not claim canonical slots.
        respect_drop_reason=True,
    )


def minhash_near_dedup(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Stage 5b (optional, ``use_minhash_dedup``): web-scale near dedup —
    LSH candidates → exact-Jaccard verify → connected components → keep the
    smallest doc_id per cluster (the reference's own scale-up plan,
    README.md:136; the prefix near-dup of stage 5 only catches shared-prefix
    copies).

    Only still-kept rows participate (dropped rows neither claim canonical
    slots nor get re-marked — the same pipeline-boundary semantics as
    ``respect_drop_reason`` in stage 5). First-writer-wins drop_reason.
    """
    if not cfg.use_minhash_dedup:
        return df
    # Stage-boundary checkpoint — but only of the NARROW dedup universe
    # (kept doc_id + text), not the wide frame. The universe is referenced
    # twice (LSH candidates + Jaccard verify), so un-checkpointed it would
    # re-execute the upstream text chain per reference; checkpointing it lets
    # Catalyst prune every metric/score column out of that evaluation
    # (measured at bench shape: narrow chain ~18 s vs 120 s for a wide-frame
    # checkpoint — the wide version materialises langid/toxicity/metric
    # expressions the dedup never reads). The wide frame itself stays LAZY:
    # the final mark-join references it once, so the full chain runs exactly
    # one time in the consumer's action, with the consumer's own column
    # pruning. Blocks are reclaimed by the ContextCleaner on release; on a
    # cluster with dynamic executors use reliable checkpoint/parquet instead.
    universe = (
        df.filter(F.col("drop_reason").isNull())
        .select("doc_id", "text_pii_masked")
        .localCheckpoint(eager=True)
    )
    cand = dedup_ops.minhash_lsh_candidates(
        universe, "text_pii_masked", id_col="doc_id",
        shingle_size=cfg.minhash_shingle_size, num_hashes=cfg.minhash_num_hashes,
        bands=cfg.minhash_bands, seed=cfg.minhash_seed,
    )
    verified = dedup_ops.ngram_jaccard_pairs(
        universe, "text_pii_masked", id_col="doc_id",
        shingle_size=cfg.minhash_shingle_size, threshold=cfg.minhash_jaccard,
        candidates=cand,
    )
    # connected_components is eager (localCheckpoint per round); the marks
    # frame derives narrowly from the checkpointed labels — no persist needed
    # (blocks are reclaimed by the ContextCleaner on driver GC).
    comp = dedup_ops.connected_components(verified)
    marks = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("doc_id"), F.col("component").cast("string").alias("_mh_canon")
    )
    out = df.join(marks, "doc_id", "left")
    is_dup = F.col("_mh_canon").isNotNull()
    cols = {"is_dup_minhash": is_dup}
    if "dup_of" in df.columns:
        cols["dup_of"] = F.coalesce(F.col("dup_of"), F.when(is_dup, F.col("_mh_canon")))
    cols["drop_reason"] = F.coalesce(
        F.col("drop_reason"), F.when(is_dup, F.lit("minhash_duplicate"))
    )
    return out.withColumns(cols).drop("_mh_canon")


def score_mixture(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Stage 6: quality score + mixture/subset (scoring_and_mixture.py:111-151)."""
    out = df.withColumns({
        "quality_score": scoring.quality_score(
            "lang_score", "token_count", "unique_token_ratio", "has_pii"
        ),
        "mixture_name": F.lit(cfg.mixture_name),
    })
    return out.withColumn("subset", scoring.subset("quality_score", cfg.high_quality_threshold))


def tokenise(df: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> DataFrame:
    """Stage 7: tokenise + token-length filter (F6)."""
    out = tokenizer.with_tokenisation(
        df, "text_pii_masked", backend=cfg.tokenizer_backend
    )
    return apply_rules(
        out,
        [
            ("too_few_tokens", F.col("n_tokens") < cfg.min_tokens),
            ("too_many_tokens", F.col("n_tokens") > cfg.max_tokens),
        ],
    )


STAGES = [
    ("ingest", ingest),
    ("clean_filter", clean_filter),
    ("deep_clean_pii", deep_clean_pii),
    ("dedup", dedup),
    ("minhash_near_dedup", minhash_near_dedup),  # no-op unless cfg enables it
    ("score_mixture", score_mixture),
    ("tokenise", tokenise),
]


def run_pipeline(
    raw: DataFrame, cfg: PipelineConfig = PipelineConfig(), upto: str | None = None
) -> DataFrame:
    """Compose stages lazily into a single Catalyst plan.

    Kept/dropped splitting happens once at the end (or at each checkpoint in
    the checkpointed variant) — intermediate stages keep dropped rows so the
    drop-reason histogram over the full corpus stays computable, exactly like
    the reference's dropped-parquet side outputs.
    """
    out = raw
    for name, fn in STAGES:
        out = fn(out, cfg)
        if upto is not None and name == upto:
            break
    return out


def kept(df: DataFrame) -> DataFrame:
    return df.filter(F.col("drop_reason").isNull())


def dropped(df: DataFrame) -> DataFrame:
    return df.filter(F.col("drop_reason").isNotNull())


def run_pipeline_checkpointed(
    spark, raw: DataFrame, out_dir: str, cfg: PipelineConfig = PipelineConfig()
) -> dict[str, str]:
    """Reference-style stage boundaries: one parquet checkpoint per stage
    (restartable/inspectable; bounds lineage for very long plans)."""
    paths: dict[str, str] = {}
    current = raw
    for i, (name, fn) in enumerate(STAGES, start=1):
        current = fn(current, cfg)
        path = f"{out_dir}/mainpipe_{name}_v{i}.parquet"
        current.write.mode("overwrite").parquet(path)
        paths[name] = path
        current = spark.read.parquet(path)
    return paths


def run_pipeline_observed(
    raw: DataFrame, cfg: PipelineConfig = PipelineConfig()
):
    """``run_pipeline`` plus free single-pass metrics via ``Observation``.

    Returns ``(df, observation)``. The observation's metrics are computed
    DURING whatever single action the caller runs on ``df`` (an export
    write, a count, ...) — at 100 TB this replaces a second full-corpus
    aggregation job with accumulator traffic that is already part of the
    first one. After the action, ``observation.get`` yields::

        n_rows, n_kept, n_dropped, total_tokens_kept, mean_quality_kept

    (the metrics_summary headline numbers the reference recomputes with a
    separate pandas pass, metrics_and_summary.py).
    """
    from pyspark.sql import Observation

    out = run_pipeline(raw, cfg)
    is_kept = F.col("drop_reason").isNull()
    obs = Observation("pipeline_metrics")
    observed = out.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(is_kept.cast("long")).alias("n_kept"),
        F.sum((~is_kept).cast("long")).alias("n_dropped"),
        F.sum(F.when(is_kept, F.col("n_tokens")).otherwise(F.lit(0))).alias(
            "total_tokens_kept"
        ),
        F.avg(F.when(is_kept, F.col("quality_score"))).alias("mean_quality_kept"),
    )
    return observed, obs
