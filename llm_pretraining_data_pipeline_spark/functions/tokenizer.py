"""Tokenisation: GPT-2-style regex pre-tokeniser + optional HF backend.

Reference: Tokenisation_JSONL_export.py:71-119 — HuggingFace GPT-2
``AutoTokenizer`` per row, truncation off, n_tokens = len(input_ids).

The transformers library is not part of this environment, so the default
backend is a deterministic stand-in with real Spark plumbing:

  * token *pieces* come from the public GPT-2 pre-tokenisation regex
    (contractions | letter runs | digit runs | symbol runs, each with an
    optional leading space) evaluated by Java regex — JVM-side, codegen'd;
  * piece → id is a stable portable hash into the GPT-2 vocab range (50257).

This makes ``n_tokens`` a BPE-ish count (sub-word merges are approximated by
the piece split) and keeps input_ids/attention_mask schema + distribution
plumbing identical to a real tokenizer. ``hf_tokenize_map`` upgrades to the
real GPT-2 vocabulary when transformers is installed (mapInPandas, tokenizer
loaded lazily once per executor — never per row).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions.hashing import h64
from llm_pretraining_data_pipeline_spark.functions.text_norm import _col

GPT2_VOCAB_SIZE = 50257

# Public GPT-2 pre-tokeniser pattern (Radford et al. 2019 / openai-gpt2
# encoder.py), translated to Java regex ('\p{L}' letter / '\p{N}' number).
GPT2_SPLIT_PATTERN = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"

# RE2-safe variant for oracle-checked queries (drops the lookahead branch;
# trailing-space runs then count as one piece — same on both engines).
GPT2_SPLIT_PATTERN_RE2 = r"'s|'t|'re|'ve|'m|'ll|'d| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+"

# Python-re-equivalent variant: the trainer must pre-tokenise EXACTLY like the
# Python-side encoder (functions/bpe.py PY_SPLIT_PATTERN), whose classes are
# letters = [^\W\d_] = \p{L}+\p{Nl}+\p{No} (Python str.isalnum word chars
# minus Nd minus underscore) and digits = \d = \p{Nd} only. The published
# \p{N} form above files non-decimal numerals (Ⅻ, ¼) under the number branch
# instead — a one-piece-earlier split the trainer must not see if trained
# merges are to be replayable by encode().
GPT2_SPLIT_PATTERN_PYEQ = (
    r"'s|'t|'re|'ve|'m|'ll|'d| ?[\p{L}\p{Nl}\p{No}]+| ?\p{Nd}+"
    r"| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)


def token_pieces(c: Column | str, pattern: str = GPT2_SPLIT_PATTERN) -> Column:
    """array<string> of GPT-2-style pre-token pieces; empty for null text."""
    s = F.coalesce(_col(c).cast("string"), F.lit(""))
    return F.coalesce(
        F.regexp_extract_all(s, F.lit(pattern), F.lit(0)),
        F.array().cast("array<string>"),
    )


def n_tokens(c: Column | str, pattern: str = GPT2_SPLIT_PATTERN) -> Column:
    """Token count without materialising ids — use in count-only paths so the
    optimizer never builds the id arrays."""
    return F.size(token_pieces(c, pattern)).cast("long")


def input_ids(c: Column | str, vocab_size: int = GPT2_VOCAB_SIZE) -> Column:
    """Stable piece→id mapping into [0, vocab_size) via the portable hash."""
    return F.transform(token_pieces(c), lambda t: (h64(t) % vocab_size).cast("int"))


def attention_mask(ids: Column | str) -> Column:
    return F.transform(_col(ids), lambda _: F.lit(1))


def with_tokenisation(
    df: DataFrame, text_col: str, backend: str = "auto"
) -> DataFrame:
    """Add input_ids / attention_mask / n_tokens columns.

    ``backend``:
      * "auto" (default) — full published GPT-2 assets when present (exact
        reference ids), else the JVM regex stand-in. The reference's
        51.86M-token contract (BASELINE.md) is reproducible exactly with the
        assets; without them (the learned vocab cannot be regenerated
        offline) "auto" degrades honestly and loudly (one warning). It never
        picks transformers, so a plan does not silently flip to Python
        tokenisation between environments.
      * "regex" — JVM-side pre-token pieces + hashed ids, zero Python.
      * "bpe" — real byte-level BPE via mapInPandas: the full assets when
        present, else the bundled subset fixture (algorithm-exact, exact
        published ids on the golden strings; NOT the full vocab).
      * "hf" — transformers gpt2 (raises eagerly if not installed).
    """
    from llm_pretraining_data_pipeline_spark.functions import bpe

    if backend == "auto":
        import logging

        found = bpe.find_gpt2_assets()
        if found is not None:
            # symmetric to the degradation warning below: make the resolved
            # backend visible on the upgraded path too, since 'auto' output
            # (n_tokens, F6 keep/drop) depends on which backend won
            logging.getLogger(__name__).info(
                "tokenizer backend 'auto' resolved to full GPT-2 BPE assets: %s",
                found[0],
            )
            return bpe.bpe_tokenize_map(df, text_col, codec=bpe.load_gpt2_codec(*found))
        import warnings

        warnings.warn(
            "tokenizer backend 'auto': the full GPT-2 assets "
            f"(${bpe.FULL_ASSET_ENV}) are not available — falling back to "
            "the regex stand-in; "
            "n_tokens/input_ids will not match the reference's GPT-2 "
            "vocabulary",
            stacklevel=2,
        )
        backend = "regex"
    if backend == "bpe":
        found = bpe.find_gpt2_assets()
        codec = bpe.load_gpt2_codec(*found) if found else None
        return bpe.bpe_tokenize_map(df, text_col, codec=codec)
    if backend == "hf":
        if not _hf_available():
            raise ImportError(
                "tokenizer backend 'hf' requires the transformers package; "
                "it is not installed in this environment"
            )
        return hf_tokenize_map(df, text_col)
    return df.withColumn("input_ids", input_ids(text_col)).withColumns({
        "attention_mask": attention_mask("input_ids"),
        "n_tokens": F.size(F.col("input_ids")).cast("long"),
    })


def _hf_available() -> bool:
    try:
        import transformers  # noqa: F401

        return True
    except ImportError:
        return False


def hf_tokenize_map(df: DataFrame, text_col: str, model_name: str = "gpt2") -> DataFrame:
    """Real HF tokenisation via mapInPandas (Arrow batches, tokenizer loaded
    once per python worker — the pattern the reference's own scale-up notes
    prescribe, README.md:138)."""
    import pandas as pd

    out_schema = ", ".join(
        [f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields]
        + ["input_ids array<int>", "attention_mask array<int>", "n_tokens long"]
    )

    def tokenize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from transformers import AutoTokenizer

        tok = AutoTokenizer.from_pretrained(model_name)
        if tok.pad_token is None:  # reference: pad -> eos (:228-229)
            tok.pad_token = tok.eos_token
        for pdf in batches:
            texts = ["" if not isinstance(t, str) else t for t in pdf[text_col]]
            enc = tok(texts, add_special_tokens=True, truncation=False)
            pdf = pdf.copy()
            pdf["input_ids"] = enc["input_ids"]
            pdf["attention_mask"] = enc["attention_mask"]
            pdf["n_tokens"] = [len(ids) for ids in enc["input_ids"]]
            yield pdf

    return df.mapInPandas(tokenize_batches, schema=out_schema)
