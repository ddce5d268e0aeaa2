"""Vectorized fast path for the Gopher repetition signals.

WHY: the Gopher repetition battery (Rae et al. 2021 A1 — dup-line fraction,
top-2/3-gram char fractions, dup-5/10-gram char fractions; reference recipe
surface, no single reference file) is computed in ``operators/corpus.py`` as
Catalyst ``aggregate``/``transform`` HOF expressions. Those are interpreted
(no codegen, no common-subexpression elimination), so on a corpus where
every row survives rules 1-7 and reaches the gram scans the battery costs
~55 s per 500k docs even after let-binding (NOTES_r6 measurements). One
Arrow batch pass that tokenises once and counts grams with a dict runs the
same block in a fraction of that.

BIT-PARITY IS CONTRACT, exactly as for ``metrics_vec.py``: the expression
forms in ``operators/corpus.py`` (``repetition_signals`` /
``gopher_quality_filter``) remain the definitional, DuckDB-oracle-refereed
semantics (f11/corp_rep_signals); this module must follow them, never lead.
Enforced by tests/test_repetition_vec.py: exact equality on crafted
repetition fixtures, unicode edge cases, and seeded fuzz.

Parity notes (each mirrors a specific Catalyst behavior):
  * lines — ``split(text, '\\n')`` then Spark ``trim`` (strips ASCII space
    0x20 ONLY — not tabs/CR), keep non-empty: ``l.strip(' ')``;
  * words — ``ws_tokens`` == Python ``str.split()`` (the parity-proven
    equivalence from metrics_vec);
  * n-grams — space-joined word windows;
  * tie-break — the most frequent gram breaks ties toward the
    lexicographically SMALLEST gram. Spark's ``array_sort`` compares
    UTF8String bytes, i.e. code-point order == Python ``str`` order;
  * lengths — Spark ``length()`` counts code points == Python ``len``;
  * dup chars — sum of ``len(gram) * count`` over grams with count > 1
    (the 1→2 transition charges both occurrences);
  * every division is int/int → IEEE double, same order on both paths.

100 TB: Arrow-batched, shuffle-free, embarrassingly parallel — the same
sanctioned-Python shape as metrics_vec / the BPE tokeniser. NOTE the lazy-
cascade trade-off: an ArrowEvalPython node computes the struct for EVERY
row, while the inline expression cascade skips the scans for rows dropped
by the cheap rules 1-7. So ``gopher_quality_filter(vectorized=...)`` is
chosen per caller: the web-curation recipe (pre-filtered web text, most
rows reach the repetition rules) uses this module; f11 over raw soup keeps
the expression cascade.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql.types import DoubleType, LongType

from llm_pretraining_data_pipeline_spark.functions.arrow_rows import row_udf, struct_type
from llm_pretraining_data_pipeline_spark.functions.text_norm import _col

REP_SIGNALS_SCHEMA = struct_type(
    n_lines=LongType(), dup_line_frac=DoubleType(),
    dup_line_char_frac=DoubleType(), top2gram_char_frac=DoubleType(),
    top3gram_char_frac=DoubleType(), dup5gram_char_frac=DoubleType(),
    dup10gram_char_frac=DoubleType(),
)


def _ngrams_py(words: list[str], n: int) -> list[str]:
    """Space-joined word n-grams (mirror of corpus.ngrams)."""
    if len(words) < n:
        return []
    return [" ".join(words[i : i + n]) for i in range(len(words) - n + 1)]


def _gram_counts(grams: list[str]) -> dict[str, int]:
    counts: dict[str, int] = {}
    for g in grams:
        counts[g] = counts.get(g, 0) + 1
    return counts


def _top_ngram_char_frac_py(text_len: int, words: list[str], n: int) -> float:
    """chars of the most frequent n-gram / text length (corpus._run_stats
    best/best_g contract: ties toward the lexicographically smallest gram)."""
    counts = _gram_counts(_ngrams_py(words, n))
    if not counts or text_len <= 0:
        return 0.0
    best = max(counts.values())
    best_g = min(g for g, c in counts.items() if c == best)
    return (best * len(best_g)) / text_len


def _dup_ngram_char_frac_py(words: list[str], n: int) -> float:
    """fraction of n-gram chars belonging to grams occurring > once."""
    grams = _ngrams_py(words, n)
    gram_chars = sum(len(g) for g in grams)
    if gram_chars <= 0:
        return 0.0
    counts = _gram_counts(grams)
    dup = sum(len(g) * c for g, c in counts.items() if c > 1)
    return dup / gram_chars


def _rep_signals_py(t) -> tuple:
    """One row of the full signal block (corpus.repetition_signals order)."""
    s = t if isinstance(t, str) else ""
    lines = [l for l in (p.strip(" ") for p in s.split("\n")) if l]
    n_lines = len(lines)
    distinct = dict.fromkeys(lines)  # first-occurrence order, as array_distinct
    n_uniq = len(distinct)
    line_chars = sum(len(l) for l in lines)
    uniq_chars = sum(len(l) for l in distinct)
    dup_line_frac = (n_lines - n_uniq) / n_lines if n_lines > 0 else 0.0
    dup_line_char_frac = (
        (line_chars - uniq_chars) / line_chars if line_chars > 0 else 0.0
    )
    words = s.split()
    text_len = len(s)
    return (
        n_lines,
        dup_line_frac,
        dup_line_char_frac,
        _top_ngram_char_frac_py(text_len, words, 2),
        _top_ngram_char_frac_py(text_len, words, 3),
        _dup_ngram_char_frac_py(words, 5),
        _dup_ngram_char_frac_py(words, 10),
    )


_REP_SIGNALS = row_udf(REP_SIGNALS_SCHEMA, _rep_signals_py)


def rep_signals_struct(c: Column | str) -> Column:
    """Arrow-batched repetition-signal block, bit-identical to the
    expression forms (see module docstring)."""
    return _REP_SIGNALS(_col(c))
