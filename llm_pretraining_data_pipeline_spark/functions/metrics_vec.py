"""Vectorized fast path for the pipeline's per-document metric block.

WHY: stage 2/4 of the pipeline evaluate ~10 token-derived metrics per row
(quality metrics — text_clean_and_filter.py:206-236; toxicity lexicons —
:301-366; token stats — deep_clean_and_pii.py:219-260; spam detector —
:418-440). As Catalyst expressions each metric re-tokenises the text
independently — lambda-bearing HOFs are excluded from Spark's subexpression
elimination — so the cascade costs ~22 s of a 500k-doc run on local[32]
(measured per-expression; see NOTES_r5.md). One Arrow-batched pass that
tokenises once and derives every metric from a single Counter runs the same
block in a few seconds.

BIT-PARITY IS CONTRACT, not aspiration, because every one of these metrics
backs a DuckDB-oracle-refereed query (p05/p07/p15/f03/f04). The pure-
Catalyst expressions in ``metrics.py`` / ``toxicity.py`` remain the
definitional semantics; this module must follow them, never lead. Parity is
enforced by tests/test_metrics_vec.py: exact equality on fixtures + seeded
unicode fuzz, plus full-codepoint sweeps for the three primitives the
mirror rests on (whitespace split, ``(?U)\\w`` word chars, lower()).

The one genuinely delicate primitive is Java's ``(?U)\\w`` (toxicity
tokenisation): the JVM's Unicode tables and Python's ``unicodedata`` are
different Unicode VERSIONS, so a pure category-based mirror disagrees on a
few hundred codepoints. The exception ranges below were generated by
sweeping every Unicode codepoint through the JVM regex (JDK 17 / Spark 4.1,
scripts/gen_jvm_word_exceptions.py) and diffing against the category
predicate; tests re-run the sweep so a JDK or Python upgrade that shifts
the tables fails loudly instead of silently skewing scores.

100 TB: Arrow-batched, shuffle-free, embarrassingly parallel — the same
sanctioned-Python shape as the BPE tokeniser and the vectorized lang ID.
The pipeline (plans/pipeline.py) always runs this block; the registered
queries call the Catalyst expressions directly.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column
from pyspark.sql.types import DoubleType, LongType

from llm_pretraining_data_pipeline_spark.functions.arrow_rows import row_udf, struct_type
from llm_pretraining_data_pipeline_spark.functions.metrics import EN_STOPWORDS
from llm_pretraining_data_pipeline_spark.functions.text_norm import _col
from llm_pretraining_data_pipeline_spark.functions.toxicity import ALL_LEXICONS

# (?U)\w disagreements between JDK 17's Unicode tables and Python 3.11's
# unicodedata, swept over every codepoint (scripts/gen_jvm_word_exceptions.py).
# JVM_ONLY: word chars for the JVM only (circled letters — Other_Alphabetic
# with category So). PY_ONLY: word chars for Python only (scripts added in
# newer Unicode versions than the JVM ships: Arabic Extended-B, Vithkuqi,
# Cypro-Minoan, Tangsa, ...).
_JVM_ONLY_RANGES = ((0x24B6, 0x24E9), (0x1F130, 0x1F149), (0x1F150, 0x1F169), (0x1F170, 0x1F189))
_PY_ONLY_RANGES = (
    (0x870, 0x887), (0x889, 0x88E), (0x898, 0x89F), (0x8B5, 0x8B5), (0x8C8, 0x8D2),
    (0xC3C, 0xC3C), (0xC5D, 0xC5D), (0xCDD, 0xCDD), (0x170D, 0x170D), (0x1715, 0x1715),
    (0x171F, 0x171F), (0x180F, 0x180F), (0x1AC1, 0x1ACE), (0x1B4C, 0x1B4C), (0x1DFA, 0x1DFA),
    (0x2C2F, 0x2C2F), (0x2C5F, 0x2C5F), (0x9FFD, 0x9FFF), (0xA7C0, 0xA7C1), (0xA7D0, 0xA7D1),
    (0xA7D3, 0xA7D3), (0xA7D5, 0xA7D9), (0xA7F2, 0xA7F4), (0x10570, 0x1057A), (0x1057C, 0x1058A),
    (0x1058C, 0x10592), (0x10594, 0x10595), (0x10597, 0x105A1), (0x105A3, 0x105B1),
    (0x105B3, 0x105B9), (0x105BB, 0x105BC), (0x10780, 0x10785), (0x10787, 0x107B0),
    (0x107B2, 0x107BA), (0x10F70, 0x10F85), (0x11070, 0x11075), (0x110C2, 0x110C2),
    (0x11740, 0x11746), (0x11AB0, 0x11ABF), (0x12F90, 0x12FF0), (0x16A70, 0x16ABE),
    (0x16AC0, 0x16AC9), (0x1AFF0, 0x1AFF3), (0x1AFF5, 0x1AFFB), (0x1AFFD, 0x1AFFE),
    (0x1B11F, 0x1B122), (0x1CF00, 0x1CF2D), (0x1CF30, 0x1CF46), (0x1DF00, 0x1DF1E),
    (0x1E290, 0x1E2AE), (0x1E7E0, 0x1E7E6), (0x1E7E8, 0x1E7EB), (0x1E7ED, 0x1E7EE),
    (0x1E7F0, 0x1E7FE), (0x2A6DE, 0x2A6DF), (0x2B735, 0x2B738),
)

_JVM_ONLY = frozenset(cp for a, b in _JVM_ONLY_RANGES for cp in range(a, b + 1))
_PY_ONLY = frozenset(cp for a, b in _PY_ONLY_RANGES for cp in range(a, b + 1))

_WORD_CATEGORIES = frozenset(("Mn", "Mc", "Me", "Pc", "Nd", "Nl"))

# Same sweep for \p{L} (alpha_ratio / non_latin_ratio / langid token
# cleaning): str.isalpha() minus letters added in Unicode versions newer
# than the JVM's tables. The JVM side has no extras — \p{L} is pure
# category-L, so circled letters etc. are out on both engines.
_L_PY_ONLY_RANGES = (
    (0x870, 0x887), (0x889, 0x88E), (0x8B5, 0x8B5), (0x8C8, 0x8C9), (0xC5D, 0xC5D),
    (0xCDD, 0xCDD), (0x170D, 0x170D), (0x171F, 0x171F), (0x1B4C, 0x1B4C), (0x2C2F, 0x2C2F),
    (0x2C5F, 0x2C5F), (0x9FFD, 0x9FFF), (0xA7C0, 0xA7C1), (0xA7D0, 0xA7D1), (0xA7D3, 0xA7D3),
    (0xA7D5, 0xA7D9), (0xA7F2, 0xA7F4), (0x10570, 0x1057A), (0x1057C, 0x1058A),
    (0x1058C, 0x10592), (0x10594, 0x10595), (0x10597, 0x105A1), (0x105A3, 0x105B1),
    (0x105B3, 0x105B9), (0x105BB, 0x105BC), (0x10780, 0x10785), (0x10787, 0x107B0),
    (0x107B2, 0x107BA), (0x10F70, 0x10F81), (0x11071, 0x11072), (0x11075, 0x11075),
    (0x11740, 0x11746), (0x11AB0, 0x11ABF), (0x12F90, 0x12FF0), (0x16A70, 0x16ABE),
    (0x1AFF0, 0x1AFF3), (0x1AFF5, 0x1AFFB), (0x1AFFD, 0x1AFFE), (0x1B11F, 0x1B122),
    (0x1DF00, 0x1DF1E), (0x1E290, 0x1E2AD), (0x1E7E0, 0x1E7E6), (0x1E7E8, 0x1E7EB),
    (0x1E7ED, 0x1E7EE), (0x1E7F0, 0x1E7FE), (0x2A6DE, 0x2A6DF), (0x2B735, 0x2B738),
)
_L_PY_ONLY = frozenset(cp for a, b in _L_PY_ONLY_RANGES for cp in range(a, b + 1))


def is_jvm_letter(ch: str) -> bool:
    """Exact mirror of one-char match of Java ``\\p{L}`` (JDK 17 tables)."""
    return ch.isalpha() and ord(ch) not in _L_PY_ONLY


def _is_jvm_word_char(ch: str) -> bool:
    """Exact mirror of one-char match of Java ``(?U)\\w`` (JDK 17 tables)."""
    import unicodedata

    cp = ord(ch)
    if cp in _JVM_ONLY:
        return True
    if cp in _PY_ONLY:
        return False
    if ch == "_" or cp in (0x200C, 0x200D):
        return True
    if unicodedata.category(ch) in _WORD_CATEGORIES:
        return True
    return ch.isalpha()


def _word_tokens_py(low: str) -> list[str]:
    """Runs of ``(?U)\\w`` chars of the (already lowercased) text — mirrors
    toxicity.word_tokens' regexp_extract_all."""
    toks, start = [], None
    for i, ch in enumerate(low):
        if _is_jvm_word_char(ch):
            if start is None:
                start = i
        elif start is not None:
            toks.append(low[start:i])
            start = None
    if start is not None:
        toks.append(low[start:])
    return toks


_LEXICON_SETS = {name: frozenset(words) for name, words in ALL_LEXICONS.items()}
_STOPWORD_SET = frozenset(EN_STOPWORDS)


class _LazyTranslateTable(dict):
    """codepoint -> replacement mapping for ``str.translate``, populated
    lazily through the definitional per-char predicate. ``translate``
    walks the string in C and consults this dict per CODEPOINT —
    ``__missing__`` runs once per distinct codepoint per worker, so the
    per-char Python function call (the measured round-15 hot spot:
    ~150M ``is_jvm_letter``/``_is_jvm_word_char`` calls per 500k-doc
    bench run, ~2/3 of the whole metrics pass) is paid only on first
    sight of a character, not per occurrence. Semantics are the
    predicate's own — the table is a memo, never a second definition."""

    def __init__(self, classify):
        super().__init__()
        self._classify = classify

    def __missing__(self, cp: int):
        v = self._classify(cp)
        self[cp] = v
        return v


# word-token extraction: word chars keep themselves, everything else
# becomes a space, so ``.split()`` yields exactly the (?U)\w runs that
# _word_tokens_py walks char-by-char.
_WORD_TBL = _LazyTranslateTable(
    lambda cp: cp if _is_jvm_word_char(chr(cp)) else 0x20
)
# letter census: JVM \p{L} letters map to 'a' (ASCII) / 'b' (beyond
# ASCII), everything else is deleted — len() and count('b') of the
# translated string reproduce the letters/nonlatin tallies.
_LETTER_TBL = _LazyTranslateTable(
    lambda cp: (0x61 if cp <= 0x7F else 0x62)
    if is_jvm_letter(chr(cp))
    else None
)
# token -> lexicons containing it (one dict probe per token instead of
# one frozenset probe per token per lexicon; almost every token misses)
_TOKEN_LEXES: dict[str, tuple[str, ...]] = {}
for _name, _words in ALL_LEXICONS.items():
    for _w in _words:
        _TOKEN_LEXES.setdefault(_w, ())
        _TOKEN_LEXES[_w] = _TOKEN_LEXES[_w] + (_name,)
del _name, _words, _w

# Field orders are load-bearing: pipeline.py extracts by name, tests compare
# field-by-field against the expression forms.
CLEAN_METRICS_SCHEMA = struct_type(
    n_chars=LongType(), n_words=LongType(), alpha_ratio=DoubleType(),
    repetition_ratio=DoubleType(), non_latin_ratio=DoubleType(),
    toxicity=DoubleType(), severe_toxicity=DoubleType(), insult=DoubleType(),
    threat=DoubleType(), identity_attack=DoubleType(),
    sexual_explicit=DoubleType(),
)
TOKEN_STATS_SCHEMA = struct_type(
    token_count=LongType(), unique_tokens=LongType(),
    unique_token_ratio=DoubleType(), stopword_ratio=DoubleType(),
    max_token_frequency=LongType(),
)


def _clean_metrics_py(t):
    """Stage-2 metric block for one row: quality metrics (metrics.py
    n_chars/n_words/alpha_ratio/repetition_ratio/non_latin_ratio) + the six
    toxicity scores (toxicity.py). Arithmetic order mirrors the Catalyst
    expressions so IEEE doubles come out identical."""
    s = t if isinstance(t, str) else ""

    n_chars = len(s)
    ws = s.split()
    n_words = len(ws)
    if n_words > 0:
        repetition = 1.0 - len(set(ws)) / n_words
    else:
        repetition = 0.0

    # C-speed census via the memoized translate tables (round 15); the
    # per-char predicates remain the definition — see _LazyTranslateTable
    lt = s.translate(_LETTER_TBL)
    letters = len(lt)
    nonlatin = lt.count("b")
    alpha = (letters / n_chars) if n_chars > 0 else 0.0
    non_latin = (nonlatin / letters) if letters > 0 else 0.0

    toks = s.lower().translate(_WORD_TBL).split()
    n = max(1, len(toks))
    counts = dict.fromkeys(_LEXICON_SETS, 0)
    _get = _TOKEN_LEXES.get
    for tk in toks:
        hit = _get(tk)
        if hit is not None:
            for name in hit:
                counts[name] += 1
    total_hits = counts["bad"] + counts["insult"] + counts["threat"] + counts["sexual"] + counts["slur"]
    toxicity = min(1.0, total_hits / n * 5.0)
    return (
        n_chars,
        n_words,
        alpha,
        repetition,
        non_latin,
        toxicity,
        1.0 if toxicity >= 0.9 else 0.0,
        min(1.0, counts["insult"] / n * 5.0),
        min(1.0, counts["threat"] / n * 5.0),
        min(1.0, counts["slur"] / n * 5.0),
        min(1.0, counts["sexual"] / n * 5.0),
    )


def _token_stats_py(t):
    """Stage-4 token stats for one row (metrics.py token_count /
    unique_tokens / unique_token_ratio / stopword_ratio /
    max_token_frequency)."""
    s = t if isinstance(t, str) else ""
    toks = s.split()
    total = len(toks)
    if total == 0:
        return (0, 0, 0.0, 0.0, 0)
    counts = Counter(toks)
    uniq = len(counts)
    # lower() once per DISTINCT token (round 15) — same tally as the
    # per-occurrence loop, since equal tokens share one lowercase form
    stop_hits = sum(
        v for k, v in counts.items() if k.lower() in _STOPWORD_SET
    )
    return (total, uniq, uniq / total, stop_hits / total, max(counts.values()))


_CLEAN_METRICS = row_udf(CLEAN_METRICS_SCHEMA, _clean_metrics_py)
_TOKEN_STATS = row_udf(TOKEN_STATS_SCHEMA, _token_stats_py)


def clean_metrics_struct(c: Column | str) -> Column:
    """Arrow-batched stage-2 metric block, bit-identical to the expression
    forms (see module docstring)."""
    return _CLEAN_METRICS(_col(c))


def token_stats_struct(c: Column | str) -> Column:
    """Arrow-batched stage-4 token stats, bit-identical to the expression
    forms (see module docstring)."""
    return _TOKEN_STATS(_col(c))
