"""Language identification.

The reference uses the ``langdetect`` library per row (text_clean_and_filter.py:385-408,
seeded at :32) — the single slowest operator in the whole pipeline (95 min of
the 105-min run, BASELINE.md). That library is not available here and is
non-deterministic beyond its seed, so the engine ships two detectors:

  1. ``langid_struct`` — a deterministic, pure-Catalyst heuristic
     (script-range detection for non-Latin scripts + stopword-profile argmax
     for Latin-script languages). This is the default and the oracle-checkable
     path; it is also the 100 TB path (no Python in the loop at all).
  2. ``langdetect_udf`` — an Arrow-batched pandas UDF wrapping ``langdetect``
     when installed, for drop-in parity with the reference (seed 2025).

Output contract matches the reference: struct(lang_pred string, lang_score
double), ("unk", 0.0) for empty/undecidable input.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType

from llm_pretraining_data_pipeline_spark.functions.arrow_rows import row_udf, struct_type
from llm_pretraining_data_pipeline_spark.functions.metrics_vec import is_jvm_letter
from llm_pretraining_data_pipeline_spark.functions.text_norm import _col, ws_tokens

# Compact high-frequency stopword profiles (public-knowledge function words).
STOPWORD_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was",
           "with", "are", "this", "have", "from", "not", "they", "his", "her", "you",
           "a", "an", "on", "at", "as", "be", "by", "or", "but", "all",
           "one", "we", "had", "were", "which"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "den", "nicht", "ein",
           "eine", "als", "auch", "auf", "sich", "des", "dem", "zu", "im", "für"],
    "fr": ["le", "la", "les", "des", "est", "et", "en", "que", "qui", "dans",
           "pour", "pas", "une", "sur", "avec", "son", "ne", "ce", "il", "au"],
    "es": ["el", "la", "los", "las", "es", "y", "en", "que", "por", "con",
           "para", "una", "del", "se", "su", "al", "lo", "como", "más", "pero"],
    "it": ["il", "la", "di", "che", "è", "e", "per", "un", "una", "non",
           "sono", "con", "del", "della", "gli", "le", "si", "nel", "ma", "anche"],
    "pt": ["o", "a", "os", "as", "é", "e", "de", "do", "da", "em",
           "que", "para", "um", "uma", "com", "não", "por", "mais", "dos", "como"],
    "nl": ["de", "het", "een", "en", "van", "is", "dat", "op", "te", "zijn",
           "met", "voor", "niet", "aan", "er", "maar", "ook", "als", "bij", "dan"],
}

# Common character trigrams per language (public corpus-frequency knowledge;
# the n-gram flavor of detection the reference's langdetect uses). Scores
# natural text AND function-word-poor text (titles, keyword soup) where the
# stopword profiles under-rate.
CHAR_TRIGRAM_PROFILES: dict[str, list[str]] = {
    "en": ["the", "he ", " th", "ing", "nd ", "ng ", "er ", " an", "and", "ed ",
           "ion", " of", "of ", "tio", " to", "to ", " in", "in ", "ent", "es ",
           "at ", "on ", "re ", " co", " re", "ati", "ter", " be", "is ", "or ",
           "e t", "s t", " wh", "as ", " ha", " it", "th ", " is", "ly ", " wi"],
    "de": ["en ", "er ", " de", "der", "ie ", "die", "nd ", "und", " un", "ch ",
           "ein", "ung", "sch", " ei", "che", "ich", "den", "in ", "te ", " be",
           "ne ", "gen", " ge", "ver", " ve", "cht", "das", " da", "ten", "ht "],
    "fr": ["es ", " de", "de ", "le ", " le", "ent", "nt ", "la ", " la", "et ",
           " et", "ion", "re ", "e d", " co", "que", " qu", "ue ", "ne ", "ur ",
           "les", "tio", " pa", "ait", "our", " po", "ais", "on ", "ant", "eur"],
    "es": [" de", "de ", "os ", "la ", " la", "el ", " el", "es ", "as ", "ión",
           "en ", " en", "ue ", "que", " qu", " co", "ent", "a d", "ado", " se",
           "nte", "los", " lo", "do ", "ció", " es", "sta", "con", "res", "e l"],
    # Added alongside the en/de/fr/es originals so every stopword-profiled
    # Latin language gets the same trigram reinforcement — without these,
    # pt/it/nl prose competed against trigram-boosted es/en scores.
    "it": ["che", " ch", "he ", " di", "di ", " la", "la ", " il", "il ", "per",
           " pe", "er ", "una", " un", "na ", "non", " no", "on ", "con", " co",
           "del", "ell", "lla", "gli", " gl", "li ", " ne", "ne ", "anc", "nch",
           " an", "ent", "nte", "ion", "zio", "to ", "re ", "ta ", "ato", "e d"],
    "pt": ["que", " qu", "ue ", " de", "de ", "do ", " do", "da ", " da", "os ",
           "as ", "ão ", "ção", "çõe", " co", "com", "om ", "par", " pa", "ra ",
           " se", "se ", "em ", " em", "um ", " um", "uma", "não", " nã", "ent",
           "nte", "ara", "dos", "das", "a d", "o d", "e a", "men", "ade", "is "],
    "nl": ["de ", " de", "het", " he", "et ", "en ", "van", " va", "an ", "een",
           " ee", "n d", "er ", "der", "ver", " ve", "ijk", " ge", "gen", "ing",
           "ng ", "te ", " te", "aar", "oor", " vo", "sch", "cht", "aan", " aa",
           "at ", "dat", " da", "ijn", "zij", " zi", "ede", "nde", "den", "ten"],
    # Script languages with alphabetic writing get trigram profiles too
    # (blended into the script-range candidates): they lift mixed-script
    # text where the 0.30 script-fraction gate alone scores zero. zh/ja/ko/ar
    # stay script-only — char trigrams over ideographs/abjad text have no
    # stable function-word signal of this shape.
    "ru": ["ого", "его", " на", "на ", " по", "по ", " не", "не ", "ени", "ние",
           "ия ", " пр", "при", "ств", "ост", " то", "то ", "ать", "ет ", " в ",
           "ов ", " со", "ско", " ко", "ых ", "ово", "тся", "ной", "ами", "ли ",
           "ть ", "ла ", " и ", "ом ", "ый ", " от", "ста", "ере", " ре", "ние"],
    "el": ["και", " κα", "αι ", "την", " τη", "τη ", "του", " το", "το ", "ου ",
           "ης ", "ται", "ετα", " πα", " πρ", "περ", "ματ", " στ", "στο", "ων ",
           "ναι", "είν", "ίνα", "ια ", "ον ", " απ", "από", "πό ", "οι ", "ει ",
           "να ", " να", "τα ", " τα", "ση ", "σε ", " σε", "ές ", "ός ", "ική"],
}


def trigram_evidence(c: Column | str, lang: str) -> Column:
    """Unclipped trigram evidence: profile-coverage fraction × 5. Natural
    prose hits ~0.15-0.35 of the top-40 profile (evidence 0.75-1.75);
    keyword soup stays well below the 0.8 confidence bar.

    Implemented as ONE JVM regex scan per language: a zero-width lookahead
    alternation ``(?=(g1|g2|...))`` counts every position where a profile
    trigram starts — overlapping occurrences included — which is exactly the
    number of the padded text's sliding character trigrams that are in the
    profile, but stays inside whole-stage codegen. The HOF formulation
    (transform+filter per language, interpreted, re-evaluated per reference —
    no CSE for lambda bodies) made langid_struct(use_trigrams=True) ~20×
    slower in the pipeline hot path.
    """
    pat = "(?=(" + "|".join(_re.escape(g) for g in CHAR_TRIGRAM_PROFILES[lang]) + "))"
    s = F.concat(
        F.lit(" "), F.lower(F.coalesce(_col(c).cast("string"), F.lit(""))), F.lit(" ")
    )
    n = F.length(s) - F.lit(2)  # number of sliding trigrams in the padded text
    hits = F.regexp_count(s, F.lit(pat))
    frac = F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
    return frac * F.lit(5.0)


def trigram_score(c: Column | str, lang: str) -> Column:
    """``trigram_evidence`` clipped to [0, 1] (the oracle-checked form)."""
    return F.least(F.lit(1.0), trigram_evidence(c, lang))


# Unicode script blocks for non-Latin script detection.
SCRIPT_RANGES: dict[str, str] = {
    "zh": "[\\u4e00-\\u9fff]",
    "ja": "[\\u3040-\\u30ff]",
    "ko": "[\\uac00-\\ud7af]",
    "ru": "[\\u0400-\\u04ff]",
    "ar": "[\\u0600-\\u06ff]",
    "el": "[\\u0370-\\u03ff]",
}

_SCRIPT_MIN_FRACTION = 0.30


def _char_fraction(s: Column, char_class: str) -> Column:
    total = F.length(s)
    hits = F.length(s) - F.length(F.regexp_replace(s, char_class, ""))
    return F.when(total > 0, hits.cast("double") / total.cast("double")).otherwise(F.lit(0.0))


def langid_struct(c: Column | str, use_trigrams: bool = False) -> Column:
    """struct(lang_pred, lang_score) via script ranges + stopword profiles,
    optionally blended with char-trigram evidence.

    Deterministic argmax: candidates are packed as struct(score, lang) and
    reduced with array_max (struct ordering = field order, ties broken by
    language code — stable across engines and partitionings).

    ``use_trigrams=True`` blends stopword and char-trigram evidence per
    language — two independent weak signals reinforce on natural prose while
    keyword soup stays low-confidence, mirroring langdetect's n-gram
    robustness. In this mode the argmax runs on the UNCLIPPED evidence sums
    (clipping only the emitted score to [0, 1]): with clipped scores every
    fluent Romance sentence saturates several languages to exactly 1.0 and
    the winner degenerates to a lexical tie-break on the language code.
    Japanese additionally gets kana-gated kanji credit — Han characters sit
    in the zh script range, so kanji-heavy Japanese otherwise outscores as
    Chinese even when kana prove it isn't.

    ``use_trigrams=False`` is the round-1 oracle-checked semantics,
    unchanged (p09_langid's DuckDB oracle encodes it literally).
    """
    s = F.coalesce(_col(c).cast("string"), F.lit(""))
    toks = F.transform(ws_tokens(F.lower(s)), lambda t: F.regexp_replace(t, "[^\\p{L}']", ""))
    n = F.size(F.filter(toks, lambda t: F.length(t) > 0))

    candidates = []
    for lang, range_class in SCRIPT_RANGES.items():
        frac = _char_fraction(s, range_class)
        if use_trigrams:
            score = F.when(frac >= _SCRIPT_MIN_FRACTION, frac * 2).otherwise(F.lit(0.0))
            if lang == "ja":
                # kana (3040-30ff) is uniquely Japanese; when present, the
                # Han characters in the text are kanji and count toward ja
                han = _char_fraction(s, SCRIPT_RANGES["zh"])
                score = F.when(frac >= 0.05, (frac + han) * 2).otherwise(score)
            if lang in CHAR_TRIGRAM_PROFILES:
                # alphabetic script languages (ru/el): trigram evidence lifts
                # mixed-script text the script-fraction gate alone misses
                score = score + trigram_evidence(c, lang)
        else:
            score = F.when(
                frac >= _SCRIPT_MIN_FRACTION, F.least(F.lit(1.0), frac * 2)
            ).otherwise(F.lit(0.0))
        candidates.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    for lang, words in STOPWORD_PROFILES.items():
        profile = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(profile, t)))
        frac = F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))
        if use_trigrams:
            score = frac * F.lit(4.0) + trigram_evidence(c, lang)
        else:
            score = F.least(F.lit(1.0), frac * F.lit(4.0))
        candidates.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))

    best = F.array_max(F.array(*candidates))
    return F.when(
        (F.length(F.trim(s)) == 0) | (best["score"] <= 0.0),
        F.struct(F.lit("unk").alias("lang"), F.lit(0.0).alias("score")),
    ).otherwise(
        F.struct(
            best["lang"].alias("lang"),
            F.least(F.lit(1.0), best["score"]).alias("score"),
        )
    )


# ---------------------------------------------------------------------------
# Vectorized fast path: bit-identical to langid_struct, one Arrow batch pass.
#
# WHY: the pure-Catalyst expression tree above is 15 independent regex scans
# per row (6 script-range classes + 9 forty-alternative trigram lookaheads)
# plus an 8×-recomputed token array (lambda-bearing HOFs are excluded from
# Spark's subexpression elimination), measured at ~60 s for 500k docs on
# local[32] — the single most expensive expression in the whole pipeline.
# A vectorized pass does ONE dict lookup per character position against the
# merged trigram→languages table and one tokenisation, measured at ~9 s on
# the same corpus (≈6×). Bit-parity with langid_struct is contract, not
# aspiration: tests/test_langid_trigram.py asserts exact (lang, score)
# equality on the corpus, multilingual edge fixtures (final sigma, Turkish
# dotted I, ligatures, astral-plane letters, C0 separators), and
# hypothesis-fuzzed unicode, in both trigram modes.
#
# 100 TB: Arrow-batched, shuffle-free, embarrassingly parallel; the same
# sanctioned-Python shape as the BPE tokeniser (SURVEY §2.8). langid_struct
# remains the definitional form — p09/p09b's DuckDB oracles encode it
# literally, and this function must follow it, never lead it.
# ---------------------------------------------------------------------------

def _parse_script_ranges() -> dict[str, tuple[str, str]]:
    """Codepoint bounds parsed from SCRIPT_RANGES so the two paths can't drift."""
    out = {}
    for lang, cls in SCRIPT_RANGES.items():
        m = _re.fullmatch(r"\[\\u([0-9a-fA-F]{4})-\\u([0-9a-fA-F]{4})\]", cls)
        if m is None:  # pragma: no cover - guards future edits to SCRIPT_RANGES
            raise ValueError(f"unparseable script range for {lang}: {cls!r}")
        out[lang] = (chr(int(m.group(1), 16)), chr(int(m.group(2), 16)))
    return out


_SCRIPT_BOUNDS = _parse_script_ranges()
_TRIGRAM_LANGS = list(CHAR_TRIGRAM_PROFILES)
# merged table: trigram -> tuple of language indexes whose profile contains it
_TRIGRAM_TABLE: dict[str, tuple[int, ...]] = {}
for _i, _lang in enumerate(_TRIGRAM_LANGS):
    for _g in CHAR_TRIGRAM_PROFILES[_lang]:
        _TRIGRAM_TABLE[_g] = _TRIGRAM_TABLE.get(_g, ()) + (_i,)
_STOPWORD_SETS = {lang: frozenset(words) for lang, words in STOPWORD_PROFILES.items()}
# first codepoint of any script range — everything below short-circuits
_SCRIPT_FLOOR = min(lo for lo, _ in _SCRIPT_BOUNDS.values())


def _langid_py(t, use_trigrams: bool):
    """Pure-Python mirror of langid_struct for one row. Every arithmetic step
    (order of operations included) matches the Catalyst expression so IEEE
    doubles come out identical."""
    s = t if isinstance(t, str) else ""
    low = s.lower()

    tri_ev = None
    if use_trigrams:
        padded = " " + low + " "
        n_tri = len(padded) - 2
        hits = [0] * len(_TRIGRAM_LANGS)
        if len(padded) >= 3:
            table = _TRIGRAM_TABLE
            for i in range(n_tri):
                langs = table.get(padded[i : i + 3])
                if langs is not None:
                    for j in langs:
                        hits[j] += 1
        tri_ev = {
            lang: ((hits[j] / n_tri) if n_tri > 0 else 0.0) * 5.0
            for j, lang in enumerate(_TRIGRAM_LANGS)
        }

    total = len(s)
    sfrac = {}
    if s.isascii():
        for lang in _SCRIPT_BOUNDS:
            sfrac[lang] = 0.0
    else:
        counts = dict.fromkeys(_SCRIPT_BOUNDS, 0)
        floor = _SCRIPT_FLOOR
        for ch in s:
            if ch < floor:
                continue
            for lang, (lo, hi) in _SCRIPT_BOUNDS.items():
                if lo <= ch <= hi:
                    counts[lang] += 1
        for lang in _SCRIPT_BOUNDS:
            sfrac[lang] = (counts[lang] / total) if total > 0 else 0.0

    # ws_tokens(lower) + per-token [^\p{L}'] removal + drop-empties ==
    # Python str.split() + JVM-letter filter (PY_WS_RE is defined as
    # Python's whitespace set, sweep-verified; \p{L} == metrics_vec's
    # is_jvm_letter — str.isalpha() minus newer-Unicode letters the JVM's
    # tables don't know). ASCII fast path: the two predicates agree on all
    # of ASCII.
    toks = []
    for tk in low.split():
        if tk.isascii() and tk.isalpha():
            toks.append(tk)
        else:
            cleaned = "".join(ch for ch in tk if is_jvm_letter(ch) or ch == "'")
            if cleaned:
                toks.append(cleaned)
    n = len(toks)

    cands = []
    for lang in _SCRIPT_BOUNDS:
        frac = sfrac[lang]
        if use_trigrams:
            score = frac * 2 if frac >= _SCRIPT_MIN_FRACTION else 0.0
            if lang == "ja" and frac >= 0.05:
                score = (frac + sfrac["zh"]) * 2
            if lang in CHAR_TRIGRAM_PROFILES:
                score = score + tri_ev[lang]
        else:
            score = min(1.0, frac * 2) if frac >= _SCRIPT_MIN_FRACTION else 0.0
        cands.append((score, lang))
    for lang, prof in _STOPWORD_SETS.items():
        hits_sw = 0
        for tk in toks:
            if tk in prof:
                hits_sw += 1
        frac = (hits_sw / n) if n > 0 else 0.0
        if use_trigrams:
            score = frac * 4.0 + tri_ev[lang]
        else:
            score = min(1.0, frac * 4.0)
        cands.append((score, lang))

    best_score, best_lang = max(cands)
    if (not s.strip()) or best_score <= 0.0:
        return ("unk", 0.0)
    return (best_lang, min(1.0, best_score))


LANG_SCHEMA = struct_type(lang=StringType(), score=DoubleType())


def _langid_stopwords(t):
    return _langid_py(t, use_trigrams=False)


def _langid_trigrams(t):
    return _langid_py(t, use_trigrams=True)


_LANGID = row_udf(LANG_SCHEMA, _langid_stopwords)
_LANGID_TRIGRAMS = row_udf(LANG_SCHEMA, _langid_trigrams)


def langid_struct_vectorized(c: Column | str, use_trigrams: bool = False) -> Column:
    """Drop-in replacement for ``langid_struct`` via an Arrow-batched row
    UDF — same struct(lang, score), bit-identical values, ~6× faster in the
    pipeline hot path (see module-level rationale above)."""
    return (_LANGID_TRIGRAMS if use_trigrams else _LANGID)(_col(c))


def _langdetect_row(t):
    from langdetect import DetectorFactory, detect_langs

    DetectorFactory.seed = 2025  # reference parity: text_clean_and_filter.py:32
    if not (isinstance(t, str) and t.strip()):
        return ("unk", 0.0)
    try:
        cands = detect_langs(t)
    except Exception:
        return ("unk", 0.0)
    if not cands:
        return ("unk", 0.0)
    best = max(cands, key=lambda x: x.prob)
    return (best.lang, float(best.prob))


def langdetect_udf():
    """Optional parity detector: Arrow-batched langdetect wrapper, or None.

    The library is imported inside the row function, so executor python
    workers load it on first use; returns None when langdetect is not
    installed.
    """
    try:
        import langdetect  # noqa: F401
    except ImportError:
        return None
    return row_udf(LANG_SCHEMA, _langdetect_row)
