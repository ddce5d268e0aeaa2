"""Text normalisation & canonicalisation as Catalyst column expressions.

Reference semantics (all pandas row loops there, all JVM expressions here):
  * ``normalize_text``      — text_clean_and_filter.py:56-86
  * ``char_len/word_count`` — text_clean_and_filter.py:124-127
  * ``canonicalize_for_exact/near`` — duplication.py:31-56
  * ``pick_text`` fallback  — Export_to_jsonl.py:25-30

Only NFKC unicode normalisation has no Spark builtin. It runs in the JVM
too, through the ICU4J that Spark bundles, so NFKC follows that ICU's
Unicode version, not Python's ``unicodedata`` (see ``nfkc_normalize``). It
is optional — ``normalize_text_expr`` can be built without it for
ASCII-ish corpora and for the DuckDB oracle, which has no NFKC either.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# U+0000-001F and U+007F-009F, as in reference CONTROL_CHAR_RE
# (text_clean_and_filter.py:50-53). Reference replaces them with a space.
CONTROL_CHAR_CLASS = "[\\x00-\\x1f\\x7f-\\x9f]"

# Python's re module treats the C0 separators \x1c-\x1f as whitespace on top
# of the Unicode White_Space set; Java's (?U)\\s does not — the union below
# makes JVM regex whitespace semantics identical to the reference's Python.
PY_WS_RE = "(?U)[\\s\\x1c-\\x1f]+"

# Null-like literal strings dropped by the prefilter
# (text_clean_and_filter.py:150).
NULL_LIKE_STRINGS = ["nan", "none", "null", "n/a", "null value"]


def nfkc_normalize(c: Column | str) -> Column:
    """NFKC unicode normalisation (the one step with no Spark builtin), in
    the JVM: ICU4J's ``Normalizer.compose(s, true)`` called through
    ``reflect``, from the ICU jar Spark bundles. Null stays null — the
    guard matters, since ``compose(null)`` throws inside the task.

    NFKC therefore follows the bundled ICU's Unicode version, not the
    running Python's ``unicodedata``. They agree on every code point that
    both assign; they can differ only on code points the older of the two
    leaves unassigned. With ICU4J 77.1 (Unicode 16) against Python 3.11
    (Unicode 14.0), 98 code points differ, all unassigned in 14.0 — for
    example U+1CCD6 maps to ``A``. Catalyst counts ``reflect`` as
    nondeterministic, like ingest's ``monotonically_increasing_id``: the
    optimizer never duplicates it or pushes a filter below it.
    """
    s = _col(c)
    return F.when(
        s.isNotNull(),
        F.reflect(F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), s, F.lit(True)),
    )


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def collapse_ws(c: Column | str) -> Column:
    """Collapse runs of whitespace to single spaces and trim.

    ``(?U)`` makes Java's ``\\s`` match the same Unicode whitespace set
    Python's ``re`` uses (the reference collapses with Python ``\\s+``,
    text_clean_and_filter.py:81).
    """
    return F.trim(F.regexp_replace(_col(c), PY_WS_RE, " "))


def normalize_text_expr(c: Column | str, *, nfkc: bool = True) -> Column:
    """NFKC → strip control chars → collapse whitespace → trim → NULL if empty.

    Null input stays null (reference returns None for NaN).
    """
    s = _col(c).cast("string")
    if nfkc:
        s = nfkc_normalize(s)
    s = F.regexp_replace(s, CONTROL_CHAR_CLASS, " ")
    s = collapse_ws(s)
    return F.nullif(s, F.lit(""))


def ws_tokens(c: Column | str) -> Column:
    """Whitespace tokenisation matching Python ``str.split()``.

    Python's split() drops empty strings; Spark's ``split`` of an empty
    string yields ``[""]``, so the empty case is special-cased. Null input
    yields an empty array (callers decide null semantics upstream).
    """
    s = _col(c)
    empty = F.array().cast("array<string>")
    pieces = F.filter(F.split(s, PY_WS_RE), lambda t: F.length(t) > 0)
    return F.when(s.isNull(), empty).otherwise(pieces)


def _let(bound: Column, fn) -> Column:
    """Let-binding for Catalyst expressions: evaluate ``bound`` ONCE and
    feed it to ``fn`` as a lambda variable.

    Referencing a subexpression twice in a projection duplicates its whole
    tree (``_run_stats(g)["a"]`` + ``_run_stats(g)["b"]`` runs the scan
    twice — there is no interpreted-mode CSE, and HOFs are interpreted).
    Inside a lambda body it is worse: in
    ``transform(seq, i -> slice(ws_tokens(t), i, n))`` the regex split of
    the whole text re-runs for EVERY element, quadratic in document
    length. ``transform(array(x), fn)[0]`` binds x to a lambda variable
    instead, so every reference inside ``fn`` reads the one evaluation.
    """
    return F.transform(F.array(bound), fn)[0]


def char_len(c: Column | str) -> Column:
    """Length of the (normalised) text; null-propagating like pandas str.len."""
    return F.length(_col(c)).cast("long")


def word_count(c: Column | str) -> Column:
    """Whitespace word count with null→0 (reference fillna("") then split)."""
    return F.size(ws_tokens(F.coalesce(_col(c), F.lit("")))).cast("long")


def canonicalize_for_exact(c: Column | str) -> Column:
    """lower → trim → collapse whitespace; null maps to "" (duplication.py:39-40).

    The null→"" mapping is semantic: it groups all empty docs under one hash
    (a known skew key at scale — the dedup operator salts/AQE-handles it).
    """
    s = _col(c).cast("string")
    return F.coalesce(collapse_ws(F.lower(s)), F.lit(""))


def canonicalize_for_near(c: Column | str, max_chars: int = 500) -> Column:
    """Exact canonical form truncated to the first ``max_chars`` chars."""
    return F.substring(canonicalize_for_exact(c), 1, max_chars)


def pick_text(*cols: Column | str) -> Column:
    """First non-empty (after trim) of the given columns, else "".

    Reference idiom repeated at four export sites (Export_to_jsonl.py:25-30,
    deep_clean_and_pii.py:667-673, duplication.py:240-246,
    scoring_and_mixture.py:185-190).
    """
    candidates = [F.nullif(F.trim(_col(c).cast("string")), F.lit("")) for c in cols]
    return F.coalesce(*candidates, F.lit(""))
