"""Corpus-level training-data quality signals, beyond the reference's per-doc
metrics (text_clean_and_filter.py computes only within-doc ratios; the
reference has no cross-document or n-gram repetition analysis).

These are the standard signals a web-scale pretraining pipeline computes
before/alongside dedup — the Gopher "repetition" rules (Rae et al. 2021,
table A1), C4/RefinedWeb-style paragraph dedup, and deterministic
hash-based sampling for dataset mixtures:

  * ``repetition_signals``   — per-doc dup-line / top-n-gram / dup-n-gram
    character fractions, computed entirely with JVM higher-order functions
    (array_sort + aggregate run-length scan) — zero shuffle, codegen'd,
    so it scales as a pure map over any corpus size.
  * ``cross_doc_dup_ngram_stats`` — per-doc fraction of distinct n-grams
    that also occur in at least one other document (the "how much of this
    doc is boilerplate seen elsewhere" signal). Shuffle-structured like
    word-count: explode → partial-agg groupBy on a 60-bit gram hash →
    key-partitioned join back; no all-pairs anywhere.
  * ``paragraph_dedup``      — corpus-wide keep-first paragraph-level
    dedup (RefinedWeb §3.3): first occurrence (doc order, then position)
    of each paragraph survives, documents are reassembled in original
    paragraph order. One shuffle on the paragraph hash + one per-doc agg.
  * ``hash_stratified_sample`` — deterministic per-stratum subsampling by
    sha256 threshold (reproducible across runs/engines, no RNG state):
    keep iff the first 8 hex chars of sha256(key) sort below the
    stratum's threshold. Used for language/source rebalancing.
  * ``mixture_weights``      — temperature-scaled (alpha=0.5, i.e. sqrt)
    sampling weights per stratum, the multilingual-mixture staple.
  * ``vocab_top_tokens``     — global token frequency top-k (word-count
    shape: explode → partial agg → TakeOrdered).

All outputs are DuckDB-oracle-expressible; the matching SQL lives in
``queries_corpus.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions import minhash_vec
from llm_pretraining_data_pipeline_spark.functions.hashing import h64, sha256_hex
from llm_pretraining_data_pipeline_spark.functions.text_norm import _let, ws_tokens

__all__ = [
    "ngrams",
    "repetition_signals",
    "cross_doc_dup_ngram_stats",
    "paragraph_dedup",
    "hash_stratified_sample",
    "stratum_threshold_hex",
    "mixture_weights",
    "vocab_top_tokens",
    "benchmark_overlap",
    "span_dedup",
    "exact_substr_dedup",
    "ks_drift",
    "gram_novelty",
    "type_token_stats",
    "vocab_coverage",
]


def ngrams(words: Column, n: int) -> Column:
    """Word n-grams (space-joined) of an array<string>; [] when too short.

    ``words`` is let-bound: it is usually ``ws_tokens(text)``, and a
    reference inside the per-gram lambda would re-split the whole text
    for every gram."""
    if n < 1:
        raise ValueError("n must be >= 1")

    def build(ws: Column) -> Column:
        k = F.size(ws) - F.lit(n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), k), lambda i: F.array_join(F.slice(ws, i, n), " ")
        )
        return F.when(k >= 1, grams).otherwise(F.array().cast("array<string>"))

    return _let(words, build)


def _run_stats(grams: Column) -> Column:
    """Run-length scan over the sorted gram array, in one codegen'd aggregate.

    Returns struct(best bigint, best_g string, dup_chars bigint):
      best/best_g — the highest occurrence count and its gram (ties broken
      toward the lexicographically smallest gram: strict `>` keeps the
      first maximum in sorted order);
      dup_chars   — sum of length(g) * count(g) over grams occurring >1
      time (accumulated incrementally: the 1→2 transition charges both
      occurrences, each further repeat charges one more).
    """
    zero = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit("").alias("best_g"),
        F.lit(0).cast("long").alias("dup_chars"),
    )

    def step(acc, x):
        same = acc.prev == x
        run2 = F.when(same, acc.run + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        glen = F.length(x).cast("long")
        dup2 = F.when(
            same,
            acc.dup_chars
            + glen * F.when(acc.run == 1, F.lit(2)).otherwise(F.lit(1)).cast("long"),
        ).otherwise(acc.dup_chars)
        best2 = F.when(run2 > acc.best, run2).otherwise(acc.best)
        bestg2 = F.when(run2 > acc.best, x).otherwise(acc.best_g)
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            best2.alias("best"),
            bestg2.alias("best_g"),
            dup2.alias("dup_chars"),
        )

    return F.aggregate(
        F.array_sort(grams),
        zero,
        step,
        lambda acc: F.struct(
            acc.best.alias("best"),
            acc.best_g.alias("best_g"),
            acc.dup_chars.alias("dup_chars"),
        ),
    )


def _gram_chars(grams: Column) -> Column:
    return F.aggregate(
        F.transform(grams, lambda g: F.length(g).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )


def _frac(num: Column, den: Column) -> Column:
    return F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0))


def _nonempty_lines(text: Column) -> Column:
    """Trimmed, non-empty lines of a text column — the one definition every
    line-level operator (Gopher, C4, RefinedWeb, repetition signals) shares,
    so a future change (e.g. \\r\\n handling) cannot silently diverge them
    or their oracle twin (O.trimmed_lines)."""
    return F.filter(
        F.transform(F.split(text, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )


def _top_ngram_char_frac(text: Column, words: Column, n: int) -> Column:
    """chars of the most frequent word n-gram / text length — the run-stats
    struct is let-bound so ``best`` and ``best_g`` share one scan."""
    return _let(
        _run_stats(ngrams(words, n)),
        lambda st: _frac(
            st["best"] * F.length(st["best_g"]).cast("long"), F.length(text)
        ),
    )


def _dup_ngram_char_frac(words: Column, n: int) -> Column:
    """fraction of n-gram chars in grams occurring >1 time — the gram array
    is let-bound so the run scan and the char sum share one n-gram build."""
    return _let(
        ngrams(words, n),
        lambda g: _frac(_run_stats(g)["dup_chars"], _gram_chars(g)),
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ngram_sizes: tuple[int, ...] = (2, 3),
    dup_ngram_sizes: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021 A1).

    Per document:
      * ``n_lines``, ``dup_line_frac``, ``dup_line_char_frac`` — over
        trimmed non-empty lines: fraction of lines (and of line
        characters) lost when exact-duplicate lines collapse;
      * ``top{n}gram_char_frac`` — chars covered by the single most
        frequent word n-gram (count × gram length) / text length;
      * ``dup{n}gram_char_frac`` — of all n-gram characters, the fraction
        belonging to n-grams that occur more than once in the doc.

    Pure per-row expression tree (no shuffle, no UDF): the n-gram counting
    is a run-length scan over the sorted gram array inside ``aggregate``.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = _nonempty_lines(text)
    n_lines = F.size(lines).cast("long")
    n_uniq = F.size(F.array_distinct(lines)).cast("long")
    line_chars = _gram_chars(lines)
    uniq_chars = _gram_chars(F.array_distinct(lines))

    words = ws_tokens(text)
    cols = [
        F.col(id_col),
        n_lines.alias("n_lines"),
        _frac(n_lines - n_uniq, n_lines).alias("dup_line_frac"),
        _frac(line_chars - uniq_chars, line_chars).alias("dup_line_char_frac"),
    ]
    for n in top_ngram_sizes:
        cols.append(
            _top_ngram_char_frac(text, words, n).alias(f"top{n}gram_char_frac")
        )
    for n in dup_ngram_sizes:
        cols.append(
            _dup_ngram_char_frac(words, n).alias(f"dup{n}gram_char_frac")
        )
    return df.select(*cols)


def cross_doc_dup_ngram_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 5
) -> DataFrame:
    """Per-doc share of distinct word n-grams that appear in ≥2 documents.

    Scale shape = word-count: explode distinct grams per doc, groupBy the
    60-bit gram hash (map-side partial agg), key-partitioned join back,
    per-doc agg. Joining/grouping on ``h64(gram)`` instead of the raw
    string keeps the shuffle rows narrow; at web scale the 60-bit space
    makes cross-gram collisions (which would only perturb a count)
    vanishingly rare.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(ngrams(ws_tokens(F.coalesce(F.col(text_col), F.lit(""))), n))).alias(
            "gram"
        ),
    ).select(id_col, h64(F.col("gram")).alias("gh"))
    counts = grams.groupBy("gh").agg(F.count(F.lit(1)).alias("nd"))
    per_doc = (
        grams.join(counts, "gh")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("nd") >= 2, 1).otherwise(0)).alias("n_dup_grams"),
        )
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
            _frac(F.coalesce("n_dup_grams", F.lit(0)), F.coalesce("n_grams", F.lit(0))).alias(
                "cross_dup_frac"
            ),
        )
    )


_PARA_SEP = "\n\n"


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup, keep-first (RefinedWeb §3.3).

    Paragraphs are trimmed ``\\n\\n`` splits (empties dropped). The first
    occurrence corpus-wide — ordered by (doc id, position) — survives;
    every document is reassembled from its surviving paragraphs in
    original order (a fully-deduplicated doc keeps an empty string).

    One shuffle on the paragraph sha256 (window keep-first, same shape as
    D1 exact dedup) + one per-doc aggregation. No driver-side loops.
    """
    paras = (
        df.select(
            F.col(id_col),
            F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), _PARA_SEP)).alias(
                "pos", "para"
            ),
        )
        .withColumn("para", F.trim("para"))
        .filter(F.length("para") > 0)
    )
    w = Window.partitionBy(sha256_hex(F.col("para"))).orderBy(id_col, "pos")
    kept = paras.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))), lambda s: s.para
            ),
            _PARA_SEP,
        ).alias("dedup_text"),
        F.count(F.lit(1)).alias("n_paras_kept"),
    )
    orig = df.select(
        id_col,
        F.size(
            F.filter(
                F.transform(
                    F.split(F.coalesce(F.col(text_col), F.lit("")), _PARA_SEP),
                    lambda p: F.trim(p),
                ),
                lambda p: F.length(p) > 0,
            )
        )
        .cast("long")
        .alias("n_paras_orig"),
    )
    return orig.join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        F.coalesce("n_paras_kept", F.lit(0)).cast("long").alias("n_paras_kept"),
        "n_paras_orig",
    )


def stratum_threshold_hex(fraction: float) -> str:
    """8-hex-char threshold: keep iff substr(sha256(key),1,8) < threshold.

    Lexicographic comparison of fixed-width lowercase hex equals numeric
    comparison of the first 32 hash bits, so the kept rate converges to
    ``fraction`` — identically in any engine with sha256 (no RNG state,
    reproducible, and a smaller fraction's sample is a strict subset of a
    larger one's).
    """
    f = min(max(fraction, 0.0), 1.0)
    if f >= 1.0:
        return "g" * 8  # sorts above every hex digit: keep all
    return format(int(f * 2**32), "08x")


def hash_stratified_sample(
    df: DataFrame,
    strata_col: str,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    default_fraction: float = 0.0,
    salt: str = ":stratum",
) -> DataFrame:
    """Deterministic stratified subsample: per-stratum sha256 thresholding.

    Pure narrow filter — no shuffle, no RNG; given a fixed ``salt`` the
    same row set is kept on every run, every engine, any partitioning.
    Strata absent from ``fractions`` fall back to ``default_fraction``.

    The draw is salted with ``:stratum`` (each sampling operator salts its
    own draw — ``weighted_sample`` uses ``:sample``, ``hash_split`` uses
    ``:split``) so composing them on the SAME key keeps independent
    decisions: an unsalted shared draw would make e.g. every
    ``weighted_sample(p=0.5)`` survivor land in ``hash_split``'s 'train'
    bucket, silently emptying val/test.

    .. note:: **Changed in round 7** — the draw was previously unsalted
       (``sha256(key)``), so samples persisted by earlier rounds keep a
       DIFFERENT row set than a rerun under the new default. Pass
       ``salt=""`` to reproduce a legacy selection exactly (see
       CHANGELOG.md).
    """
    bucket = F.substring(
        sha256_hex(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 8,
    )
    thr = F.lit(stratum_threshold_hex(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(strata_col) == value, F.lit(stratum_threshold_hex(frac))
        ).otherwise(thr)
    return df.withColumn("sample_bucket", bucket).filter(F.col("sample_bucket") < thr)


def mixture_weights(
    df: DataFrame, strata_col: str = "lang", id_col: str = "doc_id"
) -> DataFrame:
    """Temperature-scaled mixture weights per stratum, alpha = 0.5.

    weight_s ∝ sqrt(n_s / N), normalised to sum 1 — the standard
    multilingual rebalancing (sqrt, not pow, so both engines produce the
    correctly-rounded IEEE value). Tiny output (one row per stratum);
    the window renormalisation runs over the aggregated frame only.
    """
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_docs"))
    total = Window.partitionBy()
    p = F.col("n_docs").cast("double") / F.sum("n_docs").over(total).cast("double")
    scaled = F.sqrt(p)
    return counts.select(
        strata_col,
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(p, 6).alias("p_raw"),
        F.round(scaled / F.sum(scaled).over(total), 6).alias("mix_weight"),
    )


def vocab_top_tokens(
    df: DataFrame, text_col: str = "text", k: int = 50
) -> DataFrame:
    """Global lowercase-token frequency top-k (deterministic order).

    The canonical word-count: explode → map-side partial agg → final agg →
    TakeOrderedAndProject for the limit. Ordering ties break on the token
    string, so results are total-ordered and reproducible.
    """
    toks = df.select(
        F.explode(ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))).alias("token")
    )
    return (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(k)
    )


def _distinct_grams(text_col: str, n: int) -> Column:
    return F.array_distinct(
        ngrams(ws_tokens(F.coalesce(F.col(text_col), F.lit(""))), n)
    )


def benchmark_overlap(
    df: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_hits: int = 1,
) -> DataFrame:
    """Test-set decontamination: per corpus doc, how many of its distinct
    word ``n``-grams also occur anywhere in the eval/benchmark set (the
    GPT-3 appendix-C / PaLM overlap check; production pipelines use 8-13
    grams — ``n`` is a knob because the fixture corpus is short-text).

    Output per doc: ``n_grams`` (distinct), ``n_hit`` (distinct grams shared
    with the eval set), ``contam_frac``, and ``contaminated`` (>= min_hits).

    100 TB shape: benchmark suites are tiny next to the corpus (millions of
    grams, not billions), so the distinct eval-gram hash set is BROADCAST and
    the probe is a map-side left-semi join over the exploded corpus grams —
    the corpus is never shuffled on gram; the only shuffle is the per-doc
    re-aggregation of the (rare) matching rows on ``id_col``. Gram identity
    travels as the 60-bit ``h64`` hash to keep the broadcast and the shuffle
    rows narrow.
    """
    eval_grams = (
        eval_df.select(F.explode(_distinct_grams(text_col, n)).alias("gram"))
        .select(h64(F.col("gram")).alias("gh"))
        .distinct()
    )
    doc_grams = df.select(
        F.col(id_col), F.explode(_distinct_grams(text_col, n)).alias("gram")
    ).select(id_col, h64(F.col("gram")).alias("gh"))
    hits = (
        doc_grams.join(F.broadcast(eval_grams), "gh", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    base = df.select(
        F.col(id_col), F.size(_distinct_grams(text_col, n)).cast("long").alias("n_grams")
    )
    n_hit = F.coalesce("n_hit", F.lit(0)).cast("long")
    return base.join(hits, id_col, "left").select(
        id_col,
        "n_grams",
        n_hit.alias("n_hit"),
        _frac(n_hit, F.col("n_grams")).alias("contam_frac"),
        (n_hit >= min_hits).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (GPT-style concat-and-chunk) — the step that turns a
# cleaned document corpus into fixed-length training sequences.


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    token_col: str = "n_tok",
    id_col: str = "doc_id",
    nshards: int = 32,
) -> DataFrame:
    """Assign every document a token span in the packed training stream.

    Documents are laid end-to-end in the deterministic total order
    ``(shard, id)`` with ``shard = h64(id) % nshards``, then the stream is
    chunked into ``seq_len``-token sequences. Output per doc: its global
    token span [tok_start, tok_end) and the first/last sequence ids it
    touches (null for zero-token docs).

    100 TB shape: the running total is a TWO-PHASE cumsum — a window cumsum
    inside each hash shard (parallel across shards) plus per-shard prefix
    offsets (``nshards`` rows through the driver, broadcast back) — never a
    global ORDER BY window, which would funnel the corpus through one
    partition. Bit-equal to the single-window form since all sums are
    integer.
    """
    if seq_len < 1:
        raise ValueError("seq_len must be >= 1")
    spark = df.sparkSession
    shard = (h64(F.col(id_col)) % nshards).cast("int")
    base = df.select(
        F.col(id_col),
        shard.alias("shard"),
        F.coalesce(F.col(token_col), F.lit(0)).cast("long").alias("n_tok"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    within = base.withColumn("cum_in_shard", F.sum("n_tok").over(w))

    totals = {
        r["shard"]: r["tot"]
        for r in base.groupBy("shard").agg(F.sum("n_tok").alias("tot")).collect()
    }
    offsets, acc = [], 0
    for s in range(nshards):
        offsets.append((s, acc))
        acc += int(totals.get(s, 0) or 0)
    off_df = F.broadcast(
        spark.createDataFrame(offsets, "shard int, shard_offset long")
    )

    out = within.join(off_df, "shard").select(
        id_col,
        "shard",
        "n_tok",
        (F.col("shard_offset") + F.col("cum_in_shard") - F.col("n_tok")).alias(
            "tok_start"
        ),
        (F.col("shard_offset") + F.col("cum_in_shard")).alias("tok_end"),
    )
    has = F.col("n_tok") > 0
    return out.select(
        id_col,
        "shard",
        "n_tok",
        "tok_start",
        "tok_end",
        F.when(has, F.floor(F.col("tok_start") / seq_len)).alias("seq_first"),
        F.when(has, F.floor((F.col("tok_end") - 1) / seq_len)).alias("seq_last"),
    )


def pack_manifest(
    df: DataFrame,
    seq_len: int,
    token_col: str = "n_tok",
    id_col: str = "doc_id",
    nshards: int = 32,
) -> DataFrame:
    """Exploded packing manifest: one row per (sequence, document) slice.

    For every training sequence, which documents contribute which token
    range — the loader-side contract for building packed batches. Columns:
    seq_id, doc id, offset_in_seq, slice_len, doc_tok_start (offset of the
    slice within the document's own token stream).
    """
    spans = pack_sequences(df, seq_len, token_col, id_col, nshards)
    seqs = spans.filter(F.col("n_tok") > 0).select(
        id_col,
        "tok_start",
        "tok_end",
        F.explode(F.sequence("seq_first", "seq_last")).alias("seq_id"),
    )
    sl_start = F.greatest(F.col("tok_start"), F.col("seq_id") * seq_len)
    sl_end = F.least(F.col("tok_end"), (F.col("seq_id") + 1) * seq_len)
    return seqs.select(
        "seq_id",
        id_col,
        (sl_start - F.col("seq_id") * seq_len).cast("long").alias("offset_in_seq"),
        (sl_end - sl_start).cast("long").alias("slice_len"),
        (sl_start - F.col("tok_start")).cast("long").alias("doc_tok_start"),
    )


def _merge_win_intervals(starts: Column, w: int) -> Column:
    """Merge sorted w-token window starts into disjoint [lo, hi) token
    intervals — one fold, run BEFORE any per-token coverage test: a heavily
    self-duplicated doc has O(n_tokens) losing windows, and scanning them
    per token would make the rebuild quadratic in doc length. Overlapping/
    adjacent windows collapse, so each surviving interval is a MAXIMAL
    duplicated run (the shingle-chain stitching that recovers arbitrary-
    length repeats from fixed-width shingles)."""
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    return F.aggregate(
        starts,
        F.array().cast("array<struct<lo:int,hi:int>>"),
        lambda acc, st: F.when(
            (F.size(acc) > 0) & (st <= last(acc)["hi"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["lo"].alias("lo"),
                        F.greatest(last(acc)["hi"], st + F.lit(w)).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(st.alias("lo"), (st + F.lit(w)).alias("hi"))),
            )
        ),
    )


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 20,
) -> DataFrame:
    """ExactSubstr-style cross-document span dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): every
    duplicated ``w``-token window keeps its first occurrence corpus-wide
    (doc id, then position); tokens covered by any LOSING window are
    removed and each document is reassembled from its surviving tokens.

    Suffix-array ExactSubstr removes maximal duplicated substrings; the
    fixed-window form is its shuffle-friendly approximation — a duplicated
    span of length >= w is covered by its duplicated windows and removed,
    modulo sub-w boundary effects at span edges.

    Scale shape: one explode to (doc, start, h64(window)) rows — narrow,
    hash-keyed; ONE shuffle for the keep-first window on the 60-bit hash
    (the D1 pattern); one per-doc regroup of losing starts; the rebuild is
    a per-row HOF filter. Window identity travels as ``h64``, never the
    window text. The join back to the corpus broadcasts the (tiny) losing
    side on lightly-duplicated corpora; on heavily-duplicated ones it
    falls back to an id-keyed shuffle — the unavoidable reassembly cost,
    shared with ``paragraph_dedup``.
    """
    if w < 2:
        raise ValueError("w must be >= 2")
    words, joined, dup_ivs, kept = _window_dedup_core(df, text_col, id_col, w)
    return joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s.t), " ").alias("dedup_text"),
        F.size(words).cast("long").alias("n_tok_orig"),
        F.size(kept).cast("long").alias("n_tok_kept"),
        F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
    )


def _window_hashes(words: Column, w: int) -> Column:
    """h64 of every w-token window's space-joined text, in start order;
    [] when there are fewer than w tokens. ``words`` is let-bound, as in
    ``ngrams``, so the per-window lambda does not re-split the text."""

    def build(ws: Column) -> Column:
        k = F.size(ws) - F.lit(w - 1)
        return F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(1), k),
                lambda i: h64(F.array_join(F.slice(ws, i, w), " ")),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    return _let(words, build)


def _window_dedup_core(
    df: DataFrame,
    text_col: str,
    id_col: str,
    w: int,
):
    """The shared ExactSubstr machinery behind ``span_dedup`` and
    ``exact_substr_dedup`` (single definition — a tie-break or interval
    change cannot diverge them): w-token window hashes at every offset
    (one narrow explode), corpus-wide keep-first on the 60-bit hash (ONE
    shuffle), losing starts merged into maximal [lo, hi) intervals per doc,
    and the per-row kept-token rebuild.

    Returns ``(words, joined, dup_ivs, kept)`` where ``joined`` carries the
    input columns plus ``_dup_ivs``/``n_dup_windows`` from the (tiny)
    aggregated losing side.

    Skew limit: a corpus-wide hot shingle (one passage in EVERY doc)
    funnels that hash's rows into one window partition, which AQE cannot
    split. The skew-splittable alternative,
    ``groupBy(hash).agg(min(struct(id, start)))`` plus a join back, was
    measured at 300k docs sharing one passage (1.2M hot rows): the window
    took 1.9 s and groupBy+join 2.3 s, with identical losers. The window
    wins until a single hash's rows outgrow one task's sort memory (~10^8
    rows per shingle), so it is the only form.
    """
    words = ws_tokens(F.coalesce(F.col(text_col), F.lit("")))

    wins = df.select(
        F.col(id_col), F.posexplode(_window_hashes(words, w)).alias("_p0", "_gh")
    ).select(id_col, (F.col("_p0") + 1).alias("start"), "_gh")

    keep_w = Window.partitionBy("_gh").orderBy(id_col, "start")
    losing = wins.withColumn("_rn", F.row_number().over(keep_w)).filter(
        F.col("_rn") > 1
    )

    losers = (
        losing.groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list("start")).alias("_dup_starts"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .select(
            id_col,
            _merge_win_intervals(F.col("_dup_starts"), w).alias("_dup_ivs"),
            "n_dup_windows",
        )
    )

    joined = df.join(losers, id_col, "left")
    dup_ivs = F.coalesce(
        F.col("_dup_ivs"), F.array().cast("array<struct<lo:int,hi:int>>")
    )
    kept = F.filter(
        F.transform(words, lambda tok, i: F.struct(tok.alias("t"), i.alias("i"))),
        lambda s: ~F.exists(
            dup_ivs,
            lambda iv: (s.i + 1 >= iv["lo"]) & (s.i + 1 < iv["hi"]),
        ),
    )
    return words, joined, dup_ivs, kept


def exact_substr_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
) -> DataFrame:
    """Arbitrary-length ExactSubstr dedup (Lee et al. 2022 §3,
    ``deduplicate-text-datasets``'s suffix-array semantics at the token
    level): any repeat of >= ``min_tokens`` tokens, at ANY token offset
    and of ANY length, keeps its first corpus-wide occurrence (doc id,
    then position); every later occurrence loses all covered tokens.

    Where ``span_dedup`` reports fixed-width window counts, this variant
    STITCHES chains of overlapping losing shingles into their MAXIMAL
    duplicated runs — a repeated passage of L >= min_tokens tokens
    surfaces as ONE run of exactly L tokens (its L - min_tokens + 1
    shingles are consecutive, so the interval fold fuses them), which is
    the suffix-array answer without building a suffix array. Run
    statistics (count, longest) are exposed for curation audits.

    Scale shape (identical to ``span_dedup``): shingle identity travels
    as 60-bit ``h64`` hashes — one narrow explode, ONE keep-first shuffle
    on the hash, per-doc interval fold on the aggregated losing side,
    HOF rebuild. Never all-pairs, never a suffix array's global sort.

    Output: (id, dedup_text, n_tok_orig, n_tok_kept, n_dup_runs,
    max_run_tokens).
    """
    k = min_tokens
    if k < 2:
        raise ValueError("min_tokens must be >= 2")
    words, joined, dup_ivs, kept = _window_dedup_core(df, text_col, id_col, k)
    run_lens = F.transform(dup_ivs, lambda iv: (iv["hi"] - iv["lo"]).cast("long"))
    return joined.select(
        F.col(id_col),
        F.array_join(F.transform(kept, lambda s: s.t), " ").alias("dedup_text"),
        F.size(words).cast("long").alias("n_tok_orig"),
        F.size(kept).cast("long").alias("n_tok_kept"),
        F.size(dup_ivs).cast("long").alias("n_dup_runs"),
        F.coalesce(F.array_max(run_lens), F.lit(0).cast("long")).alias(
            "max_run_tokens"
        ),
    )


# Gopher's "stop word" rule counts distinct members of this small function-
# word set (Rae et al. 2021 A1). Single source of truth — the f11 oracle SQL
# interpolates this exact list, so editing one side cannot silently diverge.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_distinct_stopwords: int = 2,
    max_dup_line_frac: float = 0.3,
    max_top2gram_frac: float = 0.2,
    max_top3gram_frac: float = 0.18,
    max_dup5gram_frac: float = 0.15,
    max_dup10gram_frac: float = 0.10,
    *,
    stopword_set: list[str] | None = None,
    vectorized: bool = False,
) -> DataFrame:
    """Gopher quality rules (Rae et al. 2021, Appendix A1) as one
    first-match-wins cascade, the same drop_reason contract as the pipeline's
    F1-F6 stages. Defaults are the paper's published thresholds; the fixture
    query passes corpus-scaled ones.

    Output: input columns + ``gopher_drop_reason`` (null = kept). Rules in
    paper order: word-count bounds, mean-word-length bounds, symbol-to-word
    ratio (# and ellipsis), bullet-start / ellipsis-end line fractions,
    alphabetic-word fraction, distinct-stopword minimum, then the
    repetition battery reusing ``repetition_signals`` (dup-line fraction,
    top-2/3-gram and dup-5/10-gram character fractions).

    Scale shape: a single shuffle-free per-row expression tree, repetition
    signals INLINE (no join). Inlining matters twice over: (a) a join
    boundary would force the top-/dup-n-gram scans — the battery's only
    expensive expressions — to be computed for EVERY row, while the inline
    CaseWhen evaluates them lazily, so any row already dropped by rules
    1-7 never pays for the gram scans (measured 146 s → ~4 s at 500k docs
    on a corpus where rule 6 fires); (b) each scan is let-bound
    (``_let``), so its struct fields share one evaluation instead of
    duplicating the whole ``aggregate`` tree per field access. The five
    signal columns are still attached to the output for downstream use —
    column pruning drops them when only the drop reason is consumed.

    ``vectorized=True`` computes the five repetition signals via the
    Arrow-batched bit-parity twin (``functions/repetition_vec.py``)
    instead: ONE Python pass per batch, for every row. Pick it when most
    rows survive rules 1-7 and reach the gram scans (pre-filtered web
    text, the curation recipe's honest worst case — measured ≥2× there);
    keep the default expression cascade when cheap rules drop most rows,
    where its laziness skips the scans entirely.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    words = ws_tokens(text)
    n_words = F.size(words).cast("long")
    mean_wlen = F.when(
        n_words > 0,
        _gram_chars(words).cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    n_hash = F.size(F.split(text, "#", -1)) - 1
    # both the ASCII three-dot sequence and the typographic ellipsis
    # U+2026 count (scraped web text uses either form)
    n_ellipsis = (
        (F.size(F.split(text, r"\.\.\.", -1)) - 1)
        + (F.size(F.split(text, "\u2026", -1)) - 1)
    )
    symbol_ratio = F.when(
        n_words > 0,
        (n_hash + n_ellipsis).cast("double") / n_words.cast("double"),
    ).otherwise(F.lit(0.0))
    lines = _nonempty_lines(text)
    n_lines = F.size(lines)
    bullet_frac = _frac(
        F.size(F.filter(lines, lambda l: l.rlike(r"^([*•‣▪-]\s)"))),
        n_lines,
    )
    ellipsis_frac = _frac(
        F.size(
            F.filter(
                lines, lambda l: l.endswith("...") | l.endswith("\u2026")
            )
        ),
        n_lines
    )
    alpha_word_frac = _frac(
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))), n_words
    )
    stop_set = stopword_set if stopword_set is not None else GOPHER_STOPWORDS
    n_stop = F.size(
        F.array_intersect(
            F.transform(words, F.lower), F.array(*[F.lit(s) for s in stop_set])
        )
    )

    if vectorized:
        from llm_pretraining_data_pipeline_spark.functions import repetition_vec

        df = df.withColumn("_rep", repetition_vec.rep_signals_struct(text))
        dup_line_frac = F.col("_rep.dup_line_frac")
        top2 = F.col("_rep.top2gram_char_frac")
        top3 = F.col("_rep.top3gram_char_frac")
        dup5 = F.col("_rep.dup5gram_char_frac")
        dup10 = F.col("_rep.dup10gram_char_frac")
    else:
        n_uniq = F.size(F.array_distinct(lines)).cast("long")
        dup_line_frac = _frac(n_lines.cast("long") - n_uniq, n_lines)
        top2 = _top_ngram_char_frac(text, words, 2)
        top3 = _top_ngram_char_frac(text, words, 3)
        dup5 = _dup_ngram_char_frac(words, 5)
        dup10 = _dup_ngram_char_frac(words, 10)
    reason = (
        F.when(
            (n_words < min_words) | (n_words > max_words),
            F.lit("gopher_word_count"),
        )
        .when(
            (mean_wlen < min_mean_word_len) | (mean_wlen > max_mean_word_len),
            F.lit("gopher_mean_word_length"),
        )
        .when(symbol_ratio > max_symbol_word_ratio, F.lit("gopher_symbol_ratio"))
        .when(
            (bullet_frac > max_bullet_line_frac)
            | (ellipsis_frac > max_ellipsis_line_frac),
            F.lit("gopher_bullet_ellipsis"),
        )
        .when(alpha_word_frac < min_alpha_word_frac, F.lit("gopher_alpha_words"))
        .when(n_stop < min_distinct_stopwords, F.lit("gopher_stopwords"))
        .when(dup_line_frac > max_dup_line_frac, F.lit("gopher_dup_lines"))
        .when(
            (top2 > max_top2gram_frac) | (top3 > max_top3gram_frac),
            F.lit("gopher_top_ngram"),
        )
        .when(
            (dup5 > max_dup5gram_frac) | (dup10 > max_dup10gram_frac),
            F.lit("gopher_dup_ngram"),
        )
    )
    out = (
        df.withColumn("dup_line_frac", dup_line_frac)
        .withColumn("top2gram_char_frac", top2)
        .withColumn("top3gram_char_frac", top3)
        .withColumn("dup5gram_char_frac", dup5)
        .withColumn("dup10gram_char_frac", dup10)
        .withColumn("gopher_drop_reason", reason)
    )
    return out.drop("_rep") if vectorized else out


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document top-k keywords by smoothed TF-IDF (the sklearn
    formulation: idf = ln((N+1)/(df+1)) + 1) — corpus keyword extraction
    for curation dashboards and topic triage.

    Output: (id, term, tfidf round6, rank<=k), rank by score desc then term
    asc. Deterministic: tf and df are integers, so every double is a fixed
    expression of ints — no aggregation-order dependence.

    Scale shape: one word-count shuffle on (doc, term), one shuffle join on
    term against the document-frequency table (both sides narrow; the term
    table is NOT assumed broadcastable — at web scale the vocabulary is
    billions of terms), one top-k window per doc. The scalar corpus count
    joins in via a broadcast of one row.
    """
    toks = df.select(
        F.col(id_col), F.explode(ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (
                F.log(
                    (F.col("n_docs").cast("double") + F.lit(1.0))
                    / (F.col("df_t").cast("double") + F.lit(1.0))
                )
                + F.lit(1.0)
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            id_col, "term", F.round("tfidf", 6).alias("tfidf"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def chunk_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Sliding-window chunking for long documents: one row per
    (doc, chunk) with whitespace-token span bounds [start_tok, end_tok)
    and the chunk text — the standard long-context preparation (BERT-style
    overlapping windows; ``stride < chunk_tokens`` keeps
    ``chunk_tokens - stride`` tokens of overlap so no boundary context is
    lost). The final window is clipped to the document end; empty docs
    produce no rows; a trailing window that would add no tokens beyond the
    previous chunk's clipped end (start - stride + chunk_tokens >= n) is
    dropped, so chunks always advance coverage.

    Pure per-row expression + explode: a filtered ``sequence(0, n-1,
    stride)`` builds the start offsets, a HOF slice/join rebuilds each
    chunk's text — no shuffle at all; at 100 TB this is a map-only stage
    whose output feeds the tokeniser.
    """
    if not 0 < stride <= chunk_tokens:
        raise ValueError(
            f"need 0 < stride <= chunk_tokens, got stride={stride}, "
            f"chunk_tokens={chunk_tokens}"
        )
    toks = ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
    n = F.size(toks)
    raw_starts = F.when(
        n > 0, F.sequence(F.lit(0), n - 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    # drop windows fully covered by the previous chunk's clipped span
    starts = F.filter(
        raw_starts,
        lambda st: (st == 0) | (st + F.lit(chunk_tokens - stride) < n),
    )
    out = df.select(
        F.col(id_col), toks.alias("_toks"), F.posexplode(starts).alias("chunk_id", "start_tok")
    )
    end = F.least(F.col("start_tok") + F.lit(chunk_tokens), F.size("_toks"))
    return out.select(
        id_col,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start_tok").cast("long").alias("start_tok"),
        end.cast("long").alias("end_tok"),
        F.array_join(
            F.slice("_toks", F.col("start_tok") + 1, F.lit(chunk_tokens)), " "
        ).alias("chunk_text"),
    )


def group_median_gate(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Adaptive per-group gating: flag rows below their GROUP's median of
    ``value_col`` (per-source quality floors — a fixed global threshold
    over- or under-prunes sources with different quality distributions;
    CCNet buckets per language the same way).

    The median is the rank-based LOWER median (element at position
    ceil(n/2) ordered by (value, id)) — an exact member of the group, never
    an interpolated double, so the gate comparison is bit-identical across
    engines and partitionings. Adds ``group_median`` and ``below_median``.

    Scale shape: ONE window pass — rank, count, and the median broadcast
    back to every group row all share a single hash shuffle on the group
    key (``max(when(rn == med_rank, value))`` over the unordered group
    frame picks the median without a self-join, which would rescan and
    re-sort the corpus twice). For heavy-tailed group sizes, run the
    window over a narrow (group, value, id) projection and join the
    verdict back by id, so a hot group's partition carries no wide
    columns.
    """
    w = Window.partitionBy(group_col)
    wo = w.orderBy(F.col(value_col), F.col(id_col))
    rn = F.row_number().over(wo)
    cnt = F.count(F.lit(1)).over(w)
    med_rank = F.ceil(cnt.cast("double") / F.lit(2.0)).cast("int")
    median = F.max(
        F.when(rn == med_rank, F.col(value_col))
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return (
        df.withColumn("group_median", median)
        .withColumn("below_median", F.col(value_col) < F.col("group_median"))
    )


def group_prior_gate(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    tau: float = 0.5,
    min_count: int = 5,
    scale: int = 1_000_000,
) -> DataFrame:
    """Group-level quality prior: flag every row of a group whose MEAN
    ``value_col`` falls below ``tau`` — once the group has at least
    ``min_count`` rows of evidence (RefinedWeb/FineWeb-style host
    filtering: a consistently-low-quality host condemns its pages
    wholesale, but two bad pages must not condemn a host). Groups under
    the evidence floor are never flagged. Adds ``group_n``,
    ``group_mean`` (6dp, reporting only) and ``below_prior``.

    The GATE is integer-exact: scores quantize to ``round(v * scale)``
    and the comparison is ``sum(v_int) < round(tau*scale) * n`` — pure
    bigint arithmetic, so the verdict cannot flip with partition count
    or aggregation order the way a floating mean near the threshold
    can (the reason this is not ``avg(v) < tau``). Scores are assumed
    non-negative (quality ratios); null scores count as 0 evidence
    rows still count toward ``group_n``.

    Scale shape: ONE map-side-combinable ``groupBy(group_col)`` over
    two bigint sums, then one equi-join back on the group key — the
    group-stats side is one row per group (bounded by the host count,
    not the corpus), so AQE typically broadcasts it. No window.
    """
    vi = F.round(
        F.coalesce(F.col(value_col), F.lit(0.0)).cast("double") * scale, 0
    ).cast("long")
    stats = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("group_n"),
        F.sum(vi).alias("_vsum"),
    )
    tau_i = int(round(tau * scale))
    gated = stats.select(
        F.col(group_col).alias("_g"),
        "group_n",
        F.round(F.col("_vsum") / F.lit(float(scale)) / F.col("group_n"), 6)
        .alias("group_mean"),
        (
            (F.col("group_n") >= min_count)
            & (F.col("_vsum") < F.lit(tau_i) * F.col("group_n"))
        ).alias("below_prior"),
    )
    # null-safe equality: groupBy collects null keys into a real group,
    # and the join back must keep those rows (an inner USING-join's
    # null != null would silently drop every null-group row — review
    # finding). Null-safe <=> still plans as an equi-join.
    return df.join(
        gated, F.col(group_col).eqNullSafe(F.col("_g"))
    ).drop("_g")


def concentration_stats(
    df: DataFrame,
    group_col: str = "source",
    weight_col: str | None = None,
) -> DataFrame:
    """Corpus-concentration audit: how dominated is the corpus by its
    biggest groups (hosts/sources)? One row: ``n_groups``, ``total``,
    ``gini`` (0 = perfectly even, →1 = one group holds everything),
    ``hhi`` (Herfindahl — sum of squared shares), ``top1_share``,
    ``top10_share``. The diversity gate a pretraining curator runs
    before accepting a crawl: a corpus where one host owns 40% of the
    tokens is a deduplication/bias incident waiting to happen.

    Gini uses the exact rank form over ASCENDING group totals:
    ``(2·Σ i·x_i) / (n·Σ x) − (n+1)/n`` with integer Σ i·x_i.
    ``weight_col`` weights rows (tokens, bytes); default counts rows.

    Scale shape: ONE map-side-combinable groupBy collapses the corpus
    to one row per group; every window/sort after that runs on the
    AGGREGATED frame (bounded by the group count, not the corpus).
    """
    wexpr = (
        F.coalesce(F.col(weight_col), F.lit(0)).cast("long")
        if weight_col
        else F.lit(1).cast("long")
    )
    per = df.groupBy(group_col).agg(F.sum(wexpr).alias("x"))
    wo = Window.orderBy(F.col("x"), F.col(group_col))
    wall = Window.partitionBy()
    ranked = per.select(
        "x",
        F.row_number().over(wo).alias("i"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("x").over(wall).alias("tot"),
    )
    # decimal(19,0)² → decimal(38,0) accumulators: i·x and x² overflow
    # bigint at real host counts (1e9 hosts × 1e11 weights), and exact
    # decimal sums are ORDER-FREE — a float sum's last bits would vary
    # with partitioning (the a21 ordered-fold lesson, solved here with
    # exact arithmetic instead of an ordered fold). The 38-digit ceiling
    # is provably sufficient given the bigint `total` this function
    # already promises: Σx² ≤ (Σx)² = total² ≤ (9.2e18)² ≈ 8.5e37 and
    # Σi·x ≤ n·total ≤ the same bound — so the sums cannot hit Spark's
    # non-ANSI overflow-to-NULL while total fits the output column
    # (ADVICE r12: the earlier comment overstated the bound as
    # arbitrary decimal(38,0) headroom).
    xd = F.col("x").cast("decimal(19,0)")
    idx = F.col("i").cast("decimal(19,0)")
    return ranked.agg(
        F.max("n").cast("long").alias("n_groups"),
        F.max("tot").cast("long").alias("total"),
        # exact-decimal sums cast to double BEFORE dividing: both
        # engines take the nearest-double of the same exact integer,
        # then divide the same doubles — no decimal-division scale
        # rules in the loop
        F.round(
            F.lit(2.0) * F.sum(idx * xd).cast("double")
            / (F.max("n").cast("double") * F.max("tot").cast("double"))
            - (F.max("n") + 1).cast("double") / F.max("n").cast("double"),
            6,
        ).alias("gini"),
        F.round(
            F.sum(xd * xd).cast("double")
            / (F.max("tot").cast("double") * F.max("tot").cast("double")),
            6,
        ).alias("hhi"),
        F.round(
            F.max(F.col("x")).cast("double")
            / F.max("tot").cast("double"),
            6,
        ).alias("top1_share"),
        F.round(
            F.sum(
                F.when(F.col("i") > F.col("n") - 10, F.col("x")).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / F.max("tot").cast("double"),
            6,
        ).alias("top10_share"),
    )


def group_rank_buckets(
    df: DataFrame,
    value_col: str,
    group_col: str = "lang",
    id_col: str = "doc_id",
    labels: tuple = ("head", "middle", "tail"),
) -> DataFrame:
    """CCNet §3.3 done the way CCNet actually does it: per-GROUP
    percentile buckets derived from the corpus itself, not fixed
    thresholds (``lm.doc_lm_struct``'s constants are the drop-in
    stand-in; this is the production cutoff derivation). Rows rank
    within their group by ``(value asc, id)`` and split into
    ``len(labels)`` equal-size buckets — for the default terciles,
    the lowest-perplexity third is ``head``.

    Bucket boundaries are INTEGER-exact: bucket index =
    ``ceil(K·rank / n) - 1`` computed in bigint arithmetic (via the
    pmod identity, never a float division), so the assignment cannot
    flip with partition count and both engines agree bit-for-bit.
    Values must be non-null (rank order with nulls differs between
    engines — callers route null/empty rows to their own bucket, as
    ``corp_ppl_terciles`` does). Adds ``bucket`` and ``group_n``.

    Scale shape: ONE window pass per group key — rank and count share
    a single hash shuffle (the ``group_median_gate`` shape); no joins,
    no second pass, no driver round-trip.
    """
    k = len(labels)
    if k < 1:
        raise ValueError("labels must be non-empty")
    w = Window.partitionBy(group_col)
    wo = w.orderBy(F.col(value_col), F.col(id_col))
    rank = F.row_number().over(wo)
    n = F.count(F.lit(1)).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    x = F.lit(k).cast("long") * rank + n - F.lit(1)
    # exact bigint ceil-division: (x - x mod n) / n is exactly
    # divisible, so the double division below is exact too
    idx = ((x - F.pmod(x, n)) / n).cast("int") - F.lit(1)
    bucket = F.element_at(
        F.array(*[F.lit(lb) for lb in labels]), idx + 1
    )
    return df.withColumn("group_n", n.cast("long")).withColumn(
        "bucket", bucket
    )


def group_quota_topn(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Quota sampling: keep the top-``n`` rows per group by ``value_col``
    (desc, id tiebreak) — per-source caps bound any one source's share of
    the corpus regardless of its raw volume. One window shuffle on the
    group key; emits ``group_rank`` (1-based)."""
    w = Window.partitionBy(group_col).orderBy(
        F.desc(value_col), F.col(id_col)
    )
    return (
        df.withColumn("group_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("group_rank") <= n)
    )


def token_budget_allocation(
    df: DataFrame,
    token_col: str,
    group_col: str = "source",
    total_budget: int = 1_000_000,
) -> DataFrame:
    """Training-data recipe allocation: split a total token budget across
    groups by temperature-scaled (sqrt, alpha=0.5) token shares — the
    multilingual/multi-source rebalancing LLaMA/Dolma-style data recipes
    use — and derive per-group sampling rate and epoch count.

    Per group: ``available`` (sum of ``token_col``), ``budget_weight``
    (sqrt share, renormalised), ``target_tokens`` (weight × budget,
    rounded to bigint), ``sampling_rate`` = target/available capped at 1
    (downsample), ``epochs`` = ceil(target/available) floored at 1
    (upsample repeats). Rate and epochs come from INTEGER token counts —
    the ceil is integer arithmetic, never a double boundary.

    Tiny output (one row per group); the only corpus-wide work is the
    map-side-combinable token sum.
    """
    counts = df.groupBy(group_col).agg(
        F.sum(F.col(token_col).cast("long")).alias("available")
    )
    total = Window.partitionBy()
    # available is integer, so its sum is order-safe; the sqrt'd shares are
    # doubles, so THEIR normalising sum folds in group-key order (collected
    # once — one row per group — then broadcast back), keeping weights
    # bit-identical across partitionings and engines
    share = F.col("available").cast("double") / F.sum("available").over(total).cast("double")
    scaled = F.sqrt(share)
    with_scaled = counts.withColumn("_scaled", scaled)
    denom = with_scaled.agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct(group_col, "_scaled"))),
            F.lit(0.0),
            lambda acc, e: acc + e["_scaled"],
        ).alias("_denom")
    )
    counts = with_scaled.crossJoin(F.broadcast(denom))
    weight = F.col("_scaled") / F.col("_denom")
    target = F.round(weight * F.lit(float(total_budget)), 0).cast("long")
    out = counts.select(
        group_col,
        "available",
        F.round(weight, 6).alias("budget_weight"),
        target.alias("target_tokens"),
    )
    return out.select(
        group_col,
        "available",
        "budget_weight",
        "target_tokens",
        F.round(
            F.least(
                F.lit(1.0),
                F.col("target_tokens").cast("double")
                / F.col("available").cast("double"),
            ),
            6,
        ).alias("sampling_rate"),
        # `div` = exact bigint division (Spark's `/` is double division,
        # which loses exactness on large counts); DuckDB mirrors with `//`
        F.greatest(
            F.lit(1).cast("long"),
            F.expr("(target_tokens + available - 1) div available"),
        ).alias("epochs"),
    )


def budget_select(
    df: DataFrame,
    budget: int,
    value_col: str = "quality_score",
    token_col: str = "n_tok",
    id_col: str = "doc_id",
    buckets: int = 4096,
    value_min: float = 0.0,
    value_max: float = 1.0,
    checkpoint: bool = False,
) -> DataFrame:
    """Global token-budget selection: keep the highest-``value_col``
    documents, in the exact total order ``(value desc, id asc)``, until
    the cumulative ``token_col`` reaches ``budget`` — the "best N
    tokens" cut every pretraining recipe ends with once its quality
    scores exist (FineWeb/DCLM publish exactly this: a classifier score
    and a token budget).

    A row is kept iff the tokens of all rows STRICTLY BEFORE it total
    less than ``budget`` (greedy fill: the row that crosses the boundary
    is included; zero-token rows at or past the boundary are not).
    Adds ``kept`` boolean; row set and other columns unchanged.

    100 TB shape: the naive form is a global ORDER-BY window cumsum —
    the whole corpus through one partition. Instead, quantize the score
    into ``buckets`` fixed bins (bucket index is monotonic in the
    score, so bucket order refines to total order): ONE small groupBy
    aggregates per-bucket token sums (≤ buckets+1 rows through the
    driver), the driver walks the histogram to find the single
    BOUNDARY bucket the budget lands in, and only that bucket's rows —
    ~1/buckets of the corpus — pay an exact within-bucket cumsum
    window. Buckets above the boundary are kept outright, below it
    dropped outright, both as pure filters. Bit-equal to the
    single-window form because all token sums are integers and the
    within-bucket window orders by the RAW (value, id) key. Scores
    outside [value_min, value_max] clamp to the edge bins (their raw
    values still order them exactly within the bin); null scores sort
    last (never kept unless everything fits).

    Two-phase caveat (ADVICE r12): the histogram ``collect()`` and the
    returned plan each evaluate ``df``'s lineage once, so the input's
    ``value_col``/``token_col`` MUST be deterministic — a
    non-deterministic upstream (rand(), non-idempotent UDF, re-read of
    mutating storage) could make the second pass disagree with the
    boundary the first pass chose, yielding an inconsistent kept set —
    and an expensive lineage computes twice. Pass ``checkpoint=True``
    to LAZILY localCheckpoint ``df`` first, pinning both phases to one
    materialization (the ``resolve_revisits`` convention: default off
    because localCheckpoint truncates lineage — lost executors fail
    the job instead of recomputing — so the caller, who knows the
    input's cost and fault-tolerance needs, opts in). The same
    two-phase determinism requirement applies to
    ``assign_shards_sized``'s totals collect.
    """
    if buckets < 1:
        raise ValueError("buckets must be >= 1")
    if checkpoint:
        df = df.localCheckpoint(eager=False)
    span = float(value_max) - float(value_min)
    if span <= 0:
        raise ValueError("value_max must exceed value_min")
    v = F.col(value_col).cast("double")
    # NaN scores sort ABOVE every double in Spark's (value desc) order,
    # so they belong in the TOP bucket — without the explicit arm,
    # floor(NaN) would land them in the bottom one (or throw under
    # ANSI), diverging from the global-window reference semantics
    # (review finding). Nulls sort last: the sentinel -1 bucket.
    bucket = (
        F.when(v.isNull(), F.lit(-1))
        .when(F.isnan(v), F.lit(buckets - 1))
        .otherwise(
            F.least(
                F.lit(buckets - 1),
                F.greatest(
                    F.lit(0),
                    F.floor((v - value_min) / span * buckets).cast("int"),
                ),
            )
        )
    )
    tok = F.coalesce(F.col(token_col), F.lit(0)).cast("long")

    hist = {
        r["b"]: int(r["tot"] or 0)
        for r in df.groupBy(bucket.alias("b"))
        .agg(F.sum(tok).alias("tot"))
        .collect()
    }
    acc = 0
    boundary, boundary_offset = None, None
    for bk in sorted((k for k in hist if k is not None), reverse=True):
        if acc + hist[bk] >= budget:
            boundary, boundary_offset = bk, acc
            break
        acc += hist[bk]

    out = df.withColumn("_b", bucket)
    if boundary is None:
        # the whole supply fits (or the frame is empty): every row's
        # cum_before is below the budget except trailing zero-token rows
        # exactly AT the total — which cannot exist here since total<budget
        return out.drop("_b").withColumn("kept", F.lit(budget > 0))

    full = out.where(F.col("_b") > boundary).withColumn(
        "kept", F.lit(True)
    )
    rest = out.where(
        F.col("_b").isNull() | (F.col("_b") < boundary)
    ).withColumn("kept", F.lit(False))
    # the semantics-bound serial part: ONE bucket's rows (~1/buckets of
    # the corpus) through a single-partition window, same discipline as
    # assign_shards' positional parity
    wb = Window.orderBy(F.col(value_col).desc(), F.col(id_col)).rowsBetween(
        Window.unboundedPreceding, -1
    )
    edge = (
        out.where(F.col("_b") == boundary)
        .withColumn(
            "kept",
            (F.lit(boundary_offset) + F.coalesce(F.sum(tok).over(wb), F.lit(0)))
            < budget,
        )
    )
    return full.unionByName(edge).unionByName(rest).drop("_b")


# ================================================================ C4 stage
# Raffel et al. 2020 (T5/C4), §2.2 — the other canonical public web-corpus
# recipe alongside Gopher/RefinedWeb/CCNet. The reference pipeline has none
# of these (its filters are per-doc ratio thresholds); this is §2.9 scale
# surface. Three pieces, matching the paper's narrative order: line-level
# retention rules, page-level drop rules, and corpus-wide three-sentence
# span dedup.

# Stand-in for the paper's "List of Dirty, Naughty, Obscene or Otherwise
# Bad Words" (the real list is a drop-in replacement — same word-boundary
# match, longer array literal). Kept tiny and obviously fake so fixture
# corpora are unaffected unless a test plants one.
C4_BADWORDS = ["badword1", "badword2", "badword3"]

# RE2-safe sentence split: no lookbehind in DuckDB's RE2, so instead of
# splitting on '(?<=[.!?]) ' both engines rewrite 'punct + space' to
# 'punct + \x01' and split on the control char (which never occurs in text).
_SENT_MARK = "\x01"


def split_sentences(c: Column) -> Column:
    """Array of trimmed, non-empty sentences (terminal-punct boundaries).
    The boundary is punct + any whitespace run, so newline-separated
    sentences count too; the consumed separator is not preserved
    (reassembly joins with single spaces)."""
    # Explicit whitespace class, not \s: Java's \s includes \x0B while
    # RE2's (DuckDB oracle) does not, so '.\x0B' would split differently
    # across engines (repo convention, see structural.py _WS).
    marked = F.regexp_replace(
        F.coalesce(c, F.lit("")), r"([.!?])[ \t\n\r\f]+", "$1" + _SENT_MARK
    )
    return F.filter(
        F.transform(F.split(marked, _SENT_MARK), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )


def c4_clean_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
) -> DataFrame:
    """C4 line-level retention (§2.2): keep only lines that (a) end in a
    terminal punctuation mark ('.', '!', '?', or closing double quote),
    (b) contain at least ``min_words_per_line`` words, and (c) do not
    contain the word "javascript" (case-insensitive) — the
    enable-JavaScript boilerplate tell.

    Adds ``text_c4`` (surviving lines re-joined with newlines),
    ``n_lines``, ``n_lines_kept``. Pure per-row HOF expression tree —
    shuffle-free, codegen-fused, a straight map at 100 TB.
    """
    lines = _nonempty_lines(F.coalesce(F.col(text_col), F.lit("")))
    kept = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"]$')
        & (F.size(ws_tokens(l)) >= min_words_per_line)
        & ~F.lower(l).contains("javascript"),
    )
    return (
        df.withColumn("n_lines", F.size(lines).cast("long"))
        .withColumn("n_lines_kept", F.size(kept).cast("long"))
        .withColumn("text_c4", F.array_join(kept, "\n"))
    )


def c4_page_filter(
    df: DataFrame,
    text_col: str = "text_c4",
    min_sentences: int = 3,
    badwords: list[str] | None = None,
) -> DataFrame:
    """C4 page-level drops (§2.2) as one first-match-wins cascade (the same
    drop_reason contract as the pipeline's F1-F6 and the Gopher battery), in
    paper order: fewer than ``min_sentences`` sentences, any bad word
    (whitespace tokens with leading/trailing punctuation stripped, so
    sentence-final/comma-adjacent occurrences still match — 'said badword1.'
    drops), the phrase "lorem ipsum", any curly brace '{'.

    ``badwords=[]`` disables the rule (None means the embedded stand-in
    list). Adds ``c4_drop_reason`` (null = kept). Shuffle-free per-row tree.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(text)
    n_sents = F.size(split_sentences(text))
    bad_list = C4_BADWORDS if badwords is None else badwords
    words = F.array(*[F.lit(w) for w in bad_list])
    stripped = F.transform(
        ws_tokens(low),
        lambda w: F.regexp_replace(w, "^[^a-z0-9]+|[^a-z0-9]+$", ""),
    )
    has_bad = (
        F.size(F.array_intersect(stripped, words)) > 0
        if bad_list
        else F.lit(False)
    )
    reason = (
        F.when(n_sents < min_sentences, F.lit("c4_min_sentences"))
        .when(has_bad, F.lit("c4_bad_word"))
        .when(low.contains("lorem ipsum"), F.lit("c4_lorem_ipsum"))
        .when(text.contains("{"), F.lit("c4_curly_brace"))
    )
    return df.withColumn("c4_drop_reason", reason)


def c4_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The full C4 cleanup battery: line retention, then page drops over
    the line-cleaned text. Composable with ``c4_span_dedup`` downstream
    (the paper runs span dedup across the surviving pages)."""
    out = c4_clean_lines(
        df, text_col=text_col, id_col=id_col,
        min_words_per_line=min_words_per_line,
    )
    return c4_page_filter(out, text_col="text_c4", min_sentences=min_sentences)


def c4_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_sents: int = 3,
) -> DataFrame:
    """C4 corpus-wide three-sentence span dedup (§2.2: "we discarded all
    but one of any three-sentence span occurring more than once").

    Every doc's sentences form overlapping ``span_sents``-sentence sliding
    spans; the corpus-wide FIRST occurrence of each span text — ordered by
    (doc id, span position) — survives, and every later occurrence marks
    its member sentences for removal. Docs are reassembled from surviving
    sentences in original order (single spaces — the split already
    consumed the original separators).

    Output: (id, n_sents, n_sents_removed, text_dedup).

    Scale shape, mirroring ``paragraph_dedup``/``span_dedup``: sentences
    and spans are doc-local HOF projections (no shuffle); the global
    keep-first is ONE window shuffle partitioned by span text; removal
    marks are a narrow (id, pos) anti-join; reassembly is one per-doc
    aggregation. Nothing is all-pairs, and the span window carries only
    (span, id, pos) — never whole documents.
    """
    n = span_sents
    sents = (
        df.select(
            F.col(id_col),
            F.posexplode_outer(split_sentences(F.col(text_col))).alias(
                "pos", "sent"
            ),
        )
        .filter(F.col("sent").isNotNull())
    )
    base = df.select(
        F.col(id_col), split_sentences(F.col(text_col)).alias("_sents")
    )
    # sequence(0, hi) DESCENDS when hi < 0 (it never yields an empty array),
    # so docs shorter than the span length need an explicit empty-list guard
    span_list = F.when(
        F.size("_sents") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("_sents") - n),
            # Span identity joins with \x01 (which split_sentences consumes,
            # so no sentence can contain it): a space join would collide
            # distinct triples — ("a b","c","d") and ("a","b c","d") both
            # render 'a b c d' — and falsely dedup (C4 defines the span as
            # the sentence SEQUENCE, not its flattened text).
            lambda i: F.struct(
                i.alias("start"),
                F.array_join(F.slice("_sents", i + 1, n), _SENT_MARK).alias(
                    "span"
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,span:string>>"))
    spans = base.select(F.col(id_col), F.explode(span_list).alias("sp")).select(
        id_col, F.col("sp.start").alias("start"), F.col("sp.span").alias("span")
    )
    w = Window.partitionBy("span").orderBy(id_col, "start")
    losers = (
        spans.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(
            id_col,
            F.explode(
                F.sequence(F.col("start"), F.col("start") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    kept = sents.join(losers, [id_col, "pos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                lambda s: s.sent,
            ),
            " ",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_sents_kept"),
    )
    orig = df.select(
        F.col(id_col),
        F.size(split_sentences(F.col(text_col))).cast("long").alias("n_sents"),
    )
    return orig.join(rebuilt, id_col, "left").select(
        id_col,
        "n_sents",
        (F.col("n_sents") - F.coalesce(F.col("n_sents_kept"), F.lit(0)))
        .cast("long")
        .alias("n_sents_removed"),
        F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
    )


def weighted_sample(
    df: DataFrame,
    weight_col: Column | str,
    key_col: str = "doc_id",
    rate_scale: float = 1.0,
    salt: str = ":sample",
) -> DataFrame:
    """Deterministic per-row weighted (soft) sampling: keep each row with
    probability ``clamp(weight * rate_scale, 0, 1)`` — the FineWeb-Edu-style
    "sample proportional to quality" selection, with no RNG state.

    The acceptance draw is the first 32 bits of sha256(key || ':sample')
    compared against ``p * 2^32`` (the per-stratum trick of
    ``hash_stratified_sample``, generalised to a per-ROW probability
    column). Same rows kept on every run, any partitioning, any engine
    with sha256; raising ``rate_scale`` keeps a strict superset. The
    ``:sample`` salt keeps this operator's draw independent of
    ``hash_split``'s (``:split``) and ``hash_stratified_sample``'s
    (``:stratum``) when composed on the same key.

    Adds ``accept_p`` (the effective probability) and keeps accepted rows.
    Pure narrow filter — zero shuffle at any corpus size.

    .. note:: **Changed in round 7** — the draw was previously unsalted,
       so a pre-round-7 persisted sample differs from a rerun under the
       new default. Pass ``salt=""`` to reproduce a legacy selection
       (see CHANGELOG.md).
    """
    w = weight_col if isinstance(weight_col, Column) else F.col(weight_col)
    p = F.least(F.greatest(w * F.lit(float(rate_scale)), F.lit(0.0)), F.lit(1.0))
    draw = F.conv(
        F.substring(
            sha256_hex(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    return (
        df.withColumn("accept_p", p)
        .filter(draw < F.col("accept_p") * F.lit(float(2**32)))
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n: int = 3,
) -> DataFrame:
    """Pairwise n-gram Jaccard overlap between corpus slices (sources,
    dumps, snapshots) — the redundancy audit run before deciding which
    slices to keep or dedup against each other (RefinedWeb reports exactly
    this between CommonCrawl snapshots).

    For every unordered pair of groups: |distinct-gram ∩|, |∪|, Jaccard.
    Grams travel as 60-bit hashes.

    Scale shape: one distinct over (group, gram-hash), then a groupBy on
    the hash collecting the group SET — bounded by the number of groups
    (dozens), NOT corpus size — and pair expansion is a doc-local double
    explode capped at groups². No gram-keyed self-join of two corpus-sized
    frames, no all-pairs over rows.
    """
    toks = ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
    g = (
        df.select(
            F.col(group_col).alias("grp"),
            F.explode(ngrams(toks, n)).alias("gram"),
        )
        .select("grp", h64(F.col("gram")).alias("gh"))
        .distinct()
    )
    ns = g.groupBy("grp").agg(F.count(F.lit(1)).alias("n_grams"))
    sets = g.groupBy("gh").agg(F.collect_set("grp").alias("grps"))
    pairs = (
        sets.select("gh", F.explode("grps").alias("s1"), "grps")
        .select("gh", "s1", F.explode("grps").alias("s2"))
        .filter(F.col("s1") < F.col("s2"))
    )
    inter = pairs.groupBy("s1", "s2").agg(F.count(F.lit(1)).alias("inter"))
    n1 = ns.select(F.col("grp").alias("s1"), F.col("n_grams").alias("n1"))
    n2 = ns.select(F.col("grp").alias("s2"), F.col("n_grams").alias("n2"))
    return (
        inter.join(F.broadcast(n1), "s1")
        .join(F.broadcast(n2), "s2")
        .select(
            "s1",
            "s2",
            "inter",
            (F.col("n1") + F.col("n2") - F.col("inter")).alias("union_cnt"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("n1") + F.col("n2") - F.col("inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def refinedweb_line_correct(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_removed_frac: float = 0.05,
) -> DataFrame:
    """RefinedWeb line-wise corrections (Penedo et al. 2023, §3.2 /
    Table 2): drop lines that are (1) mainly uppercase (>60% of letters),
    (2) only numerical/punctuation (no letters at all), (3) social-media
    counters ("3 likes", "12 comments", "57 shares"), or (4) one-word
    button/footer artifacts ("login", "sign-in", "read more", ...); then
    drop the WHOLE document if the removed lines exceed
    ``max_removed_frac`` of its lines.

    Adds ``text_rw`` (surviving lines re-joined), ``n_lines``,
    ``n_lines_removed``, ``rw_drop_reason`` ('rw_excess_line_removal' or
    null). Pure per-row HOF/regex tree — shuffle-free at any scale, and
    composable in front of the C4/Gopher batteries.
    """
    lines = _nonempty_lines(F.coalesce(F.col(text_col), F.lit("")))

    def _bad(l):
        # letter count referenced three times — let-bound so the regex
        # strip runs once per line, not three times (interpreted HOFs
        # have no CSE; halves the measured per-line cost)
        def rules(letters):
            uppers = F.length(F.regexp_replace(l, "[^A-Z]", ""))
            mostly_upper = (letters > 0) & (
                uppers.cast("double") > letters.cast("double") * 0.6
            )
            no_letters = letters == 0
            counter = l.rlike(r"^[0-9]+ (likes?|comments?|shares?|views?)$")
            button = F.lower(l).rlike(
                r"^(login|log in|sign in|sign up|register|read more|learn more|click here)$"
            )
            return mostly_upper | no_letters | counter | button

        return _let(F.length(F.regexp_replace(l, "[^A-Za-z]", "")), rules)

    kept = F.filter(lines, lambda l: ~_bad(l))
    n_lines = F.size(lines).cast("long")
    n_removed = (n_lines - F.size(kept)).cast("long")
    excess = (n_lines > 0) & (
        n_removed.cast("double") > n_lines.cast("double") * float(max_removed_frac)
    )
    return (
        df.withColumn("n_lines", n_lines)
        .withColumn("n_lines_removed", n_removed)
        .withColumn("text_rw", F.array_join(kept, "\n"))
        .withColumn(
            "rw_drop_reason",
            F.when(excess, F.lit("rw_excess_line_removal")),
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Snapshot diff between two corpus versions — the CDC primitive for
    incremental ingestion runs: which docs were added, removed, or changed
    since the last snapshot (changed = same id, different content hash).

    Output: (id, status ∈ {added, removed, changed, unchanged},
    old_hash, new_hash). Pair with ``incremental_dedup`` to process only
    the added/changed slice.

    Scale shape: each side reduces to (id, sha256) — a narrow projection —
    then ONE full outer hash join on the id. No text ever shuffles; at
    100 TB this is two column-pruned scans + one narrow join, and the
    downstream filter (status <> 'unchanged') usually prunes 99%+ of rows.
    """
    oh = old.select(
        F.col(id_col), sha256_hex(F.col(text_col)).alias("old_hash")
    )
    nh = new.select(
        F.col(id_col), sha256_hex(F.col(text_col)).alias("new_hash")
    )
    j = oh.join(nh, id_col, "full_outer")
    status = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(id_col, status.alias("status"), "old_hash", "new_hash")


def repetition_signals_grouped(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ngram_sizes: tuple[int, ...] = (2, 3),
    dup_ngram_sizes: tuple[int, ...] = (5, 10),
) -> DataFrame:
    """``repetition_signals`` re-expressed as codegen'd word-count shapes —
    bit-identical output (tested), different cost model.

    This variant explodes (id, gram) per size, counts via hash aggregate
    (map-side partial, whole-stage codegen), reduces per doc with
    ``min(struct(-cnt, gram))`` — exactly the HOF's max-count /
    lexicographically-smallest tie-break — and joins the per-size frames
    back on the id.

    MEASURED VERDICT (before ``ngrams`` let-bound its token array, so both
    variants then re-split the text once per gram): at 500k docs /
    local[32] with every row needing all four signals, this lost to the
    HOF variant 99 s vs 50 s — the two shuffles per gram size move ~85M
    WIDE gram-string rows (5/10-grams are 30-60 chars each), which cost
    more than interpreting the per-row scans. Kept as the documented-and-rejected alternative (bit-parity
    tested) so the next person doesn't re-derive it; it would win only
    where per-row compute, not shuffle bandwidth, binds (e.g. much longer
    documents, where the HOF sort is O(G log G) per row but the exploded
    rows stay the same size).
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = _nonempty_lines(text)
    n_lines = F.size(lines).cast("long")
    n_uniq = F.size(F.array_distinct(lines)).cast("long")
    line_chars = _gram_chars(lines)
    uniq_chars = _gram_chars(F.array_distinct(lines))
    words = ws_tokens(text)
    base = df.select(
        F.col(id_col),
        F.length(text).alias("_text_len"),
        n_lines.alias("n_lines"),
        _frac(n_lines - n_uniq, n_lines).alias("dup_line_frac"),
        _frac(line_chars - uniq_chars, line_chars).alias("dup_line_char_frac"),
        *[
            ngrams(words, n).alias(f"_g{n}")
            for n in {*top_ngram_sizes, *dup_ngram_sizes}
        ],
    )
    out = base
    for n in sorted({*top_ngram_sizes, *dup_ngram_sizes}):
        cnt = (
            base.select(F.col(id_col), F.explode(f"_g{n}").alias("gram"))
            .groupBy(id_col, "gram")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        per_doc = cnt.groupBy(id_col).agg(
            F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("gram").alias("g"))).alias("_best"),
            F.sum(
                F.when(F.col("cnt") > 1, F.length("gram").cast("long") * F.col("cnt"))
            ).alias(f"_dupchars{n}"),
            F.sum(F.length("gram").cast("long") * F.col("cnt")).alias(f"_gramchars{n}"),
        )
        per_doc = per_doc.select(
            id_col,
            (-F.col("_best.neg")).cast("long").alias(f"_bestcnt{n}"),
            F.col("_best.g").alias(f"_bestg{n}"),
            F.coalesce(F.col(f"_dupchars{n}"), F.lit(0)).cast("long").alias(f"_dupchars{n}"),
            F.col(f"_gramchars{n}").cast("long").alias(f"_gramchars{n}"),
        )
        out = out.join(per_doc, id_col, "left")
    cols = [
        F.col(id_col), F.col("n_lines"),
        F.col("dup_line_frac"), F.col("dup_line_char_frac"),
    ]
    for n in top_ngram_sizes:
        cols.append(
            _frac(
                F.coalesce(F.col(f"_bestcnt{n}"), F.lit(0))
                * F.length(F.coalesce(F.col(f"_bestg{n}"), F.lit(""))).cast("long"),
                F.col("_text_len"),
            ).alias(f"top{n}gram_char_frac")
        )
    for n in dup_ngram_sizes:
        cols.append(
            _frac(
                F.coalesce(F.col(f"_dupchars{n}"), F.lit(0)),
                F.coalesce(F.col(f"_gramchars{n}"), F.lit(0)),
            ).alias(f"dup{n}gram_char_frac")
        )
    return out.select(*cols)


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = ":split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hash threshold — the
    universal dataset-split primitive, with the engine's standard
    no-RNG-state guarantees: the same row lands in the same split on every
    run, any partitioning, any engine with sha256; growing a fraction only
    MOVES the boundary (train rows never migrate to test when val shrinks,
    because assignment is by cumulative threshold on one shared draw).

    The draw is salted with ``:split`` so it is independent of
    ``weighted_sample``'s (``:sample``) and ``hash_stratified_sample``'s
    (``:stratum``) draws on the same key — without the salt, sampling at
    p then splitting 0.8/0.1/0.1 would put every survivor in 'train'.

    Adds ``split``. Pure narrow projection, zero shuffle.

    .. note:: **Changed in round 7** — the draw was previously unsalted,
       so train/val/test assignments persisted before round 7 do NOT
       reproduce under the new default. Pass ``salt=""`` to pin the
       legacy assignment for an existing dataset (see CHANGELOG.md).
    """
    if len(fractions) != len(names):
        raise ValueError("fractions and names must align")
    if abs(sum(fractions) - 1.0) > 1e-9:
        raise ValueError(f"fractions must sum to 1.0, got {sum(fractions)}")
    draw = F.substring(
        sha256_hex(F.concat(F.col(key_col).cast("string"), F.lit(salt))),
        1, 8,
    )
    cum = 0.0
    cuts = []
    for frac in fractions[:-1]:
        cum += frac
        cuts.append(stratum_threshold_hex(cum))
    # build innermost-out so the SMALLEST cumulative cut is tested first:
    # first matching threshold wins
    expr = F.lit(names[-1])
    for name, cut in zip(reversed(names[:-1]), reversed(cuts)):
        expr = F.when(draw < F.lit(cut), F.lit(name)).otherwise(expr)
    return df.withColumn("split", expr)


def zipf_fit(df: DataFrame, text_col: str = "text", k: int = 100) -> DataFrame:
    """Zipf rank-frequency fit over the top-``k`` tokens: OLS of ln(freq)
    on ln(rank) — the corpus-health audit (natural language sits near
    slope −1; scraped boilerplate/spam bends the curve, so curation
    dashboards track this per source/snapshot).

    One word-count shuffle + TakeOrderedAndProject(k) (never a global
    sort); the regression runs over k rows with ORDERED folds
    (rank-sorted struct fold — the engine's standard order-deterministic
    double summation), so the fitted coefficients are bit-stable across
    partitionings and engines; ln() drift is absorbed by the 6dp round.

    Output: one row (n_tokens, zipf_slope, zipf_intercept).
    """
    tf = vocab_top_tokens(df, text_col, k)
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = tf.withColumn("rank", F.row_number().over(w))
    pairs = ranked.select(
        "rank",
        F.log(F.col("rank").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )

    def osum(value: Column) -> Column:
        return F.aggregate(
            F.array_sort(F.collect_list(F.struct(F.col("rank"), value.alias("v")))),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        )

    agg = pairs.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        osum(F.col("x")).alias("sx"),
        osum(F.col("y")).alias("sy"),
        osum(F.col("x") * F.col("y")).alias("sxy"),
        osum(F.col("x") * F.col("x")).alias("sxx"),
    )
    # Degenerate corpora (a single distinct token: sxx == sx²/n) have no
    # defined slope — emit EXPLICIT nulls instead of a 0/0 NaN, so a
    # per-source dashboard can flag exactly the boilerplate-collapsed
    # sources this audit exists to catch (review finding).
    denom = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    defined = (F.col("n") >= 2) & (denom != 0.0)
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / denom
    return agg.select(
        F.col("n").cast("long").alias("n_tokens"),
        F.when(defined, F.round(slope, 6)).alias("zipf_slope"),
        F.when(
            defined,
            F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6),
        ).alias("zipf_intercept"),
    )


def dup_cluster_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-duplicate cluster-size histogram — the dedup AUDIT run before
    committing to a dedup pass (how much of the corpus is 2x-replicated vs
    1000x boilerplate decides batch sizing and skew guards; Lee et al.
    2022 report exactly this distribution).

    Groups on sha256 of the canonical-exact form (the d01 identity), then
    histograms the group sizes: (cluster_size, n_clusters, n_docs). Two
    map-side-combinable groupBys on narrow keys; text never shuffles.
    """
    from llm_pretraining_data_pipeline_spark.functions.text_norm import (
        canonicalize_for_exact,
    )

    h = df.select(
        sha256_hex(canonicalize_for_exact(F.col(text_col))).alias("_h")
    )
    sizes = h.groupBy("_h").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("long")
            .alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram Shannon entropy H = log2(n) − (Σ c·log2 c)/n
    over lowercase token counts — the information-density quality signal
    (low entropy = repetitive spam; pairs with the Gopher repetition
    fractions but responds to SCATTERED repeats too).

    One word-count shuffle on (doc, token) then a per-doc aggregation; the
    Σ c·log2 c term folds in TOKEN order (the engine's standard
    order-deterministic double summation) and the result rounds 6dp, so
    values are bit-stable across partitionings and engines. Empty docs
    yield entropy 0.0.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(
            ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("token"),
    )
    tc = toks.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("c"))
    log2 = lambda x: F.log(2.0, x)  # noqa: E731
    per_doc = tc.groupBy(id_col).agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.aggregate(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("token"),
                        (F.col("c").cast("double") * log2(F.col("c").cast("double"))).alias("v"),
                    )
                )
            ),
            F.lit(0.0),
            lambda acc, s: acc + s["v"],
        ).alias("_s"),
    )
    ent = log2(F.col("n_tokens").cast("double")) - F.col("_s") / F.col(
        "n_tokens"
    ).cast("double")
    out = per_doc.select(
        id_col, "n_tokens", F.round(ent, 6).alias("token_entropy")
    )
    base = df.select(F.col(id_col))
    return base.join(out, id_col, "left").select(
        id_col,
        F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
        F.coalesce("token_entropy", F.lit(0.0)).alias("token_entropy"),
    )


def mixture_interleave(
    df: DataFrame,
    weights: dict[str, float],
    default_weight: float = 1.0,
    source_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic mixture-weighted interleave key — the data-MIXING
    operator that turns per-source mixture weights into an actual training
    stream order: reading rows in ascending ``interleave_key`` yields
    source proportions converging to the weights (stride scheduling /
    weighted fair queueing: key = rank_within_source / weight, so a
    source with twice the weight surfaces twice as often per unit key).

    Rank within each source follows the sha256(id) order, so the stream is
    reproducible with no RNG state, any partitioning, any engine. Scale
    shape: ONE window shuffle partitioned by source (sources parallelise
    across tasks); the training loader sorts by key per shard — no global
    sort here (consumers that need the total order range-partition on the
    key, which is uniform within each source by construction).

    Adds ``interleave_key`` (round 6; rank/weight of int by literal is
    engine-exact, rounding only guards display).
    """
    if default_weight <= 0 or any(v <= 0 for v in weights.values()):
        raise ValueError("mixture weights must be positive")
    w = Window.partitionBy(source_col).orderBy(
        sha256_hex(F.col(id_col)), F.col(id_col)
    )
    rank = F.row_number().over(w)
    wexpr = F.lit(float(default_weight))
    for name, val in sorted(weights.items()):
        wexpr = F.when(
            F.col(source_col) == name, F.lit(float(val))
        ).otherwise(wexpr)
    return df.withColumn(
        "interleave_key", F.round(rank.cast("double") / wexpr, 6)
    )


def ks_drift(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    max_grid: int | None = None,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift statistic between the
    ``value_col`` distributions of two corpus slices — the snapshot-drift
    audit a curation dashboard runs when a new crawl dump lands ("did
    document length / quality score shift vs the last dump?"). CCNet/
    RefinedWeb-style pipelines gate recalibration on exactly this kind of
    distribution check.

    KS = max over values v of |F_a(v) - F_b(v)| with F the empirical CDF.
    Computed EXACTLY in integer arithmetic: per distinct value the two
    group counts, one cumulative pass, and the max of
    |cum_a * n_b - cum_b * n_a| — a bigint numerator over the common
    denominator n_a * n_b — so the statistic is bit-identical on every
    engine; only the final ratio is rounded (6dp).

    Scale shape: one map-side-combinable groupBy on the value, then the
    cumulative window runs over the AGGREGATED frame (one row per distinct
    value) — for continuous scores quantize first, which bounds the
    distinct-value frame to the grid size, not the corpus size. Fractional
    value columns (float/double/decimal) are AUTO-quantized to a 6dp
    double grid here (the engine's scores are already 6dp-rounded, so
    this is a no-op for them; for raw continuous scores it is the
    quantization the single-partition window needs anyway — KS on the
    6dp-quantized CDF differs from exact by at most the mass collapsed
    per grid cell). ``max_grid`` optionally caps the distinct-value frame:
    the bound is enforced lazily inside the plan (``assert_true`` over the
    aggregated frame's row count) and a breach fails the job with a
    quantize-first message instead of letting a per-row-distinct column
    funnel the whole corpus through one window partition.

    Output: ONE row (n_a, n_b, ks_stat, ks_at_value = smallest value
    attaining the max, in the value column's own — possibly quantized —
    type).
    """
    vtype = dict(df.dtypes).get(value_col, "")
    if vtype in ("double", "float") or vtype.startswith("decimal"):
        v = F.round(F.col(value_col).cast("double"), 6)
    else:
        v = F.col(value_col)
    g = F.col(group_col)
    counts = (
        df.filter(g.isin([group_a, group_b]))
        .groupBy(v.alias("val"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("ca"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("cb"),
        )
    )
    wcum = Window.orderBy("val").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = counts.select(
        "val",
        F.sum("ca").over(wcum).alias("cum_a"),
        F.sum("cb").over(wcum).alias("cum_b"),
        F.sum("ca").over(wall).alias("n_a"),
        F.sum("cb").over(wall).alias("n_b"),
    )
    diff = F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    scored = cum.select(
        "val", "n_a", "n_b", diff.alias("d")
    ).withColumn("max_d", F.max("d").over(wall))
    ks = F.round(
        F.max("d").cast("double")
        / (F.max("n_a") * F.max("n_b")).cast("double"),
        6,
    )
    if max_grid is not None:
        # Lazy distinct-value-cap enforcement: assert_true returns NULL
        # when the predicate holds (making the `when` arm yield ks) and
        # raises at execution when it doesn't — no extra job, no eager
        # count, and the failure message tells the caller to quantize.
        guard = F.assert_true(
            F.count(F.lit(1)) <= F.lit(int(max_grid)),
            F.concat(
                F.lit(
                    f"ks_drift: distinct-value grid for '{value_col}' "
                    f"exceeds max_grid={int(max_grid)} ("
                ),
                F.count(F.lit(1)).cast("string"),
                F.lit(
                    " distinct values) — quantize the column first "
                    "(e.g. round to a fixed grid) so the cumulative "
                    "window runs over a bounded frame"
                ),
            ),
        )
        ks = F.when(guard.isNull(), ks)
    return scored.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        ks.alias("ks_stat"),
        # ks_at_value stays in the value column's own (possibly
        # 6dp-quantized) type — a long cast would silently truncate
        # fractional attained-max locations (ADVICE r8).
        F.min(F.when(F.col("d") == F.col("max_d"), F.col("val")))
        .alias("ks_at_value"),
    )


def psi_drift(
    df: DataFrame,
    bucket_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    laplace: int = 1,
    max_buckets: int | None = 100_000,
) -> DataFrame:
    """Population Stability Index between two corpus slices over a
    PRE-ASSIGNED bucket column — the model-monitoring companion to
    ``ks_drift``: where KS reports the worst single CDF gap, PSI sums
    directional log-ratio divergence across the whole histogram
    (PSI < 0.1 stable, 0.1-0.25 moderate, > 0.25 action — the scorecard
    convention).

    PSI = Σ_buckets (p_a − p_b) · ln(p_a / p_b), with Laplace-smoothed
    proportions p = (cnt + laplace) / (n + laplace·K) over the UNION
    bucket grid of both slices (K buckets), so buckets empty on one side
    contribute finite, deterministic terms rather than ±inf.

    Engine-exactness: counts are exact bigints; each bucket's term is a
    data-dependent double, so it is 6dp-rounded and then folded in BUCKET
    ORDER (array_sort over the collected (bucket, term) structs — the
    repo's ordered-fold recipe), never via an order-unstable float sum.

    Scale shape: one map-side-combinable groupBy on the bucket, then a
    1-row aggregate; the fold sees K rows, not the corpus. Callers bucket
    continuous columns first (same contract as ks_drift's quantize-first
    fence); ``max_buckets`` enforces it lazily in-plan.
    """
    g = F.col(group_col)
    agg = (
        df.where(g.isin(group_a, group_b))
        .groupBy(F.col(bucket_col).alias("bucket"))
        .agg(
            F.sum(F.when(g == group_a, 1).otherwise(0)).alias("cnt_a"),
            F.sum(F.when(g == group_b, 1).otherwise(0)).alias("cnt_b"),
        )
    )
    tot = agg.agg(
        F.sum("cnt_a").alias("n_a"),
        F.sum("cnt_b").alias("n_b"),
        F.count(F.lit(1)).alias("k"),
    )
    joined = agg.crossJoin(F.broadcast(tot))  # 1-row totals, never cartesian
    lap = F.lit(int(laplace))
    p_a = (F.col("cnt_a") + lap).cast("double") / (
        F.col("n_a") + lap * F.col("k")
    ).cast("double")
    p_b = (F.col("cnt_b") + lap).cast("double") / (
        F.col("n_b") + lap * F.col("k")
    ).cast("double")
    term = F.round((p_a - p_b) * F.log(p_a / p_b), 6)
    folded = joined.agg(
        F.max("n_a").cast("long").alias("n_a"),
        F.max("n_b").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
        F.aggregate(
            F.array_sort(
                F.collect_list(F.struct(F.col("bucket").alias("k"), term.alias("v")))
            ),
            F.lit(0.0),
            lambda acc, x: acc + x["v"],
        ).alias("_psi_raw"),
    )
    psi = F.round(F.col("_psi_raw"), 6)
    if max_buckets is not None:
        guard = F.assert_true(
            F.col("n_buckets") <= F.lit(int(max_buckets)),
            F.concat(
                F.lit(
                    f"psi_drift: bucket grid for '{bucket_col}' exceeds "
                    f"max_buckets={int(max_buckets)} ("
                ),
                F.col("n_buckets").cast("string"),
                F.lit(
                    " buckets) — bucket the column coarser (e.g. integer-"
                    "divide or quantize) so the histogram stays bounded"
                ),
            ),
        )
        psi = F.when(guard.isNull(), psi)
    return folded.select("n_a", "n_b", "n_buckets", psi.alias("psi"))


def gram_novelty(
    df: DataFrame,
    text_col: str,
    group_col: str,
    old_group: str,
    new_group: str,
    n: int = 3,
) -> DataFrame:
    """Directional n-gram novelty of a NEW corpus slice against an OLD one:
    what fraction of the new snapshot's distinct n-grams was never seen in
    the base? The freshness audit run before paying for a new crawl dump —
    near-zero novelty means the dump re-crawls what the corpus already has
    (the complement of ``source_overlap``'s symmetric Jaccard).

    Scale shape: one distinct over (side, 60-bit gram hash), then ONE
    groupBy on the hash reducing each gram to two booleans (seen-in-old /
    seen-in-new) — counts come from a final scalar aggregation. No gram-
    keyed join of two corpus-sized frames, no pair expansion. Output: ONE
    row (n_grams_old, n_grams_new, n_novel, novelty_rate 6dp).
    """
    g = F.col(group_col)
    # Arrow-batched gram hashing (round 15): ngram_h64_frame_arrow is
    # hash-identical to explode(ngrams(...)) + h64(gram) by construction
    # (tests/test_minhash_vec.py pins it), so the distinct/groupBy below
    # see exactly the same 60-bit keys. The "~half of the 100k-doc
    # corpus-audit bench entry" it saved was measured while ngrams still
    # re-split the whole text for every gram; the let-bound ngrams no
    # longer pays that, and the two have not been re-measured since.
    grams = (
        minhash_vec.ngram_h64_frame_arrow(
            df.filter(g.isin([old_group, new_group])).select(
                (g == new_group).alias("is_new"), F.col(text_col)
            ),
            text_col, n, keep=("is_new",),
        )
        .select("is_new", F.explode("gh").alias("gh"))
        .distinct()
    )
    flags = grams.groupBy("gh").agg(
        F.max(F.when(~F.col("is_new"), 1).otherwise(0)).alias("in_old"),
        F.max(F.when(F.col("is_new"), 1).otherwise(0)).alias("in_new"),
    )
    n_old = F.sum("in_old").cast("long")
    n_new = F.sum("in_new").cast("long")
    n_novel = F.sum(
        F.when((F.col("in_new") == 1) & (F.col("in_old") == 0), 1).otherwise(0)
    ).cast("long")
    return flags.agg(
        n_old.alias("n_grams_old"),
        n_new.alias("n_grams_new"),
        n_novel.alias("n_novel"),
        F.when(
            n_new > 0,
            F.round(n_novel.cast("double") / n_new.cast("double"), 6),
        ).otherwise(F.lit(0.0)).alias("novelty_rate"),
    )


def type_token_stats(
    df: DataFrame,
    text_col: str,
    group_col: str,
    approx_rsd: float | None = None,
) -> DataFrame:
    """Per-slice vocabulary-growth audit: total token count, distinct-type
    count, type-token ratio, and the Heaps-law point exponent
    ``log(V) / log(N)`` (Heaps 1978: V ≈ K·N^β, β ≈ 0.4-0.6 for natural
    language). The corpus-health check run per source/snapshot before a
    tokenizer retrain: a source whose exponent collapses toward 0 is
    template spam (vocabulary stopped growing); one near 1 is
    high-entropy noise (every token novel) — both are curation flags
    CCNet/Gopher-style pipelines act on.

    Scale shape: one narrow explode to (group, token) rows, then a single
    groupBy. Exact ``count(DISTINCT tok)`` plans as a two-phase expand —
    fine per-source at any scale because partials combine map-side, but
    the distinct set itself is shuffled; pass ``approx_rsd`` (e.g. 0.01)
    to swap in HyperLogLog ``approx_count_distinct`` — constant
    sketch-sized state per group, the 100 TB default. The refereed
    registry query pins the exact form (an HLL estimate has no oracle).

    Output per group: (group_col, n_tokens, n_types, ttr, heaps_exponent)
    with the ratios rounded 6dp and heaps_exponent null when N <= 1
    (log(1)=0 would divide by zero under ANSI).
    """
    toks = ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
    w = df.select(F.col(group_col), F.explode(toks).alias("_tok"))
    n_types = (
        F.approx_count_distinct("_tok", approx_rsd)
        if approx_rsd is not None
        else F.count_distinct("_tok")
    )
    agg = w.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        n_types.alias("n_types"),
    )
    nt = F.col("n_tokens").cast("double")
    nv = F.col("n_types").cast("double")
    return agg.select(
        group_col,
        "n_tokens",
        "n_types",
        F.round(nv / nt, 6).alias("ttr"),
        F.when(
            F.col("n_tokens") > 1, F.round(F.log(nv) / F.log(nt), 6)
        ).alias("heaps_exponent"),
    )



def vocab_coverage(
    df: DataFrame,
    text_col: str = "text",
    vocab_sizes: tuple[int, ...] = (100, 1_000, 10_000),
) -> DataFrame:
    """Vocabulary-coverage / OOV-rate curve: for each candidate vocabulary
    size V, the fraction of token OCCURRENCES covered by the top-V types
    (count desc, token asc — total-ordered). This is the tokenizer-sizing
    audit run before committing to a vocab size: the curve's knee tells
    you where adding types stops buying coverage, and a source whose OOV
    rate at the production V jumps between snapshots has drifted.

    Scale shape: ONE word-count shuffle (explode → map-side partial agg);
    the candidate ranking touches only the top max(V) types via
    TakeOrderedAndProject (never a global sort of the type table — at web
    scale that table has billions of rows, but the audit only ever needs
    the top max(V) of them, driver-bounded exactly like the BPE trainer's
    ``top_pieces`` cap). The rank window then runs over those K rows (the
    ``zipf_fit`` precedent: single-partition is fine when the frame is
    K-bounded by construction), and the V-thresholds join is a broadcast
    nested loop of |vocab_sizes| x K rows.

    Output per V: (v, n_types, covered_tokens, total_tokens, oov_rate)
    with oov_rate the raw double 1 - covered/total (integer-derived,
    engine-exact).
    """
    if not vocab_sizes or any(v < 1 for v in vocab_sizes):
        raise ValueError("vocab_sizes must be non-empty positive ints")
    kmax = int(max(vocab_sizes))
    counts = (
        df.select(
            F.explode(
                ws_tokens(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(kmax)
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("tok")))
    )
    totals = counts.agg(
        F.sum("cnt").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
    )
    sizes = df.sparkSession.createDataFrame(
        [(int(v),) for v in sorted(set(vocab_sizes))], "v long"
    )
    # broadcast the K-bounded ranked frame (a left join can only broadcast
    # its non-preserved side); |sizes| x K nested-loop rows, both tiny
    covered = (
        sizes.join(F.broadcast(ranked), F.col("rank") <= F.col("v"), "left")
        .groupBy("v")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("covered_tokens"))
    )
    return covered.crossJoin(F.broadcast(totals)).select(
        "v",
        "n_types",
        "covered_tokens",
        "total_tokens",
        (
            F.lit(1.0)
            - F.col("covered_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("oov_rate"),
    )
