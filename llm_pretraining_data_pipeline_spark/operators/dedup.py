"""Deduplication operators.

Reference parity (duplication.py):
  * exact dedup keep-first with ``dup_of`` lineage — duplication.py:119-143
    (an O(n) driver-side dict loop there; a hash-partitioned window here — the
    exact "repartition by hash, drop within bucket" plan the reference's own
    README prescribes for scale, README.md:134)
  * 500-char-prefix near dedup — duplication.py:145-177

Scale extensions (SURVEY.md §2.9 / BASELINE.json north star):
  * MinHash + LSH banding near-dup (shingle → signature → band → bucket join)
  * SimHash near-dup (per-row signature, bucket by band substrings)
  * exact n-gram Jaccard pair join
  * embedding-cosine near-dup pairs

"Keep first in encounter order" needs a deterministic order column in a
distributed engine (pandas had an implicit index). All operators take an
``order_col`` (default ``dedup_id``) — callers materialise ``row_order`` at
ingest when arrival order matters.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions import hashing, minhash_vec
from llm_pretraining_data_pipeline_spark.functions.text_norm import (
    canonicalize_for_exact,
    canonicalize_for_near,
)
from llm_pretraining_data_pipeline_spark.operators.skew import spread_small_input


def _first_in_group(key: str, order_col: str) -> tuple[Column, Column]:
    """(is_duplicate, canonical_id) via one window over the group key.

    The shuffle this induces is hash-partitioned on ``key``;
    ``row_number`` + windowed ``first`` share a single Exchange+Sort.

    Skew limit: AQE splits skewed *join/aggregate* partitions but CANNOT
    split a window partition — ``row_number`` needs the whole group
    co-located, so a giant duplicate group (e.g. millions of copies of one
    boilerplate page, or the all-empty-docs hash) is one straggler task
    carrying full-width rows. In the pipeline this is mostly pre-empted
    (``respect_drop_reason=True`` gives already-dropped rows solo keys and
    empty docs are dropped at F1 before dedup). The skew-splittable form,
    ``groupBy(key).agg(min(struct(order, id)))`` plus a join back, was
    measured at 300k docs on one hot key: the window took 1.9 s and
    groupBy+join 2.3 s. The window wins until a single group outgrows one
    task's sort memory, so it is the only form.
    """
    w = Window.partitionBy(key).orderBy(F.col(order_col))
    rn = F.row_number().over(w)
    canonical = F.first(F.col("dedup_id")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return rn > 1, canonical


def exact_dedup(
    df: DataFrame,
    text_col: str = "text_pii_masked",
    order_col: str | None = None,
    id_col: str = "doc_id",
    respect_drop_reason: bool = False,
) -> DataFrame:
    """Mark exact duplicates after canonicalisation, keeping the first.

    Adds: dedup_id, exact_canon_text, exact_hash, is_dup_exact, dup_of and
    carries drop_reason='exact_duplicate' for marked rows. Keep-first is one
    window over the hash (see ``_first_in_group`` for its skew limit).

    ``respect_drop_reason=True`` reproduces the reference *pipeline* boundary:
    dedup there runs on the kept-rows parquet only (run_pipeline.py stage
    chain), so already-dropped rows must neither claim canonical slots nor be
    marked. They get per-row solo group keys, keeping them in the frame for
    the drop-reason histogram while excluded from grouping.
    """
    order_col = order_col or ("row_order" if "row_order" in df.columns else id_col)
    has_reason = "drop_reason" in df.columns
    out = df.withColumns({
        "dedup_id": F.col(id_col).cast("string"),
        "exact_canon_text": canonicalize_for_exact(text_col),
    })
    out = out.withColumn("exact_hash", hashing.sha256_hex("exact_canon_text"))

    group_col = "exact_hash"
    if respect_drop_reason and has_reason:
        out = out.withColumn(
            "_exact_group",
            F.when(F.col("drop_reason").isNull(), F.col("exact_hash")).otherwise(
                F.concat(F.lit("\x00solo\x00"), F.col("dedup_id"))
            ),
        )
        group_col = "_exact_group"
    # Each window-bearing column is its own step. Folding is_dup_exact and
    # dup_of repeats row_number in the Window node; folding dup_of and
    # drop_reason leaves a Project between the two windows, which then
    # plan as two Window nodes instead of one.
    is_dup, canonical = _first_in_group(group_col, order_col)
    out = out.withColumn("is_dup_exact", is_dup)
    out = out.withColumn(
        "dup_of",
        F.when(F.col("is_dup_exact"), canonical).otherwise(F.lit(None).cast("string")),
    )
    reason = F.when(
        F.col("is_dup_exact") & F.col("drop_reason").isNull()
        if has_reason
        else F.col("is_dup_exact"),
        F.lit("exact_duplicate"),
    )
    if has_reason:
        out = out.withColumn("drop_reason", F.coalesce(F.col("drop_reason"), reason))
    else:
        out = out.withColumn("drop_reason", reason.otherwise(F.lit(None).cast("string")))
    return out.drop("_exact_group")


def near_dedup_prefix(
    df: DataFrame,
    text_col: str = "text_pii_masked",
    order_col: str | None = None,
    min_len: int = 200,
    key_chars: int = 500,
    respect_drop_reason: bool = False,
) -> DataFrame:
    """Prefix-key near dedup over docs with canonical length >= min_len.

    Exact duplicates are excluded from near-marking (duplication.py:170);
    dup_of is only filled where exact dedup left it null (:176-177).
    Expects ``exact_dedup`` columns to be present. Keep-first is one window
    over the prefix key (``_first_in_group``).
    """
    order_col = order_col or ("row_order" if "row_order" in df.columns else "dedup_id")
    out = df.withColumn("near_key", canonicalize_for_near(text_col, key_chars))

    eligible = (F.length(F.col("exact_canon_text")) >= min_len) & (F.col("near_key") != "")
    if respect_drop_reason and "drop_reason" in df.columns:
        # Pipeline-boundary semantics: exact-duplicate rows stay in the frame
        # (they must be skippable, not canonical) but other dropped rows are
        # out of the near-dup universe entirely.
        eligible = eligible & (
            F.col("drop_reason").isNull() | (F.col("drop_reason") == "exact_duplicate")
        )
    # Ineligible rows get a per-row unique key so the window never groups them.
    out = out.withColumn(
        "_near_group",
        F.when(eligible, F.col("near_key")).otherwise(
            F.concat(F.lit("\x00solo\x00"), F.col("dedup_id"))
        ),
    )
    # One step per column, as in exact_dedup: a folded step numbers its
    # window aliases afresh and reorders the Project below the window.
    is_dup, canonical = _first_in_group("_near_group", order_col)
    is_near = eligible & is_dup & ~F.col("is_dup_exact")
    out = out.withColumn("is_dup_near", is_near)
    out = out.withColumn(
        "dup_of", F.coalesce(F.col("dup_of"), F.when(is_near, canonical))
    )
    out = out.withColumn(
        "drop_reason",
        F.coalesce(F.col("drop_reason"), F.when(is_near, F.lit("near_duplicate"))),
    )
    return out.drop("_near_group")


def dedup_stage(
    df: DataFrame,
    text_col: str = "text_pii_masked",
    id_col: str = "doc_id",
    order_col: str | None = None,
    near_dup_min_len: int = 200,
    near_key_chars: int = 500,
    respect_drop_reason: bool = False,
) -> DataFrame:
    """Reference dedup stage: exact then prefix-near (duplication.py:68-197)."""
    out = exact_dedup(
        df, text_col=text_col, order_col=order_col, id_col=id_col,
        respect_drop_reason=respect_drop_reason,
    )
    return near_dedup_prefix(
        out, text_col=text_col, order_col=order_col, min_len=near_dup_min_len,
        key_chars=near_key_chars, respect_drop_reason=respect_drop_reason,
    )


# ----------------------------------------------------------------- at scale


def _minhash_sig_frame(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    vectorized: bool = True,
) -> DataFrame:
    """Per-doc MinHash signature frame ``(id, sig array<int>)`` — the
    shared first stage of ``minhash_lsh_candidates`` /
    ``minhash_index_frame`` / ``near_dedup_against_index``.

    ``vectorized=True`` (default, round 15): ONE Arrow pass per
    partition over the JVM-tokenised array (``minhash_vec`` — the
    shingle join + md5 + affine-min fold in C-speed Python; ~1.8x the
    Catalyst chain at 2,500 docs on local[2], whose shingle-string HOFs
    are CodegenFallback. The round-15 "~7x" was measured while
    ``token_shingles`` still re-split the text per shingle). Bit-parity
    with the Catalyst chain is pinned by tests/test_minhash_vec.py; the
    DuckDB referee backs both.

    ``vectorized=False`` is the zero-Python Catalyst chain: one fold
    over the hashed shingles per row, behind a Generate-node barrier
    (explode of a 1-element struct array) so CollapseProject can never
    inline the md5 pass into downstream band lambdas.

    Either way, empty-shingle rows fold to the init sentinel (every
    lane == 2^31-1, unreachable for non-empty input since perms are
    mod 2^31-1) and are filtered AFTER the opaque stage / barrier —
    pushing the predicate below the spread repartition would re-run
    the whole hash pass on the unspread input partitions."""
    df = spread_small_input(df)
    if vectorized:
        base = minhash_vec.minhash_sig_frame_arrow(
            df, text_col, id_col=id_col, shingle_size=shingle_size,
            num_hashes=num_hashes, seed=seed,
        )
    else:
        hashed = F.transform(
            hashing.token_shingles(text_col, shingle_size),
            lambda s: hashing.h32(s),
        )
        base = df.select(
            F.col(id_col).alias("id"),
            hashing.minhash_signature_single_pass(hashed, num_hashes, seed)
            .alias("sig"),
        )
        base = base.select(
            F.explode(F.array(F.struct(F.col("id"), F.col("sig")))).alias("_r")
        ).select("_r.id", "_r.sig")
    return base.filter(F.col("sig")[0] != F.lit(hashing.MERSENNE_31))


def _sig_match_count(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Number of matching lanes between two equal-length signatures —
    the MinHash-estimate numerator, shared by the against-index verdict
    path and the estimator audit. Deliberately the ``zip_with |> filter
    |> size`` HOF chain, NOT an unrolled sum over ``GetArrayItem``:
    measured round 15 on a 20M-row synthetic joined frame, the
    interpreted HOF runs 2.8 s while the "codegen-friendly" unrolled
    32-term sum (whether ``when(...,1,0)`` or boolean casts) runs
    47-90 s — the generated method for 32 chained array accesses +
    conditionals is too large for JIT and executes as interpreted
    BYTECODE, far slower than Catalyst's interpreted expression walk.
    (``num_hashes`` is kept for signature stability and future
    variants.) An ``aggregate``-fold counter measured 3.4 s — no win
    over this form."""
    del num_hashes  # the HOF walks the arrays' own length
    return F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda a, b: a == b), lambda x: x)
    )


def _band_keys(sig: Column, bands: int, rows_per_band: int) -> Column:
    """``array<struct<band_id, band_sig>>`` of LSH band keys for one
    signature — the one banding definition every consumer shares.

    Unrolled over the plan-time-constant ``bands``/``rows_per_band``
    (round 15): ``GetArrayItem`` + ``concat_ws`` are whole-stage-codegen
    expressions, while the former ``transform``+``slice`` lambdas were
    CodegenFallback (interpreted, one array allocation per band per
    row). Values are identical by construction — ``sig[k]`` enumerates
    exactly the elements ``slice(sig, k+1, rows_per_band)`` walked."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "-",
                    *[
                        sig[b * rows_per_band + j].cast("string")
                        for j in range(rows_per_band)
                    ],
                ).alias("band_sig"),
            )
            for b in range(bands)
        ]
    )


def _minhash_banded_frame(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """``(id, band_id, band_sig)`` — the exploded band-key frame over
    ``_minhash_sig_frame``; fan-out is ``bands`` rows per doc."""
    rows_per_band = num_hashes // bands
    sigs = _minhash_sig_frame(
        df, text_col, id_col=id_col, shingle_size=shingle_size,
        num_hashes=num_hashes, seed=seed,
    )
    return sigs.select(
        "id",
        F.explode(_band_keys(F.col("sig"), bands, rows_per_band)).alias("band"),
    ).select("id", "band.band_id", "band.band_sig")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    max_bucket_size: int | None = 1024,
    bucket_observation=None,
) -> DataFrame:
    """Candidate near-duplicate pairs via MinHash + LSH banding.

    Fully LAZY and persist-free — constructing the plan runs no jobs, and the
    returned frame holds no cached state. Plan shape (the 100 TB recipe):
      1. per-row signature in ONE fold over the hashed shingles
         (``minhash_signature_single_pass``: the md5 pass is bound to a lambda
         variable, so it runs exactly once per row even when Catalyst inlines
         projections — no persist barrier needed);
      2. a Generate-node barrier (``explode`` of a 1-element struct array)
         between the signature and the band explode — the band lambdas
         reference the generator's output attribute, which CollapseProject
         cannot inline, so the signature is computed once, not ``bands`` times
         (measured 1.45× at sf0.1);
      3. explode to ``bands`` (band_id, band_sig) rows per doc — fan-out is
         `bands`, tiny next to the token stream;
      4. groupBy (band_id, band_sig) + collect the ids + emit sorted pairwise
         combinations per bucket — ONE hash shuffle of the narrow banded rows,
         evaluating the upstream exactly once (the former self-join executed
         the scan+signature subtree twice and needed two persists);
      5. distinct (id_a < id_b) pairs.

    Two shuffles total (bucket groupBy + distinct), upstream evaluated once.
    Returns columns: id_a, id_b (candidates only — verify with
    ``ngram_jaccard_pairs`` or exact comparison downstream).

    Skew guard (``max_bucket_size``): a bucket of k ids would emit k·(k-1)/2
    pairs in one task, and AQE cannot split a single collect_list group — the
    one way this plan could die at 100 TB (e.g. boilerplate-identical docs
    when exact dedup was skipped). Buckets larger than ``max_bucket_size``
    therefore emit a linear STAR instead: every id pairs with the bucket's
    minimum id only (k-1 candidates). In the case that actually blows buckets
    up — thousands of near-identical docs sharing every band signature — the
    star loses nothing: all members verify against the canonical min-id doc
    and land in one connected component. In a MIXED oversized bucket it is an
    approximation: a sub-cluster pair (x, y) both above the Jaccard threshold
    but each below it against the hub doc would connect only through one of
    the other ``bands-1`` (un-blown) bucketings. Per-task output drops from
    O(k²) to O(k), which is the trade the cap exists to make. Pass ``max_bucket_size=None`` to disable (the
    exact-pairs mode the DuckDB referee mirrors; fixture buckets are far
    below the default cap so oracle parity is unaffected). Pass a
    ``pyspark.sql.Observation`` as ``bucket_observation`` to get
    ``lsh_oversized_buckets`` / ``lsh_pairs_pruned`` metrics piggybacked on
    the caller's first action — the "log dropped candidates" channel that
    needs no extra job.
    """
    banded = _minhash_banded_frame(
        df, text_col, id_col=id_col, shingle_size=shingle_size,
        num_hashes=num_hashes, bands=bands, seed=seed,
    ).select(F.col("id").alias("_id"), "band_id", "band_sig")

    grouped = (
        banded.groupBy("band_id", "band_sig")
        .agg(F.array_sort(F.collect_list("_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    if max_bucket_size is not None:
        oversized = F.size("ids") > F.lit(max_bucket_size)
        if bucket_observation is not None:
            k = F.size("ids").cast("long")
            # (k-1)(k-2)/2 pairs pruned per oversized bucket (full k(k-1)/2
            # minus the k-1 star edges); shiftright keeps the arithmetic in
            # exact longs — a double `/` loses exactness past 2^53, i.e. at
            # precisely the giant-bucket sizes this guard exists for.
            grouped = grouped.observe(
                bucket_observation,
                F.sum(oversized.cast("long")).alias("lsh_oversized_buckets"),
                F.sum(
                    F.when(oversized, F.shiftright((k - 1) * (k - 2), 1))
                    .otherwise(F.lit(0))
                ).alias("lsh_pairs_pruned"),
            )
        # CaseWhen evaluates one branch per row, so the k² combos array is
        # never materialised for an oversized bucket.
        star = F.transform(
            F.slice(F.col("ids"), 2, F.size(F.col("ids"))),
            lambda y: F.struct(
                F.element_at(F.col("ids"), 1).alias("id_a"), y.alias("id_b")
            ),
        )
        combos = F.when(oversized, star).otherwise(combos)
    return (
        grouped.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _shingle_df_candidates(
    shingle_sets: DataFrame, max_shingle_df: int
) -> DataFrame:
    """DF-capped inverted-index candidate pairs: ONE shuffle on the shingle
    key (groupBy + in-array pair expansion, the ``simhash_pairs`` bucket
    design), pairs generated only from shingles whose document frequency is
    within ``max_shingle_df``.

    This is the inverted index's analogue of ``minhash_lsh_candidates``'
    oversized-bucket star cap: a boilerplate shingle appearing in k docs
    would otherwise contribute k(k-1)/2 pairs — at web scale a single hot
    navigation phrase detonates the join. Capping DF drops those shingles
    from candidate GENERATION only (verification still scores full sets),
    the stop-shingle mitigation every production near-dup index applies.
    Recall contract: a pair surfaces iff it shares at least one shingle
    with DF <= cap — overlapping documents share many shingles, so pairs
    whose overlap is EXCLUSIVELY ultra-common boilerplate are the only
    misses (and those are precisely the pairs boilerplate removal should
    handle upstream).

    The DF cap is applied BEFORE ``collect_set``: a map-side-combinable
    ``count`` per shingle first, then a semi-join keeps only in-cap
    shingles — so a hot shingle with DF in the millions never builds its
    id array in any aggregation buffer (its rows are dropped at the join,
    costing O(DF) filtered rows, not O(DF) array bytes on one executor).
    The count and the id-collect shuffle on the same key, so the extra
    pass is one more exchange of the (id, shingle) rows — the price of
    bounding per-key aggregation state, paid map-side-combined.
    """
    exploded = shingle_sets.select("_id", F.explode("_set").alias("_sh"))
    in_cap = (
        exploded.groupBy("_sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") > 1) & (F.col("_df") <= max_shingle_df))
        .select("_sh")
    )
    grouped = (
        exploded.join(in_cap, "_sh", "left_semi")
        .groupBy("_sh")
        .agg(F.array_sort(F.collect_set("_id")).alias("ids"))
    )
    combos = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def _shingle_set_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int,
    candidates: DataFrame | None,
    max_shingle_df: int | None,
) -> DataFrame:
    """``(id_a, id_b, set_a, set_b)`` per candidate pair, the sets being each
    doc's distinct shingles: the shared front half of ``ngram_jaccard_pairs``
    and ``ngram_containment_pairs``. Candidates come from ``candidates``, else
    the DF-capped index, else the brute-force shingle self-join."""
    shingle_sets = spread_small_input(df).select(
        F.col(id_col).alias("_id"),
        F.array_distinct(hashing.token_shingles(text_col, shingle_size)).alias("_set"),
    ).filter(F.size("_set") > 0)

    if candidates is not None:
        cand = candidates.select("id_a", "id_b")
    elif max_shingle_df is not None:
        cand = _shingle_df_candidates(shingle_sets, max_shingle_df)
    else:
        exploded = shingle_sets.select("_id", F.explode("_set").alias("_sh"))
        cand = (
            exploded.alias("a")
            .join(
                exploded.alias("b"),
                (F.col("a._sh") == F.col("b._sh")) & (F.col("a._id") < F.col("b._id")),
            )
            .select(F.col("a._id").alias("id_a"), F.col("b._id").alias("id_b"))
            .distinct()
        )

    a_sets = shingle_sets.select(F.col("_id").alias("id_a"), F.col("_set").alias("set_a"))
    b_sets = shingle_sets.select(F.col("_id").alias("id_b"), F.col("_set").alias("set_b"))
    return cand.join(a_sets, "id_a").join(b_sets, "id_b")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jaccard >= threshold).

    Without ``candidates`` this is the brute-force shingle-inverted-index
    join (fine to sf0.1); with a candidates frame (e.g. from LSH) it verifies
    only those pairs — the scale path. ``max_shingle_df`` switches the
    self-generated candidates to the DF-capped one-shuffle index
    (``_shingle_df_candidates``) — the stop-shingle guard for corpora with
    hot boilerplate n-grams.
    """
    joined = _shingle_set_pairs(
        df, text_col, id_col, shingle_size, candidates, max_shingle_df
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs: |A∩B|/|A| and |A∩B|/|B|, kept
    when either direction reaches ``threshold`` (Broder's containment
    score, the companion to resemblance/Jaccard).

    This is the detector Jaccard structurally misses: a short document
    fully quoted inside a long one (syndicated article + boilerplate,
    quoted posts, wrapper pages) has containment 1.0 from the short side
    while Jaccard ≈ |short|/|long| stays far below any dedup threshold.
    Dolma/RefinedWeb-style curation uses exactly this to drop wrapper
    pages around already-kept content.

    Same scale shape as ``ngram_jaccard_pairs``: shingle inverted-index
    join for candidates, then one equi-join back to the two
    distinct-shingle sets per surviving pair. Returns (id_a, id_b,
    containment_a, containment_b) with id_a < id_b.

    The 100 TB candidate path is ``max_shingle_df`` (the DF-capped
    one-shuffle index, ``_shingle_df_candidates``) — NOT MinHash LSH:
    containment pairs have LOW Jaccard by construction (that is the whole
    point), so resemblance-tuned LSH bands rarely fire on them, while a
    quote shares every one of its shingles with its source and virtually
    always at least one rare one. A pre-pruned ``candidates`` frame is
    still accepted for composition.
    """
    joined = _shingle_set_pairs(
        df, text_col, id_col, shingle_size, candidates, max_shingle_df
    )
    inter = F.size(F.array_intersect("set_a", "set_b"))
    ca = inter.cast("double") / F.size("set_a").cast("double")
    cb = inter.cast("double") / F.size("set_b").cast("double")
    return (
        joined.select(
            "id_a", "id_b", ca.alias("containment_a"), cb.alias("containment_b")
        )
        .filter(
            (F.col("containment_a") >= threshold)
            | (F.col("containment_b") >= threshold)
        )
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bands: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 32-bit signature into ``bands``
    pieces (pigeonhole: hamming <= bands-1 guarantees one identical band),
    bucket-join on identical bands, verify hamming distance exactly.

    Returns id_a, id_b, hamming.
    """
    bits_per_band = 32 // bands
    sigs = spread_small_input(df).select(
        F.col(id_col).alias("_id"), hashing.simhash32(text_col).alias("_sh")
    )
    # Generate-node barrier: the per-band arithmetic below references _sh
    # 2×bands times; without the barrier CollapseProject would inline the
    # (expensive, interpreted) simhash fold into every reference. Same
    # single-evaluation design as minhash_lsh_candidates.
    sigs = sigs.select(
        F.explode(F.array(F.struct(F.col("_id"), F.col("_sh")))).alias("_r")
    ).select("_r._id", "_r._sh")
    band_mod = 1 << bits_per_band
    banded = sigs.select(
        "_id",
        "_sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"),
                    # extract band b's bits arithmetically (shift = divide)
                    ((F.col("_sh") / F.pow(F.lit(2.0), b * bits_per_band)).cast("long")
                     % band_mod).alias("band_val"),
                ),
            )
        ).alias("band"),
    ).select("_id", "_sh", "band.band_id", "band.band_val")

    # Bucket-join via groupBy + pairwise combinations: ONE shuffle of the
    # narrow banded rows, upstream evaluated once (a self-join would execute
    # the scan+simhash subtree twice). Members carry (id, sh) so the exact
    # hamming verify needs no signature re-join.
    grouped = (
        banded.groupBy("band_id", "band_val")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("_id"), F.col("_sh")))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    combos = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x["_id"].alias("id_a"),
                    y["_id"].alias("id_b"),
                    x["_sh"].alias("sh_a"),
                    y["_sh"].alias("sh_b"),
                ),
            ),
        )
    )
    pairs = (
        grouped.select(F.explode(combos).alias("p"))
        .select("p.id_a", "p.id_b", "p.sh_a", "p.sh_b")
        .distinct()
    )
    hamming = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(31)),
            lambda i: F.when(
                ((F.col("sh_a") / F.pow(F.lit(2.0), i)).cast("long") % 2)
                != ((F.col("sh_b") / F.pow(F.lit(2.0), i)).cast("long") % 2),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    lsh_planes: int = 0,
    lsh_seed: int = 7,
    dim: int | None = None,
    lsh_bands: int = 1,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cosine >= threshold).

    ``lsh_planes=0``: brute-force O(N²) pair join — the exact baseline.
    ``lsh_planes=k``: random-hyperplane bucketing first, pairs only within a
    bucket — the scale path. High-cosine pairs land in the same bucket with
    probability (1 - θ/π)^k, so small k keeps recall high at threshold≈1
    while cutting candidates by ~2^k. The bucket join is a hash-partitioned
    equi-join on the bucket id, never a cartesian pair join.

    ``lsh_bands=B`` (with ``lsh_planes=k``): OR-amplification — B independent
    k-plane bucketings; a pair is a candidate if it collides in ANY band.
    Single-band AND-bucket recall falls off below cosine≈0.95; with B bands
    the miss probability drops to (1 - (1-θ/π)^k)^B, so moderate-similarity
    pairs survive. Plan shape: the per-band fan-out carries only the narrow
    (id, band, bucket) rows — vectors are joined back exactly once per side
    AFTER the distinct candidate set, so the B× row multiplication never
    touches the embedding payload. This is the same bands-of-rows recipe as
    the MinHash LSH text path (``minhash_lsh_candidates``).

    ``dim`` (LSH only): vector dimensionality — REQUIRED with
    ``lsh_planes > 0`` (VERDICT r11: the old auto-probe ran a driver-side
    ``first()`` during plan construction; the hyperplane coefficients are
    plan literals, so the dimensionality must be known before the plan
    exists, and the caller always knows its embedding width).
    """
    from llm_pretraining_data_pipeline_spark.operators.similarity import (
        cosine,
        hyperplane_bucket,
        random_hyperplanes,
    )

    if lsh_bands > 1 and lsh_planes <= 0:
        raise ValueError(
            "lsh_bands > 1 requires lsh_planes > 0 — without planes there "
            "is no bucketing and the call would silently run the O(N²) "
            "brute-force pair join"
        )
    vecs = spread_small_input(df).select(
        F.col(id_col).alias("_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
    )
    if lsh_planes > 0:
        if dim is None:
            raise ValueError(
                "embedding_near_dup_pairs(lsh_planes=...) requires `dim` — "
                "the hyperplane coefficients are plan literals, and deriving "
                "the width from the data would run a driver-side action "
                "during plan construction. Pass the embedding width "
                "(e.g. dim=64)."
            )
        if lsh_bands > 1:
            all_planes = random_hyperplanes(dim, lsh_planes * lsh_bands, lsh_seed)
            band_planes = [
                all_planes[b * lsh_planes:(b + 1) * lsh_planes]
                for b in range(lsh_bands)
            ]
            banded = vecs.select(
                "_id",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(b).alias("_band"),
                                hyperplane_bucket(F.col("_v"), bp).alias("_bucket"),
                            )
                            for b, bp in enumerate(band_planes)
                        ]
                    )
                ).alias("_bb"),
            ).select("_id", "_bb._band", "_bb._bucket")
            ca = banded.select(F.col("_id").alias("id_a"), "_band", "_bucket")
            cb = banded.select(F.col("_id").alias("id_b"), "_band", "_bucket")
            cand = (
                ca.join(cb, ["_band", "_bucket"])
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b")
                .distinct()
            )
            va = vecs.select(F.col("_id").alias("id_a"), F.col("_v").alias("v_a"))
            vb = vecs.select(F.col("_id").alias("id_b"), F.col("_v").alias("v_b"))
            return (
                cand.join(va, "id_a")
                .join(vb, "id_b")
                .select(
                    "id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("cosine")
                )
                .filter(F.col("cosine") >= threshold)
            )
        planes = random_hyperplanes(dim, lsh_planes, lsh_seed)
        # Generate-node barrier (explode of a 1-element struct array): the
        # bucket HOF is evaluated once per row per side; downstream references
        # hit the generator's output attribute instead of re-inlining the
        # hyperplane dot products. Lazy and persist-free — the self-join still
        # scans the (columnar-pruned) source twice, which is the price of
        # keeping the operator side-effect free; at 100 TB compute the bucket
        # at ingest and store it.
        vecs = vecs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("_id"),
                        F.col("_v"),
                        hyperplane_bucket(F.col("_v"), planes).alias("_bucket"),
                    )
                )
            ).alias("_r")
        ).select("_r._id", "_r._v", "_r._bucket")
        a = vecs.select(F.col("_id").alias("id_a"), F.col("_v").alias("v_a"),
                        F.col("_bucket").alias("b_a"))
        b = vecs.select(F.col("_id").alias("id_b"), F.col("_v").alias("v_b"),
                        F.col("_bucket").alias("b_b"))
        pairs = a.join(b, (F.col("b_a") == F.col("b_b")) & (F.col("id_a") < F.col("id_b")))
        return (
            pairs.select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("cosine"))
            .filter(F.col("cosine") >= threshold)
        )
    a = vecs.select(F.col("_id").alias("id_a"), F.col("_v").alias("v_a"))
    b = vecs.select(F.col("_id").alias("id_b"), F.col("_v").alias("v_b"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# bound for connected_components' driver-side union-find fast path: 1M
# narrow (src, dst) rows is tens of MB on the driver — far under the
# repo's bounded-collect discipline — while anything bigger (a truly
# corpus-scale duplicate graph) takes the distributed loop unchanged
_CC_DRIVER_MAX_EDGES = 1_000_000


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Resolve undirected similarity pairs into components by iterative
    min-label propagation. Returns (id, component) where component is the
    smallest member id — the canonical document of each duplicate cluster.

    Each round is neighbor-min propagation (join + aggregation) followed by
    POINTER JUMPING — every label is re-resolved through its own current
    label (labels[x] := labels[labels[x]]), which compresses paths
    geometrically. Convergence is O(log diameter) rounds, not O(diameter):
    near-dup clusters are usually shallow stars (1-2 rounds), and even a
    pathological million-hop chain of near-identical docs converges in ~20.
    This is the standard pre-GraphX label-propagation recipe with the
    shortcutting step that makes it safe at scale.

    Lineage is truncated with ``localCheckpoint`` at the loop entry and every
    round: without it each round's plan embeds the full upstream plan plus
    all prior rounds, and driver-side re-analysis dominates the wall clock
    (measured ~10× the actual compute on a deep pipeline input). On a real
    cluster with dynamic executors substitute reliable ``checkpoint``.
    """
    if max_iter < 1:
        # zero rounds would silently return identity labels (every node its
        # own component) without tripping the non-convergence warning below
        raise ValueError(f"connected_components needs max_iter >= 1, got {max_iter}")
    fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    rev = pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
    edges = fwd.union(rev).distinct().localCheckpoint(eager=True)

    # Small-graph fast path (round 15): each propagation round below is
    # several jobs (two joins + groupBy + eager checkpoint + the changed
    # count), so a TINY pair graph — the common case after LSH verify,
    # e.g. the bench's 224 verified pairs — pays multiple seconds of pure
    # job-scheduling overhead for microseconds of actual work. Up to
    # _CC_DRIVER_MAX_EDGES the (already materialised, already distinct)
    # edge list is collected and resolved with driver-side min-label
    # union-find: labels are identical by definition (component = the
    # set's minimum id; Spark's binary string min == Python's code-point
    # min for valid UTF-8). The collect is BOUNDED by the constant —
    # 1M narrow (src, dst) rows ≈ tens of MB — and corpus-scale graphs
    # take the distributed loop exactly as before. The count that gates
    # it is one cheap job over the checkpoint blocks.
    n_edges = edges.count()
    if n_edges <= _CC_DRIVER_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in edges.collect():
            a, b = row["src"], row["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:  # min-id root keeps the canonical-label invariant
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        spark = pairs.sparkSession
        src_type = edges.schema["src"].dataType
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [(x, find(x)) for x in parent],
            T.StructType(
                [
                    T.StructField("src", src_type, True),
                    T.StructField("component", src_type, True),
                ]
            ),
        ).withColumnRenamed("src", "id")

    labels = (
        edges.select("src").distinct().withColumn("component", F.col("src"))
        .localCheckpoint(eager=True)
    )
    changed = 0
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("src", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        propagated = labels.join(neighbor_min, "src", "left").select(
            "src",
            F.least(
                F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
            ).alias("component"),
        )
        # pointer jumping: resolve each label through its own current label.
        # Every component value is a node id present as src (labels only
        # shrink from the identity seed), so the self-join always hits.
        updated = (
            propagated.alias("a")
            .join(
                propagated.select(
                    F.col("src").alias("component"), F.col("component").alias("_c2")
                ),
                "component",
                "left",
            )
            .select("src", F.coalesce("_c2", "component").alias("component"))
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.join(labels.withColumnRenamed("component", "old"), "src")
            .filter(F.col("component") != F.col("old"))
            .count()
        )
        labels = updated
        if changed == 0:
            break
    if changed != 0:
        # min-label propagation needs O(diameter) rounds; a component whose
        # diameter exceeds max_iter would otherwise return silently WRONG
        # labels (two canonical docs for one chain of near-dups)
        import warnings

        warnings.warn(
            f"connected_components did not converge within max_iter={max_iter} "
            f"rounds ({changed} labels still changing) — results may split "
            "long-diameter clusters; raise max_iter for chain-shaped inputs",
            stacklevel=2,
        )
    return labels.select(F.col("src").alias("id"), "component")


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1024,
    bucket_observation=None,
) -> DataFrame:
    """End-to-end MinHash near-dedup: LSH candidates → exact-Jaccard verify →
    connected components → keep the smallest id per cluster.

    Adds: is_dup_minhash (bool), dup_of_minhash (nullable canonical id), and
    first-writer-wins drop_reason='minhash_duplicate'. The three stages are
    the standard web-scale dedup recipe (the reference's own scale-up plan,
    README.md:136)."""
    cand = minhash_lsh_candidates(df, text_col, id_col, shingle_size,
                                  num_hashes, bands, seed,
                                  max_bucket_size=max_bucket_size,
                                  bucket_observation=bucket_observation)
    verified = ngram_jaccard_pairs(df, text_col, id_col, shingle_size,
                                   jaccard_threshold, candidates=cand)
    comp = connected_components(verified)
    joined = df.join(
        comp.select(F.col("id").alias(id_col), "component"), id_col, "left"
    )
    is_dup = F.col("component").isNotNull() & (F.col("component") != F.col(id_col))
    # dup_of_minhash keeps the id column's own type (a string doc_id yields a
    # string lineage column, a bigint id a bigint one) — casting to string here
    # silently changed the column type vs the oracle referee and was the one
    # standing hash mismatch across rounds 1-3.
    out = joined.withColumn("is_dup_minhash", is_dup).withColumn(
        "dup_of_minhash",
        F.when(is_dup, F.col("component")),
    ).drop("component")
    reason = F.when(F.col("is_dup_minhash"), F.lit("minhash_duplicate"))
    if "drop_reason" in df.columns:
        out = out.withColumn("drop_reason", F.coalesce(F.col("drop_reason"), reason))
    else:
        out = out.withColumn("drop_reason", reason)
    return out


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    exploded: bool = True,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS algorithm): hash every k-token shingle, slide a window of
    ``w`` consecutive hashes, and select each window's MINIMUM — the
    classic local fingerprinting scheme with the guarantee the whole-doc
    polynomial hash (``rolling_fingerprint``/d06) cannot give: any shared
    run of ``w + k − 1`` tokens between two documents yields at least one
    SHARED fingerprint, at expected density 2/(w+1) of the grams. This is
    value-level winnowing (the selected hash SET); positional
    rightmost-tie bookkeeping matters only for exact-offset reporting,
    not set-level near-dup candidate generation.

    Shapes: the hash array is materialized as a real column FIRST (the
    interpreted-HOF no-CSE trap — referencing the gram expression inside
    the window lambda would recompute the whole hash array per window);
    window minima are one ``transform`` over index positions — per-row
    JVM work, zero shuffle. With ``exploded=True`` returns
    ``(id, fingerprint)`` rows ready for the same inverted-index /
    DF-capped pair join the shingle family uses; ``exploded=False``
    returns ``(id, _grams array, fingerprints array)`` for per-doc audits.

    Docs shorter than one window (but non-empty) contribute their single
    global minimum; empty docs contribute an empty set.
    """
    if k < 1 or w < 1:
        raise ValueError(f"winnow_fingerprints: k={k}, w={w} must be >= 1")
    hashes = F.transform(
        hashing.token_shingles(text_col, k), lambda s: hashing.h64(s)
    )
    base = df.select(F.col(id_col), hashes.alias("_grams"))
    n = F.size("_grams")
    fps = (
        F.when(
            n >= w,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - w + 1),
                    lambda i: F.array_min(F.slice(F.col("_grams"), i, w)),
                )
            ),
        )
        .when(n > 0, F.array(F.array_min("_grams")))
        .otherwise(F.array().cast("array<bigint>"))
    )
    with_fps = base.select(id_col, "_grams", fps.alias("fingerprints"))
    if not exploded:
        return with_fps
    return with_fps.select(
        id_col, F.explode("fingerprints").alias("fingerprint")
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 1,
    max_fp_df: int | None = 1024,
) -> DataFrame:
    """Near-dup candidate pairs from shared winnowing fingerprints — the
    MOSS matching step: documents sharing any ``w+k−1``-token run are
    GUARANTEED to pair (they share a selected fingerprint), and the pair
    weight ``shared_fps`` ranks candidates for downstream exact verify.

    Scale shape mirrors the shingle family: fingerprints are already a
    2/(w+1) sample of the grams (winnowing is its own candidate
    compression), the inverted index is one groupBy on the fingerprint,
    and ``max_fp_df`` drops boilerplate fingerprints shared by more than
    ``max_fp_df`` docs BEFORE the self-join (semi-join pre-filter, same
    DF-cap discipline as ``_shingle_df_candidates``) so a hot fingerprint
    costs O(DF) filtered rows, never O(DF²) pairs.
    """
    fps = winnow_fingerprints(df, text_col, id_col=id_col, k=k, w=w)
    if max_fp_df is not None:
        in_cap = (
            fps.groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias("_df"))
            .where(F.col("_df") <= max_fp_df)
            .select("fingerprint")
        )
        fps = fps.join(in_cap, "fingerprint", "left_semi")
    a = fps.select(
        F.col(id_col).alias("id_a"), F.col("fingerprint").alias("_fp")
    )
    b = fps.select(
        F.col(id_col).alias("id_b"), F.col("fingerprint").alias("_fp")
    )
    return (
        a.join(b, "_fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def quality_aware_dedup(
    df: DataFrame,
    text_col: str,
    quality_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.8,
    seed: int = 42,
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """MinHash near-dedup that keeps the HIGHEST-QUALITY member of each
    duplicate cluster instead of the smallest id — the selection policy
    real curation uses once a quality scorer exists (FineWeb/DCLM keep
    the best-scored near-duplicate; keep-first is only right when no
    score is available).

    Same three scale stages as ``minhash_dedup`` (LSH candidates →
    exact-Jaccard verify → connected components), then the representative
    is the per-component argmax via a map-side-combinable
    ``max(struct(quality, -id))`` aggregation — no window, no
    single-partition risk; ties break to the SMALLEST id so the choice is
    deterministic. Requires numeric ``id_col`` and ``quality_col`` (the
    negation trick needs an ordered numeric domain).

    Adds ``is_dup_quality``, ``dup_of_quality`` (nullable representative
    id) and first-writer-wins ``drop_reason='quality_duplicate'``.
    """
    cand = minhash_lsh_candidates(df, text_col, id_col, shingle_size,
                                  num_hashes, bands, seed,
                                  max_bucket_size=max_bucket_size)
    verified = ngram_jaccard_pairs(df, text_col, id_col, shingle_size,
                                   jaccard_threshold, candidates=cand)
    comp = connected_components(verified)
    withc = df.join(
        comp.select(F.col("id").alias(id_col), "component"), id_col, "left"
    ).withColumn("component", F.coalesce(F.col("component"), F.col(id_col)))
    reps = (
        withc.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col(quality_col).alias("q"),
                    (-F.col(id_col)).alias("nid"),
                )
            ).alias("_m")
        )
        .select("component", (-F.col("_m.nid")).alias("_rep_id"))
    )
    out = withc.join(reps, "component", "left")
    is_dup = F.col(id_col) != F.col("_rep_id")
    out = (
        out.withColumn("is_dup_quality", is_dup)
        .withColumn("dup_of_quality", F.when(is_dup, F.col("_rep_id")))
        .drop("component", "_rep_id")
    )
    reason = F.when(F.col("is_dup_quality"), F.lit("quality_duplicate"))
    if "drop_reason" in df.columns:
        out = out.withColumn(
            "drop_reason", F.coalesce(F.col("drop_reason"), reason)
        )
    else:
        out = out.withColumn("drop_reason", reason)
    return out


def dedup_against_snapshot(
    df: DataFrame,
    snapshot: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    snapshot_hash_col: str = "exact_hash",
) -> DataFrame:
    """Incremental (cross-run) exact dedup: flag documents whose canonical
    sha256 already exists in a prior corpus snapshot's hash manifest — the
    nightly-crawl shape, where each new batch dedups against everything
    ingested before without re-reading old text.

    ``snapshot`` carries one hash per previously-kept doc in
    ``snapshot_hash_col`` (write it from ``exact_dedup``'s output; text is
    never needed). Adds ``exact_hash`` and ``is_known`` to ``df``; raises if
    ``df`` already carries either column (or the internal ``_snap_hash``),
    since silently overwriting a caller's hash column corrupts the flag.

    100 TB shape: the snapshot is as large as the historical corpus, so it is
    NOT broadcast — this is a hash-equi left join used as a semi probe with a
    kept flag (a true LEFT SEMI would drop the non-matching rows; we keep
    every row and mark the known ones) against a narrow (hash-only) build
    side, co-partitionable when both sides are bucketed by hash at write
    time, and eligible for Spark's runtime bloom-filter injection
    (spark.sql.optimizer.runtime.bloomFilter.enabled) which prefilters the
    probe side before the shuffle. Only the manifest column is ever shuffled,
    never document text.
    """
    clashes = {"exact_hash", "is_known", "_snap_hash"} & set(df.columns)
    if clashes:
        raise ValueError(
            f"dedup_against_snapshot would overwrite existing column(s) "
            f"{sorted(clashes)} on df — rename or drop them first"
        )
    hashed = df.withColumn(
        "exact_hash", hashing.sha256_hex(canonicalize_for_exact(text_col))
    )
    known = snapshot.select(F.col(snapshot_hash_col).alias("_snap_hash")).distinct()
    flagged = hashed.join(
        known, hashed.exact_hash == F.col("_snap_hash"), "left"
    )
    return flagged.withColumn("is_known", F.col("_snap_hash").isNotNull()).drop(
        "_snap_hash"
    )


def minhash_index_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Persistable MinHash-LSH index of a corpus — the NEAR-dup twin of
    ``dedup_against_snapshot``'s hash manifest: one row per (doc, band),
    ``(id, band_id, band_sig, sig)``, text never stored. Persist it with
    ``write_minhash_index`` at snapshot time; each nightly batch then
    reads ONLY the partitions its own band keys touch
    (``near_dedup_against_stored_index``) without re-reading or
    re-hashing a byte of historical text — the FineWeb/Dolma
    keep-the-index-not-the-corpus discipline — and grow it night over
    night with ``mode="append"`` or ``merge_minhash_index``.

    The per-doc signature rides every banded row here, so the in-memory
    consumers need no second lookup table; the stored index keeps it
    once per doc in a separate sigs table instead.
    """
    rows_per_band = num_hashes // bands
    sigs = _minhash_sig_frame(
        df, text_col, id_col=id_col, shingle_size=shingle_size,
        num_hashes=num_hashes, seed=seed,
    )
    return sigs.select(
        "id",
        "sig",
        F.explode(_band_keys(F.col("sig"), bands, rows_per_band)).alias("band"),
    ).select("id", "band.band_id", "band.band_sig", "sig")


def near_dedup_against_index(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1024,
    new_banded: DataFrame | None = None,
    index_sigs: DataFrame | None = None,
) -> DataFrame:
    """Incremental (cross-run) NEAR dedup: flag new documents whose
    MinHash signature collides with a prior corpus snapshot's LSH index
    (``minhash_index_frame`` output) and whose estimated Jaccard
    clears ``threshold`` — the nightly-crawl shape for near-duplicates,
    completing the snapshot family (exact: ``dedup_against_snapshot``;
    Bloom: ``incremental_dedup``). Historical text is never read: the
    candidate valve is a band-key equi-join and the verify stage is the
    MinHash ESTIMATE (matching signature components / ``num_hashes``)
    computed from the index's stored signatures.

    Adds ``is_known_near`` (boolean), ``known_of`` (the best-matching
    snapshot id: highest estimate, ties to the smallest id) and
    ``known_est`` (its estimate, 6dp) to ``df``. Rows whose text yields
    no shingles never match (no signature — same contract as
    ``minhash_lsh_candidates``). MinHash parameters must equal the ones
    the index was built with (same seed/hashes/bands or keys can never
    collide).

    100 TB shape: built ON ``near_dup_verdicts_against_index`` — the
    band-key equi-join against the index's bucketed sort key, with pair
    deduplication done IN-MAP by the minimum-matching-band canonical
    witness and the estimate computed before anything shuffles, so the
    only exchange after the join is the best-pick groupBy over narrow
    ``(new_id, struct(est, old_id))`` rows (a ``distinct()`` here
    used to shuffle every candidate pair WITH both signature arrays —
    measured ~35% of the 500k-doc bench entry, round 13). Never a
    window over the corpus. ``max_bucket_size`` caps a hot index
    bucket (boilerplate-identical snapshot docs) to its
    ``max_bucket_size`` smallest ids — the ``minhash_lsh_candidates``
    star rationale: the canonical (min-id) members stand for the
    bucket, per-task fan-out drops from O(k) per new doc to O(cap).
    None disables (the refereed mode).
    """
    clashes = {"is_known_near", "known_of", "known_est"} & set(df.columns)
    if clashes:
        raise ValueError(
            f"near_dedup_against_index would overwrite existing column(s) "
            f"{sorted(clashes)} on df — rename or drop them first"
        )
    verdicts = near_dup_verdicts_against_index(
        df, index, text_col=text_col, id_col=id_col,
        shingle_size=shingle_size, num_hashes=num_hashes, bands=bands,
        seed=seed, threshold=threshold, max_bucket_size=max_bucket_size,
        new_banded=new_banded, index_sigs=index_sigs,
    )
    # best = highest estimate, ties to the SMALLEST id: min over
    # struct(-est, id) — the estimate (a double) is what gets negated,
    # never the id, so any orderable id_col type works (negating a
    # STRING id yields null under non-ANSI casts, silently flipping the
    # tie-break to the largest id — ADVICE r13). The original est rides
    # the struct so it is never re-negated (exact 6dp value out).
    best = (
        verdicts.select(
            F.col("new_id").alias("_new_id"),
            F.struct(
                (-F.col("known_est")).alias("neg_e"),
                F.col("known_of").alias("oid"),
                F.col("known_est").alias("e"),
            ).alias("_scored"),
        )
        .groupBy("_new_id")
        .agg(F.min("_scored").alias("_best"))
        .select(
            F.col("_new_id"),
            F.col("_best.oid").alias("known_of"),
            F.col("_best.e").alias("known_est"),
        )
    )
    out = df.join(
        best, F.col(id_col) == F.col("_new_id"), "left"
    ).drop("_new_id")
    return out.withColumn(
        "is_known_near", F.col("known_of").isNotNull()
    )


def _banded_from_sigs(
    sig_frame: DataFrame,
    bands: int,
    rows_per_band: int,
    carry_sig: bool = True,
) -> DataFrame:
    """Band-key explosion of a ``(id, sig)`` frame — the probe side of
    every against-index join. ``carry_sig=False`` (round 16) keeps the
    banded rows NARROW (``_new_id, band_id, band_sig``) for callers
    that attach ``_new_sig`` late (``new_sigs=`` in the verdict path):
    the band explosion is a cheap codegen projection, so deriving both
    the narrow banded view and the per-doc sig view from one
    (checkpointed) sig frame costs nothing extra, while the checkpoint
    itself shrinks ~8x (one sig per doc instead of one per band row)."""
    cols = [F.col("id").alias("_new_id")]
    if carry_sig:
        cols.append(F.col("sig").alias("_new_sig"))
    out_cols = ["_new_id"] + (["_new_sig"] if carry_sig else [])
    return sig_frame.select(
        *cols,
        F.explode(
            _band_keys(F.col("sig"), bands, rows_per_band)
        ).alias("band"),
    ).select(*out_cols, "band.band_id", "band.band_sig")


def _new_banded_frame(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """``(_new_id, _new_sig, band_id, band_sig)`` — the new batch's
    banded signature frame, the probe side of every against-index join.
    Factored out so the stored-index reader can compute it ONCE and
    share it between the touched-partition-key collect and the join."""
    rows_per_band = num_hashes // bands
    new_sigs = _minhash_sig_frame(
        df, text_col, id_col=id_col, shingle_size=shingle_size,
        num_hashes=num_hashes, seed=seed,
    )
    return _banded_from_sigs(new_sigs, bands, rows_per_band)


def near_dup_verdicts_against_index(
    df: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    threshold: float = 0.7,
    max_bucket_size: int | None = None,
    new_banded: DataFrame | None = None,
    index_sigs: DataFrame | None = None,
) -> DataFrame:
    """STATELESS near-dup verdict pairs against a persisted LSH index —
    the streaming-safe sibling of ``near_dedup_against_index``: one row
    per (new doc, matching snapshot doc) with the MinHash estimate,
    ``(new_id, known_of, known_est)``, already distinct and already
    thresholded. Because every stage is a per-row projection, a
    stream-static equi-join, or an in-row expression, the SAME function
    runs under batch and Structured Streaming append mode with
    ``stateOperators == []`` — no ``distinct()``, no groupBy.

    The distinctness trick: a pair colliding in several bands would
    surface once per band after the join. Both signatures are in-row
    after the join, so the set of MATCHING bands is computable there —
    each pair is emitted only from its MINIMUM matching band (the
    canonical witness), which deduplicates exactly without any stateful
    operator. Batch callers who want the single best match + the
    kept-rows frame use ``near_dedup_against_index`` (built on this);
    this emits the full verdict stream for downstream routing.

    ``max_bucket_size`` caps a hot INDEX bucket to its smallest-id
    canonical members (a batch-side window on the static index — legal
    under stream-static joins, where only the stream side must stay
    stateless). None disables (the refereed mode).

    ``new_banded`` injects a precomputed ``_new_banded_frame`` for the
    new batch (same MinHash parameters) so a caller that already paid
    for the new side's signatures — ``near_dedup_against_stored_index``
    collects the touched partition keys from it — shares ONE
    computation instead of re-hashing the batch.

    ``index_sigs`` (round 16, guide §8 "decide with small rows, move
    big rows once"): a one-row-per-doc ``(id, sig)`` frame — the split
    stored layout's sigs table. When given, ``index`` is consumed
    NARROW (``id, band_id, band_sig`` only) so the bucket-cap window,
    the survivor aggregation and the band-key equi-join never carry
    the 32-lane signature arrays; ``_old_sig`` attaches with one
    equi-join on ``_old_id`` AFTER the candidate join, just before the
    in-row witness/estimate that needs it. Measured (round 16, 17k-doc
    night vs 250k-doc index): the sig-bearing pruned scan alone was
    6.2 s and the cap window over sig-bearing rows +3.2 s — both
    collapse when the arrays stay in the (8x smaller) sigs table until
    the candidate set exists. Requires exactly one sig row per indexed
    id covering every id in ``index`` (the split writer's contract);
    the attach is stream-static-legal, so the streaming path is
    unchanged in kind.

    The BATCH side deliberately keeps ``_new_sig`` riding its banded
    rows: a symmetric late-attach of the batch sigs was built and
    MEASURED 1.8–2.1x worse on the full-batch monolithic arm (e2e min
    28.0 → 51.2 s, every interleaved fresh-JVM run worse, round 16) —
    the attach join re-shuffles the candidate pair stream, which by
    that point already carries ``_old_sig``, by ``_new_id`` instead of
    broadcasting. Recorded so nobody re-tries it without forcing the
    broadcast question first.
    """
    rows_per_band = num_hashes // bands
    if new_banded is None:
        new_banded = _new_banded_frame(
            df, text_col, id_col=id_col, shingle_size=shingle_size,
            num_hashes=num_hashes, bands=bands, seed=seed,
        )
    narrow = index_sigs is not None
    idx_cols = [
        F.col("band_id"), F.col("band_sig"),
        F.col("id").alias("_old_id"),
    ]
    if not narrow:
        idx_cols.append(F.col("sig").alias("_old_sig"))
    idx = index.select(*idx_cols)
    if max_bucket_size is not None:
        # keep each bucket's max_bucket_size smallest distinct ids (the
        # canonical members — spill-safety and duplicate-row rationale
        # in _cap_bucket_members). Each surviving row is then annotated
        # with ALL the bands its old_id survived in (_surv_bands) — the
        # witness below must pick the minimum matching band AMONG
        # THOSE, or a pair whose old doc was cap-evicted from its
        # globally-minimum matching band's bucket would never be
        # emitted at all (review-of-self, r13).
        capped = _cap_bucket_members(idx, "_old_id", max_bucket_size).select(
            "band_id", "band_sig", "_old_id",
            *([] if narrow else ["_old_sig"]),
        )
        surv = capped.groupBy("_old_id").agg(
            F.collect_set("band_id").alias("_surv_bands")
        )
        idx = capped.join(surv, "_old_id")
    else:
        idx = idx.withColumn(
            "_surv_bands", F.sequence(F.lit(0), F.lit(bands - 1))
        )
    joined = new_banded.join(idx, ["band_id", "band_sig"])
    if narrow:
        joined = joined.join(
            index_sigs.select(
                F.col("id").alias("_old_id"),
                F.col("sig").alias("_old_sig"),
            ),
            "_old_id",
        )
    # first-match-wins CASE chain == minimum matching band. Deliberately
    # NOT an array_min(filter(sequence...)) higher-order function: HOFs
    # are CodegenFallback (interpreted) and measured 13x slower than the
    # codegen'd CASE at the 10M-joined-rows bench shape (round 13). The
    # cap guard (band must be one the old doc SURVIVED in) rides each
    # arm as a codegen'd array_contains. Each arm compares the band's
    # lanes element-by-element (``GetArrayItem`` conjunction) rather
    # than ``slice == slice`` — same truth value over the equal-length
    # signature arrays, but no per-row array allocations and the AND
    # short-circuits on the first differing lane (round 15).
    def _band_eq(b: int) -> Column:
        eq = None
        for j in range(b * rows_per_band, (b + 1) * rows_per_band):
            e = F.col("_new_sig")[j] == F.col("_old_sig")[j]
            eq = e if eq is None else eq & e
        return eq

    min_match_band = None
    for b in range(bands):
        arm = F.array_contains(F.col("_surv_bands"), F.lit(b)) & _band_eq(b)
        min_match_band = (
            F.when(arm, F.lit(b))
            if min_match_band is None
            else min_match_band.when(arm, F.lit(b))
        )
    est = _sig_match_count(
        F.col("_new_sig"), F.col("_old_sig"), num_hashes
    ).cast("double") / F.lit(float(num_hashes))
    return (
        joined.where(F.col("band_id") == min_match_band)
        .where(est >= threshold)
        .select(
            F.col("_new_id").alias("new_id"),
            F.col("_old_id").alias("known_of"),
            F.round(est, 6).alias("known_est"),
        )
    )


def _cap_bucket_members(df: DataFrame, id_col: str, cap: int) -> DataFrame:
    """Keep each ``(band_id, band_sig)`` bucket's ``cap`` smallest
    DISTINCT ids — the ONE bucket-cap definition shared by the
    against-index read path and ``merge_minhash_index`` compaction (a
    semantics fix applied to one site but not the other would silently
    diverge them — review finding r14). Sort-based window, NOT a
    collect_list-and-slice: the cap exists precisely for pathological
    boilerplate buckets, and an aggregation buffer holding a
    multi-million-member array of (id, sig) structs can OOM an
    executor, while a window sort spills through the external sorter —
    per-task memory is bounded regardless of bucket size (ADVICE r13).
    ``dense_rank`` counts DISTINCT ids, so duplicate (id, band) rows
    never eat cap slots; the lag predicate drops the duplicate rows
    themselves (duplicates are assumed to carry the same sig, since one
    doc has one signature)."""
    w = Window.partitionBy("band_id", "band_sig").orderBy(id_col)
    return (
        df.withColumn("_prev", F.lag(id_col).over(w))
        .withColumn("_rk", F.dense_rank().over(w))
        .where(
            (F.col("_prev").isNull() | (F.col("_prev") != F.col(id_col)))
            & (F.col("_rk") <= cap)
        )
        .drop("_prev", "_rk")
    )


def _sig_bucket(band_sig: Column, sig_buckets: int) -> Column:
    """Stable hash bucket of a band signature — the second partition key
    of the stored index's bands table. One definition shared by the
    writer and every pruned reader (a mismatch would silently read zero
    rows)."""
    return F.pmod(F.xxhash64(band_sig), F.lit(sig_buckets)).cast("int")


def _id_bucket(id_col: Column, id_buckets: int) -> Column:
    """Stable hash bucket of a doc id — the partition key of the stored
    index's ``sigs`` table. Same one-definition discipline as
    ``_sig_bucket``: the selective reader re-derives touched buckets
    from the PRUNED bands table's ids with this exact function, using
    the bucket count recorded in the index's sidecar."""
    return F.pmod(F.xxhash64(id_col), F.lit(id_buckets)).cast("int")


# One JSON sidecar per stored index (underscore prefix: parquet data
# readers ignore it, exactly like _SUCCESS). It is the ONLY place a
# reader, appender or delete learns the layout:
# {"version": 1, "layout": "split", "sig_buckets": S, "id_buckets": I}.
_INDEX_META_FILE = "_index_meta.json"


def _write_index_meta(spark, path: str, meta: dict) -> None:
    """Persist the index's layout sidecar through the Hadoop FS API
    (scheme-agnostic — local, HDFS, s3a). Written LAST, after the data
    commits, so a crashed build never leaves a sidecar describing
    missing tables."""
    import json as _json

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{_INDEX_META_FILE}")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(_json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()


def _stored_index_meta(spark, path: str) -> dict:
    """Load and check the sidecar of the stored index at ``path`` — the
    gate every reader, appender and delete passes first. A missing
    ``path`` raises ``AnalysisException`` (a mistyped path must fail,
    never read as an empty index). ``ValueError`` naming the path is
    raised when the sidecar is absent (the writer deletes an old
    sidecar before a rebuild and writes the new one last, so a missing
    sidecar means no complete index), when it names any layout but
    ``split``, or when one of the two tables is missing."""
    import json as _json

    from pyspark.errors import AnalysisException

    if not _hadoop_dir_exists(spark, path):
        raise AnalysisException(
            message=f"[PATH_NOT_FOUND] Path does not exist: {path}."
        )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(f"{path}/{_INDEX_META_FILE}")
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(jpath):
        raise ValueError(
            f"no {_INDEX_META_FILE} at {path!r}: not a complete "
            "write_minhash_index output — rebuild the index"
        )
    stream = fs.open(jpath)
    try:
        meta = _json.loads(jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        ))
    finally:
        stream.close()
    if meta.get("layout") != "split":
        raise ValueError(
            f"index at {path!r} has layout {meta.get('layout')!r}, not "
            "'split' — rebuild it with write_minhash_index"
        )
    present = {
        t: _hadoop_dir_exists(spark, f"{path}/{t}") for t in ("bands", "sigs")
    }
    if not all(present.values()):
        raise ValueError(
            f"half-written index at {path!r}: "
            + ", ".join(
                f"{t} {'present' if ok else 'MISSING'}"
                for t, ok in present.items()
            )
            + " — restore or rebuild the missing table"
        )
    return meta


def _auto_id_buckets(n_docs: int) -> int:
    """Derive the sigs table's bucket count from the index's doc count:
    the next power of two of ``n_docs / 256``, clamped to [8, 65536].
    Rationale: a selective night's candidate set is a small multiple of
    its batch size, and pruning only bites while candidates ≪ buckets,
    so buckets must TRACK the index (the batch:index ratio is what
    makes a night selective in the first place); dividing by 256 keeps
    a small index at a handful of directories (500 oracle docs → 8, no
    2048-dir listing tax) while 250k bench docs land at 1024; the 65536
    cap bounds the directory count at 100 TB, where each bucket holds
    ~1.5M sigs (~0.5 GB — executor-sized, the same growth rule as
    ``sig_buckets``)."""
    import math

    target = max(8, min(65536, max(1, n_docs) // 256))
    return 1 << math.ceil(math.log2(target))


def _hadoop_dir_exists(spark, path: str) -> bool:
    """Scheme-agnostic directory existence probe (local, HDFS, s3a —
    whatever filesystem the path's scheme resolves to), used to
    distinguish 'index written empty' (directory exists, no data
    files) from 'index path wrong / storage unreachable' (directory
    absent) — the two must NOT be conflated (ADVICE r14: a mistyped
    path silently flagging every doc is_known_near=false would let
    duplicates flow into the corpus)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def _read_index_or_empty(spark, path: str):
    """Read one stored-index parquet table; ``None`` ONLY for the
    bootstrap-night empty write (directory present, schema
    uninferable because it holds no data files). Every other failure
    propagates typed: a missing directory re-raises the
    ``AnalysisException`` (mistyped path must fail loudly, not read as
    an empty index), and storage/permission/transient errors were
    never caught in the first place (ADVICE r14 — the old blanket
    ``except Exception`` swallowed all of these)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        if _hadoop_dir_exists(spark, path):
            return None
        raise


def write_minhash_index(
    index: DataFrame,
    path: str,
    sig_buckets: int | None = None,
    mode: str = "overwrite",
    dedupe_ids: bool = True,
) -> None:
    """Persist a ``minhash_index_frame`` as the stored MinHash-LSH index
    that ``read_minhash_index_for_batch``,
    ``near_dedup_against_stored_index`` and ``delete_from_minhash_index``
    read. There is one layout, in three parts under ``path``:

    - ``bands/``: ``(id, band_id, band_sig)`` partitioned by
      ``(band_id, sig_bucket)``, ``sig_bucket =
      pmod(xxhash64(band_sig), sig_buckets)``. A nightly batch reads
      only the cells its own band keys touch (PartitionFilters at the
      file listing, never a full-index scan) — the near-dedup twin of
      ``write_ivf_index``'s partition-pruned cell layout.
    - ``sigs/``: one ``(id, sig)`` row per doc, partitioned by
      ``id_bucket = pmod(xxhash64(id), id_buckets)``; a selective night
      reads only the id-buckets of its candidate ids. Signature bytes
      scale with docs, not docs × bands.
    - ``_index_meta.json``: the sidecar ``{version, layout: "split",
      sig_buckets, id_buckets}``, the only place readers learn the
      layout.

    ``sig_buckets`` trades pruning granularity against file count
    (``bands × sig_buckets`` cell directories; a fresh write defaults
    to 64, and the value grows with the index so a cell stays
    executor-sized). ``id_buckets`` is always derived from the doc
    count (``_auto_id_buckets``). A fresh write (anything but an append
    to an existing index) deletes an old sidecar FIRST and writes the
    new one LAST, after both tables commit: a crashed rebuild leaves an
    index every reader refuses, never one an old sidecar misdescribes.

    ``mode="append"`` to an existing index adopts the sidecar's bucket
    counts. An explicit ``sig_buckets`` that differs from the sidecar
    raises ``ValueError``, as does an index with no sidecar or another
    layout. ``dedupe_ids=True`` (default) guards re-ingestion: each
    table's delta is anti-joined against THAT table's existing ids
    (narrow id projections only), because a re-ingested id would land
    a second ``(id, sig)`` row and the read-time attach would fan every
    matching band row out into duplicate verdict pairs. Per-table,
    because the two table writes are two commits: if the bands write
    lands and the sigs write fails, a retried append re-writes ONLY
    the missing sigs rows, without duplicating either table.
    Generations disjoint by construction pass ``dedupe_ids=False``,
    which never reads the existing tables — the nightly fast path.
    """
    spark = index.sparkSession
    appending = mode == "append" and _hadoop_dir_exists(spark, path)
    if appending:
        meta = _stored_index_meta(spark, path)
        if sig_buckets is not None and sig_buckets != meta["sig_buckets"]:
            raise ValueError(
                f"sig_buckets={sig_buckets} does not match the index at "
                f"{path!r}, whose sidecar records {meta['sig_buckets']} — "
                "append without sig_buckets"
            )
        sig_buckets, id_buckets = meta["sig_buckets"], meta["id_buckets"]
    else:
        _fs_delete_dirs(spark, [f"{path}/{_INDEX_META_FILE}"])
        if sig_buckets is None:
            sig_buckets = 64
    # the two table writes are two ACTIONS over the same upstream —
    # un-checkpointed, a fresh minhash_index_frame lineage would run
    # its whole signature pass once per table. The lazy
    # localCheckpoint materialises the index rows once and the second
    # write reuses them.
    index = index.localCheckpoint(eager=False)
    if not appending:
        # ONE tiny agg over the checkpointed rows (docs = rows / bands —
        # every shingled doc emits all bands); it also materialises the
        # checkpoint, so the derive costs one extra narrow scan
        shape = index.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("band_id").alias("b"),
        ).collect()[0]
        id_buckets = _auto_id_buckets(
            int(shape["n"]) // max(int(shape["b"] or 0), 1)
        )

    def _new_ids(delta: DataFrame, table: str) -> DataFrame:
        """``delta`` without the ids already in ``path/table``. The
        table is read only under the guard; its file listing snapshots
        when the read relation resolves — before this table's write
        commits — so reading the table being appended to is race-free."""
        if not (appending and dedupe_ids):
            return delta
        prior = _read_index_or_empty(spark, f"{path}/{table}")
        if prior is None:
            return delta
        return delta.join(prior.select("id").distinct(), "id", "left_anti")

    # sortWithinPartitions before every write (no extra shuffle): rows
    # sharing a band_sig — mirror-host boilerplate, near-dup clusters —
    # land adjacent in the file, so parquet page compression and
    # min/max column stats both bite; the sigs table sorts by the
    # signature itself for the same locality (identical sigs from
    # duplicate docs become runs). Write-side cost is a per-task sort.
    (
        _new_ids(index.select("id", "band_id", "band_sig"), "bands")
        .withColumn("sig_bucket", _sig_bucket(F.col("band_sig"), sig_buckets))
        .repartition("band_id", "sig_bucket")
        .sortWithinPartitions("band_sig", "id")
        .write.mode(mode)
        .partitionBy("band_id", "sig_bucket")
        .parquet(f"{path}/bands")
    )
    # one row per doc; duplicate (id, band) inputs collapse (one doc
    # has one signature, so any surviving row carries the same sig)
    (
        _new_ids(index.select("id", "sig").dropDuplicates(["id"]), "sigs")
        .withColumn("id_bucket", _id_bucket(F.col("id"), id_buckets))
        .repartition("id_bucket")
        .sortWithinPartitions("sig", "id")
        .write.mode(mode)
        .partitionBy("id_bucket")
        .parquet(f"{path}/sigs")
    )
    if not appending:
        _write_index_meta(spark, path, {
            "version": 1, "layout": "split",
            "sig_buckets": int(sig_buckets),
            "id_buckets": int(id_buckets),
        })


def open_minhash_index(spark, index_path: str) -> tuple[DataFrame, DataFrame]:
    """The stored index at ``index_path``, unpruned: ``(bands, sigs)``
    with ``bands = (id, band_id, band_sig)`` and ``sigs = (id, sig)``.
    Pass them to ``near_dup_verdicts_against_index`` /
    ``near_dedup_against_index`` as ``index`` and ``index_sigs=`` — e.g.
    as the static side of a stream-static join, where a per-batch
    pruned read does not apply — or join them on ``id`` for the
    ``minhash_index_frame`` view. The sidecar is checked first (see
    ``_stored_index_meta``). An index written empty holds no data
    files to infer a schema from, so opening it raises Spark's
    ``AnalysisException``."""
    _stored_index_meta(spark, index_path)
    return (
        spark.read.parquet(f"{index_path}/bands").select(
            "id", "band_id", "band_sig"
        ),
        spark.read.parquet(f"{index_path}/sigs").select("id", "sig"),
    )


def read_minhash_index_for_batch(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    checkpoint: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Selective read of a ``write_minhash_index`` index for one new
    batch: returns ``(pruned_index, new_banded)``. ``pruned_index`` is
    the ``(id, band_id, band_sig, sig)`` view of only the bands cells
    the batch's own band keys touch, each row's signature attached from
    the (itself pruned) sigs table; ``new_banded`` is the batch's banded
    signature frame (pass it to the against-index operators via
    ``new_banded=`` so the batch is hashed once, not twice). The
    pruning mechanics are described on ``_read_for_batch_frames``.

    ``checkpoint=True`` (default — this function's contract is one hash
    pass) lazily localCheckpoints the batch's signatures so the
    touched-cell collect and the downstream join share one computation;
    opting out re-derives them per consumer but keeps full lineage
    fault tolerance.

    MinHash parameters must equal the ones the index was built with.
    Bucket counts come from the index's sidecar, never from the caller:
    a path without a ``split`` sidecar raises ``ValueError``, a missing
    path ``AnalysisException``.
    """
    pruned, sigs, new_sigs, _ = _read_for_batch_frames(
        df, index_path, text_col=text_col, id_col=id_col,
        shingle_size=shingle_size, num_hashes=num_hashes, bands=bands,
        seed=seed, checkpoint=checkpoint,
    )
    # public contract: new_banded carries _new_sig (callers pass it to
    # the against-index operators without a separate sigs frame)
    wide_banded = _banded_from_sigs(
        new_sigs, bands, num_hashes // bands, carry_sig=True
    )
    return pruned.join(sigs, "id"), wide_banded


def _read_for_batch_frames(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    checkpoint: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """The stored index's two PRUNED scans for one batch, pre-join:
    ``(bands, sigs, new_sigs, new_banded)``.

    - ``bands`` ``(id, band_id, band_sig)``: only the ``(band_id,
      sig_bucket)`` cells the batch's band keys touch. The touched-cell
      collect is bounded by ``bands × sig_buckets`` rows regardless of
      batch or index size (the ``ivf_topk_indexed`` probe-cell
      discipline), and its literals become PartitionFilters at the
      file listing.
    - ``sigs`` ``(id, sig)``: on a selective night — at most a quarter
      of the cells touched — only the id-buckets of the batch's
      candidate ids: the pruned bands rows SEMI-JOINED against the
      batch's exact ``(band_id, band_sig)`` keys, not every cellmate
      sharing a hash bucket (which saturates the id-buckets even for a
      tiny batch). The verdict join matches on exactly those keys, so
      the semi-join drops no candidate. Past a quarter of the cells
      nearly every id-bucket is touched anyway, so the derive job is
      skipped and sigs are read whole.
    - ``new_sigs``: the batch's one-row-per-doc signature frame, lazily
      checkpointed when ``checkpoint``; ``new_banded``: its sig-free
      band explosion, shared by the touched-cell collect and the
      verdict join.

    The index side stays narrow so the verdict path attaches signatures
    late (``index_sigs=``). An empty (bootstrap) index comes back as
    two empty frames typed from the batch, so every doc is flagged
    novel — the in-memory index contract."""
    spark = df.sparkSession
    meta = _stored_index_meta(spark, index_path)
    new_sigs = _minhash_sig_frame(
        df, text_col, id_col=id_col, shingle_size=shingle_size,
        num_hashes=num_hashes, seed=seed,
    )
    if checkpoint:
        new_sigs = new_sigs.localCheckpoint(eager=False)
    new_banded = _banded_from_sigs(
        new_sigs, bands, num_hashes // bands, carry_sig=False
    )
    bands_t = _read_index_or_empty(spark, f"{index_path}/bands")
    sigs_t = _read_index_or_empty(spark, f"{index_path}/sigs")
    if bands_t is None or sigs_t is None:
        from pyspark.sql import types as T

        nb = new_banded.schema
        id_f = T.StructField("id", nb["_new_id"].dataType, True)
        return (
            spark.createDataFrame([], T.StructType(
                [id_f, nb["band_id"], nb["band_sig"]]
            )),
            spark.createDataFrame([], T.StructType(
                [id_f, new_sigs.schema["sig"]]
            )),
            new_sigs, new_banded,
        )
    cells = _touched_cells(new_banded, meta["sig_buckets"])
    bands_t = bands_t.where(_cells_cond(cells)).select(
        "id", "band_id", "band_sig"
    )
    if len(cells) * 4 <= bands * meta["sig_buckets"]:
        # the lazy localCheckpoint shares the pruned bands scan between
        # this collect and the caller's join
        if checkpoint:
            bands_t = bands_t.localCheckpoint(eager=False)
        keys = new_banded.select("band_id", "band_sig").distinct()
        touched = sorted(
            r["b"]
            for r in bands_t.join(keys, ["band_id", "band_sig"], "left_semi")
            .select(_id_bucket(F.col("id"), meta["id_buckets"]).alias("b"))
            .distinct()
            .collect()
        )
        sigs_t = sigs_t.where(
            F.col("id_bucket").isin(touched) if touched else F.lit(False)
        )
    return bands_t, sigs_t.select("id", "sig"), new_sigs, new_banded


def read_minhash_split_frames(
    df: DataFrame, index_path: str, **kwargs
) -> tuple[DataFrame, DataFrame]:
    """The two pruned scans ``read_minhash_index_for_batch`` joins,
    pre-join: ``(bands, sigs)``, taking the same parameters. For
    counting files and bytes read per table — ``input_file_name`` on
    the joined frame only surfaces the streamed side."""
    bands_t, sigs_t, _, _ = _read_for_batch_frames(df, index_path, **kwargs)
    return bands_t, sigs_t


def _touched_cells(
    new_banded: DataFrame, sig_buckets: int
) -> list[tuple[int, int]]:
    """The distinct (band_id, sig_bucket) cells one batch's banded
    frame touches — the bounded collect (≤ bands × sig_buckets rows
    regardless of batch or index size) behind every selective
    stored-index operation (read and targeted delete)."""
    return sorted(
        (r["band_id"], r["sig_bucket"])
        for r in new_banded.select(
            "band_id",
            _sig_bucket(F.col("band_sig"), sig_buckets).alias("sig_bucket"),
        )
        .distinct()
        .collect()
    )


def _cells_cond(cells: list[tuple[int, int]]) -> Column:
    """Partition-filter predicate for a touched-cell list — the
    literals buy PartitionFilters at the file listing."""
    by_band: dict = {}
    for b, sb in cells:
        by_band.setdefault(b, []).append(sb)
    cond = None
    for b in sorted(by_band):
        arm = (F.col("band_id") == b) & F.col("sig_bucket").isin(
            sorted(by_band[b])
        )
        cond = arm if cond is None else cond | arm
    if cond is None:  # empty batch (no shingled docs): scan nothing
        cond = F.lit(False)
    return cond


def near_dedup_against_stored_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1024,
    checkpoint: bool = True,
) -> DataFrame:
    """``near_dedup_against_index`` against a ``write_minhash_index``
    index, reading only the cells the new batch's band keys touch — the
    operational nightly entry point: a batch touching 1% of band keys
    reads ~1% of the index instead of shuffling all of it. Same output
    contract as ``near_dedup_against_index``; the read, its pruning and
    its sidecar checks are ``read_minhash_index_for_batch``'s.
    """
    pruned, sigs, new_sigs, _ = _read_for_batch_frames(
        df, index_path, text_col=text_col, id_col=id_col,
        shingle_size=shingle_size, num_hashes=num_hashes, bands=bands,
        seed=seed, checkpoint=checkpoint,
    )
    # the INDEX side stays narrow through the cap window and the band
    # join (guide §8): the pruned sigs table attaches late inside the
    # verdict path (index_sigs=). The BATCH side deliberately keeps
    # _new_sig riding its banded rows: a late-attach of the batch sigs
    # was measured 1.8-2.1x WORSE (e2e min 28.0 -> 51.2 s, every run
    # worse) — the attach join re-shuffles the already-wide candidate
    # pair stream by _new_id instead of broadcasting, exactly the
    # guide-§8 re-attach trap. The wide banded view is derived from
    # the checkpointed per-doc sig frame, so the checkpoint itself
    # still shrinks ~bands x.
    wide_banded = _banded_from_sigs(
        new_sigs, bands, num_hashes // bands, carry_sig=True
    )
    return near_dedup_against_index(
        df, pruned, text_col=text_col, id_col=id_col,
        shingle_size=shingle_size, num_hashes=num_hashes, bands=bands,
        seed=seed, threshold=threshold, max_bucket_size=max_bucket_size,
        new_banded=wide_banded, index_sigs=sigs,
    )


def merge_minhash_index(
    index: DataFrame,
    delta: DataFrame,
    max_bucket_size: int | None = None,
    id_col_out: str = "id",
    dedupe_ids: bool = True,
) -> DataFrame:
    """Merge a new batch's ``minhash_index_frame`` rows INTO a persisted
    index so consecutive nights dedup against night N−1 without a
    rebuild — the maintenance half of the incremental-NEAR loop
    (VERDICT r13 item 6). Returns the merged ``(id, band_id, band_sig,
    sig)`` frame; persist it with ``write_minhash_index`` (or append the
    delta's partitions with ``mode="append"`` when no compaction is
    wanted — parquet partition dirs compose).

    ``dedupe_ids=True`` (default) anti-joins the delta against the
    index's distinct ids first, so a RE-INGESTED doc never lands twice
    — duplicate (id, band) rows would make the merged index violate
    ``near_dup_verdicts_against_index``'s one-row-per-pair contract in
    the uncapped/streaming mode (review finding r14). The anti-join
    shuffles only narrow id projections (the ``dedup_against_snapshot``
    discipline). Callers whose generations are disjoint by construction
    pass ``dedupe_ids=False`` for a pure ``unionByName`` — ZERO
    shuffle, the append-only nightly fast path.

    With ``max_bucket_size``, each ``(band_id, band_sig)`` bucket keeps
    its cap smallest DISTINCT ids via ``_cap_bucket_members`` — the
    SAME spill-safe lag + dense_rank window as the read-side cap (one
    sorted shuffle, no unbounded aggregation buffer; also collapses any
    remaining duplicate rows), so a bucket fed by boilerplate every
    night stays bounded instead of growing without limit. Cap semantics
    match the read-side star cap: evicted members are represented by
    the bucket's canonical (smallest-id) survivors.
    """
    cols = [id_col_out, "band_id", "band_sig", "sig"]
    delta = delta.select(*cols)
    if dedupe_ids:
        known = index.select(F.col(id_col_out)).distinct()
        delta = delta.join(known, id_col_out, "left_anti")
    merged = index.select(*cols).unionByName(delta)
    if max_bucket_size is None:
        return merged
    return _cap_bucket_members(merged, id_col_out, max_bucket_size).select(
        *cols
    )


def _fs_delete_dirs(spark, dirs: list[str]) -> None:
    """Recursively delete a BOUNDED list of directories through the
    Hadoop FS API (scheme-agnostic). Missing dirs are skipped."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for d in dirs:
        p = jvm.org.apache.hadoop.fs.Path(d)
        fs = p.getFileSystem(hconf)
        if fs.exists(p):
            fs.delete(p, True)


def _delete_rows_in_partitions(
    spark,
    path: str,
    cond: Column,
    cell_dirs: list[str],
    doomed_ids: DataFrame,
    partition_cols: list[str],
    sort_cols: list[str],
) -> None:
    """Targeted delete inside a partitioned index table: read ONLY the
    touched partitions (``cond``), anti-join the doomed ids, and
    dynamically overwrite exactly those partitions with the survivors.
    The survivor frame is eagerly localCheckpointed first — it is
    bounded by the touched partitions' size, and cutting lineage is
    what makes overwriting the files it was read from safe. Partitions
    left with ZERO survivors produce no output under dynamic overwrite
    (nothing to replace them with), so their directories — an already
    driver-side bounded list — are deleted through the FS API."""
    table = _read_index_or_empty(spark, path)
    if table is None:
        return  # empty index: nothing to delete
    survivors = (
        table.where(cond)
        .join(doomed_ids, "id", "left_anti")
        .localCheckpoint(eager=True)
    )
    present = {
        tuple(r[c] for c in partition_cols)
        for r in survivors.select(*partition_cols).distinct().collect()
    }
    (
        survivors.repartition(*partition_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    emptied = [
        d for cell, d in cell_dirs if tuple(cell) not in present
    ]
    _fs_delete_dirs(spark, emptied)


def delete_from_minhash_index(
    df: DataFrame,
    index_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> None:
    """TARGETED delete from a ``write_minhash_index`` index — the
    maintenance verb beside append/merge/compact: remove the given
    docs' rows by REWRITING ONLY THE PARTITIONS THEY TOUCH, never the
    whole index. The doomed docs' band keys are recomputed from their
    text (same MinHash parameters as the build), the ≤ ``bands ×
    sig_buckets`` touched cells become both the bands read's partition
    filters and the write's dynamic-overwrite scope, and cells left
    without survivors are removed through the FS API (a bounded list).
    The sigs table is handled the same way on the ≤ ``id_buckets``
    id-buckets derived directly from the doomed ids. Both bucket counts
    come from the index's sidecar; a path without a ``split`` sidecar
    raises ``ValueError``.

    Requirements and caveats, stated plainly:

    - ``df`` must carry the SAME text the docs were indexed with — the
      rows are located by re-hashing, so changed text locates the
      wrong cells and silently misses rows. If the original text is
      gone, rebuild the generation instead (or filter at read time).
    - Docs that never produced shingles were never indexed; deleting
      them is a no-op. Unknown ids are a no-op.
    - Single-writer: dynamic partition overwrite replaces each touched
      directory non-atomically; don't run concurrent
      appends/deletes/compactions on one index path.
    - A re-append of a deleted id afterwards works: the append guard
      anti-joins against CURRENT stored ids.
    """
    spark = df.sparkSession
    meta = _stored_index_meta(spark, index_path)
    banded = _new_banded_frame(
        df, text_col, id_col=id_col, shingle_size=shingle_size,
        num_hashes=num_hashes, bands=bands, seed=seed,
    ).localCheckpoint(eager=False)
    cells = _touched_cells(banded, meta["sig_buckets"])
    if not cells:
        return  # no shingled doc: nothing was ever indexed
    doomed = banded.select(F.col("_new_id").alias("id")).distinct()
    _delete_rows_in_partitions(
        spark, f"{index_path}/bands", _cells_cond(cells),
        [
            ((b, sb), f"{index_path}/bands/band_id={b}/sig_bucket={sb}")
            for b, sb in cells
        ],
        doomed, ["band_id", "sig_bucket"], ["band_sig", "id"],
    )
    buckets = sorted(
        r["b"]
        for r in doomed.select(
            _id_bucket(F.col("id"), meta["id_buckets"]).alias("b")
        )
        .distinct()
        .collect()
    )
    _delete_rows_in_partitions(
        spark, f"{index_path}/sigs", F.col("id_bucket").isin(buckets),
        [((bk,), f"{index_path}/sigs/id_bucket={bk}") for bk in buckets],
        doomed, ["id_bucket"], ["sig", "id"],
    )


def semdedup(
    df: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_id: str = "centroid_id",
    centroid_vec: str = "centroid_vec",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup via
    cluster-then-compare. Every vector is assigned to its max-cosine cluster
    (the IVF coarse quantizer — ``similarity.ivf_assign``); within each
    cluster a vector is a semantic duplicate iff some LOWER-id member of the
    same cluster has cosine >= ``threshold`` with it (keep-first by id, same
    lineage contract as ``exact_dedup``'s ``dup_of``).

    Output: (id, cell, is_semdup, semdup_of) — ``semdup_of`` is the minimum
    qualifying lower id, null for kept rows. One row per input vector.

    Scale shape (100 TB): the O(N²) comparison is confined to clusters — the
    join is a hash-partitioned EQUI-join on ``cell``, never a cartesian. The
    paper's operating point (k ≈ 50k clusters over 100M+ embeddings) keeps
    expected cluster size in the thousands, so per-cell pairwise work is
    bounded; cluster count must grow with the corpus (k ∝ N keeps cell
    sizes ~constant). Train ``centroids`` on a sample with
    ``similarity.train_ivf_centroids``. Only (id, cell, vec) rows shuffle —
    callers join the verdict back to their wide frame by id. Deterministic:
    argmax assignment tie-breaks by centroid id; per-row double arithmetic
    is identical-op-order (no aggregation-order dependence).
    """
    from llm_pretraining_data_pipeline_spark.operators.similarity import (
        cosine,
        ivf_assign,
    )

    assigned = ivf_assign(
        df, centroids, vec_col, id_col, centroid_id, centroid_vec
    )
    # The (id, cell) assignment feeds BOTH pairwise sides and the final
    # output join; without persisting, every reference re-runs the
    # broadcast-argmax over the full corpus (the dominant narrow cost at
    # scale). The frame is two columns, so caching it is cheap; callers
    # running inside a larger job can spark.catalog.clearCache() or
    # unpersist afterwards. (Same trade as connected_components'
    # per-round localCheckpoint.)
    assigned = assigned.persist()
    vecs = (
        spread_small_input(df)
        .select(
            F.col(id_col).alias("_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .join(assigned.withColumnRenamed(id_col, "_id"), "_id")
    )
    a = vecs.select(
        F.col("_id").alias("_ida"), F.col("_v").alias("_va"), F.col("cell")
    )
    b = vecs.select(
        F.col("_id").alias("_idb"), F.col("_v").alias("_vb"), F.col("cell")
    )
    dup_of = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(cosine(F.col("_va"), F.col("_vb")) >= F.lit(threshold))
        .groupBy(F.col("_idb").alias("_id"))
        .agg(F.min("_ida").alias("semdup_of"))
    )
    return (
        assigned.withColumnRenamed(id_col, "_id")
        .join(dup_of, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "cell",
            F.col("semdup_of").isNotNull().alias("is_semdup"),
            "semdup_of",
        )
    )


def minhash_estimate_error(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    threshold: float = 0.3,
    num_hashes: int = 32,
    seed: int = 42,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash estimator-quality audit: for every exact near-dup pair
    (n-gram Jaccard >= ``threshold``), the ``num_hashes``-component MinHash
    estimate (matching signature components / num_hashes — a dyadic
    rational, engine-exact for power-of-two sizes) and its signed error vs
    the true Jaccard. Run before trusting LSH band/row settings at scale:
    E[est] = J with sd sqrt(J(1-J)/num_hashes) (Broder 1997), so systematic
    error means the shingle or hash pipeline is broken.

    The signature is built over the RAW (non-distinct) shingle array,
    exactly as ``minhash_lsh_candidates`` builds the production one —
    min() is insensitive to duplicate shingles, so the estimate is
    unaffected and the audited signature IS the production signature.

    Scale valve (same contract as ``ngram_jaccard_pairs``): pass
    ``candidates`` (e.g. the LSH candidate frame) to audit only those
    pairs, or ``max_shingle_df`` for the DF-capped one-shuffle inverted
    index — either keeps the exact-Jaccard side off the brute shingle
    self-join. Default (both None) is the brute index: fine to sf0.1,
    NOT the 100 TB path.

    Output: (id_a, id_b, jaccard, est_jaccard, est_error) with est_error
    rounded 6dp (safe: k/num_hashes is dyadic for num_hashes=32).
    """
    pairs = ngram_jaccard_pairs(
        df,
        text_col,
        id_col=id_col,
        shingle_size=shingle_size,
        threshold=threshold,
        candidates=candidates,
        max_shingle_df=max_shingle_df,
    )
    sh = hashing.token_shingles(text_col, shingle_size)
    sigs = (
        df.select(F.col(id_col).alias("_id"), sh.alias("_sh"))
        .filter(F.size("_sh") > 0)
        .select(
            "_id",
            hashing.minhash_signature(
                F.col("_sh"), num_hashes, seed=seed
            ).alias("sig"),
        )
    )
    a = sigs.select(F.col("_id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sigs.select(F.col("_id").alias("id_b"), F.col("sig").alias("sig_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    matches = _sig_match_count(F.col("sig_a"), F.col("sig_b"), num_hashes)
    est = matches.cast("double") / F.lit(float(num_hashes))
    return j.select(
        "id_a",
        "id_b",
        "jaccard",
        est.alias("est_jaccard"),
        F.round(est - F.col("jaccard"), 6).alias("est_error"),
    )
