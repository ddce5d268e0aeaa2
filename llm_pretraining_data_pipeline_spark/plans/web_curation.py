"""The modern web-curation recipe, end to end — every major public
pipeline's stage order composed into one lazy plan:

  0. robots.txt Disallow gate          (opt-in; RFC 9309 politeness)
  1. URL-level keep-first dedup        (RefinedWeb §3.1 — before any text)
  1b. main-content extraction          (opt-in; jusText-style block gate
                                        for raw-HTML input)
  1c. HTML entity decoding             (auto: on with extract_main —
                                        &amp;/&#233;/&#xE9; → characters
                                        before any metric)
  2. line-wise corrections             (RefinedWeb §3.2)
  3. C4 cleanup battery                (Raffel et al. 2020 §2.2)
  4. Gopher quality cascade            (Rae et al. 2021 A1)
  5. three-sentence span dedup         (C4 §2.2, corpus-wide keep-first)
  6. exact dedup on the deduped text   (keep-first by id)

First-match-wins ``drop_reason`` across ALL stages (the engine's standard
cascade contract); every stage's operator is individually oracle-backed,
so this module only composes and is tested at the composition level.

Scale shape: stages 2-4 fuse into one shuffle-free expression chain over
each row (the URL dedup window, the span-dedup window, and the exact-dedup
window are the plan's only exchanges — all on narrow keys, never text-wide
except span reassembly which carries sentences). Column pruning drops any
stage's internals the caller doesn't select.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions import (
    structural,
    structural_vec,
    urls,
)
from llm_pretraining_data_pipeline_spark.operators import corpus, dedup


@dataclass(frozen=True)
class WebCurationConfig:
    min_words_per_line: int = 5       # C4 line rule
    min_sentences: int = 3            # C4 page rule
    rw_max_removed_frac: float = 0.05 # RefinedWeb doc-drop threshold
    gopher_min_words: int = 50
    gopher_min_stopwords: int = 2
    span_sents: int = 3
    apply_gopher: bool = True
    apply_span_dedup: bool = True
    # opt-in round-9 front stages (default OFF: the bench corpus has no
    # robots rules or HTML markup; flipping them on does not change any
    # downstream stage's semantics, only what text reaches it)
    extract_main: bool = False        # jusText block gate for raw-HTML input
    mc_min_words: int = 5
    mc_max_link_density: float = 0.5
    mc_smooth: bool = False           # good-neighbor context pass (p41b)
    # HTML character-reference decode (&amp; &#233; &#xE9; → & é é), run
    # AFTER main-content extraction and BEFORE every text metric — tag
    # stripping alone leaves entity literals that poison alpha ratios,
    # tokenization, and dedup keys on real web HTML (VERDICT r10 item 3).
    # Default AUTO (None): follow ``extract_main`` — entity literals only
    # exist when the input is raw HTML, which is exactly when the block
    # gate runs; pre-cleaned text corpora skip the pass. Decision from
    # the round-12 A/B at 50k entity-dense docs (NOTES_r12): the decode
    # stage costs ~25-30% of the recipe warm (13.5-15.2 s on vs
    # 10.4-11.3 s off), so an unconditional default would tax
    # already-clean corpora for nothing, while raw-HTML input without it
    # produces WRONG metrics — auto ties the cost to the case that
    # needs the correctness. Explicit True/False always wins.
    decode_entities: bool | None = None
    # robots verdicts are one row per RULE-MATCHED doc — tiny for normal
    # rule sets, corpus-sized when dominant domains carry `Disallow: /`.
    # Flip OFF for match-heavy corpora so AQE sizes the join instead of
    # an unconditional broadcast blowing the driver/broadcast limit.
    robots_broadcast_verdicts: bool = True


def run_web_curation(
    df: DataFrame,
    cfg: WebCurationConfig = WebCurationConfig(),
    text_col: str = "text",
    id_col: str = "doc_id",
    url_col: str | None = None,
    robots_rules: DataFrame | None = None,
) -> DataFrame:
    """Returns the input plus ``text_curated`` (the fully cleaned, deduped
    text) and ``drop_reason`` (first cascade rule that dropped the doc;
    null = kept). Rows are never physically removed — the caller filters
    ``drop_reason IS NULL`` for the kept slice (the engine's standard
    kept/dropped-split contract).

    ``robots_rules`` (``parse_robots`` output; requires ``url_col``)
    prepends the RFC 9309 Disallow gate — a broadcast prefix join, the
    politeness stage that runs before any byte of text is processed.
    ``cfg.extract_main`` inserts the jusText-style block gate between the
    URL stage and the line filters for raw-HTML input."""
    out = df
    reason = F.lit(None).cast("string")
    if robots_rules is not None:
        if url_col is None:
            raise ValueError(
                "run_web_curation: robots_rules requires url_col"
            )
        # verdicts_only: the gate returns ONLY matched docs (tiny), so the
        # corpus-side join is one broadcast hash join — a full per-doc
        # gate frame here would force a corpus-sized shuffle join instead
        # (measured ~10% of the whole recipe at bench scale, round 10)
        gate = urls.robots_gate(
            df, robots_rules, url_col=url_col, id_col=id_col,
            verdicts_only=True,
        ).select(id_col, "disallowed")
        if cfg.robots_broadcast_verdicts:
            gate = F.broadcast(gate)
        out = out.join(gate, id_col, "left")
        reason = F.when(
            F.coalesce(F.col("disallowed"), F.lit(False)),
            F.lit("robots_disallowed"),
        )
    if url_col is not None:
        out = urls.url_dedup(out, url_col=url_col, id_col=id_col)
        reason = F.coalesce(
            reason, F.when(F.col("is_dup_url"), F.lit("url_duplicate"))
        )
    if cfg.extract_main:
        mc = structural.extract_main_content(
            text_col,
            min_words=cfg.mc_min_words,
            max_link_density=cfg.mc_max_link_density,
            smooth=cfg.mc_smooth,
        )
        # Generator barrier (the p41 inline(array(...)) discipline): the
        # downstream stages reference text_main MANY times, and a plain
        # withColumn alias would be substituted into every reference by
        # CollapseProject — re-running the whole interpreted-HOF chain
        # per reference. inline() is a generator, so the chain evaluates
        # once per row and text_main is a real attribute afterwards.
        mc_named = F.transform(
            F.array(mc),
            lambda m: F.struct(m["text"].alias("text_main")),
        )[0]
        out = out.select("*", F.inline(F.array(mc_named)))
        reason = F.coalesce(
            reason,
            F.when(F.col("text_main") == "", F.lit("no_main_content")),
        )
        text_col = "text_main"
    decode_entities = (
        cfg.decode_entities
        if cfg.decode_entities is not None
        else cfg.extract_main
    )
    if decode_entities:
        # Same generator-barrier discipline as text_main above: the
        # decoder is referenced by every downstream stage, and its single
        # ArrowEvalPython stage would otherwise be duplicated per
        # reference by CollapseProject — inline() makes it a real
        # attribute so it evaluates once per row. The Arrow decoder is
        # one C-engine re.sub per row, bit-identical to the Catalyst
        # structural.decode_html_entities (measured round 16: that
        # interpreted split/transform chain was +3.2 s of the ~14 s bench
        # recipe).
        decoded = structural_vec.decode_entities_str(F.col(text_col))
        dec_named = F.transform(
            F.array(decoded),
            lambda m: F.struct(m.alias("text_entities")),
        )[0]
        out = out.select("*", F.inline(F.array(dec_named)))
        text_col = "text_entities"
    out = corpus.refinedweb_line_correct(
        out, text_col=text_col, id_col=id_col,
        max_removed_frac=cfg.rw_max_removed_frac,
    )
    # the C4 stage below also emits an n_lines (over text_rw) — keep the RW
    # stage's counters under their own names so the output pair
    # (rw_n_lines, rw_n_lines_removed) stays mutually consistent
    out = out.withColumnRenamed("n_lines", "rw_n_lines").withColumnRenamed(
        "n_lines_removed", "rw_n_lines_removed"
    )
    reason = F.coalesce(reason, F.col("rw_drop_reason"))
    out = corpus.c4_quality_filter(
        out, text_col="text_rw", id_col=id_col,
        min_words_per_line=cfg.min_words_per_line,
        min_sentences=cfg.min_sentences,
    )
    reason = F.coalesce(reason, F.col("c4_drop_reason"))
    if cfg.apply_gopher:
        out = corpus.gopher_quality_filter(
            out, text_col="text_c4", id_col=id_col,
            min_words=cfg.gopher_min_words,
            min_distinct_stopwords=cfg.gopher_min_stopwords,
            # Arrow-batched repetition signals: curation input is
            # pre-filtered web text, so most rows survive the cheap rules
            # and reach the gram scans, where one Arrow pass wins
            # (measured ≥2x at the 50k-doc bench scale)
            vectorized=True,
        )
        reason = F.coalesce(reason, F.col("gopher_drop_reason"))
    out = out.withColumn("drop_reason", reason)
    # Stage-boundary checkpoint of the NARROW dedup universe — the same
    # move as the main pipeline's stage 5b (plans/pipeline.py): the dedup
    # stages below reference their input several times (span dedup derives
    # sentences, spans, AND originals from it; exact dedup is another
    # branch), and un-checkpointed each reference re-executes the whole
    # RW+C4+Gopher expression chain — including the n-gram scans — per
    # branch (measured ~6x the single-pass cost). Only (id, reason,
    # cleaned text) is materialised; the wide frame stays lazy.
    narrow = out.select(id_col, "drop_reason", "text_c4").localCheckpoint(
        eager=False
    )
    survivors = narrow.filter(F.col("drop_reason").isNull())
    if cfg.apply_span_dedup:
        # span dedup runs on SURVIVORS only (the paper's order: cleanup
        # first, then corpus-wide dedup), and the result joins back so
        # dropped rows keep their reason for the summary
        sd = corpus.c4_span_dedup(
            survivors, text_col="text_c4", id_col=id_col,
            span_sents=cfg.span_sents,
        ).select(
            id_col,
            F.col("text_dedup").alias("text_curated"),
            "n_sents_removed",
        )
        # sd is referenced twice below (exact dedup's input AND the
        # marks join) and the span-dedup subtree appears twice in the
        # plan TEXT — but do NOT localCheckpoint it: the duplicated
        # subtrees are byte-identical, so runtime ReusedExchange serves
        # the second reference from the first's shuffle files, while a
        # checkpoint here measured 1.6x SLOWER at bench scale (8.3-9.2 s
        # vs 5.2-7.3 s warm, round-11 A/B) by forcing materialisation
        # and blocking AQE. `narrow` above is different: its duplicate
        # subtrees were NON-identical expression chains (no reuse
        # possible), which is why that checkpoint wins.
    else:
        sd = survivors.select(
            id_col,
            F.col("text_c4").alias("text_curated"),
            F.lit(0).cast("long").alias("n_sents_removed"),
        )
    # exact dedup runs on NON-EMPTY curated texts only: span-emptied docs
    # would otherwise hash-collide on '' and mark each other exact dups
    # with dup_of pointing at an empty, itself-dropped doc — the terminal
    # empty rule is the correct owner of every one of them
    ed = dedup.exact_dedup(
        sd.filter(F.col("text_curated") != ""),
        text_col="text_curated", id_col=id_col,
    )
    marks = sd.join(
        ed.select(id_col, "is_dup_exact", "dup_of"), id_col, "left"
    ).select(
        id_col, "text_curated", "n_sents_removed", "is_dup_exact", "dup_of"
    )
    out = out.join(marks, id_col, "left")
    out = out.withColumn(
        "drop_reason",
        F.coalesce(
            F.col("drop_reason"),
            F.when(F.col("is_dup_exact"), F.lit("exact_duplicate")),
            # a full duplicate loses EVERY sentence to span dedup and
            # arrives here as an empty doc — C4 drops those at the end
            # (and exact dedup can't catch them: '' != the keeper's text)
            F.when(
                F.col("text_curated") == "", F.lit("empty_after_span_dedup")
            ),
        ),
    )
    return out


def curation_summary(out: DataFrame) -> DataFrame:
    """Per-outcome counts + surviving text volume — the one-frame report."""
    outcome = F.coalesce(F.col("drop_reason"), F.lit("kept"))
    return (
        out.groupBy(outcome.alias("outcome"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(
                    F.col("drop_reason").isNull(),
                    F.length(F.coalesce("text_curated", F.lit(""))),
                ).otherwise(F.lit(0))
            ).alias("kept_chars"),
        )
        .orderBy(F.desc("n_docs"), "outcome")
    )
