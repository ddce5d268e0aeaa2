"""Language-model quality scoring (CCNet-style perplexity bucketing).

CCNet (Wenzek et al. 2020, §3.3) scores every document with a KenLM 5-gram
model trained on Wikipedia and splits the corpus into head/middle/tail
perplexity buckets; downstream pipelines (LLaMA, RedPajama) keep head+middle
or reweight by bucket. A learned KenLM cannot be vendored into this
container (same constraint as the full GPT-2 vocab and langdetect profiles
— see NOTES_r4.md), so the default backend is a deterministic UNIGRAM model
with Zipf-shaped probabilities over the embedded English function-word
vocabulary: rank r in the vocab gets unnormalised mass 1/(r+1), the vocab
holds ``IN_VOCAB_MASS`` of the probability, and everything else shares the
OOV remainder uniformly over an assumed ``OOV_VOCAB_SIZE``-word lexicon.
The SHAPE of the operator — per-token log-prob lookup, linear-fold mean,
perplexity bucket thresholds — is exactly the production operator; swapping
in KenLM means replacing the lookup expression with an Arrow-batched
mapInPandas scorer (the BPE-tokeniser pattern), nothing else moves.

Everything here is a pure Catalyst expression (array_position against a
literal vocab + HOF fold): JVM-side, codegen-fused, shuffle-free, and
mirrored literally in the DuckDB oracle (p28). Log-prob constants are
computed once in Python and embedded as literals on BOTH engines, so
parity is exact by construction; the per-token fold is linear
(``F.aggregate`` / ``list_sum``) so IEEE summation order matches.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions.metrics import EN_STOPWORDS
from llm_pretraining_data_pipeline_spark.functions.text_norm import _col, _let, ws_tokens

# Ranked vocabulary: EN_STOPWORDS list order is the frequency rank.
LM_VOCAB: list[str] = list(EN_STOPWORDS)
IN_VOCAB_MASS = 0.7      # probability mass held by the ranked vocab
OOV_VOCAB_SIZE = 10_000  # assumed lexicon size sharing the OOV remainder

_Z = sum(1.0 / (r + 1.0) for r in range(1, len(LM_VOCAB) + 1)) / IN_VOCAB_MASS
LOG10_Z = math.log10(_Z)
LOG10_P_OOV = math.log10((1.0 - IN_VOCAB_MASS) / OOV_VOCAB_SIZE)

# CCNet-style bucket thresholds on pseudo-perplexity — DEFAULTS ONLY, and
# fixture-derived ones at that (≈33/66th pctile of the synthetic sf0.01
# corpus, so every bucket is populated in the refereed queries). CCNet
# derives cutoffs from percentiles of the target corpus; production callers
# must pass their own via ``doc_lm_struct(c, head=..., middle=...)`` — real
# KenLM head perplexities are orders of magnitude lower than these.
PPL_HEAD = 19_000.0
PPL_MIDDLE = 23_000.0


def token_logprob(tok: Column) -> Column:
    """log10 P(token) under the unigram model: Zipf mass by vocab rank,
    uniform OOV floor. ``array_position`` is 0 when absent (never null for
    non-null input), matching DuckDB's coalesced list_position."""
    rank = F.array_position(F.lit(LM_VOCAB), tok)
    return F.when(
        rank > 0,
        -F.log10(rank.cast("double") + F.lit(1.0)) - F.lit(LOG10_Z),
    ).otherwise(F.lit(LOG10_P_OOV))


def doc_lm_struct(
    c: Column | str,
    head: float = PPL_HEAD,
    middle: float = PPL_MIDDLE,
) -> Column:
    """Per-document LM score as struct(n_lm_tokens, mean_logprob, pseudo_ppl,
    ppl_bucket). Tokens are lowercased whitespace tokens (the engine's
    standard ``ws_tokens`` contract); empty docs get null score and bucket
    'empty'. mean_logprob is a linear fold over the token list divided by n
    (rounded 6dp); pseudo_ppl = 10^(-mean) rounded 4dp; bucket is CCNet's
    head/middle/tail by threshold on the unrounded perplexity."""
    toks = ws_tokens(F.lower(_col(c)))
    n = F.size(toks)
    total = F.aggregate(
        F.transform(toks, token_logprob),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    mean = total / n.cast("double")
    ppl = F.pow(F.lit(10.0), -mean)
    bucket = (
        F.when(n == 0, F.lit("empty"))
        .when(ppl < F.lit(head), F.lit("head"))
        .when(ppl < F.lit(middle), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return F.struct(
        n.cast("long").alias("n_lm_tokens"),
        F.when(n > 0, F.round(mean, 6)).alias("mean_logprob"),
        F.when(n > 0, F.round(ppl, 4)).alias("pseudo_ppl"),
        bucket.alias("ppl_bucket"),
    )


# DSIR background model: uniform over the same assumed lexicon — the
# importance weight then reduces to how much MORE likely the doc's tokens
# are under the Zipf target than under "any word is equally likely".
LOG10_P_RAW = math.log10(1.0 / OOV_VOCAB_SIZE)


def doc_importance_weight(c: Column | str) -> Column:
    """DSIR-style log importance weight (Xie et al. 2023, Data Selection
    via Importance Resampling): sum over tokens of
    log10 p_target(tok) - log10 p_raw(tok), with the Zipf unigram as the
    target feature model and a uniform background as the raw model. Docs
    whose token distribution looks like the target get positive weights;
    selection keeps the top-weighted docs (or Gumbel-samples by weight).

    Linear HOF fold in token order — deterministic per row, zero shuffle,
    mirrored literally by the corp_dsir_select oracle. Empty docs weigh 0.
    Production swaps the two unigram literals for hashed-n-gram feature
    models fit on target/raw corpora; the plan shape is unchanged.
    """
    toks = ws_tokens(F.lower(_col(c)))
    return F.aggregate(
        F.transform(toks, lambda tk: token_logprob(tk) - F.lit(LOG10_P_RAW)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_unigram_lm(
    df,
    text_col: str = "text",
    vocab_size: int = 1000,
    alpha: float = 1.0,
):
    """Train the unigram LM IN Spark from a reference corpus — the
    trained-model counterpart to the embedded Zipf stand-in, the same
    closure ``fit_logistic_weights`` gives P8 (CCNet trains its KenLM on
    Wikipedia; here the reference corpus is whatever frame you pass).

    Laplace-smoothed: P(tok) = (c + alpha) / (N + alpha·(V+1)), with one
    reserved OOV bucket P(oov) = alpha / (N + alpha·(V+1)); V = kept vocab
    entries. Output: (token, cnt, rank, logprob10, oov_logprob10) — rank
    by count desc then token asc, logprob10 rounded 6dp so the DuckDB
    referee's log10 agrees past any last-ulp libm difference.

    Scale shape: one word-count shuffle (map-side partial agg) over the
    corpus; top-``vocab_size`` via orderBy+limit = TakeOrderedAndProject
    (never a global sort); the rank window runs on the ≤vocab_size-row
    result; totals ride a 1-row broadcast. The corpus never moves wide.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.explode(ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))).alias(
            "token"
        )
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("_n_total"),
        F.count(F.lit(1)).alias("_n_distinct"),
    )
    vocab = counts.orderBy(F.desc("cnt"), "token").limit(vocab_size)
    w = Window.orderBy(F.desc("cnt"), "token")
    a = float(alpha)
    denom = F.col("_n_total").cast("double") + F.lit(a) * (
        F.least(F.col("_n_distinct"), F.lit(vocab_size)).cast("double") + F.lit(1.0)
    )
    return (
        vocab.crossJoin(F.broadcast(tot))
        .withColumn("rank", F.row_number().over(w))
        .select(
            "token",
            "cnt",
            "rank",
            F.round(
                F.log10((F.col("cnt").cast("double") + F.lit(a)) / denom), 6
            ).alias("logprob10"),
            F.round(F.log10(F.lit(a) / denom), 6).alias("oov_logprob10"),
        )
    )


def score_with_unigram_lm(
    df,
    lm,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Score documents with a trained unigram LM table (``train_unigram_lm``
    output): per-doc token count, mean log10 prob, pseudo-perplexity.

    The LM table broadcasts (≤vocab_size rows); tokens explode narrow
    (id, pos, token), left-join the table, and fold back per doc in POSITION
    order (array_sort over (pos, lp) structs — the engine's standard
    order-deterministic double summation), so results are bit-stable across
    partitionings and engines. Empty docs keep n_lm_tokens=0 and null score.
    """
    oov = lm.agg(F.max("oov_logprob10").alias("_oov"))
    toks = df.select(
        F.col(id_col),
        F.posexplode_outer(
            ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
        ).alias("pos", "token"),
    ).filter(F.col("token").isNotNull())
    j = (
        toks.join(F.broadcast(lm.select("token", "logprob10")), "token", "left")
        .crossJoin(F.broadcast(oov))
        .select(
            id_col,
            "pos",
            F.coalesce(F.col("logprob10"), F.col("_oov")).alias("lp"),
        )
    )
    folded = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_lm_tokens"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "lp"))),
            F.lit(0.0),
            lambda acc, x: acc + x["lp"],
        ).alias("_total"),
    )
    mean_lp = F.round(F.col("_total") / F.col("n_lm_tokens").cast("double"), 6)
    return (
        df.select(id_col)
        .join(folded, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_lm_tokens", F.lit(0)).cast("long").alias("n_lm_tokens"),
            mean_lp.alias("mean_logprob10"),
            F.round(F.pow(F.lit(10.0), -mean_lp), 4).alias("pseudo_ppl"),
        )
    )


def _adjacent_pairs(toks):
    """array<struct<w1,w2>> of adjacent token pairs ([] under 2 tokens) —
    ONE definition shared by the bigram trainer and scorer so their join
    keys can never silently diverge (the _nonempty_lines lesson). ``toks``
    is let-bound so its four references share one whitespace split."""
    return _let(
        toks,
        lambda t: F.when(
            F.size(t) >= 2,
            F.zip_with(
                F.slice(t, 1, F.size(t) - 1),
                F.slice(t, 2, F.size(t) - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>")),
    )


def train_bigram_lm(
    df,
    text_col: str = "text",
    alpha: float = 1.0,
):
    """Laplace-smoothed bigram LM from a reference corpus: for every
    adjacent token pair, P(w2|w1) = (c(w1,w2) + alpha) / (c1(w1) +
    alpha·(V+1)), with V = distinct vocabulary size and c1 = the count of
    w1 AS A CONTEXT (pairs starting with w1). One reserved OOV/unseen
    bucket per context: P(unseen|w1) = alpha / (c1 + alpha·(V+1)).

    Output: (w1, w2, pair_cnt, logprob10) + per-context
    (w1, ctx_cnt, backoff_logprob10) rides along as columns. logprob10
    rounded 6dp (the p30 cross-engine log10 contract).

    Scale shape: two word-count-shaped aggregations (pairs, contexts) and
    one broadcast of the scalar V — the bigram table itself is
    corpus-vocabulary-sized and joins downstream by (w1, w2) hash join,
    never collected.
    """
    toks = ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    pairs = df.select(
        F.explode(_adjacent_pairs(toks)).alias("p")
    ).select("p.w1", "p.w2")
    pc = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_cnt"))
    # ctx_cnt is exactly the per-w1 sum of pair counts — aggregate the
    # vocabulary-sized pc table rather than re-tokenizing and re-shuffling
    # the whole corpus a second time
    ctx = pc.groupBy("w1").agg(F.sum("pair_cnt").alias("ctx_cnt"))
    vocab = df.select(F.explode(toks).alias("t")).agg(
        F.countDistinct("t").alias("_v")
    )
    a = float(alpha)
    denom = F.col("ctx_cnt").cast("double") + F.lit(a) * (
        F.col("_v").cast("double") + F.lit(1.0)
    )
    return (
        pc.join(ctx, "w1")
        .join(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            "pair_cnt",
            "ctx_cnt",
            F.round(
                F.log10((F.col("pair_cnt").cast("double") + F.lit(a)) / denom), 6
            ).alias("logprob10"),
            F.round(F.log10(F.lit(a) / denom), 6).alias("backoff_logprob10"),
        )
    )


def score_with_bigram_lm(
    df,
    lm,
    text_col: str = "text",
    id_col: str = "doc_id",
    oov_logprob10: float = -6.0,
):
    """Per-doc mean bigram log-prob under a ``train_bigram_lm`` table:
    each adjacent pair looks up its logprob10; an unseen pair in a KNOWN
    context takes that context's backoff; a pair whose context was never
    seen takes the flat ``oov_logprob10``. Position-ordered fold (the p31
    contract) keeps the double sum bit-stable.

    Scale: pairs join the bigram table by (w1, w2) hash join and the
    context table by w1 — both word-count-shaped; nothing broadcasts
    except at fixture scale (AQE decides).
    """
    toks = ws_tokens(F.lower(F.coalesce(F.col(text_col), F.lit(""))))
    prs = df.select(
        F.col(id_col),
        F.posexplode_outer(_adjacent_pairs(toks)).alias("pos", "p"),
    ).filter(F.col("p").isNotNull()).select(id_col, "pos", "p.w1", "p.w2")
    pair_t = lm.select("w1", "w2", "logprob10")
    ctx_t = lm.select("w1", "backoff_logprob10").distinct()
    j = (
        prs.join(pair_t, ["w1", "w2"], "left")
        .join(ctx_t, "w1", "left")
        .select(
            id_col,
            "pos",
            F.coalesce(
                F.col("logprob10"),
                F.col("backoff_logprob10"),
                F.lit(float(oov_logprob10)),
            ).alias("lp"),
        )
    )
    folded = j.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("pos", "lp"))),
            F.lit(0.0),
            lambda acc, x: acc + x["lp"],
        ).alias("_total"),
    )
    mean_lp = F.round(F.col("_total") / F.col("n_pairs").cast("double"), 6)
    return (
        df.select(id_col)
        .join(folded, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            mean_lp.alias("mean_logprob10"),
        )
    )
