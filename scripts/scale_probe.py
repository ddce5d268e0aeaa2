#!/usr/bin/env python
"""Scale probe for the round-5 curation operators: times each one against a
100x-replicated sf0.1 corpus (500k docs / ~30M tokens) on local[32] — the
same replication recipe as bench.py's pipeline stage. Not part of bench.py
(whose suite composition stays comparable round-over-round); run ad hoc:

    python scripts/scale_probe.py

Last recorded run (quiet machine, local[32], round 6):
    gopher_filter_500k    3.9 s    lm_logprob_500k   1.7 s
    chunk_spans_500k      7.8 s    tfidf_top3_500k   9.1 s
    url_dedup_500k        1.7 s    semdedup_2k       4.1 s
    pq_encode_2k          0.7 s    c4_filter_500k    2.2 s
    rw_line_correct_500k 13.2 s    c4_span_dedup     3.9 s
    weighted_sample_500k  0.7 s    source_overlap   32.3 s
    hash_split_500k       0.8 s    fix_mojibake      1.7 s
    unigram_lm train/score 2.2/5.4 s  bigram_lm train/score 5.2/12.9 s

Round-6 adjudication of the round-5 "gopher 1.8 s" row: that number was
real but only because rule 6 (stopwords) short-circuited BEFORE the
round-5 code forced the n-gram scans through a join — the join boundary
made rules 8/9's top-/dup-gram scans unconditionally evaluated for every
row once anything referenced them (146 s measured). gopher_quality_filter
now inlines let-bound signal expressions into the CaseWhen, so the scans
run lazily again (3.9 s typical; 55 s worst-case when every row reaches
rules 8/9 — the intrinsic cost of 4 interpreted run-length scans).

Round-7 probes (quiet machine, local[32], 500k docs):
    rep_signals expr 54.6 s  vs  Arrow-vectorized 5.7 s  (9.6x — every
        row pays the scans here; the expression cascade still wins when
        early rules drop most rows)
    exact_substr_dedup_500k  40.2 s  (one keep-first shuffle over ~28M
        10-token shingle hashes + interval-merge rebuild)
    fit_hashed_logistic_500k 65.3 s (2 jobs/iter) -> 55.4 s after fusing
        the bias gradient into the bucket-gradient job as sentinel bucket
        -1 (3 GD iterations over the FULL corpus — a worst case by
        construction: production trains on a labeled sample; the ordered
        folds' struct sort is the remaining cost, the documented
        bit-reproducibility trade)
    hashed_score_500k         2.4 s  (the 100 TB hot path: literal
        broadcast weights, zero shuffle)
    zipf_fit_500k             1.6 s
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def main() -> int:
    from pyspark.sql import functions as F

    from llm_pretraining_data_pipeline_spark.functions import lm, urls
    from llm_pretraining_data_pipeline_spark.operators import corpus
    from llm_pretraining_data_pipeline_spark.operators import dedup as D
    from llm_pretraining_data_pipeline_spark.operators import similarity as S
    from llm_pretraining_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scale-probe", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copies = spark.range(100).withColumnRenamed("id", "copy")
    big = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") * 100 + F.col("copy")).alias("doc_id"),
            "text", "source", "n_chars",
        )
        .repartition(CPUS)
    )
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().count()

    def t(name, df):
        t0 = time.time()
        df.collect()
        print(f"{name:28s} {time.time() - t0:7.2f}s")

    t("gopher_filter_500k",
      corpus.gopher_quality_filter(big, min_words=20)
      .select(F.count(F.when(F.col("gopher_drop_reason").isNotNull(), 1))))
    t("lm_logprob_500k",
      big.select(lm.doc_lm_struct("text").alias("s")).agg(F.sum("s.n_lm_tokens")))
    t("chunk_spans_500k",
      corpus.chunk_spans(big).agg(F.count(F.lit(1)), F.sum("end_tok")))
    t("tfidf_top3_500k", corpus.tfidf_top_terms(big, k=3).agg(F.count(F.lit(1))))
    u = big.select(
        "doc_id",
        F.concat(
            F.lit("http://S/"), (F.col("doc_id") % 97).cast("string"),
            F.lit("/p?utm_a=1&id="), (F.col("doc_id") % 13).cast("string"),
        ).alias("url"),
    )
    t("url_dedup_500k", urls.url_dedup(u).agg(F.sum(F.col("is_dup_url").cast("long"))))
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = emb.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid_vec")
    )
    t("semdedup_2k_32cells",
      D.semdedup(emb, cents, threshold=0.45).agg(F.sum(F.col("is_semdup").cast("long"))))
    cb = S.pq_codebooks_first_k(emb, m=4, k=8, dim=64)
    t("pq_encode_2k", S.pq_encode(emb, cb).agg(F.count(F.lit(1))))

    # ---- round-6 operators. C4/RefinedWeb probes run on sentence-bearing
    # text synthesized per row (the fixture corpus has no punctuation), so
    # the split/span machinery does real work.
    sent = F.concat_ws(
        ". ",
        F.col("text").substr(1, 80),
        F.col("text").substr(40, 80),
        F.col("text").substr(80, 80),
        F.lit("closing line ends here."),
    )
    big_s = big.select("doc_id", sent.alias("text"))
    t("c4_filter_500k",
      corpus.c4_quality_filter(big_s)
      .agg(F.count(F.when(F.col("c4_drop_reason").isNotNull(), 1))))
    t("rw_line_correct_500k",
      corpus.refinedweb_line_correct(big_s)
      .agg(F.sum("n_lines_removed")))
    # span dedup on a shared sentence pool (heavy: real cross-doc repeats)
    pool = F.transform(
        F.sequence(F.lit(0), (F.col("doc_id") % 4 + 2).cast("int")),
        lambda k: F.concat(
            F.lit("Shared sentence number "),
            ((F.col("doc_id") * 7 + k * 5) % 9973).cast("string"),
            F.lit(" ends here."),
        ),
    )
    big_sp = big.select("doc_id", F.array_join(pool, " ").alias("text"))
    t("c4_span_dedup_500k",
      corpus.c4_span_dedup(big_sp).agg(F.sum("n_sents_removed")))
    t("weighted_sample_500k",
      corpus.weighted_sample(
          big, F.col("n_chars").cast("double") / 400.0, rate_scale=0.8
      ).agg(F.count(F.lit(1))))
    t("source_overlap_500k",
      corpus.source_overlap(big, n=3).agg(F.count(F.lit(1))))

    # ---- late-round-6 operators
    t("hash_split_500k",
      corpus.hash_split(big).groupBy("split").count())
    from llm_pretraining_data_pipeline_spark.functions.structural import (
        fix_mojibake,
    )
    t("fix_mojibake_500k",
      big.select(F.sum(F.length(fix_mojibake("text")))))
    ulm = lm.train_unigram_lm(big)
    t("unigram_lm_train_500k", ulm.agg(F.count(F.lit(1))))
    t("unigram_lm_score_500k",
      lm.score_with_unigram_lm(big, ulm).agg(F.sum("n_lm_tokens")))
    blm = lm.train_bigram_lm(big)
    t("bigram_lm_train_500k", blm.agg(F.count(F.lit(1))))
    t("bigram_lm_score_500k",
      lm.score_with_bigram_lm(big, blm).agg(F.sum("n_pairs")))

    # ---- round-7 operators
    from llm_pretraining_data_pipeline_spark.functions import scoring

    rep_force = lambda df: df.agg(  # noqa: E731 — force all 4 gram scans
        F.sum("dup5gram_char_frac"), F.sum("top2gram_char_frac"),
        F.sum("top3gram_char_frac"), F.sum("dup10gram_char_frac"))
    t("rep_signals_expr_500k", rep_force(corpus.repetition_signals(big)))
    passage = F.concat(
        F.lit("shared run alpha bravo charlie delta echo foxtrot golf "
              "hotel india var"),
        (F.col("doc_id") % 50).cast("string"), F.lit(" kilo lima"),
    )
    esub_in = big.select(
        "doc_id", F.concat(passage, F.lit(" "), F.col("text")).alias("text")
    )
    t("exact_substr_500k",
      corpus.exact_substr_dedup(esub_in, min_tokens=10)
      .agg(F.sum("n_dup_runs"), F.sum("max_run_tokens"), F.sum("n_tok_kept")))
    lbl = big.withColumn("label", (F.col("doc_id") % 2).cast("double"))
    t0 = time.time()
    m = scoring.fit_hashed_logistic(lbl, "text", "label", n_iter=3)
    print(f"{'fit_hashed_logistic_500k':28s} {time.time() - t0:7.2f}s")
    t("hashed_score_500k",
      scoring.hashed_quality_score(big, "text", m["weights"], m["bias"])
      .agg(F.sum("hashed_quality")))
    t("zipf_fit_500k", corpus.zipf_fit(big, k=100))

    # ---- round-8 operators
    from llm_pretraining_data_pipeline_spark.functions import urls

    url_in = big.select(
        "doc_id",
        F.concat(F.lit("https://host"), (F.col("doc_id") % 997).cast("string"),
                 F.lit(".example.org/p/"), F.col("doc_id").cast("string")
                 ).alias("url"),
    )
    t("url_filter_500k",
      urls.url_quality_filter(url_in, blocklist=["host13.example.org"])
      .agg(F.sum(F.col("url_keep").cast("int"))))
    snap = big.withColumn(
        "snap", F.when(F.col("doc_id") % 2 == 0, "old").otherwise("new"))
    t("gram_novelty_500k",
      corpus.gram_novelty(snap, "text", "snap", "old", "new"))
    t("ks_drift_500k",
      corpus.ks_drift(
          snap.withColumn("n_chars", F.length("text")),
          "n_chars", "snap", "old", "new"))
    from llm_pretraining_data_pipeline_spark.operators import dedup as DD
    from llm_pretraining_data_pipeline_spark.functions.text_norm import (
        ws_tokens,
    )

    # Containment probe on an honest fixture: 500k DISTINCT documents
    # (per-doc token salting) + 1% planted quote rows (15-token prefixes).
    # First attempt used minhash LSH candidates over the 100x-replicated
    # ExactSubstr corpus: every doc was a near-dup of ~10k siblings, LSH
    # honestly emitted 29.8M candidate pairs and the verify ran 746 s
    # (~40k pairs/s — the per-pair cost is fine; the fixture was the
    # pathology). The DF-capped inverted index below is the containment
    # candidate generator (LSH bands rarely fire on low-Jaccard quote
    # pairs anyway); cost is the one shingle groupBy.
    salted = big.select(
        "doc_id",
        F.array_join(
            F.transform(
                ws_tokens(F.col("text")),
                lambda tk: F.concat(
                    tk, F.lit("_"), F.col("doc_id").cast("string")
                ),
            ),
            " ",
        ).alias("text"),
    )
    quotes = salted.filter(F.col("doc_id") % 100 == 7).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.array_join(F.slice(ws_tokens(F.col("text")), 1, 15), " ").alias("text"),
    )
    cont_in = salted.unionByName(quotes)
    t("containment_dfcap_500k",
      DD.ngram_containment_pairs(cont_in, "text", threshold=0.9,
                                 max_shingle_df=50)
      .agg(F.count(F.lit(1))))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
