"""Bit-parity contract for the vectorized repetition signals
(functions/repetition_vec.py) against the definitional Catalyst expression
forms in operators/corpus.py (repetition_signals / gopher_quality_filter —
the f11/corp_rep_signals oracle semantics)."""

import random
import string

from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions import repetition_vec
from llm_pretraining_data_pipeline_spark.operators import corpus

REP_EDGE_CASES = [
    "",
    "   ",
    None,
    "one",
    "one two",
    "the cat sat on the mat",
    # heavy n-gram repetition
    "spam spam spam spam spam spam spam spam spam spam spam spam",
    ("buy now " * 30).strip(),
    ("a b c d e f g h i j " * 12).strip(),
    # duplicate lines (with space-only and tab-trim differences)
    "line one\nline one\nline two",
    "  padded line \n padded line\npadded line",
    "\ttab line\n\ttab line\nother",                 # \t survives Spark trim
    "cr line\r\ncr line\r\nother",                     # \r survives too
    "\n\n\nonly newlines\n\n",
    # tie-breaks: two grams with equal max count, different lengths
    "aa bb aa bb cc dd cc dd",
    "zz yy zz yy aa bb aa bb",
    # unicode: multi-byte chars, astral plane, combining marks
    "日本 語の 日本 語の テキ スト",
    "𝐀𝐁 𝐂𝐃 𝐀𝐁 𝐂𝐃 xx yy",
    "café naïve café naïve résumé déjà",
    "é́ combining é́ combining marks here",
    # long repeated 10-gram
    ("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 " * 4).strip(),
    "x" * 3000,
]


def _fuzz_texts(n=100, seed=20260814):
    rng = random.Random(seed)
    vocab = [
        "the", "cat", "sat", "on", "mat", "spam", "buy", "now", "日本",
        "語", "𝐀𝐁", "café", "a", "bb", "ccc", "dddd",
        "".join(rng.choice(string.ascii_lowercase) for _ in range(7)),
    ]
    seps = [" ", "  ", "\n", "\t", " \n ", "\r\n"]
    out = []
    for _ in range(n):
        k = rng.randint(0, 60)
        words = [rng.choice(vocab) for _ in range(k)]
        # force repetition structure in half the samples
        if k > 10 and rng.random() < 0.5:
            seg = words[: rng.randint(2, 10)]
            words = seg * (k // len(seg))
        out.append(
            "".join(w + rng.choice(seps) for w in words)
        )
    return out


class TestRepetitionSignalsParity:
    def _assert_parity(self, spark, texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        expr = corpus.repetition_signals(df)
        rep = repetition_vec.rep_signals_struct(
            F.coalesce(F.col("text"), F.lit(""))
        )
        names = repetition_vec.REP_SIGNALS_SCHEMA.fieldNames()
        vec = df.select("doc_id", *[rep[f].alias(f) for f in names])
        fields = [c for c in expr.columns if c != "doc_id"]
        j = expr.alias("e").join(vec.alias("v"), "doc_id")
        cond = None
        for f in fields:
            c = F.col(f"e.{f}") != F.col(f"v.{f}")
            cond = c if cond is None else cond | c
        bad = j.filter(cond).collect()
        ids = {r.doc_id for r in bad}
        assert not bad, [
            (t[:60] if isinstance(t := texts[i], str) else t) for i in ids
        ]

    def test_edge_fixtures_exact(self, spark):
        self._assert_parity(spark, REP_EDGE_CASES)

    def test_fuzz_exact(self, spark):
        self._assert_parity(spark, _fuzz_texts())

    def test_sf_corpus_exact(self, spark, sf_dir):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        self._assert_parity(
            spark, [r.text for r in docs.select("text").collect()][:400]
        )


class TestGopherVectorizedParity:
    def test_cascade_identical_on_curated_corpus(self, spark):
        """The full Gopher cascade (drop reasons + the five signal columns)
        is identical with vectorized on and off — including rows whose fate
        is decided by the repetition rules."""
        texts = [t for t in REP_EDGE_CASES if t is not None] + _fuzz_texts(40)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        kw = dict(min_words=2, min_distinct_stopwords=0, min_alpha_word_frac=0.0)
        a = corpus.gopher_quality_filter(df, **kw).orderBy("doc_id").collect()
        b = (
            corpus.gopher_quality_filter(df, vectorized=True, **kw)
            .orderBy("doc_id")
            .collect()
        )
        assert [r.asDict() for r in a] == [r.asDict() for r in b]
        # sanity: the repetition rules actually fired somewhere
        assert any(
            r.gopher_drop_reason in ("gopher_top_ngram", "gopher_dup_ngram",
                                     "gopher_dup_lines")
            for r in a
        )
