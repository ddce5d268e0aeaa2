"""Bit-parity contract for the vectorized metric block (metrics_vec.py).

The Arrow fast path must produce EXACTLY the values of the Catalyst
expression forms in metrics.py / toxicity.py — those are the definitional,
DuckDB-oracle-encoded semantics (p05/p07/p15/f03/f04). Three layers:

1. primitive sweeps — the (?U)\\w word-char predicate is compared against
   the JVM regex over a codepoint sample covering every exception range
   (the generator sweep is scripts/gen_jvm_word_exceptions.py);
2. per-metric exact equality on curated unicode edge fixtures + seeded fuzz;
3. pipeline level — the metric columns the pipeline computes equal the
   Catalyst expressions over its own ``text`` / ``text_deep_clean``, and
   the stage-4 spam rule fires exactly where ``is_repetitive_token_spam``
   does.
"""

import random
import string

import pytest
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions import metrics, metrics_vec, toxicity

EDGE_CASES = [
    "", "   ", "a", "the quick brown fox and the lazy dog",
    "word word word word word",                      # repetition
    "the the the of of and",                         # stopwords
    "fuck this stupid thing",                        # toxicity hits
    "kill kill kill",                                # one-token spam + threat
    "日本語のテキストです", "汉字中文文本", "привет мир",
    "café naïve résumé", "Ｆｕｌｌｗｉｄｔｈ",
    "a_b_c under_scores", "can't won't don't",
    "tab\tsep\x1c\x1dfield and the of",
    "é combining acute",                        # Mn mark joins tokens on JVM
    "‍ zero-width-joiner‍glued",
    "①②③ circled numbers", "Ⓐ circled letter word",  # JVM-only word chars
    "ⅣⅩⅡ roman and the of", "𝐀𝐁𝐂 math letters",
    "ࡰࡱ arabic extended-b",                 # PY-only (newer Unicode)
    "mixed 数字123 and latin", "!!! ??? ...",
    "x" * 5000,                                       # long single token
]


def _fuzz_texts(n=120, seed=20260815):
    rng = random.Random(seed)
    alphabets = [
        string.ascii_letters + "  _",
        " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f",
        "àéîöüßñç'",
        "日本語中文한국어",
        "приветмир",
        "fuck stupid kill sex nigger idiot the and of ",  # lexicon + stopword hits
        "!@#$%^&*()[]{}<>.,;:'\"-_+=0123456789",
        "ﬁﬂ①②½ⒶⒷ‌‍",
        "́̂ࡰ᫁",                       # marks + exception-range chars
        "𝐀𝐁\U0001d4d0\U0001f130",
    ]
    out = []
    for _ in range(n):
        parts = []
        for _ in range(rng.randint(1, 6)):
            ab = rng.choice(alphabets)
            parts.append("".join(rng.choice(ab) for _ in range(rng.randint(0, 40))))
        out.append(" ".join(parts))
    return out


class TestWordCharPredicate:
    def test_matches_jvm_on_exception_and_boundary_sample(self, spark):
        """Every exception range (both directions) + boundary neighbours +
        a seeded random sample must agree with the live JVM regex."""
        cps = set()
        for a, b in metrics_vec._JVM_ONLY_RANGES + metrics_vec._PY_ONLY_RANGES:
            cps.update(range(a, b + 1))
            cps.update((a - 1, b + 1))
        rng = random.Random(7)
        for _ in range(3000):
            cp = rng.randrange(1, 0x110000)
            if not (0xD800 <= cp < 0xE000):
                cps.add(cp)
        cps.update(range(1, 1024))  # full ASCII/Latin-1 block
        cps = sorted(cp for cp in cps if 0 < cp < 0x110000 and not (0xD800 <= cp < 0xE000))
        df = spark.createDataFrame([(cp, chr(cp)) for cp in cps], "cp int, ch string")
        rows = df.select(
            "cp",
            (F.size(F.regexp_extract_all(F.col("ch"), F.lit("(?U)\\w"), F.lit(0))) > 0).alias("is_w"),
        ).collect()
        bad = [
            (hex(r.cp), r.is_w)
            for r in rows
            if metrics_vec._is_jvm_word_char(chr(r.cp)) != r.is_w
        ]
        assert not bad, f"word-char predicate drifted from JVM tables: {bad[:20]}"


class TestCleanMetricsParity:
    FIELDS = [
        "n_chars", "n_words", "alpha_ratio", "repetition_ratio",
        "non_latin_ratio", "toxicity", "severe_toxicity", "insult",
        "threat", "identity_attack", "sexual_explicit",
    ]

    def _expr_struct(self):
        tox = toxicity.toxicity_scores("text")
        return F.struct(
            metrics.n_chars("text").alias("n_chars"),
            metrics.n_words("text").alias("n_words"),
            metrics.alpha_ratio("text").alias("alpha_ratio"),
            metrics.repetition_ratio("text").alias("repetition_ratio"),
            metrics.non_latin_ratio("text").alias("non_latin_ratio"),
            *[tox[name].alias(name) for name in self.FIELDS[5:]],
        )

    def _assert_parity(self, spark, texts):
        df = spark.createDataFrame([(t,) for t in texts] + [(None,)], "text string")
        o = self._expr_struct().alias("o")
        m = metrics_vec.clean_metrics_struct("text").alias("m")
        cond = None
        for f in self.FIELDS:
            c = F.col(f"o.{f}") != F.col(f"m.{f}")
            cond = c if cond is None else cond | c
        bad = df.select("text", o, m).filter(cond).collect()
        assert not bad, [(r.text[:50] if r.text else r.text, r.o.asDict(), r.m.asDict()) for r in bad[:3]]

    def test_edge_fixtures_exact(self, spark):
        self._assert_parity(spark, EDGE_CASES)

    def test_fuzz_exact(self, spark):
        self._assert_parity(spark, _fuzz_texts())


class TestTokenStatsParity:
    FIELDS = ["token_count", "unique_tokens", "unique_token_ratio",
              "stopword_ratio", "max_token_frequency"]

    def _expr_struct(self):
        return F.struct(
            metrics.token_count("text").alias("token_count"),
            metrics.unique_tokens("text").alias("unique_tokens"),
            metrics.unique_token_ratio("text").alias("unique_token_ratio"),
            metrics.stopword_ratio("text").alias("stopword_ratio"),
            metrics.max_token_frequency("text").alias("max_token_frequency"),
        )

    def _assert_parity(self, spark, texts):
        df = spark.createDataFrame([(t,) for t in texts] + [(None,)], "text string")
        o = self._expr_struct().alias("o")
        m = metrics_vec.token_stats_struct("text").alias("m")
        cond = None
        for f in self.FIELDS:
            c = F.col(f"o.{f}") != F.col(f"m.{f}")
            cond = c if cond is None else cond | c
        bad = df.select("text", o, m).filter(cond).collect()
        assert not bad, [(r.text[:50] if r.text else r.text, r.o.asDict(), r.m.asDict()) for r in bad[:3]]

    def test_edge_fixtures_exact(self, spark):
        self._assert_parity(spark, EDGE_CASES)

    def test_fuzz_exact(self, spark):
        self._assert_parity(spark, _fuzz_texts(seed=20260816))


TEXT_METRICS = (
    "n_chars", "n_words", "alpha_ratio", "repetition_ratio", "non_latin_ratio",
)
TOKEN_STATS = ("token_count", "unique_tokens", "unique_token_ratio", "stopword_ratio")


def _run_keeping_stage4_input(raw, cfg, upto=None):
    """``run_pipeline`` that also keeps, as ``_prior``, the drop_reason the
    rows carry into stage 4 (deep_clean_pii)."""
    from llm_pretraining_data_pipeline_spark.plans import pipeline as P

    out = P.run_pipeline(raw, cfg, upto="clean_filter")
    out = out.withColumn("_prior", F.col("drop_reason"))
    names = [name for name, _ in P.STAGES]
    for name, fn in P.STAGES[names.index("deep_clean_pii"):]:
        out = fn(out, cfg)
        if name == upto:
            break
    return out


def _assert_matches_catalyst(out):
    """Every Arrow-computed metric column equals its Catalyst expression over
    the pipeline's own text columns; returns the number of spam drops."""
    expected = {m: getattr(metrics, m)("text") for m in TEXT_METRICS}
    expected.update(toxicity.toxicity_scores("text"))
    expected.update({m: getattr(metrics, m)("text_deep_clean") for m in TOKEN_STATS})
    spam_rule = F.coalesce(F.col("drop_reason") == "repetitive_token_spam", F.lit(False))
    spam_expected = F.col("_prior").isNull() & F.coalesce(
        metrics.is_repetitive_token_spam("text_deep_clean"), F.lit(False)
    )
    cond = spam_rule != spam_expected
    for c, e in expected.items():
        cond = cond | ~F.col(c).eqNullSafe(e)
    bad = out.filter(cond).select("text", "drop_reason", *expected).collect()
    assert not bad, [r.asDict() for r in bad[:3]]
    return out.filter(spam_rule).count()


class TestPipelineBackendsAgree:
    def test_stage2_and_stage4_identical(self, spark):
        from llm_pretraining_data_pipeline_spark.plans import pipeline as P

        texts = EDGE_CASES + _fuzz_texts(40, seed=20260817)
        raw = spark.createDataFrame(
            [(f"http://t/{i}", t) for i, t in enumerate(texts)], "url string, text string"
        )
        out = _run_keeping_stage4_input(
            raw, P.PipelineConfig(apply_lang_filter=False), upto="deep_clean_pii"
        )
        assert _assert_matches_catalyst(out) > 0

    def test_sf_corpus_identical_through_full_pipeline(self, spark, sf_dir):
        from llm_pretraining_data_pipeline_spark.plans import pipeline as P

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        raw = docs.select(
            F.concat(F.lit("http://t/"), F.col("doc_id")).alias("url"), "text"
        )
        cfg = P.PipelineConfig(apply_lang_filter=False, tokenizer_backend="regex")
        _assert_matches_catalyst(_run_keeping_stage4_input(raw, cfg))
