"""Char-trigram language detection: natural prose in four languages plus
robustness on keyword-soup and empty inputs, and a 13-language accuracy
fixture mirroring the reference's langdetect + min_conf=0.8 filter
(text_clean_and_filter.py:385-408)."""

import sys
import types

import pytest
from pyspark.sql import functions as F
from pyspark.util import PythonEvalType

from llm_pretraining_data_pipeline_spark.functions import langid

from fixtures_langid import PROSE_CASES

CASES = [
    ("en1", "The committee published its annual report on renewable energy yesterday.", "en"),
    ("en2", "She walked along the river in the morning and watched the boats pass by.", "en"),
    ("en3", "Officials said the new policy would take effect next month after a review.", "en"),
    ("de1", "Der Ausschuss veröffentlichte gestern seinen Jahresbericht über Energien.", "de"),
    ("fr1", "Le comité a publié hier son rapport annuel sur les énergies renouvelables.", "fr"),
    ("es1", "El comité publicó ayer su informe anual sobre energías renovables.", "es"),
    ("zh1", "这是一个完整的中文句子，用来测试语言检测功能是否正常工作。", "zh"),
]


class TestTrigramLangid:
    def test_natural_prose_detected(self, spark):
        df = spark.createDataFrame(CASES, "label string, text string, expected string")
        s = langid.langid_struct("text", use_trigrams=True)
        rows = df.select("label", "expected", s["lang"].alias("lang"),
                         s["score"].alias("score")).collect()
        for r in rows:
            assert r.lang == r.expected, f"{r.label}: got {r.lang}"
            assert r.score >= 0.5, f"{r.label}: low confidence {r.score}"

    def test_english_prose_clears_confidence_bar(self, spark):
        en = [c for c in CASES if c[2] == "en"]
        df = spark.createDataFrame(en, "label string, text string, expected string")
        s = langid.langid_struct("text", use_trigrams=True)
        for r in df.select(s["score"].alias("score")).collect():
            assert r.score >= 0.8  # survives the reference's min_conf filter

    def test_keyword_soup_stays_below_bar(self, spark):
        df = spark.createDataFrame(
            [("x", "spark query filter window merge table sort key scan broadcast")],
            "label string, text string",
        )
        score = langid.trigram_score("text", "en")
        row = df.select(score.alias("s")).collect()[0]
        assert row.s < 0.8  # n-gram evidence alone doesn't fake fluent text

    def test_prose_accuracy_under_confidence_filter(self, spark):
        """≥95% of the 13-language prose fixture must get the right label AND
        clear the reference's 0.8 confidence bar (so the language filter would
        keep it under min_lang_conf=0.8)."""
        df = spark.createDataFrame(PROSE_CASES, "label string, text string, expected string")
        s = langid.langid_struct("text", use_trigrams=True)
        rows = df.select(
            "label", "expected", s["lang"].alias("lang"), s["score"].alias("score")
        ).collect()
        good = [r for r in rows if r.lang == r.expected and r.score >= 0.8]
        acc = len(good) / len(rows)
        misses = [(r.label, r.lang, round(r.score, 3)) for r in rows if r not in good]
        assert acc >= 0.95, f"accuracy {acc:.1%}; misses: {misses}"

    def test_empty_and_null(self, spark):
        df = spark.createDataFrame([(None,), ("",), ("  ",)], "text string")
        s = langid.langid_struct("text", use_trigrams=True)
        for r in df.select(s["lang"].alias("lang"), s["score"].alias("sc")).collect():
            assert r.lang == "unk" and r.sc == 0.0


class TestLangdetectParity:
    """Distribution-level agreement between the langdetect UDF path (the
    reference's actual detector, text_clean_and_filter.py:385-408) and the
    heuristic langid_struct. Runs only where langdetect is installed — the
    UDF path otherwise ships untested plumbing, which this closes when the
    dependency is present. It cannot be vendored into this environment: the
    container has no network and langdetect's per-language profiles are
    learned data (like the GPT-2 vocab) — not regenerable from code. The
    in-container stand-in is TestTrigramLangid's ground-truth accuracy gate
    (>= 95% on the labeled prose fixtures), which is a strictly stronger
    check than agreement with another detector. Per SURVEY §7(d) the
    comparison here is agreement-rate, never per-row hash equality
    (langdetect is probabilistic across versions even when seeded)."""

    def test_langdetect_agreement_on_prose(self, spark):
        pytest.importorskip("langdetect")
        from llm_pretraining_data_pipeline_spark.functions.langid import (
            langdetect_udf,
            langid_struct,
        )

        udf = langdetect_udf()
        assert udf is not None
        df = spark.createDataFrame(
            [(label, text, want) for label, text, want in PROSE_CASES],
            "label string, text string, expected string",
        )
        out = df.select(
            "label",
            "expected",
            udf(F.col("text")).alias("ld"),
            langid_struct("text", use_trigrams=True).alias("heur"),
        ).collect()
        # langdetect itself should be right on nearly all prose fixtures...
        ld_right = sum(1 for r in out if r["ld"]["lang"] == r["expected"])
        assert ld_right >= int(0.85 * len(out))
        # ...and the heuristic must agree with it at distribution level on
        # the languages both claim to detect
        both = [
            r for r in out
            if r["ld"]["lang"] == r["expected"]  # langdetect got it right
        ]
        agree = sum(1 for r in both if r["heur"]["lang"] == r["ld"]["lang"])
        assert agree >= int(0.8 * len(both))

    def test_langdetect_udf_declares_with_stub_library(self, monkeypatch):
        """Runs everywhere: a stub ``langdetect`` stands in for the library,
        so the UDF declaration and its row function are checked without the
        learned language profiles."""

        class Cand:
            def __init__(self, lang, prob):
                self.lang, self.prob = lang, prob

        def detect_langs(text):
            if text == "boom":
                raise RuntimeError("no features in text")
            return [Cand("de", 0.25), Cand("en", 0.75)]

        stub = types.ModuleType("langdetect")
        stub.DetectorFactory = type("DetectorFactory", (), {"seed": 0})
        stub.detect_langs = detect_langs
        monkeypatch.setitem(sys.modules, "langdetect", stub)

        udf = langid.langdetect_udf()
        assert udf is not None
        assert udf.evalType == PythonEvalType.SQL_SCALAR_PANDAS_UDF
        assert udf.returnType == langid.LANG_SCHEMA
        assert langid._langdetect_row("Some prose here.") == ("en", 0.75)
        assert stub.DetectorFactory.seed == 2025
        for text in (None, "", "   ", "boom"):
            assert langid._langdetect_row(text) == ("unk", 0.0)


class TestVectorizedParity:
    """langid_struct_vectorized is contractually BIT-IDENTICAL to
    langid_struct — same (lang, score) doubles, both trigram modes. These
    tests are the contract; the vectorized path must follow the expression
    form, never lead it."""

    EDGE_CASES = [
        "", "   ", "a", "the quick brown fox and the lazy dog",
        "der hund und die katze sind nicht da",
        "日本語のテキストです", "汉字中文文本", "привет как дела у тебя сегодня",
        "12345 !!! ???", "don't can't won't the of and",
        "Ｆｕｌｌｗｉｄｔｈ ｔｅｘｔ", "İstanbul'da güzel bir gün",
        "MASSE STRASSE weiß groß",
        "ΣΟΦΟΣ ΑΝΘΡΩΠΟΣ ΚΑΙ Η ΘΑΛΑΣΣΑ",  # final-sigma lowercasing
        "Ο Σίσυφος και ο μύθος", "ΑΣ ΕΣ ΩΣ Σ",
        "ﬁnancial ﬂow ǅungla ǉeto",        # ligatures, titlecase digraphs
        "café naïve résumé coöperate", "école française",  # combining marks
        "ᾼ ᾈ ᾨ", "ЁЖИК ЁЛКА СЪЕЗД",
        "a­b soft­hyphen the and of to in is that",  # Cf char
        "ʼn ǰ ʻokina", "ⅣⅩⅡ roman numerals the and of",       # Nl letters
        "𝐀𝐁𝐂 math bold the and of in is",   # astral-plane letters
        "tab\tsep\x1c\x1dfield the and of",  # C0 separators in PY_WS_RE
        "ŉ groot 'n man",
        "ࡰࡱ arabic extended-b the and of",  # newer-Unicode letters (\p{L} skew)
        "ჽაჿ the and of \U00010570\U00010571",  # Vithkuqi (Unicode 14 letters)
    ]

    def _assert_parity(self, spark, texts, use_trigrams):
        rows = [(t,) for t in texts] + [(None,)]
        df = spark.createDataFrame(rows, "text string")
        o = langid.langid_struct("text", use_trigrams=use_trigrams).alias("o")
        m = langid.langid_struct_vectorized("text", use_trigrams=use_trigrams).alias("m")
        bad = (
            df.select("text", o, m)
            .filter(
                ~(
                    (F.col("o.lang") == F.col("m.lang"))
                    & (F.col("o.score") == F.col("m.score"))
                )
            )
            .collect()
        )
        assert not bad, [(r.text, r.o.asDict(), r.m.asDict()) for r in bad[:5]]

    @pytest.mark.parametrize("use_trigrams", [True, False])
    def test_edge_fixtures_exact(self, spark, use_trigrams):
        self._assert_parity(spark, self.EDGE_CASES, use_trigrams)

    @pytest.mark.parametrize("use_trigrams", [True, False])
    def test_prose_fixtures_exact(self, spark, use_trigrams):
        self._assert_parity(spark, [t for _, t, _ in PROSE_CASES], use_trigrams)

    @pytest.mark.parametrize("use_trigrams", [True, False])
    def test_fuzz_exact(self, spark, use_trigrams):
        import random
        import string

        rng = random.Random(20260814)
        alphabets = [
            string.ascii_letters + "  ",
            " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f",
            "àéîöüßñç'",
            "日本語中文한국어ひらがなカタカナ",
            "приветмирЁёЪъ",
            "αβγδεςσΣ",
            "العربية",
            "!@#$%^&*()[]{}<>.,;:'\"-_+=0123456789",
            "ﬁﬂ①②½𝐀𝐁\U0001d4d0",
            "the and of to in is der die und le la les el en que ",
        ]
        texts = []
        for _ in range(120):
            parts = []
            for _ in range(rng.randint(1, 6)):
                ab = rng.choice(alphabets)
                parts.append("".join(rng.choice(ab) for _ in range(rng.randint(0, 40))))
            texts.append(" ".join(parts))
        self._assert_parity(spark, texts, use_trigrams)

    def test_pipeline_backends_agree(self, spark):
        """clean_filter's lang columns equal the Catalyst langid_struct over
        the pipeline's own (normalised) text."""
        from llm_pretraining_data_pipeline_spark.plans import pipeline as P

        rows = [
            (f"http://t/{i}", t)
            for i, t in enumerate([t for _, t, _ in PROSE_CASES] + self.EDGE_CASES)
        ]
        raw = spark.createDataFrame(rows, "url string, text string")
        cfg = P.PipelineConfig()
        out = P.run_pipeline(raw, cfg, upto="clean_filter")
        ref = langid.langid_struct("text", use_trigrams=cfg.langid_trigrams)
        bad = out.filter(
            ~F.col("lang_pred").eqNullSafe(ref["lang"])
            | ~F.col("lang_score").eqNullSafe(ref["score"])
        ).select("text", "lang_pred", "lang_score").collect()
        assert not bad, [r.asDict() for r in bad[:3]]
