"""Unit tests for the scalar-function layer against hand-computed (reference-
semantics) expectations. Each case mirrors the cited reference function's
behavior on edge inputs (SURVEY.md §2.2)."""

import random
import re
import unicodedata

import pytest
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions import (
    hashing,
    metrics,
    pii,
    scoring,
    structural,
    text_norm,
    tokenizer,
    toxicity,
)

TEXTS = [
    None,
    "",
    "   ",
    "hello world",
    "Hello\t\nWorld  again",
    "ﬁne ﬂow ①",  # NFKC: ligatures + circled digit
    "a\x00b\x1fc\x7fd",  # control chars
    "NaN",
    "123-45.6",
    "the the the the the",
    "café über naïve",
    "日本語のテキストです。これはテストです。",
    "Contact us at test@example.com or +44 20 7946 0958 now",
    "<p>Hello <b>bold</b> world</p>",
    "line one\ncookie policy applies here\nline three",
    "Sooooo goooood!!!!! wow....",
    "word " * 30,
]


def _df(spark, texts=TEXTS):
    return spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")


def _py_normalize(text):
    if text is None:
        return None
    text = unicodedata.normalize("NFKC", str(text))
    text = re.sub(r"[\x00-\x1f\x7f-\x9f]", " ", text)
    text = re.sub(r"\s+", " ", text).strip()
    return text if text else None


class TestNormalize:
    def test_normalize_matches_reference(self, spark):
        rows = (
            _df(spark)
            .select("id", text_norm.normalize_text_expr("text").alias("norm"))
            .orderBy("id")
            .collect()
        )
        for row, text in zip(rows, TEXTS):
            assert row.norm == _py_normalize(text), repr(text)

    def test_char_len_word_count(self, spark):
        rows = (
            _df(spark)
            .select(
                "id",
                text_norm.char_len(text_norm.normalize_text_expr("text")).alias("cl"),
                text_norm.word_count(text_norm.normalize_text_expr("text")).alias("wc"),
            )
            .orderBy("id")
            .collect()
        )
        for row, text in zip(rows, TEXTS):
            norm = _py_normalize(text)
            assert row.cl == (len(norm) if norm is not None else None)
            assert row.wc == (len(norm.split()) if norm else 0)

    def test_canonicalize(self, spark):
        rows = (
            _df(spark)
            .select(
                "id",
                text_norm.canonicalize_for_exact("text").alias("canon"),
                text_norm.canonicalize_for_near("text", 10).alias("near"),
            )
            .orderBy("id")
            .collect()
        )
        for row, text in zip(rows, TEXTS):
            expected = "" if text is None else re.sub(r"\s+", " ", str(text).lower().strip())
            assert row.canon == expected, repr(text)
            assert row.near == expected[:10]

    def test_pick_text(self, spark):
        df = spark.createDataFrame(
            [(None, "", "fallback"), ("primary", "x", "y"), ("  ", None, "z"), (None, None, None)],
            "a string, b string, c string",
        )
        got = [r.picked for r in df.select(text_norm.pick_text("a", "b", "c").alias("picked")).collect()]
        assert got == ["fallback", "primary", "z", ""]


def _icu_types(spark, cps):
    """ICU's general category (``UCharacter.getType``; 0 = unassigned) of
    each code point, from the ICU that Spark bundles, in one job."""
    df = spark.createDataFrame([(cp,) for cp in cps], "cp int")
    icu_type = F.reflect(F.lit("com.ibm.icu.lang.UCharacter"), F.lit("getType"), F.col("cp"))
    return {r.cp: int(r.t) for r in df.select("cp", icu_type.alias("t")).collect()}


def _py_assigned(cp):
    return unicodedata.category(chr(cp)) != "Cn"


class TestNfkc:
    """NFKC runs on the JVM (ICU4J); it must agree with Python's
    ``unicodedata`` wherever both Unicode versions assign the code points."""

    def test_every_code_point_both_assign(self, spark):
        """All 1,112,064 non-surrogate code points in one job: the JVM
        returns only those NFKC changes, and every code point assigned in
        both the running Python and the bundled ICU must normalise exactly
        as ``unicodedata.normalize("NFKC", ...)`` does."""
        cp = F.col("id").cast("int")
        char = F.reflect(F.lit("java.lang.Character"), F.lit("toString"), cp)
        changed = {
            r.cp: r.n
            for r in spark.range(0x110000)
            .filter((F.col("id") < 0xD800) | (F.col("id") > 0xDFFF))
            .select(cp.alias("cp"), char.alias("c"))
            .select("cp", "c", text_norm.nfkc_normalize("c").alias("n"))
            .filter(F.col("n") != F.col("c"))
            .collect()
        }
        differ = []
        for code in (*range(0xD800), *range(0xE000, 0x110000)):
            c = chr(code)
            if unicodedata.normalize("NFKC", c) != changed.get(code, c):
                differ.append(code)
        types = _icu_types(spark, differ)
        both = [hex(code) for code in differ if _py_assigned(code) and types[code] != 0]
        assert both == [], both

    def test_random_mark_jamo_and_decomposable_sequences(self, spark):
        """Seeded sequences of combining marks, Hangul jamo and syllables,
        decomposable characters and ASCII bases (canonical reordering and
        composition across characters) match Python's NFKC."""
        bmp_smp = range(0x30000)
        marks = [cp for cp in bmp_smp if unicodedata.category(chr(cp)) in ("Mn", "Mc", "Me")]
        decomposable = [cp for cp in bmp_smp if unicodedata.decomposition(chr(cp))]
        jamo = [
            *range(0x1100, 0x1200), *range(0x3131, 0x318F), *range(0xA960, 0xA97D),
            *range(0xD7B0, 0xD7FC), *range(0xAC00, 0xD7A4, 97),
        ]
        jamo = [cp for cp in jamo if _py_assigned(cp)]
        types = _icu_types(spark, sorted({*marks, *decomposable, *jamo}))
        pools = [
            [cp for cp in pool if types[cp] != 0]
            for pool in (marks, decomposable, jamo)
        ]
        pools.append([ord(c) for c in "aeiouAEIOUnNcCsSkKgGyY "])
        rng = random.Random(20261020)
        texts = [
            "".join(chr(rng.choice(rng.choice(pools))) for _ in range(rng.randint(1, 8)))
            for _ in range(20_000)
        ]
        got = _df(spark, texts).select("id", text_norm.nfkc_normalize("text").alias("n"))
        bad = [
            (texts[r.id], r.n)
            for r in got.collect()
            if r.n != unicodedata.normalize("NFKC", texts[r.id])
        ]
        assert bad == [], bad[:5]

    def test_null_and_empty(self, spark):
        rows = _df(spark, [None, ""]).select(
            "id", text_norm.nfkc_normalize("text").alias("n")
        ).orderBy("id").collect()
        assert [r.n for r in rows] == [None, ""]


class TestMetrics:
    def test_quality_metrics(self, spark):
        rows = (
            _df(spark)
            .select(
                "id",
                metrics.n_chars("text").alias("nc"),
                metrics.n_words("text").alias("nw"),
                metrics.alpha_ratio("text").alias("ar"),
                metrics.repetition_ratio("text").alias("rr"),
            )
            .orderBy("id")
            .collect()
        )
        for row, text in zip(rows, TEXTS):
            t = "" if text is None else str(text)
            toks = t.split()
            assert row.nc == len(t)
            assert row.nw == len(toks)
            exp_ar = sum(ch.isalpha() for ch in t) / len(t) if t else 0.0
            assert row.ar == pytest.approx(exp_ar, abs=1e-12), repr(text)
            exp_rr = 1.0 - len(set(toks)) / len(toks) if toks else 0.0
            assert row.rr == pytest.approx(exp_rr, abs=1e-12)

    def test_token_stats(self, spark):
        stop = set(metrics.EN_STOPWORDS)
        rows = (
            _df(spark)
            .select(
                "id",
                metrics.token_count("text").alias("tc"),
                metrics.unique_tokens("text").alias("ut"),
                metrics.unique_token_ratio("text").alias("ur"),
                metrics.stopword_ratio("text").alias("sr"),
            )
            .orderBy("id")
            .collect()
        )
        for row, text in zip(rows, TEXTS):
            toks = ("" if text is None else str(text).strip()).split()
            assert row.tc == len(toks)
            assert row.ut == len(set(toks))
            assert row.ur == pytest.approx(len(set(toks)) / len(toks) if toks else 0.0)
            exp_sr = sum(1 for t in toks if t.lower() in stop) / len(toks) if toks else 0.0
            assert row.sr == pytest.approx(exp_sr)

    def test_repetitive_token_spam(self, spark):
        cases = [
            ("yes yes yes yes yes", True),
            ("ok ok", False),  # < 3 tokens
            ("one two three four", False),
            ("spam spam spam ham", True),  # 3/4 = 0.75 > 0.70
            ("a a b b", False),  # 0.5
            (None, False),
        ]
        df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)], "id long, t string")
        rows = df.select("id", metrics.is_repetitive_token_spam("t").alias("spam")).orderBy("id").collect()
        for row, (text, expected) in zip(rows, cases):
            assert bool(row.spam) == expected, repr(text)

    def test_non_latin_ratio(self, spark):
        rows = _df(spark).select("id", metrics.non_latin_ratio("text").alias("nl")).orderBy("id").collect()
        for row, text in zip(rows, TEXTS):
            t = "" if text is None else str(text)
            letters = [ch for ch in t if ch.isalpha()]
            exp = (
                sum(1 for ch in letters if ord(ch) > 127) / len(letters) if letters else 0.0
            )
            assert row.nl == pytest.approx(exp, abs=1e-12), repr(text)


class TestPII:
    def test_hits_and_mask(self, spark):
        text = (
            "Email a.b+c@test.org or admin@site.co.uk, call +1 555-123-4567, "
            "card 4111 1111 1111 1111, iban GB29NWBK60161331926819."
        )
        df = spark.createDataFrame([(text,)], "t string")
        row = df.select(
            pii.email_hits("t").alias("e"),
            pii.simple_phone_hits("t").alias("sp"),
            pii.phone_hits("t").alias("p"),
            pii.cc_hits("t").alias("cc"),
            pii.iban_hits("t").alias("ib"),
            pii.has_pii("t").alias("hp"),
            pii.mask_pii("t").alias("masked"),
        ).collect()[0]
        assert row.e == len(re.findall(pii.EMAIL_RE, text))
        assert row.sp == len(re.findall(pii.SIMPLE_PHONE_RE, text))
        assert row.p == len(re.findall(pii.PHONE_RE, text))
        assert row.cc == len(re.findall(pii.CREDIT_CARD_RE, text))
        assert row.ib == len(re.findall(pii.IBAN_RE, text))
        assert row.hp is True
        expected = text
        for pat, repl in pii.MASK_ORDER:
            expected = re.sub(pat, repl, expected)
        assert row.masked == expected
        assert "<EMAIL>" in row.masked and "<IBAN>" in row.masked

    def test_null_input(self, spark):
        df = spark.createDataFrame([(None,)], "t string")
        row = df.select(
            pii.email_hits("t").alias("e"), pii.mask_pii("t").alias("m"), pii.has_pii("t").alias("h")
        ).collect()[0]
        assert row.e == 0 and row.m is None and row.h is False


class TestToxicity:
    def test_scores_match_reference(self, spark):
        cases = [
            "you are an idiot and a moron",
            "fuck shit damn",
            "kill murder stab shoot hurt",
            "a perfectly clean sentence about flowers",
            "",
            None,
        ]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "id long, t string")
        exprs = toxicity.toxicity_scores("t")
        rows = df.select("id", *[v.alias(k) for k, v in exprs.items()]).orderBy("id").collect()
        for row, text in zip(rows, cases):
            t = ("" if text is None else str(text)).lower()
            toks = re.findall(r"\w+", t)
            n = max(1, len(toks))
            counts = {
                name: sum(tok in set(lex) for tok in toks)
                for name, lex in toxicity.ALL_LEXICONS.items()
            }
            tox = min(1.0, sum(counts.values()) / n * 5.0)
            assert row.toxicity == pytest.approx(tox), repr(text)
            assert row.severe_toxicity == (1.0 if tox >= 0.9 else 0.0)
            assert row.insult == pytest.approx(min(1.0, counts["insult"] / n * 5.0))
            assert row.threat == pytest.approx(min(1.0, counts["threat"] / n * 5.0))
            assert row.identity_attack == pytest.approx(min(1.0, counts["slur"] / n * 5.0))
            assert row.sexual_explicit == pytest.approx(min(1.0, counts["sexual"] / n * 5.0))


class TestScoring:
    def test_length_score_piecewise(self, spark):
        cases = [0, 1, 10, 19, 20, 500, 1000, 1001, 2500, 4000, 9999]
        df = spark.createDataFrame([(c,) for c in cases], "tc long")
        rows = df.select("tc", scoring.length_score("tc").alias("ls")).collect()
        for row in rows:
            tc = row.tc
            if tc <= 0:
                exp = 0.0
            elif tc < 20:
                exp = tc / 20.0
            elif tc > 1000:
                capped = min(tc, 4000)
                exp = max(0.0, 1.0 - (capped - 1000) / 3000.0)
            else:
                exp = 1.0
            assert row.ls == pytest.approx(exp), tc

    def test_quality_score(self, spark):
        df = spark.createDataFrame(
            [(0.9, 100, 0.5, False), (0.5, 5, 1.0, True), (None, None, None, None)],
            "ls double, tc long, ur double, hp boolean",
        )
        rows = df.select(scoring.quality_score("ls", "tc", "ur", "hp").alias("q")).collect()
        assert rows[0].q == pytest.approx(0.4 * 0.9 + 0.3 * 1.0 + 0.2 * 0.5 + 0.1 * 1.0)
        assert rows[1].q == pytest.approx(0.4 * 0.5 + 0.3 * 0.25 + 0.2 * 1.0 + 0.1 * 0.0)
        assert rows[2].q == pytest.approx(0.1)  # all defaults: lang 0, len 0, uniq 0, no pii

    def test_model_quality_backends(self, spark):
        import math

        df = spark.createDataFrame(
            [(0.9, 0.8, 0.1, 200, False), (0.0, 0.2, 0.9, 3, True), (None, None, None, None, None)],
            "ls double, ar double, rr double, nw long, hp boolean",
        )
        const = df.select(
            scoring.model_quality_score(backend="constant").alias("q")
        ).collect()
        assert all(r.q == 0.5 for r in const)

        rows = df.select(
            scoring.model_quality_score(
                "ls", "ar", "rr", "nw", F.col("hp"), backend="logistic"
            ).alias("q")
        ).collect()
        w = scoring.MODEL_QUALITY_WEIGHTS
        for row, (ls, ar, rr, nw, hp) in zip(
            rows, [(0.9, 0.8, 0.1, 200, False), (0.0, 0.2, 0.9, 3, True), (0, 0, 0, 0, False)]
        ):
            length = min(1.0, math.log(1.0 + nw) / math.log(1001.0))
            z = (
                w["bias"] + w["alpha_ratio"] * ar + w["length"] * length
                + w["lang"] * ls + w["repetition_ratio"] * rr
                + w["pii"] * (1.0 if hp else 0.0)
            )
            assert row.q == pytest.approx(round(1.0 / (1.0 + math.exp(-z)), 6), abs=1e-6)
        # good doc scores higher than spammy doc
        assert rows[0].q > rows[1].q
        with pytest.raises(ValueError):
            scoring.model_quality_score(backend="nope")

    def test_model_quality_batch_matches_expression(self, spark):
        """The Arrow-batched inference path reproduces the Catalyst logistic
        exactly (same frozen weights) — proving the pluggable-model plumbing
        without model assets."""
        df = spark.createDataFrame(
            [
                (0.9, 0.8, 0.1, 200.0, False),
                (0.2, 0.5, 0.5, 50.0, True),
                (None, None, None, None, None),
            ],
            "lang_score double, alpha_ratio double, repetition_ratio double, "
            "n_words double, has_pii boolean",
        )
        expr = df.select(
            scoring.model_quality_score(
                "lang_score", "alpha_ratio", "repetition_ratio", "n_words",
                F.col("has_pii"),
            ).alias("q")
        ).collect()
        batch = scoring.model_quality_batch(
            df, ["lang_score", "alpha_ratio", "repetition_ratio", "n_words", "has_pii"]
        ).select("model_q").collect()
        for e, b in zip(expr, batch):
            assert b.model_q == pytest.approx(e.q, abs=1e-9)


class TestStructural:
    def test_strip_html(self, spark):
        df = spark.createDataFrame([("<p>Hello <b>bold</b></p>",)], "t string")
        row = df.select(structural.strip_html("t").alias("s")).collect()[0]
        assert row.s == " Hello  bold  "

    def test_boilerplate_removal(self, spark):
        text = "keep this line\nOur Cookie Policy applies\nAll Rights Reserved.\nand this too"
        df = spark.createDataFrame([(text,)], "t string")
        row = df.select(structural.remove_boilerplate_lines("t").alias("s")).collect()[0]
        assert row.s == "keep this line\nand this too"

    def test_repeated_chars(self, spark):
        df = spark.createDataFrame([("Sooooo goood!!!!! wow.... ha!!",)], "t string")
        row = df.select(structural.normalize_repeated_chars("t").alias("s")).collect()[0]
        s = re.sub(r"([!?.,])\1{2,}", r"\1\1", "Sooooo goood!!!!! wow.... ha!!")
        s = re.sub(r"(.)\1{3,}", r"\1\1\1", s)
        assert row.s == s
        assert row.s == "Sooo goood!! wow.. ha!!"

    def test_full_cleanup_matches_python(self, spark):
        texts = [t for t in TEXTS if t is not None]
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, t string")
        rows = df.select("id", structural.structural_cleanup("t").alias("s")).orderBy("id").collect()
        for row, text in zip(rows, texts):
            s = re.sub(r"<[^>]+>", " ", str(text))
            lines = s.splitlines()
            pat = re.compile(structural.BOILERPLATE_COMBINED)
            kept = [l for l in lines if not pat.search(l.lower())]
            s = "\n".join(kept).strip()
            s = re.sub(r"([!?.,])\1{2,}", r"\1\1", s)
            s = re.sub(r"(.)\1{3,}", r"\1\1\1", s)
            assert row.s == s, repr(text)


class TestHashing:
    def test_doc_id_sha1(self, spark):
        import hashlib

        df = spark.createDataFrame([("http://x", "body"), (None, "b")], "url string, text string")
        rows = df.select(hashing.make_doc_id("url", "text").alias("d")).collect()
        assert rows[0].d == hashlib.sha1("http://x||body".encode()).hexdigest()
        assert rows[1].d == hashlib.sha1("nan||b".encode()).hexdigest()

    def test_h64_portable_vs_duckdb(self, spark):
        import duckdb

        words = ["hello", "world", "", "Ünïcode"]
        df = spark.createDataFrame([(w,) for w in words], "w string")
        got = {r.w: r.h for r in df.select("w", hashing.h64("w").alias("h")).collect()}
        con = duckdb.connect()
        for w in words:
            expected = con.execute(
                "select cast(concat('0x', substr(md5(?),1,15)) as bigint)", [w]
            ).fetchone()[0]
            assert got[w] == expected, w

    def test_shingles(self, spark):
        df = spark.createDataFrame([("a b c d",), ("a b",), ("",)], "t string")
        rows = df.select(hashing.token_shingles("t", 3).alias("s")).collect()
        assert rows[0].s == ["a b c", "b c d"]
        assert rows[1].s == ["a b"]
        assert rows[2].s == []

    # A token array referenced inside a per-gram lambda is re-split for
    # every gram (no subexpression sharing in lambdas): quadratic in doc
    # length. Each builder must let-bind it, so the plan splits once.
    @pytest.mark.parametrize(
        "builder", ["token_shingles", "ngrams", "window_hashes", "adjacent_pairs"]
    )
    def test_ngram_builders_split_text_once(self, spark, builder):
        from llm_pretraining_data_pipeline_spark.functions import lm
        from llm_pretraining_data_pipeline_spark.operators import corpus

        toks = text_norm.ws_tokens(F.col("t"))
        expr = {
            "token_shingles": lambda: hashing.token_shingles("t", 3),
            "ngrams": lambda: corpus.ngrams(toks, 5),
            "window_hashes": lambda: corpus._window_hashes(toks, 5),
            "adjacent_pairs": lambda: lm._adjacent_pairs(toks),
        }[builder]()
        assert str(expr).count("split(") == 1, str(expr)

    @pytest.mark.parametrize("n", [1, 3])
    def test_ngram_builders_edge_values(self, spark, n):
        import hashlib

        from llm_pretraining_data_pipeline_spark.operators import corpus

        texts = [
            None, "", "solo", "a b", "a b c d",
            "x\u00a0y\u2003z\u3000w\x1cv", "the cat sat on the mat",
        ]
        df = spark.createDataFrame(list(enumerate(texts)), "i int, t string")
        toks = text_norm.ws_tokens(F.coalesce(F.col("t"), F.lit("")))
        rows = df.select(
            "i",
            hashing.token_shingles("t", n).alias("sh"),
            corpus.ngrams(toks, n).alias("ng"),
            corpus._window_hashes(toks, n).alias("wh"),
        ).orderBy("i").collect()
        for r, t in zip(rows, texts):
            words = (t or "").split()
            grams = [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]
            assert r.ng == grams, t
            assert r.wh == [
                int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams
            ], t
            # shorter-than-n texts shingle as their whole (re-joined) text
            whole = [" ".join(words)] if words else []
            assert r.sh == (grams if len(words) >= n else whole), t

    def test_minhash_signature_properties(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy dog"),
             (3, "completely different text with other words entirely here now")],
            "id long, t string",
        )
        sig = hashing.minhash_signature(hashing.token_shingles("t", 3), num_hashes=16)
        rows = df.select("id", sig.alias("sig")).orderBy("id").collect()
        assert rows[0].sig == rows[1].sig  # identical docs -> identical signatures
        assert rows[0].sig != rows[2].sig
        assert len(rows[0].sig) == 16

    def test_simhash_and_fingerprint_deterministic(self, spark):
        df = spark.createDataFrame([("hello world foo",), ("hello world foo",), ("bye",)], "t string")
        rows = df.select(
            hashing.simhash32("t").alias("sh"), hashing.rolling_fingerprint("t").alias("fp")
        ).collect()
        assert rows[0].sh == rows[1].sh
        assert rows[0].fp == rows[1].fp
        assert rows[0].fp != rows[2].fp
        assert 0 <= rows[0].sh < 2**32


class TestTokenizer:
    def test_regex_backend(self, spark):
        df = spark.createDataFrame([("Hello world, it's 42 degrees!",), (None,), ("",)], "t string")
        out = tokenizer.with_tokenisation(df, "t", backend="regex")
        rows = out.collect()
        pieces = re.findall(
            r"'s|'t|'re|'ve|'m|'ll|'d| ?[^\W\d_]+| ?\d+| ?[^\s\w]+|\s+(?!\S)|\s+",
            "Hello world, it's 42 degrees!",
        )
        assert rows[0].n_tokens == len(pieces)
        assert len(rows[0].input_ids) == rows[0].n_tokens
        assert all(0 <= i < tokenizer.GPT2_VOCAB_SIZE for i in rows[0].input_ids)
        assert rows[0].attention_mask == [1] * rows[0].n_tokens
        assert rows[1].n_tokens == 0 and rows[2].n_tokens == 0

    def test_explicit_backend_never_runs_hf(self, spark, monkeypatch):
        """With transformers importable, "regex" and "auto" without the full
        GPT-2 assets still give the regex ids and never run HF."""
        import warnings

        from llm_pretraining_data_pipeline_spark.functions import bpe

        def no_hf(*_a, **_k):
            raise AssertionError("hf_tokenize_map called")

        monkeypatch.setattr(tokenizer, "_hf_available", lambda: True)
        monkeypatch.setattr(tokenizer, "hf_tokenize_map", no_hf)
        monkeypatch.setattr(bpe, "find_gpt2_assets", lambda: None)
        df = spark.createDataFrame([("Hello world, it's 42 degrees!",)], "t string")
        expected = df.select(tokenizer.input_ids("t").alias("ids")).collect()[0].ids
        for backend in ("regex", "auto"):
            with warnings.catch_warnings():
                warnings.simplefilter("ignore")
                out = tokenizer.with_tokenisation(df, "t", backend=backend)
            assert out.collect()[0].input_ids == expected, backend


class TestFitLogisticWeights:
    """Distributed logistic trainer: numpy parity, learning, determinism."""

    def _data(self, spark, n=400):
        import numpy as np

        rng = np.random.RandomState(7)
        x1 = rng.uniform(0, 1, n)
        x2 = rng.uniform(0, 1, n)
        # separable-ish: label from 3*x1 - 2*x2 - 0.5 + noise
        z = 3.0 * x1 - 2.0 * x2 - 0.5 + rng.normal(0, 0.3, n)
        y = (z > 0).astype(float)
        rows = [(float(a), float(b2), float(c)) for a, b2, c in zip(x1, x2, y)]
        return rows, spark.createDataFrame(rows, "x1 double, x2 double, y double")

    def test_matches_numpy_replica_and_learns(self, spark):
        import math

        rows, df = self._data(spark)
        from llm_pretraining_data_pipeline_spark.functions.scoring import (
            fit_logistic_weights,
        )

        got = fit_logistic_weights(df, ["x1", "x2"], "y", n_iter=15, lr=1.0)

        # numpy replica with the identical update arithmetic (incl. rounding)
        import numpy as np

        X = np.array([[r[0], r[1]] for r in rows])
        Y = np.array([r[2] for r in rows])
        w = np.zeros(2)
        b = 0.0
        for _ in range(15):
            p = 1.0 / (1.0 + np.exp(-(X @ w + b)))
            err = p - Y
            b -= 1.0 * round(float(err.mean()), 9)
            for j in range(2):
                w[j] -= 1.0 * round(float((err * X[:, j]).mean()), 9)
        assert abs(got["bias"] - round(b, 9)) < 1e-7
        assert abs(got["x1"] - round(w[0], 9)) < 1e-7
        assert abs(got["x2"] - round(w[1], 9)) < 1e-7
        # learned the generating signs
        assert got["x1"] > 0.5 and got["x2"] < -0.2

    def test_deterministic_across_partitionings(self, spark):
        _, df = self._data(spark, n=200)
        from llm_pretraining_data_pipeline_spark.functions.scoring import (
            fit_logistic_weights,
        )

        a = fit_logistic_weights(df.repartition(1), ["x1", "x2"], "y", n_iter=5)
        b = fit_logistic_weights(df.repartition(13), ["x1", "x2"], "y", n_iter=5)
        assert a == b

    def test_empty_or_unlabeled_frame_raises_value_error(self, spark):
        # avg() over zero rows is null — must surface as a contract error,
        # not a bare TypeError from round(None) (round-5 ADVICE)
        import pytest

        from llm_pretraining_data_pipeline_spark.functions.scoring import (
            fit_logistic_weights,
        )

        empty = spark.createDataFrame([], "x1 double, x2 double, y double")
        with pytest.raises(ValueError, match="empty or"):
            fit_logistic_weights(empty, ["x1", "x2"], "y", n_iter=2)
        allnull = spark.createDataFrame(
            [(0.1, 0.2, None), (0.3, 0.4, None)], "x1 double, x2 double, y double"
        )
        with pytest.raises(ValueError, match="all-null"):
            fit_logistic_weights(allnull, ["x1", "x2"], "y", n_iter=2)

    def test_plugs_into_model_quality_score(self, spark):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.functions import scoring

        _, df = self._data(spark, n=100)
        trained = scoring.fit_logistic_weights(df, ["x1", "x2"], "y", n_iter=5)
        assert set(trained) == {"bias", "x1", "x2"}
        # the returned dict is literal-expression material: score a frame
        z = F.lit(trained["bias"]) + F.lit(trained["x1"]) * F.col("x1") + F.lit(
            trained["x2"]
        ) * F.col("x2")
        scored = df.select((F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("s"))
        vals = [r.s for r in scored.collect()]
        assert all(0.0 < v < 1.0 for v in vals)


class TestExtractLinks:
    def test_order_case_and_decoys(self, spark):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_links,
        )

        df = spark.createDataFrame(
            [
                (1, '<a HREF="http://a.com/x">one</a> mid '
                    '<a href="https://b.io/y?z=1">two</a>'),
                (2, "no links"),
                (3, None),
                (4, "<a href='http://single.com'>not matched</a>"),
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r.links
            for r in df.select(
                "doc_id", extract_links("text").alias("links")
            ).collect()
        }
        assert rows[1] == ["http://a.com/x", "https://b.io/y?z=1"]  # doc order
        assert rows[2] == [] and rows[3] == []
        assert rows[4] == []  # single-quoted href stays out by contract

    def test_lookalike_attributes_stay_out(self, spark):
        """ADVICE r6: attributes merely ENDING in href (data-href,
        xlink:href) and glued-on text must not collect; a true href at
        string start or after any whitespace still does."""
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_links,
        )

        df = spark.createDataFrame(
            [
                (1, '<b data-href="http://tracker.example/x">t</b>'),
                (2, '<u xlink:href="http://svg.example/y">s</u>'),
                (3, 'href="http://start.example/z"'),  # start of string
                (4, '<a\nhref="http://nl.example/w">n</a>'),  # newline sep
                (5, 'ahref="http://glued.example/v"'),  # glued text
            ],
            "doc_id long, text string",
        )
        rows = {
            r.doc_id: r.links
            for r in df.select(
                "doc_id", extract_links("text").alias("links")
            ).collect()
        }
        assert rows[1] == [] and rows[2] == [] and rows[5] == []
        assert rows[3] == ["http://start.example/z"]
        assert rows[4] == ["http://nl.example/w"]


class TestFixMojibake:
    def test_common_sequences_and_idempotence(self, spark):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            fix_mojibake,
        )

        cases = [
            ("CafÃ© â€” itâ€™s â€œquotedâ€¦ done", "Café — it’s “quoted… done"),
            ("StraÃŸe mÃ¼ller Ã±andÃº", "Straße müller ñandú"),
            ("Â«30Â°Â»", "«30°»"),
            ("plain ascii stays", "plain ascii stays"),
            ("already fixed é ’ …", "already fixed é ’ …"),
        ]
        df = spark.createDataFrame(
            [(i, a) for i, (a, _) in enumerate(cases)], "id long, t string"
        )
        rows = (
            df.select(
                "id",
                fix_mojibake("t").alias("once"),
                fix_mojibake(fix_mojibake("t")).alias("twice"),
            )
            .orderBy("id")
            .collect()
        )
        for r, (_, want) in zip(rows, cases):
            assert r.once == want
            assert r.twice == r.once  # idempotent

    def test_longest_first_ordering(self, spark):
        # 'â€¦' must not be half-eaten by any shorter rule
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            fix_mojibake,
        )

        df = spark.createDataFrame([("â€¦â€™â€œ",)], "t string")
        assert df.select(fix_mojibake("t").alias("v")).collect()[0].v == "…’“"


class TestMetaRobots:
    def test_attribute_orders_case_and_token_match(self, spark):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            has_noindex,
            meta_robots,
        )

        df = spark.createDataFrame(
            [
                (1, '<META name="robots" content="NOINDEX, nofollow">'),
                (2, '<meta content="index,follow" name="robots">'),
                (3, "no meta here"),
                (4, '<meta name="robots" content="none">'),
                (5, '<meta name="robots" content="noindexer">'),
            ],
            "doc_id long, t string",
        )
        rows = {
            r.doc_id: r
            for r in df.select(
                "doc_id",
                meta_robots("t").alias("robots"),
                has_noindex("t").alias("noindex"),
            ).collect()
        }
        assert rows[1].robots == "noindex, nofollow" and rows[1].noindex
        assert rows[2].robots == "index,follow" and not rows[2].noindex
        assert rows[3].robots == "" and not rows[3].noindex
        assert rows[4].noindex
        assert not rows[5].noindex  # token match, never substring


class TestMojibakeNestedLayers:
    def test_double_encoding_repairs_one_layer_per_pass(self, spark):
        # 'ÂÂ«' is mojibake OF mojibake: each pass peels one layer — the
        # documented (non-idempotent-on-nested-damage) contract
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            fix_mojibake,
        )

        df = spark.createDataFrame([("ÂÂ«",)], "t string")
        r = df.select(
            fix_mojibake("t").alias("once"),
            fix_mojibake(fix_mojibake("t")).alias("twice"),
        ).collect()[0]
        assert r.once == "Â«"   # one layer peeled
        assert r.twice == "«"        # fixed point after two


class TestHashedQualityModel:
    def test_training_learns_the_label_token(self, spark):
        """label = contains 'good': after GD the bucket 'good' hashes into
        must carry the most positive weight, and trained scores must
        separate positive from negative docs."""
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.functions import scoring
        from llm_pretraining_data_pipeline_spark.functions.hashing import h64

        rows = []
        for i in range(200):
            if i % 2 == 0:
                rows.append((i, f"good stuff here item{i % 7} extra", 1.0))
            else:
                rows.append((i, f"bad junk there item{i % 7} extra", 0.0))
        df = spark.createDataFrame(rows, "doc_id long, text string, label double")
        model = scoring.fit_hashed_logistic(
            df, "text", "label", n_buckets=32, n_iter=10, lr=2.0
        )
        bucket = df.select(
            (h64(F.lit("good")) % 32).alias("b")
        ).first()["b"]
        w = model["weights"]
        assert w[bucket] == max(w)
        scored = scoring.hashed_quality_score(
            df, "text", w, model["bias"]
        )
        avg = {
            int(r.label): r.s
            for r in scored.groupBy("label")
            .agg(F.avg("hashed_quality").alias("s"))
            .collect()
        }
        assert avg[1] > avg[0] + 0.05

    def test_score_edge_cases_and_bounds(self, spark):
        from llm_pretraining_data_pipeline_spark.functions import scoring

        df = spark.createDataFrame(
            [(1, None), (2, ""), (3, "word"), (4, "a b c d e")],
            "doc_id long, text string",
        )
        w = [0.5] * 32
        out = {
            r.doc_id: r.hashed_quality
            for r in scoring.hashed_quality_score(df, "text", w, 0.0).collect()
        }
        import math

        sig = lambda z: 1.0 / (1.0 + math.exp(-z))  # noqa: E731
        assert out[1] == out[2] == round(sig(0.0), 6)  # empty: z = bias
        # every token weighs 0.5, so z = 0.5 regardless of length
        assert out[3] == out[4] == round(sig(0.5), 6)
        assert all(0.0 <= v <= 1.0 for v in out.values())

    def test_empty_frame_raises(self, spark):
        import pytest

        from llm_pretraining_data_pipeline_spark.functions import scoring

        df = spark.createDataFrame([], "doc_id long, text string, label double")
        with pytest.raises(ValueError, match="empty"):
            scoring.fit_hashed_logistic(df, "text", "label", n_iter=1)


class TestCompositeQualityFilter:
    def test_first_match_wins_and_thresholds(self, spark):
        """f15's cascade order: word floor beats model score beats entropy;
        null reason = kept (engine-wide cascade contract)."""
        from llm_pretraining_data_pipeline_spark import queries_ext as QE
        from llm_pretraining_data_pipeline_spark.functions import scoring
        from llm_pretraining_data_pipeline_spark.operators import corpus as C
        from pyspark.sql import functions as F

        # doc 1: too short AND would fail entropy -> word floor wins
        # doc 2: long, low-entropy (one repeated token) -> entropy rule
        # doc 3: long, diverse -> kept or model_quality, never entropy
        df = spark.createDataFrame(
            [
                (1, "tiny doc"),
                (2, "same " * 40),
                (3, " ".join(f"w{i}" for i in range(60))),
            ],
            "doc_id long, text string",
        )
        scored = scoring.hashed_quality_score(
            df, "text", QE._H36_W, QE._H36_BIAS, out_col="model_score"
        ).withColumn(
            "n_words", F.size(scoring._hashed_toks("text")).cast("long")
        )
        ent = C.token_entropy(df).select("doc_id", "token_entropy")
        j = scored.join(ent, "doc_id", "left")
        reason = (
            F.when(F.col("n_words") < QE._F15_MIN_WORDS, F.lit("too_few_words"))
            .when(F.col("model_score") < QE._F15_MIN_SCORE, F.lit("model_quality"))
            .when(F.col("token_entropy") < QE._F15_MIN_ENTROPY, F.lit("low_entropy"))
        )
        out = {r.doc_id: r.r for r in j.select("doc_id", reason.alias("r")).collect()}
        assert out[1] == "too_few_words"
        assert out[2] == "low_entropy"
        assert out[3] in (None, "model_quality")


class TestMainContent:
    """extract_main_content (functions/structural.py): block classification."""

    HTML = (
        '<div class="nav"><a href="/">home</a> <a href="/x">about</a></div>'
        "<p>alpha bravo charlie delta echo foxtrot</p>"
        "<p>one two</p>"
        "<div>ok</div>"
        '<div class="footer"><a href="/tos">terms of service</a></div>'
    )

    def _mc(self, spark, html, **kw):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_main_content,
        )
        df = spark.createDataFrame([(1, html)], "doc_id long, text string")
        return df.select(
            extract_main_content("text", **kw).alias("mc")
        ).collect()[0]["mc"]

    def test_keeps_content_drops_nav_footer_short(self, spark):
        mc = self._mc(spark, self.HTML)
        assert mc["text"] == "alpha bravo charlie delta echo foxtrot"
        assert mc["n_blocks"] == 5 and mc["n_kept"] == 1

    def test_link_density_gate(self, spark):
        # long block, but almost all anchor text -> dropped
        linky = (
            "<p><a href='/a'>alpha bravo charlie delta</a> "
            "<a href='/b'>echo foxtrot golf hotel</a></p>"
        )
        mc = self._mc(spark, linky)
        assert mc["n_kept"] == 0
        # same words without anchors -> kept
        plain = "<p>alpha bravo charlie delta echo foxtrot golf hotel</p>"
        assert self._mc(spark, plain)["n_kept"] == 1

    def test_null_and_plain_text(self, spark):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_main_content,
        )
        df = spark.createDataFrame(
            [(1, None), (2, "five plain words right here")],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r["mc"]
            for r in df.select(
                "doc_id", extract_main_content("text").alias("mc")
            ).collect()
        }
        assert out[1]["text"] == "" and out[1]["n_blocks"] == 0
        assert out[2]["n_kept"] == 1  # no tags: whole text is one block

    def test_zero_shuffle_plan(self, spark):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_main_content,
        )
        df = spark.createDataFrame([(1, self.HTML)], "doc_id long, text string")
        plan = (
            df.select(extract_main_content("text").alias("mc"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Python" not in plan


    def test_nested_markup_anchors_still_counted(self, spark):
        # Styled links (<a><b>..</b></a>) must still register as anchor
        # text for the density gate (review finding: [^<]* captured '')
        linky = (
            "<p><a href='/x'><b>click here for more stories</b></a> "
            "<a href='/y'><span>subscribe to the newsletter now</span></a></p>"
        )
        assert self._mc(spark, linky)["n_kept"] == 0

    GOOD1 = "alpha bravo charlie delta echo foxtrot"
    GOOD2 = "golf hotel india juliet kilo lima"

    def test_smooth_keeps_short_between_good_neighbors(self, spark):
        # jusText good-neighbor rule: the short transition sentence
        # between two body paragraphs survives with smooth=True only
        html = (
            f"<p>{self.GOOD1}</p><p>short aside note</p><p>{self.GOOD2}</p>"
        )
        base = self._mc(spark, html)
        assert base["n_kept"] == 2 and "aside" not in base["text"]
        sm = self._mc(spark, html, smooth=True)
        assert sm["n_kept"] == 3
        assert sm["text"] == f"{self.GOOD1}\nshort aside note\n{self.GOOD2}"
        assert sm["n_blocks"] == base["n_blocks"] == 3

    def test_smooth_requires_both_neighbors_good(self, spark):
        # short block at the edge / next to a bad block stays dropped
        edge = f"<p>short aside note</p><p>{self.GOOD1}</p>"
        assert self._mc(spark, edge, smooth=True)["n_kept"] == 1
        bad_next = (
            f"<p>{self.GOOD1}</p><p>short aside note</p><p>nope</p>"
        )
        assert self._mc(spark, bad_next, smooth=True)["n_kept"] == 1

    def test_smooth_no_cascade(self, spark):
        # one pass, no fixpoint: a smoothed-in short block must NOT make
        # its own short neighbor good in turn
        html = (
            f"<p>{self.GOOD1}</p><p>tiny one</p><p>tiny two</p>"
            f"<p>{self.GOOD2}</p>"
        )
        sm = self._mc(spark, html, smooth=True)
        assert sm["n_kept"] == 2 and "tiny" not in sm["text"]

    def test_smooth_link_density_still_gates(self, spark):
        # a short LINK block between good neighbors is never reclassified
        html = (
            f"<p>{self.GOOD1}</p><p><a href='/m'>more</a></p>"
            f"<p>{self.GOOD2}</p>"
        )
        sm = self._mc(spark, html, smooth=True)
        assert sm["n_kept"] == 2 and "more" not in sm["text"]

    def test_smooth_plan_stays_jvm_and_shuffle_free(self, spark):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_main_content,
        )
        df = spark.createDataFrame([(1, self.HTML)], "doc_id long, text string")
        plan = (
            df.select(extract_main_content("text", smooth=True).alias("mc"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Python" not in plan


class TestDecodeHtmlEntities:
    """decode_html_entities (functions/structural.py): single-pass HTML5
    character-reference decoding — named, decimal, hex, invalids."""

    def _dec(self, spark, rows):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            decode_html_entities,
        )
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], "id long, t string"
        )
        out = df.select("id", decode_html_entities("t").alias("d")).collect()
        return [r["d"] for r in sorted(out, key=lambda r: r["id"])]

    def test_named_decimal_hex(self, spark):
        got = self._dec(spark, [
            "Fish &amp; Chips &lt;b&gt;x&lt;/b&gt;",
            "caf&eacute; &#233; &#xE9; &#XE9;",
            "price &euro;9 &pound;5 &frac12;",
        ])
        assert got == [
            "Fish & Chips <b>x</b>",
            "café é é é",
            "price €9 £5 ½",
        ]

    def test_single_pass_double_escapes(self, spark):
        # HTML5 tokenizer semantics: decoded output is never rescanned,
        # so '&amp;amp;' un-escapes exactly ONE level (the decoded '&'
        # plus the following 'amp;' must not recombine).
        got = self._dec(spark, ["&amp;amp; &amp;#65; &amp;lt;"])
        assert got == ["&amp; &#65; &lt;"]

    def test_invalid_codepoints_become_replacement(self, spark):
        # 0, UTF-16 surrogates, and > U+10FFFF are invalid numeric
        # references per HTML5 — all map to U+FFFD.
        got = self._dec(spark, ["&#0;|&#xD800;|&#1114112;"])
        assert got == ["�|�|�"]

    def test_unknown_and_bare_amp_pass_through(self, spark):
        got = self._dec(spark, [
            "&bogus; stays", "a&b&c", "id=1&q=2", "tail &",
        ])
        assert got == ["&bogus; stays", "a&b&c", "id=1&q=2", "tail &"]

    def test_astral_and_edges(self, spark):
        got = self._dec(spark, [
            "&#x1F600;+&#128169;",   # astral: chr() mod-256 cannot do this
            "&#65;start and end&#66;",
            "",
        ])
        assert got == ["😀+💩", "Astart and endB", ""]

    def test_zero_padded_and_huge_numeric_refs(self, spark):
        # HTML5 has NO digit-count limit: zero-padded refs decode, and
        # out-of-range values clamp to U+FFFD instead of passing through
        got = self._dec(spark, [
            "&#000000065;&#x00000041;",       # zero-padded → 'AA'
            "&#999999999999999999;",          # 18 digits, huge → U+FFFD
            "&#xFFFFFFFFFFFFFFF;",            # 15 hex digits → U+FFFD
        ])
        assert got == ["AA", "�", "�"]

    def test_null_passthrough(self, spark):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            decode_html_entities,
        )
        df = spark.createDataFrame([(1, None)], "id long, t string")
        assert df.select(
            decode_html_entities("t").alias("d")
        ).collect()[0]["d"] is None

    def test_case_sensitive_names(self, spark):
        got = self._dec(spark, ["&Eacute;&eacute;&EACUTE;"])
        assert got == ["Éé&EACUTE;"]

    def test_zero_shuffle_plan(self, spark):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            decode_html_entities,
        )
        df = spark.createDataFrame([(1, "x &amp; y")], "id long, t string")
        plan = (
            df.select(decode_html_entities("t").alias("d"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan and "Python" not in plan


class TestExtractAnchors:
    """functions/structural.py::extract_anchors — outlinks with cleaned
    anchor text (array<struct<href, anchor>>)."""

    def _run(self, spark, html):
        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_anchors,
        )

        df = spark.createDataFrame([(html,)], "html string")
        return [
            (r["href"], r["anchor"])
            for r in df.select(
                extract_anchors("html").alias("a")
            ).collect()[0]["a"]
        ]

    def test_basic_and_cleaning(self, spark):
        got = self._run(
            spark,
            '<a href="/x">Plain</a> mid '
            '<a href="https://h/d"><b>Bold</b>\n\t link </a>',
        )
        assert got == [("/x", "Plain"), ("https://h/d", "Bold link")]

    def test_case_attrs_and_decoys(self, spark):
        got = self._run(
            spark,
            '<A HREF="/up">Up</A>'
            "<a href='/single'>skip</a>"          # single-quoted: out
            '<a class="c" href="/y" rel="x">attrs</a>'
            '<b data-href="/fake">not a link</b>'
            # data-href inside an <a> must not be mistaken for href
            # (review finding: the boundary rule matches _HREF_RE)
            '<a href="/real" data-href="/tracked">Buy</a>'
            '<a data-href="/only" class="x">no real href</a>',
        )
        assert got == [("/up", "Up"), ("/y", "attrs"), ("/real", "Buy")]

    def test_null_and_empty(self, spark):
        assert self._run(spark, None) == []
        assert self._run(spark, "no links here") == []

    def test_empty_anchor_text(self, spark):
        assert self._run(spark, '<a href="/i"><img src="x"></a>') == [
            ("/i", "")
        ]


class TestScriptMix:
    def _run(self, spark, texts):
        from llm_pretraining_data_pipeline_spark.functions.metrics import (
            script_mix,
        )

        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i int, t string"
        )
        return {
            r["i"]: (r["n_letters"], r["dominant_script"], r["mix_ratio"])
            for r in df.select("i", script_mix("t").alias("m"))
            .select("i", "m.*").collect()
        }

    def test_single_and_mixed_scripts(self, spark):
        got = self._run(spark, [
            "hello world",            # pure latin
            "Привет мир",             # pure cyrillic
            "hello Привет",           # mixed: 5 latin + 6 cyrillic
            "你好世界",                # han
        ])
        assert got[0] == (10, "latin", 0.0)
        assert got[1] == (9, "cyrillic", 0.0)
        n, dom, mix = got[2]
        assert (n, dom) == (11, "cyrillic") and abs(mix - 5 / 11) < 1e-6
        assert got[3] == (4, "han", 0.0)

    def test_edge_cases(self, spark):
        got = self._run(spark, [
            "", "123 !!", None,
            "ทดสอบ",  # Thai: letters outside the tracked set
        ])
        assert got[0] == (0, None, 0.0)
        assert got[1] == (0, None, 0.0)
        assert got[2] == (0, None, 0.0)
        # untracked script: letters counted, no dominant, full mixing
        assert got[3] == (5, None, 1.0)

    def test_abugida_marks_never_inflate_counts(self, spark):
        # ADVICE r12: \p{IsDevanagari} includes Mc/Mn vowel signs and
        # the virama, which are NOT \p{L}; a raw per-script count would
        # exceed n_letters and drive mix_ratio negative. The letters-only
        # projection makes single-script Hindi score exactly 0.
        got = self._run(spark, [
            "नमस्ते",            # 4 letters + virama + matra (both Mn)
            "नमस्ते hello",      # mixed: 4 devanagari + 5 latin letters
            "१२३ नमस्ते",        # script digits (Nd) must not count
        ])
        assert got[0] == (4, "devanagari", 0.0)
        # 5 latin letters beat 4 devanagari LETTERS (raw property count
        # would be 6 devanagari codepoints and flip the dominant script)
        n, dom, mix = got[1]
        assert (n, dom) == (9, "latin") and abs(mix - 4 / 9) < 1e-6
        assert got[2] == (4, "devanagari", 0.0)
