"""End-to-end pipeline test on a synthetic corpus embedding every
drop_reason trigger (FIXTURES.md §1) — asserts the drop-reason histogram and
stage counts, the reference's own observability contract (SURVEY.md §5)."""

import pytest
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.operators.aggregates import (
    drop_reason_counts,
    keep_drop_summary,
)
from llm_pretraining_data_pipeline_spark.plans import pipeline as P

# English filler that passes every filter: high stopword-profile hits for the
# lang heuristic, low repetition, alpha-heavy, >=10 tokens.
GOOD = (
    "the old river was quiet and the boats moved slowly past the village "
    "while they watched from the bridge in the warm evening light"
)
GOOD2 = (
    "this is a short story about the people that lived near the harbour and "
    "the ships they sailed to distant lands with cargo of spice and silk"
)
# Five distinct sentences, >500 canonical chars total (shared near-dup prefix;
# varied vocabulary keeps repetition_ratio under the 0.8 cut).
LONG_PREFIX = (
    "the merchants travelled from the north with wool and amber for the winter fairs "
    "and they bartered sharply in the crowded halls of the guild "
    "the caravan masters counted silver coins beneath oil lamps while scribes recorded "
    "every bale and barrel in heavy leather ledgers "
    "from the harbour came sailors with tales of storms near the cape and cargoes lost "
    "to reefs uncharted on any map "
    "the city watch doubled its patrols during market season because pickpockets "
    "followed wealth as gulls follow fishing boats "
    "when the first snow closed the mountain passes the traders settled their accounts "
    "and departed south along the old stone road"
)

CORPUS = [
    # (url, text, expected_drop_reason or None)
    # A doc dropped for its URL whose text duplicates a later kept doc: the
    # kept doc must NOT be marked duplicate (reference dedups kept rows only).
    ("http://spam/ads/0", GOOD2, "blocked_url"),
    ("http://ok/1", GOOD, None),
    ("http://ok/2", GOOD2, None),
    ("http://ok/3", None, "missing"),
    ("http://ok/4", "\x00\x01\x02   ", "empty_after_clean"),
    ("http://ok/5", "null value", "null_like"),
    ("http://ok/6", "123-45.678-90.123456", "numeric_like"),
    ("http://ok/7", "tiny text", "too_short_chars"),
    ("http://ok/8", "supercalifragilisticexpialidocious", "too_short_words"),
    ("http://ok/9", "word " + "x" * 100_001, "too_long"),
    ("http://de/1", "der alte mann ist mit dem hund durch die stadt gegangen und "
     "der regen war nicht kalt für die jahreszeit", "non_english"),
    # Unspaced CJK is a single "word": the prefilter fires first, exactly as
    # the reference's rule order does.
    ("http://zh/1", "这是一个中文文档的测试文本内容它包含了很多汉字字符", "too_short_words"),
    # Majority non-ASCII letters but English-profiled stopwords -> lang=en
    # passes, then the non-Latin-heavy rule fires.
    ("http://zh/2", "the 中文字符 the 漢字測試 the 中文内容 the 漢字字符", "non_latin_heavy"),
    # No function words at all -> no profile scores -> unk.
    ("http://ok/10", "@@@ ### $$$ %%% ^^^ &&& *** ((( ))) ___ +++ === [[[ ]]] {{{ }}}",
     "lang_unknown"),
    # Jargon-dense text with one stopword: detected en but at ~0.73, below
    # min_lang_conf=0.8. (The previous fixture text here was fluent English
    # with few stopwords; trigram evidence now correctly lifts it above the
    # bar — it lives on as kept row http://ok/21 below.)
    ("http://ok/11", "the quantum flux manifold tensor entropy vector "
     "eigenvalue matrix gradient spectrum decay", "low_lang_confidence"),
    ("http://ok/12", "the supercalifragilistic expialidocious extraordinarily",
     "too_short"),  # 4 words (< 5), but >= 20 chars so the prefilter passes
    ("http://ok/13", "the ::: the ;;; the !!! the ??? the %%% the ^^^ the &&& the ***",
     "low_alpha_ratio"),
    ("http://spam/ads/1", GOOD + " advertising banner", "blocked_url"),
    ("http://ok/14",
     " ".join(f"the report{i}@corp.com and call the 555-1234-{i:04d} now" for i in range(12)),
     "pii_heavy"),
    ("http://ok/15", "you are the stupid idiot and the moron loser of the dumb "
     "bastard asshole shit fuck damn crew", "high_toxicity"),
    ("http://ok/16", "the the the the the the the the the the the word other",
     "repetitive_token_spam"),
    # Unique via elongated tails pre-cleanup (repetition_ratio low), collapsed
    # by normalize_repeated_chars -> only 7 distinct deep-clean tokens.
    ("http://ok/17",
     " ".join(f"the {w}{'o' * (4 + j)}" for j in range(6)
              for w in ["alpha", "brav", "chin", "delta", "fxtr", "glf"]),
     "low_unique_token_ratio"),
    ("http://ok/18", "the a an and or of to in for on at is it this that",
     "high_stopword_ratio"),
    ("http://dup/1", GOOD + " with one extra tail sentence about the harbour", None),
    ("http://dup/2", GOOD + " with one extra tail sentence about the harbour",
     "exact_duplicate"),
    ("http://near/1", LONG_PREFIX + " first unique ending with more words", None),
    ("http://near/2", LONG_PREFIX + " second distinct ending entirely other words",
     "near_duplicate"),
    # Fluent English with only one distinct stopword: the round-1 stopword-only
    # detector under-rated this (low_lang_confidence); trigram evidence now
    # correctly keeps it.
    ("http://ok/21", "the peculiar wanderers assembled quietly beneath ancient "
     "twisted branches yesterday evening", None),
    ("http://ok/19", "the cats sat near the warm fire", "too_few_tokens"),
    ("http://ok/20",
     " ".join(("the" if i % 3 == 0 else f"storyword{i}") for i in range(2600)),
     "too_many_tokens"),
]


@pytest.fixture(scope="module")
def result(spark):
    raw = spark.createDataFrame(
        [(u, t) for u, t, _ in CORPUS], "url string, text string"
    )
    cfg = P.PipelineConfig(use_nfkc=False)  # corpus is plain; NFKC is identity on it
    out = P.run_pipeline(raw, cfg).cache()
    yield out
    out.unpersist()


def test_run_pipeline_plan_round_trips(spark, monkeypatch):
    """Building the pipeline's plan (no job) takes at most 2,500 py4j
    round trips (~2,200 measured) and creates at most 70 DataFrames (64
    measured). With PySpark's call-site capture on, every Column call
    pays about 5 more round trips and the same plan takes ~5,000. Each
    DataFrame is one analysis of the growing plan: a stage adds its
    columns in one ``withColumns`` per dependency step, where one
    ``withColumn`` per column made 134. A fresh process state is
    simulated: the capture flag is read anew from the session. py4j's
    object releases are not counted: how many fall inside the build
    depends on when objects made before it die."""
    from py4j import protocol as proto
    from py4j.clientserver import ClientServerConnection
    from pyspark.errors import utils
    from pyspark.sql.classic.dataframe import DataFrame

    from llm_pretraining_data_pipeline_spark.session import get_spark

    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    get_spark()
    raw = spark.createDataFrame(
        [(u, t) for u, t, _ in CORPUS], "url string, text string"
    )
    calls = []
    send = ClientServerConnection.send_command

    def counted(self, command):
        if not command.startswith(proto.MEMORY_COMMAND_NAME):
            calls.append(1)
        return send(self, command)

    frames = []
    init = DataFrame.__init__

    def counted_init(self, *args, **kwargs):
        frames.append(1)
        init(self, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    monkeypatch.setattr(DataFrame, "__init__", counted_init)
    P.run_pipeline(raw, P.PipelineConfig())
    monkeypatch.undo()
    assert len(calls) <= 2500, len(calls)
    assert len(frames) <= 70, len(frames)


def test_ingest_spreads_one_split_input(spark, tmp_path, monkeypatch):
    """A one-split input leaves ingest dealt over defaultParallelism
    partitions, with exactly the doc_id and row_order of the unspread
    ingest (row_order is fixed on the scan's split, before the spread)."""
    import json

    from llm_pretraining_data_pipeline_spark.sources import io as src

    path = tmp_path / "in.jsonl"
    path.write_text("".join(json.dumps({"url": u, "text": t}) + "\n" for u, t, _ in CORPUS))
    raw = src.read_jsonl(spark, str(path))
    assert raw.rdd.getNumPartitions() == 1
    spread = P.ingest(raw)
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    monkeypatch.setattr(P, "spread_small_input", lambda df: df)
    unspread = P.ingest(raw)
    assert unspread.rdd.getNumPartitions() == 1

    def ids(df):
        return sorted(tuple(r) for r in df.select("row_order", "doc_id").collect())

    assert ids(spread) == ids(unspread)
    assert [r[0] for r in ids(spread)] == list(range(len(CORPUS)))


class TestPipelineE2E:
    def test_every_expected_drop_reason(self, result):
        got = {r.url: r.drop_reason for r in result.select("url", "drop_reason").collect()}
        for url, text, expected in CORPUS:
            assert got[url] == expected, f"{url}: expected {expected}, got {got[url]}"

    def test_histogram_matches(self, result):
        hist = {r.drop_reason: r["count"] for r in drop_reason_counts(result).collect()}
        expected = {}
        for _, _, reason in CORPUS:
            if reason:
                expected[reason] = expected.get(reason, 0) + 1
        assert hist == expected

    def test_keep_drop_summary(self, result):
        row = keep_drop_summary(result).collect()[0]
        n_kept = sum(1 for _, _, r in CORPUS if r is None)
        assert row.input_rows == len(CORPUS)
        assert row.kept_rows == n_kept
        assert row.dropped_rows == len(CORPUS) - n_kept

    def test_kept_rows_fully_populated(self, result):
        for r in P.kept(result).collect():
            assert r.doc_id is not None
            assert r.text_pii_masked
            assert r.quality_score is not None and 0 <= r.quality_score <= 1
            assert r.subset in ("high_quality", "rest")
            assert r.n_tokens >= 10
            assert r.input_ids is not None and len(r.input_ids) == r.n_tokens

    def test_pii_masking_on_kept_path(self, spark):
        raw = spark.createDataFrame(
            [("http://x", "the contact address of the office is info@example.org and "
              "they answer the phone at +44 20 7946 0958 during the day for the callers")],
            "url string, text string",
        )
        out = P.run_pipeline(raw, P.PipelineConfig(use_nfkc=False))
        row = out.collect()[0]
        assert "<EMAIL>" in row.text_pii_masked
        assert "<PHONE>" in row.text_pii_masked
        assert row.has_pii
        assert row.pii_email_hits == 1

    def test_dup_lineage(self, result):
        rows = {r.url: r for r in result.collect()}
        dup = rows["http://dup/2"]
        canon = rows["http://dup/1"]
        assert dup.dup_of == canon.doc_id
        near = rows["http://near/2"]
        near_canon = rows["http://near/1"]
        assert near.dup_of == near_canon.doc_id

    def test_lazy_single_plan(self, spark):
        """The composed pipeline stays lazy: building it triggers no jobs."""
        raw = spark.createDataFrame([("u", GOOD)], "url string, text string")
        tracker = spark.sparkContext.statusTracker()
        before = tracker.getJobIdsForGroup(None)
        P.run_pipeline(raw, P.PipelineConfig(use_nfkc=False))
        after = tracker.getJobIdsForGroup(None)
        assert before == after


MH_TAIL = " and the boats were resting"


class TestMinhashStage:
    """Optional stage 5b: MinHash-LSH near dedup (use_minhash_dedup)."""

    def test_minhash_duplicate_fires(self, spark):
        # GOOD vs GOOD+tail: not exact dups, shared-shingle Jaccard ~0.87 —
        # only the minhash stage can catch them (prefix near-dup needs 200+
        # chars AND an identical prefix window).
        raw = spark.createDataFrame(
            [("http://mh/1", GOOD), ("http://mh/2", GOOD + MH_TAIL),
             ("http://ok/x", GOOD2)],
            "url string, text string",
        )
        cfg = P.PipelineConfig(use_nfkc=False, use_minhash_dedup=True,
                               minhash_jaccard=0.7)
        out = P.run_pipeline(raw, cfg)
        rows = {r.url: r for r in out.collect()}
        pair = [rows["http://mh/1"], rows["http://mh/2"]]
        dropped = [r for r in pair if r.drop_reason == "minhash_duplicate"]
        kept_members = [r for r in pair if r.drop_reason is None]
        assert len(dropped) == 1 and len(kept_members) == 1
        assert dropped[0].is_dup_minhash
        assert dropped[0].dup_of == kept_members[0].doc_id
        assert rows["http://ok/x"].drop_reason is None
        assert not rows["http://ok/x"].is_dup_minhash

    def test_dropped_rows_not_canonical_or_marked(self, spark):
        # A blocked-url doc with near-identical text is outside the minhash
        # universe: the kept twin stays kept (reference boundary semantics).
        raw = spark.createDataFrame(
            [("http://spam/ads/x", GOOD), ("http://mh/3", GOOD + MH_TAIL)],
            "url string, text string",
        )
        cfg = P.PipelineConfig(use_nfkc=False, use_minhash_dedup=True,
                               minhash_jaccard=0.7)
        out = P.run_pipeline(raw, cfg)
        rows = {r.url: r for r in out.collect()}
        assert rows["http://spam/ads/x"].drop_reason == "blocked_url"
        assert rows["http://mh/3"].drop_reason is None

    def test_off_by_default_no_column(self, result):
        assert "is_dup_minhash" not in result.columns


def test_run_pipeline_observed_single_pass_metrics(spark):
    """Observation metrics must match a separate aggregation, but arrive
    from the ONE action the caller already runs (no second job)."""
    from llm_pretraining_data_pipeline_spark.plans import pipeline as P

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    raw = docs.select(
        F.concat(F.lit("http://obs/"), F.col("doc_id")).alias("url"), "text"
    )
    cfg = P.PipelineConfig(use_nfkc=False, apply_lang_filter=False)
    observed, obs = P.run_pipeline_observed(raw, cfg)
    n = observed.count()  # the single action
    m = obs.get
    assert m["n_rows"] == n
    assert m["n_kept"] + m["n_dropped"] == n
    ref = P.run_pipeline(raw, cfg)
    assert m["n_kept"] == ref.filter(F.col("drop_reason").isNull()).count()
    toks = (
        ref.filter(F.col("drop_reason").isNull())
        .agg(F.sum("n_tokens"))
        .collect()[0][0]
    )
    assert m["total_tokens_kept"] == (toks or 0)
