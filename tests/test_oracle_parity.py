"""Every registered query must match its DuckDB oracle (the driver's
correctness gate, replicated locally at sf0.001 for speed — the driver runs
the same comparison at sf0.01)."""

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)


@pytest.mark.slowtier  # ~9 min full-registry replay; `pytest -m slowtier`
def test_all_queries_match_oracle(spark, sf_dir):
    from check_oracle import run_checks

    results = run_checks(sf_dir=sf_dir, spark=spark, verbose=False)
    failures = [
        f"{name}: {status} {detail}"
        for name, status, _, detail in results
        if status not in ("OK", "ROWS_ONLY")
    ]
    assert not failures, "\n".join(failures)
    n_ok = sum(1 for r in results if r[1] == "OK")
    assert n_ok >= 50  # guard against silently shrinking oracle coverage


# the stored MinHash-LSH index family: every query that writes, reads,
# merges or deletes from an index, batch and streaming — oracle-checked
# in the default tier so an index change never waits for the replay
STORED_INDEX_FAMILY = [
    "d23_near_index", "d24_pruned_index", "d25_index_merge",
    "d27_split_selective", "d28_index_delete", "ev_stream_near_index",
    "ev_stream_near_stored",
]


def _assert_family_matches_oracle(spark, sf_dir, names):
    from check_oracle import run_checks

    results = run_checks(names=names, sf_dir=sf_dir, spark=spark, verbose=False)
    assert [r[0] for r in results] == names
    failures = [
        f"{name}: {status} {detail}"
        for name, status, _, detail in results
        if status != "OK"
    ]
    assert not failures, "\n".join(failures)


def test_stored_index_family_matches_oracle(spark, sf_dir):
    _assert_family_matches_oracle(spark, sf_dir, STORED_INDEX_FAMILY)


# the Catalyst n-gram builders (token_shingles, corpus.ngrams, the
# span-dedup window hash): verify, containment, winnowing and the
# repetition / cross-doc / span signals built on them. d08 and d17 stay
# in the slowtier replay: their DuckDB MinHash oracles take ~35-40 s
# each even at sf0.001.
NGRAM_FAMILY = [
    "d04_ngram_jaccard_pairs", "d16_containment_pairs", "d21_winnowing",
    "corp_rep_signals", "corp_cross_dup_ngrams", "corp_span_dedup",
]


def test_ngram_family_matches_oracle(spark, sf_dir):
    _assert_family_matches_oracle(spark, sf_dir, NGRAM_FAMILY)


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"outcome", "cnt", "avg_quality", "total_tokens"} <= set(df.columns)
    kept = [r for r in rows if r.outcome.startswith("kept:")]
    assert kept, "flagship pipeline kept no documents"
