"""Self-tests of the benchmark (not part of the package's test suite).

    python3 -m pytest perfbench -q

The smoke runs start a JVM per workload and take about a minute each.
"""

from __future__ import annotations

import collections
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, run, workloads  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _bytes(rows: list[dict]) -> bytes:
    return "".join(json.dumps(r, ensure_ascii=False, sort_keys=True) + "\n" for r in rows).encode()


@pytest.mark.parametrize("seed", [1, 2])
def test_generator_is_deterministic_with_fixed_label_counts(seed):
    pages, labels = corpus.pipeline_pages(seed, workloads.CLI_PAGES)
    again, again_labels = corpus.pipeline_pages(seed, workloads.CLI_PAGES)
    assert _bytes(pages) == _bytes(again) and _bytes(labels) == _bytes(again_labels)
    assert _bytes(pages) != _bytes(corpus.pipeline_pages(seed + 1, workloads.CLI_PAGES)[0])
    counts = collections.Counter(lab["category"] for lab in labels)
    assert counts == {
        "en": 788, "de": 72, "fr": 72, "zh": 48, "en_pii": 48,
        "exact_duplicate": 30, "near_duplicate": 30, "too_short_chars": 18,
        "low_alpha_ratio": 18, "high_repetition": 18, "repetitive_token_spam": 18,
        "pii_heavy": 18, "blocked_url": 18, "too_long": 4,
    }
    order = {lab["url"]: i for i, lab in enumerate(labels)}
    for i, lab in enumerate(labels):
        if lab["source"] is not None:
            assert order[lab["source"]] < i

    sizes = (workloads.INDEX_BASE_DOCS, workloads.INDEX_BATCH_DOCS)
    base, batch, blabels = corpus.index_corpora(seed, *sizes)
    again = corpus.index_corpora(seed, *sizes)
    assert _bytes(base + batch + blabels) == _bytes(again[0] + again[1] + again[2])
    assert collections.Counter(lab["category"] for lab in blabels) == {
        "fresh": 175, "near_copy": 50, "batch_copy": 25,
    }
    rates = collections.Counter(lab["edit_rate"] for lab in blabels if lab["source"])
    assert set(rates) == set(corpus.NEAR_COPY_RATES)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert declared_e2e == run.END_TO_END
    assert declared_layer == run.PER_LAYER
    for name in list(declared_e2e) + list(declared_layer):
        assert NAME.match(name), name
    assert {w["name"] for w in spec["workloads"]} == {"pipeline_cli", "index_nightly"}
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert (setup["unit"], setup["better"]) == ("s", "lower")
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


@pytest.mark.parametrize("workload", ["pipeline_cli", "index_nightly"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    want = run.PER_LAYER if trace else run.END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    work = os.path.join(ROOT, ".bench_work")
    assert not os.path.isdir(work) or not any(d.startswith(workload) for d in os.listdir(work))


def test_refuses_to_run_outside_a_checkout(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload",
         "pipeline_cli", "--seed", "1", "--seconds", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
