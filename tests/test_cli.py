"""The run_pipeline CLI (the engine's `python run_pipeline.py` equivalent),
driven in-process against a real JSONL corpus."""

import json
import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)


def test_cli_end_to_end(spark, tmp_path, capsys, monkeypatch):
    import run_pipeline as cli

    src_path = tmp_path / "input.jsonl"
    docs = [
        {"url": f"http://t/{i}",
         "text": f"the story number {i} tells of the river and the boats that "
                 f"sailed past the village in the warm evening light of summer"}
        for i in range(40)
    ]
    docs.append({"url": "http://t/short", "text": "tiny"})
    src_path.write_text("\n".join(json.dumps(d) for d in docs))
    out = tmp_path / "out"

    monkeypatch.setattr(
        sys, "argv",
        ["run_pipeline.py", "--input", str(src_path), "--out", str(out),
         "--no-nfkc", "--no-lang-filter", "--docs-per-shard", "10"],
    )
    assert cli.main() == 0
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert line["input_docs"] == 41
    assert line["kept_docs"] == 40  # "tiny" -> too_short_chars
    assert line["num_shards"] == 4

    assert (out / "manifest.json").exists()
    summary = json.load(open(out / "metrics_summary.json"))
    assert summary["docs"]["kept"] == 40
    assert summary["drop_reasons"] == {"too_short_chars": 1}
    final = spark.read.parquet(str(out / "final.parquet"))
    assert final.count() == 41


def test_cli_hashed_shards(spark, tmp_path):
    """--hashed-shards N routes the training export through hash sharding:
    shard dirs are pmod(crc32(id), N) buckets and the manifest still adds
    up; no global-order window constrains the write."""
    import json
    import os

    from llm_pretraining_data_pipeline_spark import cli

    inp = tmp_path / "in.jsonl"
    with open(inp, "w") as f:
        for i in range(120):
            f.write(json.dumps({
                "url": f"http://t/{i}",
                "text": ("the quick brown fox jumps over the lazy dog "
                         f"variant {i} with enough words to survive " * 3),
            }) + "\n")
    out = tmp_path / "out"
    rc = cli.main([
        "--input", str(inp), "--out", str(out),
        "--no-lang-filter", "--hashed-shards", "4",
    ])
    assert rc == 0
    with open(out / "manifest.json") as f:
        man = json.load(f)
    shard_dirs = [d for d in os.listdir(out / "train_shards")
                  if d.startswith("shard_id=")]
    assert 1 <= len(shard_dirs) <= 4
    assert man["total_docs"] == sum(s["num_docs"] for s in man["shards"])
    assert {int(d.split("=")[1]) for d in shard_dirs} <= {0, 1, 2, 3}


def _write_docs(path, docs):
    path.write_text("".join(json.dumps({"url": u, "text": t}) + "\n" for u, t in docs))


_STORY = ("the story number {} tells of the river and the boats that sailed "
          "past the village in the warm evening light of summer")


def test_cli_drop_reason_csv_matches_counts(spark, tmp_path):
    """drop_reason_counts.csv, written from the summary's counts, has the
    bytes drop_reason_counts() gives over final.parquet: the same header,
    rows and count-descending, then-name order (ties included)."""
    from llm_pretraining_data_pipeline_spark import cli
    from llm_pretraining_data_pipeline_spark.operators.aggregates import (
        drop_reason_counts,
    )
    from llm_pretraining_data_pipeline_spark.sources.io import write_csv_report

    docs = [(f"http://t/{i}", _STORY.format(i)) for i in range(20)]
    docs += [(f"http://dup/{i}", _STORY.format(0)) for i in range(3)]  # exact_duplicate
    docs += [(f"http://short/{i}", "tiny") for i in range(3)]  # too_short_chars
    docs += [("http://num/0", "1234.5678")]  # numeric_like
    _write_docs(tmp_path / "in.jsonl", docs)
    out = tmp_path / "out"
    assert cli.main(["--input", str(tmp_path / "in.jsonl"), "--out", str(out),
                     "--no-nfkc", "--no-lang-filter"]) == 0
    final = spark.read.parquet(str(out / "final.parquet"))
    write_csv_report(drop_reason_counts(final), str(tmp_path / "expected.csv"))

    def csv_bytes(d):
        (name,) = [f for f in os.listdir(d) if f.endswith(".csv")]
        return open(os.path.join(d, name), "rb").read()

    got = csv_bytes(out / "drop_reason_counts.csv")
    assert got == csv_bytes(tmp_path / "expected.csv")
    assert got.decode().splitlines() == [
        "drop_reason,count", "exact_duplicate,3", "too_short_chars,3", "numeric_like,1",
    ]


def test_cli_rerun_on_same_path_reads_new_input(spark, tmp_path, codegen_compiles):
    """The CLI frees its cached result: a second run over the same input
    path in the same JVM, after the file changed, sees the new rows. The
    second run reuses the first's generated code: only the classes that
    inline the run's ``ingest_ts`` literal are compiled again (about 50
    with Spark's 100-entry codegen cache)."""
    from llm_pretraining_data_pipeline_spark import cli

    inp, out = tmp_path / "in.jsonl", tmp_path / "out"
    args = ["--input", str(inp), "--out", str(out), "--no-nfkc", "--no-lang-filter"]
    compiled = []
    for n in (12, 7):
        _write_docs(inp, [(f"http://t/{i}", _STORY.format(i)) for i in range(n)])
        before = codegen_compiles()
        assert cli.main(args) == 0
        compiled.append(codegen_compiles() - before)
        with open(out / "metrics_summary.json") as f:
            assert json.load(f)["docs"]["input"] == n
    assert compiled[1] <= 3, compiled
