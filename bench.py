#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": "suite_seconds", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The suite covers each engine subsystem at its heaviest available scale:
the full 8-stage document pipeline (corpus replicated $BENCH_PIPELINE_COPIES
times, default 100x = 500k docs at sf0.1, so dedup sees real duplicate volume
and throughput is comparable to the
reference's 241k-doc / 38 docs/s baseline in BASELINE.md), the TPC-H-ish
join/agg/window surface on 600k lineitem, event sessionization/windows on
100k events, MinHash-LSH near-dup, and embedding kNN.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
PIPELINE_COPIES = int(os.environ.get("BENCH_PIPELINE_COPIES", "100"))
# light queries run this many times; "queries" reports the MEDIAN and
# "queries_first_run" the cold first shot (round-4 adjudication: single-shot
# numbers read up to ~2.5x high on first-touch I/O, making round-over-round
# comparison noisy at the 1-3 s scale)
REPEATS = max(1, int(os.environ.get("BENCH_REPEATS", "3")))


def _bench_http_msg(body: bytes, coding: int, status: bytes = b"200 OK") -> bytes:
    """Shared HTTP-message framing for the WARC-wrapped bench fixtures
    (warc_http_e2e + crawl_to_corpus_e2e — one place to fix framing):
    coding 0 = chunked in two, 1 = gzip, else plain Content-Length."""
    import gzip as _gzip

    head = b"HTTP/1.1 " + status + b"\r\nContent-Type: text/html\r\n"
    if coding == 0:
        half = len(body) // 2
        chunks = [c for c in (body[:half], body[half:]) if c]
        cb = b"".join(
            b"%X\r\n" % len(c) + c + b"\r\n" for c in chunks
        ) + b"0\r\n\r\n"
        return head + b"Transfer-Encoding: chunked\r\n\r\n" + cb
    if coding == 1:
        return (
            head + b"Content-Encoding: gzip\r\n\r\n"
            + _gzip.compress(body, mtime=0)
        )
    return head + b"Content-Length: %d\r\n\r\n" % len(body) + body


def main() -> int:
    from pyspark.sql import functions as F

    from llm_pretraining_data_pipeline_spark.operators import dedup as dedup_ops
    from llm_pretraining_data_pipeline_spark.operators import similarity
    from llm_pretraining_data_pipeline_spark.plans import pipeline as P
    from llm_pretraining_data_pipeline_spark.queries import QUERIES
    from llm_pretraining_data_pipeline_spark import queries_corpus  # noqa: F401
    from llm_pretraining_data_pipeline_spark import queries_rel  # noqa: F401
    from llm_pretraining_data_pipeline_spark.session import get_spark
    from llm_pretraining_data_pipeline_spark.sources import io as src

    # showConsoleProgress OFF: the driver parses the LAST stdout line as
    # JSON; Spark's carriage-return progress bars can land in the same
    # tail window and truncate the capture mid-JSON (BENCH_r09 lesson —
    # "parsed": null with the numbers surviving only in the tail string).
    spark = get_spark(
        app_name="bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}
    meta: dict[str, float] = {}

    def timed(name: str, fn):
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        return out

    def timed_median(name: str, fn):
        """REPEATS runs; median goes to ``timings`` (regression-triage
        stable), the cold first shot to ``first_run`` (I/O-inclusive).
        Used for the light/mid queries only — the two pipeline jobs stay
        single-shot (they dominate the suite and their first-touch I/O IS
        part of the workload being measured)."""
        out = None
        runs = []
        for _ in range(REPEATS):
            t0 = time.time()
            out = fn()
            runs.append(round(time.time() - t0, 3))
        first_run[name] = runs[0]
        timings[name] = sorted(runs)[len(runs) // 2]
        return out

    # ---- full pipeline over a replicated corpus (dedup-heavy by design).
    # repartition(CPUS): the single-file local input is a test artifact — a
    # real corpus arrives as thousands of splits; without the spread the whole
    # pre-shuffle text chain runs on one core.
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    copies = spark.range(PIPELINE_COPIES).withColumnRenamed("id", "copy")
    raw = (
        docs.crossJoin(copies)
        .select(
            F.concat(
                F.lit("http://bench/"), F.col("doc_id"), F.lit("/"), F.col("copy")
            ).alias("url"),
            "text",
        )
        .repartition(CPUS)
    )

    def _materialize(df):
        """Force the REAL work: a bare count() lets Catalyst prune the whole
        text chain (unused window/projection expressions are removed), which
        benchmarks nothing. The agg anchors every output the pipeline
        contracts to produce: final text, token counts, AND the full
        drop-reason/quality cascade (otherwise Catalyst prunes the langid/
        toxicity/quality expression trees, which only feed drop_reason)."""
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("text_pii_masked")).alias("chars"),
            F.sum("n_tokens").alias("toks"),
            F.sum(F.length(F.coalesce("drop_reason", F.lit("")))).alias("reasons"),
            F.sum("quality_score").alias("quality"),
            F.sum(F.length("subset")).alias("subsets"),
        ).collect()[0]
        return int(row["n"])

    # ---- untimed JVM warm-up. The first job in a fresh JVM pays whole-stage
    # codegen compilation, shuffle-infrastructure init, and the parquet reader
    # path: rel_q1 measured 4.5 s cold vs 0.58-0.67 s warm with an identical
    # plan (round-4 adjudication of the r3 "regression" — the r3 reorder made
    # rel_q1 the first query, so it absorbed startup cost that r2 charged to
    # the pipeline). Warm up on a synthetic aggregate + the two sub-100-row
    # dim tables only: the benchmarked fact tables are NOT touched, so page
    # cache for the timed scans stays cold.
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().count()
    spark.read.parquet(f"{SF_DIR}/region.parquet").crossJoin(
        spark.read.parquet(f"{SF_DIR}/nation.parquet")
    ).count()

    # ---- relational / window surface from the registry FIRST (round-2/3
    # lesson: the heavy pipeline jobs leave the JVM cache/GC-pressured, so
    # anything timed after them reads 2-4x its fresh-session value; light
    # queries run in the cleanest JVM, heaviest jobs go last).
    for qname in [
        "rel_q1_pricing_summary",
        "rel_q3_shipping_priority",
        "rel_q5_local_supplier",
        "rel_cube_lineitem",
        "win_top3_orders_per_customer",
        "win_running_quantity",
        "ev_tumbling_5min",
        "ev_sessionize",
        "ev_asof_last_click",
        "emb_knn_join",
        "corp_rep_signals",
        "corp_pack_spans",
        "corp_decontaminate",
        "rel_q8_market_share",
    ]:
        qd = QUERIES[qname]
        timed_median(qname, lambda qd=qd: qd.spark(spark, SF_DIR).count())

    # ---- scale extensions at bench size
    timed_median(
        "minhash_lsh_dedup",
        lambda: dedup_ops.minhash_lsh_candidates(
            docs, "text", num_hashes=32, bands=8
        ).count(),
    )
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries_df = emb.limit(8).select(F.col("vec_id").alias("query_id"), "embedding")
    timed_median("emb_knn8_full", lambda: similarity.knn_join(queries_df, emb, k=10).count())

    # ---- round-12 additions at bench size
    # charset-aware decode throughput: pure-Catalyst WHATWG chain (BOM >
    # declared label > meta sniff > cp1252 fallback), alternating declared
    # labels so both the utf-8 and translate() arms run
    from llm_pretraining_data_pipeline_spark.operators import corpus as CORP2
    from llm_pretraining_data_pipeline_spark.sources.http import (
        http_body_text_charset,
    )

    bodies = raw.select(
        F.encode("text", "utf-8").alias("body"),
        F.when(
            F.crc32(F.col("url")) % 2 == 0, F.lit("utf-8")
        ).otherwise(F.lit("windows-1252")).alias("charset"),
    )
    timed_median(
        "charset_decode",
        lambda: bodies.select(
            http_body_text_charset().alias("d")
        ).agg(F.sum(F.length("d.text"))).collect(),
    )

    # multi-byte charset gate at scale (VERDICT r13 item 5): the same
    # corpus with a realistic ~8% slice declaring shift_jis, measured
    # under BOTH flag states. multibyte=False keeps the pure-Catalyst
    # chain (the sjis labels fall through to the content arm);
    # multibyte=True adds ONE Arrow stage whose input bytes are NULLED
    # outside the gate, so its cost must stay proportional to the gated
    # slice, not the corpus.
    # mb_off > mb_on is EXPECTED on this fixture (adjudicated round 15,
    # OPTIMIZATION_r15.md §2, alternating one-session A/B):
    # baseline with no sjis labels 2.87 s; mb_off 4.45 s (+1.58);
    # mb_on 3.77 s (+0.90). Under mb_off an unhonorable label falls
    # through to the content arm and pays the full JVM validity chain
    # (UTF-16LE/BE validity twice + UTF-8 validity + decode — a
    # null label doesn't short-circuit the label-arm conjunctions);
    # under mb_on the same rows short-circuit at the declared
    # multi-byte arm and ONLY their bytes ship to Arrow workers, which
    # replaces the JVM chain and runs in parallel Python processes.
    # Isolations: meta-sniff on/off makes no difference (4.03 vs 4.42 s
    # medians, inside noise) and a full-corpus is_valid_utf8 scan is
    # 0.77 s, so neither regex nor validity-scan alone explains the
    # gap — it is the whole fall-through chain. The default stays
    # multibyte=False because the flag changes SEMANTICS (honoring
    # multi-byte labels), not because it is the fast path.
    mb_bodies = raw.select(
        F.encode("text", "utf-8").alias("body"),
        F.when(F.crc32(F.col("url")) % 12 == 0, F.lit("shift_jis"))
        .when(F.crc32(F.col("url")) % 2 == 0, F.lit("utf-8"))
        .otherwise(F.lit("windows-1252")).alias("charset"),
    )
    n_mb_total = mb_bodies.count()
    n_mb_gated = mb_bodies.where(F.col("charset") == "shift_jis").count()
    timed_median(
        "charset_decode_mb_off",
        lambda: mb_bodies.select(
            http_body_text_charset().alias("d")
        ).agg(F.sum(F.length("d.text"))).collect(),
    )
    timed_median(
        "charset_decode_mb_on",
        lambda: mb_bodies.select(
            http_body_text_charset(multibyte=True).alias("d")
        ).agg(F.sum(F.length("d.text"))).collect(),
    )
    meta["charset_mb_docs"] = int(n_mb_total)
    meta["charset_mb_gated_docs"] = int(n_mb_gated)
    meta["charset_mb_gated_fraction"] = round(n_mb_gated / max(n_mb_total, 1), 4)
    meta["charset_mb_off_docs_per_sec"] = round(
        n_mb_total / timings["charset_decode_mb_off"], 1
    )
    meta["charset_mb_on_docs_per_sec"] = round(
        n_mb_total / timings["charset_decode_mb_on"], 1
    )

    # token-budget cut over the replicated corpus: histogram two-phase,
    # never a global sort (budget ~= a third of the supply, so the
    # boundary bin pays the only window)
    scored = raw.select(
        F.xxhash64("url").alias("rid"),
        (F.length(F.regexp_replace("text", r"[^a-zA-Z]", "")).cast("double")
         / F.greatest(F.length("text"), F.lit(1)).cast("double")).alias("score"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tok"),
    )
    timed(
        "budget_select_e2e",
        lambda: CORP2.budget_select(
            scored, budget=2_000_000, value_col="score", id_col="rid"
        ).agg(F.sum(F.col("kept").cast("long"))).collect(),
    )

    # ---- real byte-level BPE over the corpus (mapInPandas, Arrow batches).
    # The reference's tokenise stage is its single slowest (3,474 s for 241k
    # docs ≈ 69 docs/s, BASELINE.md); this measures ours on the same shape.
    from llm_pretraining_data_pipeline_spark.functions import bpe as bpe_mod

    n_bpe_docs = docs.count()
    tok_total = timed(
        "bpe_tokenize",
        lambda: bpe_mod.bpe_tokenize_map(
            docs.repartition(CPUS).select("doc_id", "text"), "text"
        ).agg(F.sum("n_tokens")).collect()[0][0],
    )
    meta["bpe_docs_per_sec"] = round(n_bpe_docs / timings["bpe_tokenize"], 1)
    meta["bpe_tokens_total"] = int(tok_total or 0)

    # ---- round-6: the composed web-curation recipe (URL dedup -> RefinedWeb
    # lines -> C4 -> Gopher -> 3-sentence span dedup -> exact dedup) over the
    # replicated corpus with synthesized sentence structure (the fixture text
    # has no punctuation, so line/sentence machinery needs it to do real work)
    # 10x replication (50k docs), not the pipeline's 100x: the synthesized
    # sentence text is maximally repetitive, so virtually every row reaches
    # the Gopher n-gram scans (the honest worst case for the cascade) and
    # 100x would triple the whole suite's wall time for no extra signal.
    from llm_pretraining_data_pipeline_spark.plans import web_curation as WC

    # Round-10 (VERDICT r9 item 5): the REALISTIC recipe — both front
    # gates ON. Input is raw-HTML pages (nav + <p>content</p> + link-only
    # footer) so extract_main does real block classification per row, and
    # ~10% of URLs land under a robots-disallowed path so the RFC 9309
    # gate (plain prefix + a wildcard rule per domain, 194 rules
    # broadcast) does real matching. Downstream stages are unchanged —
    # the gates only decide what text reaches them.
    wc_copies = int(os.environ.get("BENCH_WC_COPIES", "10"))
    wc_raw = (
        docs.crossJoin(spark.range(wc_copies).withColumnRenamed("id", "copy"))
        .select(
            (F.col("doc_id") * wc_copies + F.col("copy")).alias("doc_id"),
            F.col("copy"),
            F.concat(
                F.lit('<div class="nav"><a href="/">home</a> '
                      '<a href="/x">more</a></div><p>'),
                F.concat_ws(
                    ". ",
                    F.col("text").substr(1, 90),
                    F.lit("fish &amp; chips &ndash; &pound;5 &#233;clair"
                          " &#x2713; deal"),
                    F.col("text").substr(45, 90),
                    F.col("text").substr(90, 90),
                    F.lit("the closing line of this page ends here."),
                ),
                F.lit('</p><div class="footer"><a href="/tos">terms</a>'
                      "</div>"),
            ).alias("text"),
        )
        .select(
            "doc_id",
            F.concat(
                F.lit("http://site-"),
                (F.col("doc_id") % 97).cast("string"),
                F.lit(".bench"),
                F.when(F.col("copy") % 11 == 0, F.lit("/blocked/"))
                .otherwise(F.lit("/p/")),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )
        .repartition(CPUS)
    )
    wc_rules = (
        spark.range(97)
        .select(
            F.concat(F.lit("site-"), F.col("id").cast("string"),
                     F.lit(".bench")).alias("domain"),
            F.explode(
                F.array(
                    F.struct(F.lit("disallow").alias("rule"),
                             F.lit("/blocked").alias("pattern")),
                    F.struct(F.lit("disallow").alias("rule"),
                             F.lit("/*.tmp$").alias("pattern")),
                )
            ).alias("r"),
        )
        .select("domain", "r.rule", "r.pattern")
    )
    n_wc = wc_raw.count()  # untimed: input size, not curation work
    timed(
        "web_curation_e2e",
        lambda: WC.curation_summary(
            WC.run_web_curation(
                wc_raw,
                # decode_entities defaults AUTO since round 12: on iff
                # extract_main (raw-HTML input), so it is ON here — the
                # fixture's <p> bodies carry real &amp;/&ndash;/&#233;/
                # &#x2713; references. Round-12 isolated warm A/B at
                # 50k docs: ~25-30% of the recipe (13.5-15.2 s on vs
                # 10.4-11.3 s off) — the cost that justified the auto
                # coupling instead of an unconditional default
                # (NOTES_r12).
                WC.WebCurationConfig(
                    gopher_min_words=10, gopher_min_stopwords=1,
                    extract_main=True, mc_smooth=True,
                ),
                url_col="url",
                robots_rules=wc_rules,
            )
        ).collect(),
    )
    meta["web_curation_docs"] = int(n_wc)
    meta["web_curation_docs_per_sec"] = round(n_wc / timings["web_curation_e2e"], 1)
    meta["web_curation_gates"] = "robots+extract_main+smooth+entities"

    # ---- round-7: two-level sharded write rehearsal at the 500k-doc scale:
    # hash sharding (no global-order window — plan-tested) -> ONE
    # partitionBy('shard_id') distributed JSONL write -> per-shard manifest.
    # Measures the engine's full export path including disk I/O.
    import shutil
    import tempfile

    from llm_pretraining_data_pipeline_spark.plans import exports as EXP

    sw_raw = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") * PIPELINE_COPIES + F.col("copy")).alias("doc_id"),
            "text",
            "source",
            F.col("n_chars").cast("long").alias("n_tokens"),
        )
        .repartition(CPUS)
    )
    sw_dir = tempfile.mkdtemp(prefix="bench_sharded_write_")
    try:
        man = timed(
            "sharded_write_e2e",
            lambda: EXP.write_sharded_corpus_jsonl(
                sw_raw, f"{sw_dir}/data", num_shards=64
            ),
        )
        meta["sharded_write_docs"] = int(man["total_docs"])
        meta["sharded_write_docs_per_sec"] = round(
            man["total_docs"] / timings["sharded_write_e2e"], 1
        )
        meta["sharded_write_shards"] = int(man["num_shards"])
    finally:
        shutil.rmtree(sw_dir, ignore_errors=True)

    # ---- round-13: WARC re-publication at the 50k-doc scale: curated
    # docs -> response-record shards (byte-deterministic framing, sha256
    # payload/block digests) -> CDX re-index over the engine's own
    # output. Measures the publish-side counterpart of crawl_to_corpus.
    # two chained selects: the url must derive from the fanned-out
    # doc_id, not the input one — in a single select the F.col("doc_id")
    # inside the url expression binds to the INPUT column, collapsing
    # all 10 copies onto one host (ADVICE r13).
    wr_raw = (
        docs.crossJoin(spark.range(10).withColumnRenamed("id", "copy"))
        .select(
            (F.col("doc_id") * 10 + F.col("copy")).alias("doc_id"), "text"
        )
        .select(
            "doc_id",
            F.concat(
                F.lit("https://site-"),
                (F.col("doc_id") % 97).cast("string"),
                F.lit(".bench/p/"),
                F.col("doc_id").cast("string"),
            ).alias("url"),
            "text",
        )
        .repartition(CPUS)
    )
    from llm_pretraining_data_pipeline_spark.sources import cdx as CDX

    n_wr = wr_raw.count()
    wr_idx = timed(
        "warc_republish_e2e",
        lambda: CDX.cdx_records(
            EXP.warc_response_shard_frame(wr_raw, num_shards=64),
            payload_col="warc_file",
            id_col="shard_id",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cdx_ok").cast("long")).alias("ok"),
            F.sum("record_bytes").alias("bytes"),
        )
        .collect()[0],
    )
    meta["warc_republish_docs"] = int(n_wr)
    meta["warc_republish_docs_per_sec"] = round(
        n_wr / timings["warc_republish_e2e"], 1
    )
    meta["warc_republish_indexed_ok"] = int(wr_idx["ok"] or 0)
    meta["warc_republish_bytes"] = int(wr_idx["bytes"] or 0)
    assert int(wr_idx["n"]) == n_wr, "republish index row-count drift"

    # ---- round-8: perceptual image near-dup end-to-end at 50k images:
    # synthesize 16x16 PNGs (all five scanline filters), DECODE them with
    # the stdlib codec, integer aHash, banded Hamming pair join. Measures
    # the full multimodal near-dup path including the Python codec cost
    # (the honest number — production swaps the codec, keeps the shape).
    from llm_pretraining_data_pipeline_spark.multimodal import media as MM

    img_copies = int(os.environ.get("BENCH_PHASH_COPIES", "10"))

    def _gen_images(it):
        import pandas as pd

        from llm_pretraining_data_pipeline_spark.multimodal import png as PC

        for pdf in it:
            rows = []
            for mid, base, delta in zip(
                pdf["media_id"], pdf["pattern"], pdf["delta"]
            ):
                base, delta = int(base), int(delta)
                # per-base pseudo-random pattern (hash-spread coefficients):
                # cross-base aHash hamming measures >=18, same-base copies
                # (sparse delta perturbation) median ~5 — so the pair set
                # is the planted near-dups, not a quadratic gradient blob
                ca = 3 + 2 * ((base * 2654435761) % 113)
                cb = 5 + 2 * ((base * 40503) % 97)
                cc = 1 + ((base * 9176) % 7)
                pix = bytes(
                    ((ca * x + cb * y + cc * ((x * y) % 17) + base)
                     + (delta * 40 if (x + y) % 13 == 0 else 0)) % 256
                    for y in range(16) for x in range(16)
                )
                rows.append(
                    (int(mid),
                     PC.encode_png(16, 16, pix, color_type=0,
                                   filter_type=base % 5))
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    img_ids = (
        docs.select("doc_id")
        .crossJoin(spark.range(img_copies).withColumnRenamed("id", "copy"))
        .select(
            (F.col("doc_id") * img_copies + F.col("copy")).alias("media_id"),
            F.col("doc_id").alias("pattern"),
            (F.col("copy") % 4).alias("delta"),
        )
        .repartition(CPUS)
    )
    n_img = img_ids.count()  # untimed: input size
    n_img_pairs = timed(
        "image_phash_e2e",
        lambda: MM.phash_near_dup_pairs(
            MM.png_ahash(
                img_ids.mapInPandas(
                    _gen_images, "media_id bigint, payload binary"
                )
            ),
            max_hamming=10,
        ).count(),
    )
    meta["phash_images"] = int(n_img)
    meta["phash_images_per_sec"] = round(n_img / timings["image_phash_e2e"], 1)
    meta["phash_pairs"] = int(n_img_pairs)

    # ---- round-9: real WAV (RIFF/PCM) decode throughput over binary audio
    # columns — encode in-fixture (untimed ids frame, timed encode+decode:
    # the codec pair IS the measured work, same as image_phash_e2e),
    # aggregate the integer stats so every sample is actually decoded.
    def _gen_wavs(it):
        import pandas as pd

        from llm_pretraining_data_pipeline_spark.multimodal import wav as WC

        for pdf in it:
            rows = []
            for mid in pdf["media_id"]:
                mid = int(mid)
                ch = 1 + mid % 2
                nf = 300 + (mid % 4) * 100
                a = 2 * ((mid * 2654435761) % 1000) + 3
                b0 = (mid * 97) % 65536
                samples = [
                    ((b0 + i * a + c * 17) % 65536) - 32768
                    for i in range(nf)
                    for c in range(ch)
                ]
                rows.append(
                    (mid, WC.encode_wav(samples, 16_000, channels=ch))
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    wav_copies = int(os.environ.get("BENCH_WAV_COPIES", "10"))
    wav_ids = (
        docs.select("doc_id")
        .crossJoin(spark.range(wav_copies).withColumnRenamed("id", "copy"))
        .select((F.col("doc_id") * wav_copies + F.col("copy")).alias("media_id"))
        .repartition(CPUS)
    )
    n_wav = wav_ids.count()  # untimed: input size
    wav_row = timed(
        "audio_wav_e2e",
        lambda: MM.wav_feature_stats(
            wav_ids.mapInPandas(_gen_wavs, "media_id bigint, payload binary")
        )
        .agg(
            F.sum("n_frames").alias("frames"),
            F.sum("sq_sum").alias("sq"),
            F.sum(F.col("decode_ok").cast("long")).alias("ok"),
        )
        .collect()[0],
    )
    meta["wav_clips"] = int(n_wav)
    meta["wav_clips_per_sec"] = round(n_wav / timings["audio_wav_e2e"], 1)
    meta["wav_frames"] = int(wav_row["frames"])

    # ---- round-9: WARC ingestion throughput — encode each doc as a
    # two-record web-archive blob in-fixture, then explode blobs 1->N via
    # the strict ISO-28500 parser (the CommonCrawl file-granularity entry
    # point; encode+parse pair is the measured work, same as audio_wav_e2e).
    def _gen_warcs(it):
        import pandas as pd

        from llm_pretraining_data_pipeline_spark.sources import warc as WR

        for pdf in it:
            rows = []
            for fid, text in zip(pdf["file_id"], pdf["text"]):
                fid = int(fid)
                uri = f"https://site-{fid % 997}.example/doc/{fid}"
                rows.append((fid, WR.encode_warc([
                    ("response", uri, f"rec-{fid}-0",
                     text.encode("utf-8")),
                    ("metadata", uri, f"rec-{fid}-1",
                     f"doc_id={fid}".encode("ascii")),
                ])))
            yield pd.DataFrame(rows, columns=["file_id", "payload"])

    from llm_pretraining_data_pipeline_spark.sources import warc as WR

    warc_copies = int(os.environ.get("BENCH_WARC_COPIES", "10"))
    warc_ids = (
        docs.select("doc_id", "text")
        .crossJoin(spark.range(warc_copies).withColumnRenamed("id", "copy"))
        .select(
            (F.col("doc_id") * warc_copies + F.col("copy")).alias("file_id"),
            "text",
        )
        .repartition(CPUS)
    )
    n_warc = warc_ids.count()  # untimed: input size
    warc_row = timed(
        "warc_ingest_e2e",
        lambda: WR.warc_records(
            warc_ids.mapInPandas(_gen_warcs, "file_id bigint, payload binary")
        )
        .agg(
            F.count(F.lit(1)).alias("records"),
            F.sum("content_length").alias("bytes"),
            F.sum(F.col("parse_ok").cast("long")).alias("ok"),
        )
        .collect()[0],
    )
    meta["warc_files"] = int(n_warc)
    meta["warc_records"] = int(warc_row["records"])
    meta["warc_files_per_sec"] = round(n_warc / timings["warc_ingest_e2e"], 1)

    # ---- round-10: the REALISTIC CommonCrawl entry — response payloads
    # are full HTTP messages (plain / chunked / gzip mixed like real
    # captures), measured through warc_http_records: WARC record split +
    # status/header parse + de-chunk + bounded gunzip per doc.
    def _gen_warc_http(it):
        import pandas as pd

        from llm_pretraining_data_pipeline_spark.sources import warc as WR2

        for pdf in it:
            rows = []
            for fid, text in zip(pdf["file_id"], pdf["text"]):
                fid = int(fid)
                uri = f"https://site-{fid % 997}.example/doc/{fid}"
                http = _bench_http_msg(text.encode("utf-8"), fid % 3)
                rows.append((fid, WR2.encode_warc([
                    ("response", uri, f"rec-{fid}-0", http),
                ])))
            yield pd.DataFrame(rows, columns=["file_id", "payload"])

    from llm_pretraining_data_pipeline_spark.sources import http as HT

    http_row = timed(
        "warc_http_e2e",
        lambda: HT.warc_http_records(
            warc_ids.mapInPandas(
                _gen_warc_http, "file_id bigint, payload binary"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(F.length("body")).alias("body_bytes"),
            F.sum(F.col("http_ok").cast("long")).alias("ok"),
        )
        .collect()[0],
    )
    meta["warc_http_docs"] = int(http_row["records"])
    meta["warc_http_ok"] = int(http_row["ok"])
    meta["warc_http_docs_per_sec"] = round(
        int(http_row["records"]) / timings["warc_http_e2e"], 1
    )

    # ---- round-11: the crawl→corpus CAPSTONE (VERDICT r10 item 4) — the
    # COMPOSED chain a 100 TB operator plans against: WARC blobs → HTTP
    # split (plain/chunked/gzip mixed) → status/mime gates → body decode →
    # web curation (URL dedup + RW lines + C4 + span + exact dedup) →
    # token counting → sharded JSONL export with manifest. Bodies are
    # sentence-wrapped (three '.'-terminated spans per doc) so the C4
    # stage does real line/sentence work; every ~9th capture is a 404
    # that the status gate must reject before any text work.
    def _gen_crawl_blobs_factory(gz: bool):
        def gen(it):
            import pandas as pd

            from llm_pretraining_data_pipeline_spark.sources import (
                warc as WR3,
            )

            enc = WR3.encode_warc_gz if gz else WR3.encode_warc
            for pdf in it:
                rows = []
                for fid, text in zip(pdf["file_id"], pdf["text"]):
                    fid = int(fid)
                    uri = f"https://site-{fid % 997}.example/doc/{fid}"
                    sents = (
                        f"{text[:90]}. {text[45:135]}. {text[90:180]}."
                    )
                    status = (
                        b"404 Not Found" if fid % 9 == 0 else b"200 OK"
                    )
                    http = _bench_http_msg(
                        sents.encode("utf-8"), fid % 3, status=status
                    )
                    rows.append((fid, enc([
                        ("response", uri, f"rec-{fid}-0", http),
                    ])))
                yield pd.DataFrame(rows, columns=["file_id", "payload"])

        return gen

    from llm_pretraining_data_pipeline_spark.plans import crawl as CR
    from llm_pretraining_data_pipeline_spark.plans import (
        web_curation as WCC,
    )

    def _crawl_to_corpus_once(gz: bool = False):
        blobs = warc_ids.mapInPandas(
            _gen_crawl_blobs_factory(gz), "file_id bigint, payload binary"
        )
        out = CR.run_crawl_to_corpus(
            blobs,
            CR.CrawlCorpusConfig(
                gzipped=gz,
                curation=WCC.WebCurationConfig(
                    min_sentences=2, apply_gopher=False
                ),
            ),
        )
        kept = out.filter(F.col("drop_reason").isNull()).select(
            F.col("file_id").alias("doc_id"),
            F.col("text_curated").alias("text"),
            F.lit("crawl").alias("source"),
            "n_tokens",
        )
        c2c_dir = tempfile.mkdtemp(prefix="bench_crawl_corpus_")
        try:
            return EXP.write_sharded_corpus_jsonl(
                kept, f"{c2c_dir}/data", num_shards=32
            )
        finally:
            shutil.rmtree(c2c_dir, ignore_errors=True)

    c2c_man = timed("crawl_to_corpus_e2e", _crawl_to_corpus_once)
    meta["crawl_to_corpus_blobs"] = int(n_warc)
    meta["crawl_to_corpus_kept"] = int(c2c_man["total_docs"])
    meta["crawl_to_corpus_docs_per_sec"] = round(
        n_warc / timings["crawl_to_corpus_e2e"], 1
    )

    # ---- round-12 (VERDICT r11 item 6): the CC-native arm — the SAME
    # logical corpus as .warc.gz member blobs (one gzip member per
    # record, gzipped=True), so the capstone number an operator plans
    # with includes per-member inflation. Kept count must equal the
    # plain arm's: compression is framing, never semantics.
    c2c_gz_man = timed(
        "crawl_to_corpus_gz_e2e", lambda: _crawl_to_corpus_once(gz=True)
    )
    meta["crawl_to_corpus_gz_kept"] = int(c2c_gz_man["total_docs"])
    meta["crawl_to_corpus_gz_docs_per_sec"] = round(
        n_warc / timings["crawl_to_corpus_gz_e2e"], 1
    )
    if int(c2c_gz_man["total_docs"]) != int(c2c_man["total_docs"]):
        meta["crawl_to_corpus_gz_MISMATCH"] = (
            f"plain={c2c_man['total_docs']} gz={c2c_gz_man['total_docs']}"
        )

    # ---- round-12 continuation: the REVISIT arm — every third blob
    # additionally carries a crawl-time-dedup revisit record claiming
    # another capture's payload digest, and the funnel runs with
    # resolve_revisits=True. Measures the cost of the digest groupBy +
    # join the revisit path adds over the plain funnel (the number a CC
    # operator plans with, since real crawls ship revisits). The
    # revisit rows resolve to content that then LOSES exact dedup to
    # the original, so kept count equals the plain arm's.
    def _gen_crawl_revisit_blobs(it):
        import hashlib

        import pandas as pd

        from llm_pretraining_data_pipeline_spark.sources import (
            warc as WR4,
        )

        for pdf in it:
            rows = []
            for fid, text in zip(pdf["file_id"], pdf["text"]):
                fid = int(fid)
                uri = f"https://site-{fid % 997}.example/doc/{fid}"
                sents = f"{text[:90]}. {text[45:135]}. {text[90:180]}."
                status = b"404 Not Found" if fid % 9 == 0 else b"200 OK"
                http = _bench_http_msg(
                    sents.encode("utf-8"), fid % 3, status=status
                )
                recs = [("response", uri, f"rec-{fid}-0", http)]
                if fid % 3 == 2:
                    # revisit of THIS capture's entity body (the
                    # self-digest shape: same page re-fetched unchanged
                    # under a mirror URL)
                    body = sents.encode("utf-8")
                    digest = hashlib.sha256(body).hexdigest()
                    recs.append((
                        "revisit",
                        f"https://mirror-{fid % 31}.example/m/{fid}",
                        f"rev-{fid}", b"",
                        (("WARC-Payload-Digest", f"sha256:{digest}"),),
                    ))
                rows.append((fid, WR4.encode_warc(recs)))
            yield pd.DataFrame(rows, columns=["file_id", "payload"])

    def _crawl_revisit_once():
        blobs = warc_ids.mapInPandas(
            _gen_crawl_revisit_blobs, "file_id bigint, payload binary"
        )
        out = CR.run_crawl_to_corpus(
            blobs,
            CR.CrawlCorpusConfig(
                resolve_revisits=True,
                curation=WCC.WebCurationConfig(
                    min_sentences=2, apply_gopher=False
                ),
            ),
        )
        # a RESOLVED revisit carries the original's content, so some
        # dedup stage must catch it — here C4 span dedup fires first
        # (the bodies are three-sentence, so their spans duplicate the
        # original's before exact dedup ever sees them); an UNRESOLVED
        # one would read 'revisit_unresolved' instead
        dedup_reasons = (
            "exact_duplicate", "empty_after_span_dedup",
            "near_duplicate", "url_duplicate",
        )
        return out.agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(
                F.col("drop_reason").isNull().cast("long")
            ).alias("kept"),
            F.sum(
                (
                    (F.col("rec_index") > 0)
                    & F.col("drop_reason").isin(*dedup_reasons)
                ).cast("long")
            ).alias("dups"),
            F.sum(
                (F.col("drop_reason") == "revisit_unresolved").cast(
                    "long"
                )
            ).alias("unresolved"),
        ).collect()[0]

    rev_row = timed("crawl_revisit_e2e", _crawl_revisit_once)
    meta["crawl_revisit_records"] = int(rev_row["records"])
    meta["crawl_revisit_kept"] = int(rev_row["kept"])
    meta["crawl_revisit_resolved_dups"] = int(rev_row["dups"])
    meta["crawl_revisit_unresolved"] = int(rev_row["unresolved"])
    meta["crawl_revisit_docs_per_sec"] = round(
        int(rev_row["records"]) / timings["crawl_revisit_e2e"], 1
    )
    if int(rev_row["kept"]) != int(c2c_man["total_docs"]):
        meta["crawl_revisit_KEPT_MISMATCH"] = (
            f"plain={c2c_man['total_docs']} revisit={rev_row['kept']}"
        )

    # ---- round-8: the per-dump corpus audits at 100k docs — directional
    # gram novelty (one distinct + one groupBy on 60-bit gram hashes) and
    # the exact integer KS drift statistic (cumulative window over the
    # aggregated distinct-value frame only).
    from llm_pretraining_data_pipeline_spark.operators import corpus as CORP

    audit_copies = int(os.environ.get("BENCH_AUDIT_COPIES", "20"))
    audit = (
        docs.crossJoin(spark.range(audit_copies).withColumnRenamed("id", "copy"))
        .select(
            F.when(F.col("copy") % 2 == 0, F.lit("old"))
            .otherwise(F.lit("new")).alias("snap"),
            F.concat(
                F.col("text"), F.lit(" tail "), (F.col("copy") % 5).cast("string")
            ).alias("text"),
            (F.col("n_chars") + F.col("copy") % 7).alias("n_chars"),
        )
        .repartition(CPUS)
    )
    n_audit = audit.count()  # untimed
    timed(
        "corpus_audit_e2e",
        lambda: (
            CORP.gram_novelty(audit, "text", "snap", "old", "new").collect(),
            CORP.ks_drift(audit, "n_chars", "snap", "old", "new").collect(),
        ),
    )
    meta["audit_docs"] = int(n_audit)
    meta["audit_docs_per_sec"] = round(n_audit / timings["corpus_audit_e2e"], 1)

    # ---- full document pipeline (the replicated-corpus heavy job)
    # tokenizer_backend pinned to "regex": 'auto' would silently switch the
    # measured work (and F6 keep/drop volume) if GPT-2 assets appear on disk,
    # making perf baselines incomparable across environments
    n_docs = timed(
        "pipeline_e2e",
        lambda: _materialize(
            P.run_pipeline(
                raw,
                P.PipelineConfig(
                    use_nfkc=True, apply_lang_filter=False, tokenizer_backend="regex"
                ),
            )
        ),
    )
    meta["pipeline_docs"] = n_docs
    meta["pipeline_docs_per_sec"] = round(n_docs / timings["pipeline_e2e"], 1)
    # BASELINE.md: reference runs its 8 stages at ~38 docs/s end-to-end on
    # the same 32-vCPU machine class (241,048 docs in 6,337 s).
    meta["reference_docs_per_sec"] = 38.0
    meta["speedup_vs_reference"] = round(meta["pipeline_docs_per_sec"] / 38.0, 1)

    # ---- round-13: incremental NEAR dedup at the 500k-doc scale — the
    # nightly shape: HALF the corpus is the persisted snapshot (its LSH
    # band index built in-flight here; production reads it from parquet),
    # the other half is the new batch flagged against it. The 10x
    # replication means most new docs genuinely near-match snapshot docs,
    # so the candidate join and estimate verify do real work. Runs with
    # the heavy LSH jobs at the END of the suite (same GC rationale).
    from llm_pretraining_data_pipeline_spark.operators import dedup as DD

    ni_base = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") * PIPELINE_COPIES + F.col("copy")).alias(
                "doc_id"
            ),
            "text",
        )
        .repartition(CPUS)
    )
    ni_snap = ni_base.where(F.col("doc_id") % 2 == 0)
    ni_new = ni_base.where(F.col("doc_id") % 2 == 1)
    n_ni = ni_new.count()  # untimed: input size
    # the index build is the ONE-OFF snapshot cost (timed separately);
    # the nightly number is the flag step against the PERSISTED index —
    # history is never re-hashed, which is the operator's entire point
    ni_dir = tempfile.mkdtemp(prefix="bench_near_index_")
    # 256 sig buckets x 8 bands = 2048 bands-table cells: fine-grained
    # enough that a small nightly batch provably skips most of the index
    # at THIS index size; the knob grows with the corpus at 100 TB. The
    # sigs table's id_buckets is derived by the writer from the doc
    # count (next-pow2 of docs/256) and recorded in the index sidecar.
    NI_SIG_BUCKETS = 256
    try:
        timed(
            "near_index_build",
            lambda: DD.write_minhash_index(
                DD.minhash_index_frame(ni_snap, "text"),
                f"{ni_dir}/idx",
                sig_buckets=NI_SIG_BUCKETS,
            ),
        )
        with open(f"{ni_dir}/idx/_index_meta.json") as mf:
            meta["near_index_id_buckets"] = int(json.load(mf)["id_buckets"])
        # the nightly flag step runs the OPERATIONAL stored-index path:
        # pruned bands read, late signature attach, shared one-pass batch
        # hashing. The full 250k-doc batch touches essentially every
        # cell, so this entry measures throughput, not pruning.
        ni_flagged = timed(
            "near_index_e2e",
            lambda: DD.near_dedup_against_stored_index(
                ni_new, f"{ni_dir}/idx", threshold=0.7,
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_known_near").cast("long")).alias("flagged"),
            )
            .collect()[0],
        )
        meta["near_index_new_docs"] = int(n_ni)
        meta["near_index_docs_per_sec"] = round(
            n_ni / timings["near_index_e2e"], 1
        )
        meta["near_index_flagged"] = int(ni_flagged["flagged"] or 0)
        assert int(ni_flagged["n"]) == n_ni, "near_index row-count drift"

        def _dir_bytes(p):
            total = 0
            for root, _, names in os.walk(p):
                for nm in names:
                    total += os.path.getsize(os.path.join(root, nm))
            return total

        meta["near_index_bytes"] = int(_dir_bytes(f"{ni_dir}/idx"))

        # pruning proof: a SMALL nightly batch must read a strict subset
        # of BOTH tables — the bands table via its (band_id, sig_bucket)
        # cells, the sigs table via the id-buckets of the batch's
        # candidate ids. File/byte accounting runs untimed on the
        # operator's own pruned frames (read_minhash_split_frames).
        ni_small = ni_new.where(F.col("doc_id") % 20000 == 1)
        n_ni_small = ni_small.count()
        ni_sel = timed(
            "near_index_selective",
            lambda: DD.near_dedup_against_stored_index(
                ni_small, f"{ni_dir}/idx", threshold=0.7,
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_known_near").cast("long")).alias("flagged"),
            )
            .collect()[0],
        )
        assert int(ni_sel["n"]) == n_ni_small, "near_index_selective drift"
        meta["near_index_selective_docs"] = int(n_ni_small)
        meta["near_index_selective_flagged"] = int(ni_sel["flagged"] or 0)
        bands_t, sigs_t = DD.read_minhash_split_frames(
            ni_small, f"{ni_dir}/idx", checkpoint=False,
        )

        def _local(files):
            return [
                f[len("file:"):] if f.startswith("file:") else f
                for f in files
            ]

        for table, frame in (("bands", bands_t), ("sigs", sigs_t)):
            read = _local(
                r["f"]
                for r in frame.select(F.input_file_name().alias("f"))
                .distinct()
                .collect()
            )
            every = _local(
                spark.read.parquet(f"{ni_dir}/idx/{table}").inputFiles()
            )
            meta[f"near_index_{table}_files_read"] = len(read)
            meta[f"near_index_{table}_files_total"] = len(every)
            meta[f"near_index_{table}_files_read_pct"] = round(
                100.0 * len(read) / max(len(every), 1), 1
            )
            meta[f"near_index_{table}_bytes_read"] = int(
                sum(os.path.getsize(f) for f in read)
            )
            meta[f"near_index_{table}_bytes_total"] = int(
                sum(os.path.getsize(f) for f in every)
            )
        # the sigs pruning denominator: sigs reads track the batch's TRUE
        # candidate ids (pruned bands semi-joined on the batch's exact
        # band keys), and on THIS fixture each batch doc has
        # ~PIPELINE_COPIES/2 snapshot near-dups, so candidates =
        # batch x replication, not batch x 1 — record the count so the
        # files-read pct is interpretable at any replication factor
        # (a unique-doc corpus reads ~batch/id_buckets of the files)
        meta["near_index_candidate_ids"] = int(
            bands_t.join(
                DD._new_banded_frame(ni_small, "text")
                .select("band_id", "band_sig")
                .distinct(),
                ["band_id", "band_sig"],
                "left_semi",
            )
            .select("id")
            .distinct()
            .count()
        )

        # ---- multi-night operational loop: flag -> append -> flag over
        # 3 nights against the stored index, each night ~6.7% of the
        # snapshot (disjoint odd residues mod 30, so the append takes the
        # dedupe_ids=False fast path that never reads the existing
        # tables — the nightly contract). Per-night flag seconds must
        # stay flat (+-noise) while index bytes grow ~linearly in
        # appended docs; a final capped compaction records bucket-cap
        # evictions. Runs LAST against {ni_dir}/idx: every other
        # idx-based metric above is already recorded.
        loop_bytes = [int(meta["near_index_bytes"])]
        loop_docs, loop_flagged, loop_append_s = [], [], []
        for k, resid in enumerate((1, 11, 21), start=1):
            nb = ni_new.where(F.pmod(F.col("doc_id"), F.lit(30)) == resid)
            n_nb = nb.count()  # untimed: input size
            nb_flag = timed(
                f"near_index_night{k}",
                lambda nb=nb: DD.near_dedup_against_stored_index(
                    nb, f"{ni_dir}/idx", threshold=0.7,
                )
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.col("is_known_near").cast("long")).alias(
                        "flagged"
                    ),
                )
                .collect()[0],
            )
            assert int(nb_flag["n"]) == n_nb, f"night{k} row-count drift"
            t_app = time.time()
            DD.write_minhash_index(
                DD.minhash_index_frame(nb, "text"),
                f"{ni_dir}/idx",
                mode="append",
                dedupe_ids=False,
            )
            loop_append_s.append(round(time.time() - t_app, 3))
            loop_docs.append(int(n_nb))
            loop_flagged.append(int(nb_flag["flagged"] or 0))
            loop_bytes.append(int(_dir_bytes(f"{ni_dir}/idx")))
        meta["near_index_loop_docs"] = loop_docs
        meta["near_index_loop_flagged"] = loop_flagged
        meta["near_index_loop_append_sec"] = loop_append_s
        # per-night on-disk growth carries a CONSTANT file-count
        # overhead on top of the data: each append lands one new file
        # per touched partition dir (parquet files are immutable), so
        # tiny nights pay ~bands x sig_buckets footers — the
        # operational reason the loop ends in compaction, whose
        # rewritten size below is the honest "bytes ~ docs" number
        meta["near_index_loop_bytes"] = loop_bytes
        # capped compaction closes the loop: merge (empty delta — the
        # production compaction path, _cap_bucket_members via
        # merge_minhash_index) + a full index REWRITE, timed as one
        # operational step; evictions = band rows the 1024-member bucket
        # cap removes from the accumulated index
        loop_bands, loop_sigs = DD.open_minhash_index(spark, f"{ni_dir}/idx")
        full_idx = loop_bands.join(loop_sigs, "id")
        n_uncapped = loop_bands.count()
        timed(
            "near_index_compact",
            lambda: DD.write_minhash_index(
                DD.merge_minhash_index(
                    full_idx,
                    full_idx.limit(0),
                    max_bucket_size=1024,
                    dedupe_ids=False,
                ),
                f"{ni_dir}/idx_compact",
                sig_buckets=NI_SIG_BUCKETS,
            ),
        )
        n_capped = DD.open_minhash_index(
            spark, f"{ni_dir}/idx_compact"
        )[0].count()
        meta["near_index_loop_rows"] = int(n_uncapped)
        meta["near_index_loop_evicted"] = int(n_uncapped - n_capped)
        meta["near_index_compacted_bytes"] = int(
            _dir_bytes(f"{ni_dir}/idx_compact")
        )
    finally:
        shutil.rmtree(ni_dir, ignore_errors=True)

    # ---- pipeline with the optional MinHash near-dedup stage, LAST: its
    # LSH+verify+components job leaves the JVM cache/GC-pressured, so running
    # it earlier contaminated every subsequent timing (round-2 lesson — the
    # per-query numbers were 2-4x their fresh-session values). The exact-dup
    # replicas collapse in stage 5, so stage 5b runs over distinct survivors.
    n_mh = timed(
        "pipeline_minhash_e2e",
        lambda: _materialize(
            P.run_pipeline(
                raw,
                P.PipelineConfig(
                    use_nfkc=True, apply_lang_filter=False, use_minhash_dedup=True,
                    tokenizer_backend="regex",
                ),
            )
        ),
    )
    meta["pipeline_minhash_docs"] = n_mh
    meta["pipeline_minhash_docs_per_sec"] = round(n_mh / timings["pipeline_minhash_e2e"], 1)

    total = round(sum(timings.values()), 3)
    line = json.dumps(
        {
            "metric": "suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "queries_first_run": first_run,
            "repeats": REPEATS,
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "meta": meta,
            "cpus": CPUS,
        }
    )
    # Tee the summary to a file so the record never depends on stdout
    # tail-capture (BENCH_JSON_OUT= to redirect; empty string disables).
    out_path = os.environ.get("BENCH_JSON_OUT", "BENCH_LOCAL.json")
    if out_path:
        try:
            with open(out_path, "w") as fh:
                fh.write(line + "\n")
        except OSError as exc:
            print(f"bench: could not write {out_path}: {exc}", file=sys.stderr)
    print(line, flush=True)
    # The driver parses the LAST JSON line from a bounded stdout tail; the
    # full line above (~2-4 kB with meta/first_run) can overflow that capture
    # (VERDICT r9 item 2 / r10 item 1: "parsed": null). Emit a second, compact
    # final line — suite total + per-query medians only, separators-tight,
    # values at 2 dp — guaranteed well under 1 kB so the tail always parses.
    compact = json.dumps(
        {
            "metric": "suite_seconds",
            "value": total,
            "unit": "sec",
            "queries": {k: round(v, 2) for k, v in timings.items()},
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        },
        separators=(",", ":"),
    )
    print(compact, flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
