"""Vectorized fast path for the MinHash signature pass.

WHY: the Catalyst signature chain in ``operators/dedup.py`` builds every
token shingle as a STRING through interpreted higher-order functions
(``transform`` + ``slice`` + ``concat_ws`` are CodegenFallback) and then
folds it through nested ``zip_with`` lambdas per shingle. One
Arrow-batched pass that receives the JVM-tokenised array and does the
join+md5+affine-min in C-speed Python/NumPy is still faster: at 2,500
English pages on local[2] (4 vCPUs, warm), 1.3-1.5 s against 2.4-2.7 s
for the Catalyst chain, with identical signatures (guide §4.2: batch
work belongs in vectorized native code, distribution/shuffles/I-O stay
in Spark). The round-15 figure that motivated this module (500k docs,
local[32]: shingle strings ~19 s of a ~22 s pass, Arrow ~2 s) was
measured while ``token_shingles`` re-ran the regex split of the whole
text for every shingle. On the 2,500-page shape above the Catalyst chain
took 19.2-19.3 s with that re-split and 2.4-2.7 s without it; the
500k-doc shape has not been re-measured.

BIT-PARITY IS CONTRACT, not aspiration (the ``metrics_vec`` discipline):
every signature value backs DuckDB-oracle-refereed queries (d03, d08,
d17-d28, ev_stream_near_stored). The pure-Catalyst expressions in
``hashing.py`` remain the definitional semantics; this module must follow
them, never lead. Two design choices remove the delicate parity surfaces
outright:

  * TOKENISATION STAYS IN THE JVM. The input is ``ws_tokens(text_col)``
    computed by Spark's own native ``split`` — this module never touches
    the ``(?U)\\s`` regex, so there is no Java-vs-Python whitespace-table
    risk (the one genuinely dangerous mirror in ``metrics_vec`` is not
    replicated here).
  * THE HASH IS PURE ARITHMETIC ON md5 BYTES. ``h32(s)`` is defined as
    the first 15 hex chars of md5 as a bigint, mod 2^31-1;
    ``int.from_bytes(md5(utf8).digest()[:8], "big") >> 4`` is the same
    60-bit integer (16 hex chars minus the last nibble), and the affine
    fold ``min_j((a_j * h + b_j) mod M)`` is exact in int64 (a, h < 2^31
    so the product is < 2^62). Arrow ships strings as valid UTF-8, which
    is byte-identical to what the JVM's md5 hashes.

Per-row semantics mirrored from ``hashing.token_shingles`` +
``minhash_signature_single_pass``:

  * >= shingle_size tokens -> every consecutive n-gram joined by " ";
  * 1..shingle_size-1 tokens -> the whole text as ONE shingle;
  * 0 tokens (incl. null text -> ws_tokens yields []) -> the fold's init
    sentinel (every lane == 2^31-1), which callers filter out exactly as
    they do for the Catalyst chain.

Parity is enforced by tests/test_minhash_vec.py: exact equality against
the Catalyst chain on fixtures (unicode whitespace, empties, nulls,
short docs) plus the real testdata corpus.

100 TB: Arrow-batched, shuffle-free, embarrassingly parallel — the same
sanctioned-Python shape as the BPE tokeniser, the vectorized metrics
block and the multimodal codecs. Pass ``vectorized=False`` to the dedup
operators for a zero-Python plan of identical output.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from llm_pretraining_data_pipeline_spark.functions.hashing import (
    MERSENNE_31,
    minhash_coeffs,
)
from llm_pretraining_data_pipeline_spark.functions.text_norm import ws_tokens


def minhash_sig_frame_arrow(
    df: DataFrame,
    text_col: str,
    id_col: str = "doc_id",
    shingle_size: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """``(id, sig array<long>)`` — one Arrow pass per partition, value-
    identical to the Catalyst chain INCLUDING the all-sentinel rows for
    shingle-less docs (the caller applies the same ``sig[0] != M``
    filter either way). Only (id, tokens) crosses the Python boundary —
    the explicit select keeps scan-side column pruning intact for
    opaque-function plans (guide §4.1)."""
    a_list, b_list = minhash_coeffs(num_hashes, seed)
    toks = df.select(
        F.col(id_col).alias("id"), ws_tokens(text_col).alias("_toks")
    )
    id_field = toks.schema["id"]
    out_schema = T.StructType(
        [
            T.StructField("id", id_field.dataType, id_field.nullable),
            T.StructField("sig", T.ArrayType(T.LongType(), False), False),
        ]
    )
    n = int(shingle_size)
    nh = int(num_hashes)

    def gen(batches):
        md5 = hashlib.md5
        M = MERSENNE_31
        a = np.asarray(a_list, np.int64)
        b = np.asarray(b_list, np.int64)
        for batch in batches:
            tok_lists = batch.column(1).to_pylist()
            sigs = np.empty((len(tok_lists), nh), np.int64)
            for k, tk in enumerate(tok_lists):
                ln = 0 if tk is None else len(tk)
                if ln == 0:
                    sigs[k] = M  # fold-over-empty init sentinel
                    continue
                if ln < n:
                    shs = [" ".join(tk)]
                else:
                    shs = [" ".join(tk[i : i + n]) for i in range(ln - n + 1)]
                h = np.fromiter(
                    (
                        int.from_bytes(md5(s.encode()).digest()[:8], "big") >> 4
                        for s in shs
                    ),
                    np.int64,
                    count=len(shs),
                ) % M
                sigs[k] = ((h[:, None] * a + b) % M).min(axis=0)
            flat = pa.array(sigs.reshape(-1), type=pa.int64())
            offsets = pa.array(
                np.arange(0, (len(tok_lists) + 1) * nh, nh, dtype=np.int32),
                type=pa.int32(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.ListArray.from_arrays(offsets, flat)],
                ["id", "sig"],
            )

    return toks.mapInArrow(gen, out_schema)


def ngram_h64_frame_arrow(
    df: DataFrame,
    text_col: str,
    n: int,
    keep: tuple[str, ...] = (),
) -> DataFrame:
    """``(*keep, gh array<long>)`` — the 60-bit h64 hashes of a row's
    word n-grams in one Arrow pass: the vectorized twin of
    ``explode(corpus.ngrams(ws_tokens(coalesce(text, '')), n))`` followed
    by ``h64(gram)`` (same md5-arithmetic parity argument as the MinHash
    shingle chain above, and the same JVM-side tokenisation, so no regex
    mirror). ``ngrams`` semantics
    mirrored exactly: fewer than ``n`` tokens (incl. null text) yields an
    EMPTY list — there is no whole-text fallback here, unlike
    ``token_shingles``. Callers explode ``gh`` where they exploded the
    gram column; hash values are bit-identical so every downstream
    distinct/groupBy/join sees the same keys."""
    cols = [F.col(k) for k in keep]
    toks = df.select(
        *cols, ws_tokens(F.coalesce(F.col(text_col), F.lit(""))).alias("_toks")
    )
    out_schema = T.StructType(
        [toks.schema[k] for k in keep]
        + [T.StructField("gh", T.ArrayType(T.LongType(), False), False)]
    )
    nn = int(n)
    width = len(keep)

    def gen(batches):
        md5 = hashlib.md5
        for batch in batches:
            tok_lists = batch.column(width).to_pylist()
            flat: list[int] = []
            offs = np.empty(len(tok_lists) + 1, np.int32)
            offs[0] = 0
            for k, tk in enumerate(tok_lists):
                ln = 0 if tk is None else len(tk)
                if ln >= nn:
                    flat.extend(
                        int.from_bytes(
                            md5(" ".join(tk[i : i + nn]).encode()).digest()[:8],
                            "big",
                        )
                        >> 4
                        for i in range(ln - nn + 1)
                    )
                offs[k + 1] = len(flat)
            arr = pa.ListArray.from_arrays(
                pa.array(offs, type=pa.int32()),
                pa.array(np.asarray(flat, np.int64), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column(i) for i in range(width)] + [arr],
                [*keep, "gh"],
            )

    return toks.mapInArrow(gen, out_schema)
