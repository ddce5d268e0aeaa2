"""Hashing & fingerprinting primitives.

Covers the reference's identity/dedup hashes plus the portable 64/32-bit
integer hashes that power the scale extensions (minhash, simhash, rolling
fingerprints). Everything is built from md5/sha2 so the DuckDB oracle can
evaluate bit-identical values (Spark's xxhash64/hash are JVM-specific and
deliberately avoided in oracle-facing paths).

Reference semantics:
  * ``make_doc_id``  — ingest.py:51-67 (sha1 of "{url}||{text}")
  * ``sha256_hash``  — duplication.py:59-63
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.functions.text_norm import _col, _let, ws_tokens

MERSENNE_31 = 2_147_483_647  # 2^31 - 1, the modulus for all portable hashes


def make_doc_id(url: Column | str, text: Column | str) -> Column:
    """sha1 hex of "{url}||{text}". Python str() renders missing values as
    'nan' (pandas NaN), which the expression mirrors for parity."""
    u = F.coalesce(_col(url).cast("string"), F.lit("nan"))
    t = F.coalesce(_col(text).cast("string"), F.lit("nan"))
    return F.sha1(F.concat(u, F.lit("||"), t))


def sha256_hex(c: Column | str) -> Column:
    return F.sha2(_col(c).cast("string"), 256)


def h64(c: Column | str) -> Column:
    """Portable 60-bit integer hash: first 15 hex chars of md5, as bigint.

    DuckDB equivalent: CAST(CONCAT('0x', SUBSTR(MD5(x),1,15)) AS BIGINT).
    """
    return F.conv(F.substring(F.md5(_col(c).cast("string")), 1, 15), 16, 10).cast("long")


def h32(c: Column | str) -> Column:
    """Portable hash reduced mod 2^31-1 (safe for products in bigint range)."""
    return h64(c) % F.lit(MERSENNE_31)


def token_shingles(c: Column | str, n: int = 3) -> Column:
    """Token n-gram shingles of the whitespace-tokenised text.

    Shorter-than-n docs yield their whole text as a single shingle so every
    non-empty doc has ≥1 shingle (keeps minhash well-defined).

    The token array is let-bound: referenced inside the per-shingle lambda
    it would re-run the regex split of the whole text for every shingle.
    """

    def build(toks: Column) -> Column:
        size = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), size - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        whole = F.array(F.concat_ws(" ", toks))
        return F.when(size >= n, grams).when(size > 0, whole).otherwise(
            F.array().cast("array<string>")
        )

    return _let(ws_tokens(c), build)


def minhash_coeffs(num_hashes: int, seed: int = 42) -> tuple[list[int], list[int]]:
    """Deterministic (a, b) coefficient lists for the minhash family
    h_j(x) = (a_j * h32(x) + b_j) mod (2^31-1)."""
    rng = np.random.RandomState(seed)
    a = rng.randint(1, MERSENNE_31, size=num_hashes).tolist()
    b = rng.randint(0, MERSENNE_31, size=num_hashes).tolist()
    return a, b


def minhash_signature_from_hashes(
    hashed: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    """array<bigint> minhash signature from pre-hashed shingles (array<long>).

    All arithmetic stays under 2^62 (a < 2^31, h32 < 2^31) so ANSI-mode
    bigint ops cannot overflow.

    Callers should materialise ``hashed`` in its own projection (separate
    select) — higher-order-function lambdas run interpreted with no common-
    subexpression elimination, so inlining the md5 pass here would recompute
    it ``num_hashes`` times per row.
    """
    a_list, b_list = minhash_coeffs(num_hashes, seed)
    a_arr = F.array(*[F.lit(int(x)).cast("long") for x in a_list])
    b_arr = F.array(*[F.lit(int(x)).cast("long") for x in b_list])
    return F.transform(
        F.sequence(F.lit(1), F.lit(num_hashes)),
        lambda j: F.array_min(
            F.transform(
                hashed,
                lambda hv: (F.element_at(a_arr, j) * hv + F.element_at(b_arr, j))
                % F.lit(MERSENNE_31),
            )
        ),
    )


def minhash_signature_single_pass(
    hashed: Column, num_hashes: int = 32, seed: int = 42
) -> Column:
    """array<bigint> minhash signature — single fold over the hashed shingles.

    ``aggregate`` walks ``hashed`` ONCE, folding each element into all
    ``num_hashes`` running minima via ``zip_with``. Because ``hashed`` appears
    exactly once (as the aggregate input, bound to a lambda variable), Catalyst
    inlining the md5 pass here costs nothing extra — unlike
    ``minhash_signature_from_hashes``, whose per-j ``transform`` re-walks the
    array ``num_hashes`` times and so needs a materialisation barrier upstream.
    This is the form operators should use; it makes the whole candidates plan
    lazy and persist-free. Identical output values to the _from_hashes form.

    Empty input arrays fold to the init vector (all 2^31-1) — callers filter
    empty-shingle rows out first so that sentinel never banding-collides.
    """
    a_list, b_list = minhash_coeffs(num_hashes, seed)
    a_arr = F.array(*[F.lit(int(x)).cast("long") for x in a_list])
    b_arr = F.array(*[F.lit(int(x)).cast("long") for x in b_list])
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(MERSENNE_31).cast("long"), num_hashes),
        lambda acc, hv: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (a * hv + b) % F.lit(MERSENNE_31)),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_signature(shingles: Column, num_hashes: int = 32, seed: int = 42) -> Column:
    """Single-expression form (hashing inlined; fine for tests/small inputs —
    prefer the split ``minhash_signature_from_hashes`` in operators)."""
    hashed = F.transform(shingles, lambda s: h32(s))
    return minhash_signature_from_hashes(hashed, num_hashes, seed)


def simhash32(c: Column | str) -> Column:
    """32-bit simhash over whitespace tokens, as a bigint in [0, 2^32).

    Per-bit majority vote of token hashes, computed entirely with HOFs —
    per-row, shuffle-free (vs. the explode+groupBy formulation, which
    reshuffles the full token stream; that equivalent SQL form is what the
    DuckDB oracle runs).
    """
    pow2 = F.array(*[F.lit(1 << i).cast("long") for i in range(32)])
    toks = ws_tokens(c)
    hashed = F.transform(toks, lambda t: h32(t))
    # bit i of hv is set iff hv mod 2^(i+1) >= 2^i — pure arithmetic, since
    # shiftleft/bitwiseAND need literal shift amounts.
    bits = F.transform(
        F.sequence(F.lit(1), F.lit(32)),
        lambda i: F.aggregate(
            hashed,
            F.lit(0).cast("long"),
            lambda acc, hv: acc
            + F.when(
                hv % (F.element_at(pow2, i) * 2) >= F.element_at(pow2, i), F.lit(1)
            ).otherwise(F.lit(-1)),
        ),
    )
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(1), F.lit(32)),
            lambda b, i: F.when(b > 0, F.element_at(pow2, i)).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def rolling_fingerprint(c: Column | str) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    whitespace tokens, mod 2^31-1.

    fp = fold(tokens, 0, (acc, t) -> (acc * 1000003 + h32(t)) mod M)
    acc < 2^31 and the multiplier < 2^20 keep the product < 2^51 (ANSI-safe).
    """
    toks = ws_tokens(c)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * F.lit(1_000_003) + h32(t)) % F.lit(MERSENNE_31),
    )
