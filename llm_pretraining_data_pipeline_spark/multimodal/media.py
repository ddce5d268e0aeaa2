"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

Extension surface mandated by the north star (BASELINE.json). The Spark-side
plumbing is real — schema, partition-friendly batch iteration, Arrow transfer
shapes, metadata pushdown — and the IMAGE codec is real too: a pure-stdlib
PNG decoder (``png.py``: zlib inflate + full scanline-filter
reconstruction) drives ``png_feature_stats`` and the PNG branch of
``_decode_payload``. Audio/video decode stays a deterministic byte-level
fingerprint (ffmpeg/torchaudio are not in this container; swap the one
function when they are).

Design for 100 TB:
  * payloads stay in ``binary`` columns co-located with metadata, so filters
    on ``kind``/``meta.width`` prune parquet row groups BEFORE any byte of
    payload is read (column pruning keeps the heavy column out of scans that
    don't need it);
  * all per-payload work runs in ``mapInPandas`` over Arrow batches — one
    Python worker init per partition, zero per-row overhead. The payload
    decoders (png/wav/webp/mp3/gif/bmp/mp4/jpeg stats and ``png_ahash``)
    are each a parser of one payload plus the fields it yields, run by
    ``functions.arrow_rows.map_rows``: output rows are keyed by the
    caller's ``id_col``, and a payload that fails to decode survives as a
    ``decode_ok=false`` row carrying the exact error — a curation pipeline
    counts those, never dies on them;
  * derived features land in narrow sibling tables keyed by ``media_id`` so
    downstream joins never drag payload bytes through a shuffle.
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)

from llm_pretraining_data_pipeline_spark.functions.arrow_rows import map_rows, struct_type
from llm_pretraining_data_pipeline_spark.multimodal import (
    bmp,
    gif,
    jpeg,
    mp3,
    mp4,
    png,
    wav,
    webp,
)
from llm_pretraining_data_pipeline_spark.schemas import MEDIA_SCHEMA

FEATURE_DIM = 16

PNG_FIELDS = struct_type(
    width=IntegerType(), height=IntegerType(), bit_depth=IntegerType(),
    channels=IntegerType(), n_pixels=LongType(), px_sum=LongType(),
    px_min=IntegerType(), px_max=IntegerType(),
)


def png_feature_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Image payloads → decoded PNG statistics: the REAL decode step
    (``png.decode_png`` — zlib inflate + scanline filter reconstruction),
    emitting integer stats a DuckDB referee can recompute from a
    closed-form fixture (``mm_png_features``)."""
    return map_rows(media, id_col, PNG_FIELDS, png.png_stats)


WAV_FIELDS = struct_type(
    sample_rate=IntegerType(), channels=IntegerType(),
    bit_depth=IntegerType(), n_frames=LongType(), sq_sum=LongType(),
    peak_abs=LongType(), clip_count=LongType(), flip_count=LongType(),
)


def wav_feature_stats(
    media: DataFrame, id_col: str = "media_id", backend: str | None = None
) -> DataFrame:
    """Audio payloads → decoded WAV statistics: the REAL decode step
    (``wav.decode_wav`` — RIFF chunk walk + PCM sample extraction),
    emitting the integer accumulators a DuckDB referee recomputes from a
    closed-form fixture (``mm_wav_features``). Derived float stats (RMS,
    peak, clip ratio, zero-crossing rate) are computed DOWNSTREAM from
    these integers with JVM-side expressions, so the Python exchange
    carries only exact values.

    ``backend``: ``'stdlib'`` (default, the refereed pure-Python decoder)
    or ``'soundfile'`` (libsndfile swap-in for the long tail —
    float/24-bit/compressed; env-gated parity test). ``None`` reads
    ``$SPARK_GRAFT_AUDIO_BACKEND``, mirroring the langdetect/GPT-2
    gating pattern, so a deployment flips the backend without touching
    plan code.
    """
    import os

    backend = backend or os.environ.get("SPARK_GRAFT_AUDIO_BACKEND", "stdlib")
    if backend not in ("stdlib", "soundfile"):
        raise ValueError(f"wav_feature_stats: unknown backend {backend!r}")

    def wav_stats(raw: bytes) -> dict:
        return wav.wav_stats(raw, backend=backend)

    return map_rows(media, id_col, WAV_FIELDS, wav_stats)


WEBP_FIELDS = struct_type(
    format=StringType(), width=IntegerType(), height=IntegerType(),
    has_alpha=BooleanType(), animated=BooleanType(), n_frames=IntegerType(),
)


def webp_feature_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Image payloads → WebP structure metadata (``webp.parse_webp`` —
    RIFF chunk walk, all three header shapes, bomb-guarded dims, ANMF
    frame counts): what CDNs actually serve today, so a real CC image
    stream needs this tier next to png/bmp/jpeg/gif."""
    return map_rows(media, id_col, WEBP_FIELDS, webp.parse_webp)


MP3_FIELDS = struct_type(
    n_frames=IntegerType(), bitrate_kbps=IntegerType(), vbr=BooleanType(),
    sample_rate=IntegerType(), channel_mode=StringType(),
    n_samples=LongType(), duration_ms=DoubleType(), id3_size=IntegerType(),
)


def mp3_feature_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Audio payloads → MP3 frame-structure metadata (``mp3.parse_mp3`` —
    strict MPEG-1 Layer III frame walk, ID3v2 skip, CBR/VBR detection):
    duration/bitrate/sample-rate triage before any entropy decoder runs —
    the compressed tier next to ``wav_feature_stats``' PCM decode."""
    return map_rows(media, id_col, MP3_FIELDS, mp3.parse_mp3)


GIF_FIELDS = struct_type(
    version=StringType(), width=IntegerType(), height=IntegerType(),
    gct_colors=IntegerType(), n_frames=IntegerType(), animated=BooleanType(),
    loop_count=IntegerType(), n_extensions=IntegerType(),
)


def gif_feature_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Image payloads → GIF STRUCTURE metadata (``gif.parse_gif`` —
    strict block walk, frame count, NETSCAPE loop extension,
    bomb-guarded declared dimensions): the triage a multimodal pipeline
    needs to route animated media (a 12-frame banner ad and a photo are
    different corpus citizens) without paying LZW pixel decode."""
    return map_rows(media, id_col, GIF_FIELDS, gif.parse_gif)


BMP_FIELDS = struct_type(
    width=IntegerType(), height=IntegerType(), bpp=IntegerType(),
    n_pixels=LongType(), px_sum=LongType(), px_min=IntegerType(),
    px_max=IntegerType(),
)


def bmp_feature_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Image payloads → decoded BMP statistics: the REAL decode step
    (``bmp.decode_bmp`` — BI_RGB 24/32 bpp, bottom-up and top-down row
    orders normalised), emitting the integer accumulators a DuckDB
    referee recomputes from a closed-form fixture (``mm_bmp_features``)."""
    return map_rows(media, id_col, BMP_FIELDS, bmp.bmp_stats)


MP4_FIELDS = struct_type(
    brand=StringType(), timescale=LongType(), duration=LongType(),
    width=IntegerType(), height=IntegerType(),
)


def mp4_meta_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Video payloads → container metadata: the REAL ISO-BMFF box walk
    (``mp4.parse_mp4_meta`` — ftyp brand, mvhd timescale/duration v0+v1,
    tkhd 16.16 width/height), no codec work. Emits integers + the brand
    string; ``duration_ms`` and frame plans derive downstream in JVM
    expressions (``mm_mp4_meta``)."""
    return map_rows(media, id_col, MP4_FIELDS, mp4.parse_mp4_meta)


JPEG_FIELDS = struct_type(
    width=IntegerType(), height=IntegerType(), components=IntegerType(),
    precision=IntegerType(), progressive=BooleanType(), jfif=BooleanType(),
)


def jpeg_meta_stats(media: DataFrame, id_col: str = "media_id") -> DataFrame:
    """Image payloads → frame metadata: the REAL ITU-T T.81 marker walk
    (``jpeg.parse_jpeg_meta`` — SOF precision/height/width/components,
    progressive flag, JFIF APP0 detection), no entropy decode. This is
    the ``imagesize``-style header sniff every web-curation pipeline runs
    before any resolution/aspect-ratio gate — dimensions come from the
    first marker segments, so at 100 TB the scan never touches the
    entropy-coded body."""
    return map_rows(media, id_col, JPEG_FIELDS, jpeg.parse_jpeg_meta)


def magic_kind(payload_col="payload"):
    """Container-format detection from magic bytes as a PURE Catalyst
    Column — zero Python, zero shuffle, whole-stage-codegen'd into the
    scan. This is the triage step a 100 TB multimodal ingest runs on
    EVERY payload before routing to a decoder: misrouted bytes must be
    caught from the first handful of bytes, not by a failed decode in a
    Python worker.

    Recognizes the repo's parser surface (png/jpeg/gif/webp/wav/mp3/mp4/warc) plus
    gzip (the compression wrapper real WARC/CC payloads arrive in);
    anything else (including NULL/short payloads) is ``'unknown'``.
    First-match-wins, most-specific first — the same CaseWhen cascade
    shape as the filter batteries.
    """
    p = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    head4 = F.hex(F.substring(p, 1, 4))
    return (
        F.when(head4 == "89504E47", F.lit("png"))
        .when(head4.startswith("FFD8FF"), F.lit("jpeg"))
        .when(
            (head4 == "52494646")
            & (F.hex(F.substring(p, 9, 4)) == "57415645"),
            F.lit("wav"),
        )
        .when(
            (head4 == "52494646")
            & (F.hex(F.substring(p, 9, 4)) == "57454250"),
            F.lit("webp"),
        )
        .when(
            # 'ftyp' at bytes 5-8 alone is spoofable (a gzip mtime or a
            # RIFF size field can coincide); a real leading ftyp box also
            # has a SMALL big-endian size, so require a zero lead byte
            # (size < 2^24 covers any realistic ftyp — a compatible-brand
            # list would need ~4M entries to exceed it); the size==1
            # largesize escape (00000001 + 'ftyp') is covered by the same
            # zero lead byte, so no extra arm is needed.
            head4.startswith("00")
            & (F.hex(F.substring(p, 5, 4)) == "66747970"),
            F.lit("mp4"),
        )
        .when(head4 == "47494638", F.lit("gif"))
        .when(
            # ID3v2-tagged or bare MPEG-1 Layer III stream: 'ID3', or a
            # frame sync whose version/layer bits say MPEG-1 Layer III
            # (0xFFFA/0xFFFB — protection bit either way). A bare 0xFFEx
            # sync alone is NOT enough: random binary hits it ~1/2048.
            head4.startswith("494433")
            | head4.startswith("FFFA")
            | head4.startswith("FFFB"),
            F.lit("mp3"),
        )
        .when(head4.startswith("1F8B"), F.lit("gzip"))
        .when(head4 == "57415243", F.lit("warc"))
        .when(
            # 'BM' alone is two ASCII letters any text blob can start
            # with; require the BITMAPINFOHEADER biSize=40 little-endian
            # at offset 15 too (the only header this repo's decoder
            # accepts), same spoof-resistance rationale as the mp4 arm.
            head4.startswith("424D")
            & (F.hex(F.substring(p, 15, 4)) == "28000000"),
            F.lit("bmp"),
        )
        .otherwise(F.lit("unknown"))
    )


FEATURE_SCHEMA = (
    "media_id bigint, kind string, byte_len bigint, content_sha256 string, "
    f"feature array<float>, decode_ok boolean"
)


def synthetic_media(spark: SparkSession, n: int = 64, seed: int = 7) -> DataFrame:
    """Deterministic fake media table for tests/benches (payload = seeded
    pseudo-random bytes with a kind-specific magic header)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes([137, 80, 78, 71][i % 3 :][:2]) + rng.bytes(256 + (i % 5) * 64)
        rows.append(
            (
                i,
                i % 17,
                kind,
                bytearray(payload),
                {"image": "image/png", "audio": "audio/wav", "video": "video/mp4"}[kind],
                (640, 480, None, None)
                if kind == "image"
                else (None, None, 5_000 + i, 16_000 if kind == "audio" else None),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _decode_payload(kind: str, payload: bytes) -> list[float]:
    """Feature vector per payload. Images that are valid PNGs go through
    the REAL pure-stdlib decoder (``png.py``: zlib inflate + all five
    scanline filters) and yield dimension/intensity features; other
    payloads (audio/video — their codecs are not in this container, and
    non-PNG image bytes) fall back to the deterministic byte-level
    fingerprint so the operator stays total. Raises on unknown kinds
    exactly like a real codec would.
    """
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for kind={kind!r}")
    if kind == "image" and payload[: len(png.PNG_SIGNATURE)] == png.PNG_SIGNATURE:
        try:
            st = png.png_stats(payload)
            denom = max(1, st["n_pixels"] * st["channels"] * 255)
            vec = [
                st["width"] / 65535.0,
                st["height"] / 65535.0,
                st["channels"] / 4.0,
                st["px_sum"] / denom,        # mean intensity in [0, 1]
                st["px_min"] / 255.0,
                st["px_max"] / 255.0,
            ]
            return vec + [0.0] * (FEATURE_DIM - len(vec))
        except ValueError:
            pass  # corrupt or unsupported PNG variant: byte-level fallback
    digest = hashlib.sha256(payload).digest()
    crc = zlib.crc32(payload)
    return [
        ((digest[i] << 8 | digest[i + 1]) ^ (crc & 0xFFFF)) / 65535.0
        for i in range(0, FEATURE_DIM * 2, 2)
    ]


def extract_features(media: DataFrame) -> DataFrame:
    """media → per-item feature rows via Arrow-batched mapInPandas.

    Selects ONLY the columns it needs before the Python exchange so parquet
    scans of a full media table never ship unused metadata through Arrow.
    """
    import pandas as pd

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in it:
            feats, shas, lens, oks = [], [], [], []
            for kind, payload in zip(pdf["kind"], pdf["payload"]):
                raw = bytes(payload) if payload is not None else b""
                lens.append(len(raw))
                shas.append(hashlib.sha256(raw).hexdigest())
                try:
                    feats.append(_decode_payload(kind, raw))
                    oks.append(True)
                except NotImplementedError:
                    feats.append([0.0] * FEATURE_DIM)
                    oks.append(False)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "byte_len": lens,
                    "content_sha256": shas,
                    "feature": feats,
                    "decode_ok": oks,
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        batches, schema=FEATURE_SCHEMA
    )


def media_dedup_exact(media: DataFrame) -> DataFrame:
    """Exact byte-level dedup over payloads: sha256 + keep-first window —
    the binary-column twin of the text exact-dedup operator."""
    from pyspark.sql import Window

    hashed = media.withColumn("payload_sha", F.sha2(F.col("payload"), 256))
    w = Window.partitionBy("payload_sha").orderBy("media_id")
    return hashed.withColumn("is_dup", F.row_number().over(w) > 1).select(
        "media_id", "payload_sha", "is_dup"
    )


def frame_sample_plan(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: expands each video into (media_id,
    frame_ts_ms) rows from metadata alone — no payload decode, so the
    expansion is pure Catalyst (sequence + explode) and the expensive decode
    of chosen frames happens later, only for sampled timestamps."""
    videos = media.filter(F.col("kind") == "video").select(
        "media_id", F.col("meta.duration_ms").alias("duration_ms")
    )
    return videos.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


AHASH_FIELDS = struct_type(ahash_hi=LongType(), ahash_lo=LongType())


def png_ahash(
    media: DataFrame, id_col: str = "media_id", grid: int = 8
) -> DataFrame:
    """Perceptual average-hash over decoded PNG payloads — the image twin
    of text SimHash: near-identical images (re-encodes, tiny edits, small
    overlays) land within a few Hamming bits of each other, so image-level
    near-dup removal becomes a banded hash join instead of pixel
    comparison.

    The hash is ``png.ahash_bits`` — block-mean thresholding in pure
    INTEGER arithmetic (floor divisions only), split into two int32-range
    halves (``ahash_hi`` bits 32..63, ``ahash_lo`` bits 0..31) so an
    independent referee can recompute it from a closed-form pixel formula
    and every value fits signed bigint on any engine. Rows that fail to
    decode (or are smaller than the grid) survive with ``decode_ok=false``.
    """

    def ahash(raw: bytes) -> dict:
        return dict(zip(AHASH_FIELDS.fieldNames(), png.ahash_bits(raw, grid=grid)))

    return map_rows(media, id_col, AHASH_FIELDS, ahash)


def phash_near_dup_pairs(
    hashes: DataFrame,
    id_col: str = "media_id",
    max_hamming: int = 10,
    bands: int = 4,
) -> DataFrame:
    """Near-duplicate image pairs by banded Hamming join over 64-bit
    perceptual hashes (``png_ahash`` output): split the hash into
    ``bands`` equal bit-bands, bucket-join on an identical band
    (pigeonhole: hamming <= bands-1 GUARANTEES a shared band; larger radii
    are probabilistic — the standard bit-sampling LSH recall tradeoff),
    then verify the exact Hamming distance with two XOR popcounts.

    Scale shape: the banded frame is ``bands`` narrow rows per image; the
    equi-join on (band_id, band_val) never goes all-pairs — identical to
    ``simhash_pairs``' text-side design. Returns (id_a, id_b, hamming),
    id_a < id_b, hamming <= max_hamming.
    """
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    bits_per_band = 64 // bands
    h = hashes.filter(F.col("decode_ok")).select(
        F.col(id_col).alias("_id"), "ahash_hi", "ahash_lo"
    )
    # band values arithmetically: bands 0..k/2-1 slice ahash_lo, the rest
    # ahash_hi (both halves are < 2^32, so shifts stay in bigint range)
    per_half = 32 // bits_per_band if bits_per_band <= 32 else 1
    mod = 1 << min(bits_per_band, 32)

    def band_val(b):
        half = F.when(b < per_half, F.col("ahash_lo")).otherwise(
            F.col("ahash_hi")
        )
        shift = (b % per_half) * bits_per_band
        return (half / F.pow(F.lit(2.0), shift)).cast("long") % mod

    banded = h.select(
        "_id", "ahash_hi", "ahash_lo",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band_id"), band_val(b).alias("band_val")
                ),
            )
        ).alias("band"),
    ).select("_id", "ahash_hi", "ahash_lo", "band.band_id", "band.band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a.ahash_hi").alias("hi_a"),
            F.col("a.ahash_lo").alias("lo_a"),
            F.col("b.ahash_hi").alias("hi_b"),
            F.col("b.ahash_lo").alias("lo_b"),
        )
        .distinct()
    )
    ham = F.bit_count(
        F.col("hi_a").bitwiseXOR(F.col("hi_b"))
    ) + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b")))
    return (
        cand.select("id_a", "id_b", ham.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )
