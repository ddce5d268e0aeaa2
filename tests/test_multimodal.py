"""Multimodal plumbing: schema, Arrow batch shapes, stubbed decode, dedup,
frame-sample plan."""

import pytest
from pyspark.sql import functions as F

from llm_pretraining_data_pipeline_spark.multimodal import bmp, gif, jpeg, mp3, mp4, png, wav, webp
from llm_pretraining_data_pipeline_spark.multimodal import media as M


class TestMultimodal:
    def test_feature_extraction_deterministic(self, spark):
        m = M.synthetic_media(spark, n=30)
        f1 = {r.media_id: (r.content_sha256, tuple(r.feature)) for r in
              M.extract_features(m).collect()}
        f2 = {r.media_id: (r.content_sha256, tuple(r.feature)) for r in
              M.extract_features(m).collect()}
        assert f1 == f2 and len(f1) == 30
        for sha, feat in f1.values():
            assert len(feat) == M.FEATURE_DIM
            assert all(0.0 <= x <= 1.0 for x in feat)

    def test_unknown_kind_flagged_not_fatal(self, spark):
        m = M.synthetic_media(spark, n=6).withColumn(
            "kind", F.when(F.col("media_id") == 0, "hologram").otherwise(F.col("kind"))
        )
        rows = {r.media_id: r for r in M.extract_features(m).collect()}
        assert rows[0].decode_ok is False
        assert all(rows[i].decode_ok for i in range(1, 6))

    def test_media_dedup(self, spark):
        m = M.synthetic_media(spark, n=12)
        doubled = m.union(m.withColumn("media_id", F.col("media_id") + 100))
        out = {r.media_id: r.is_dup for r in M.media_dedup_exact(doubled).collect()}
        assert sum(out.values()) == 12  # every copy marked, no original marked
        assert not any(out[i] for i in range(12))

    def test_frame_sample_plan_is_metadata_only(self, spark, tmp_path):
        # through parquet, so column pruning is observable in the scan schema
        M.synthetic_media(spark, n=9).write.mode("overwrite").parquet(
            str(tmp_path / "media.parquet")
        )
        m = spark.read.parquet(str(tmp_path / "media.parquet"))
        plan = M.frame_sample_plan(m, every_ms=1000)
        rows = plan.collect()
        assert len(rows) > 0
        by_media = {}
        for r in rows:
            by_media.setdefault(r.media_id, []).append(r.frame_ts_ms)
        for ts_list in by_media.values():
            assert ts_list == sorted(ts_list)
            assert ts_list[0] == 0
        # the parquet scan must prune the payload column (ReadSchema excludes it)
        physical = plan._jdf.queryExecution().executedPlan().toString()
        assert "ReadSchema" in physical
        read_schema = physical.split("ReadSchema:")[1].splitlines()[0]
        assert "payload" not in read_schema, read_schema


class TestPngCodec:
    """The real pure-stdlib PNG decoder (multimodal/png.py) on hand-built
    images: round-trips across every color-type x filter-type combination,
    filter reconstruction against known bytes, and failure modes."""

    def test_roundtrip_all_color_and_filter_types(self):
        import itertools

        from llm_pretraining_data_pipeline_spark.multimodal import png

        for ct, ft in itertools.product([0, 2, 4, 6], range(5)):
            ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
            w, h = 13, 7
            pix = bytes(
                (7 * x + 13 * y + 31 * c) % 256
                for y in range(h) for x in range(w) for c in range(ch)
            )
            data = png.encode_png(w, h, pix, color_type=ct, filter_type=ft)
            gw, gh, bd, gch, out = png.decode_png(data)
            assert (gw, gh, bd, gch) == (w, h, 8, ch), (ct, ft)
            assert out == pix, f"roundtrip mismatch ct={ct} ft={ft}"

    def test_hand_computed_stats(self):
        from llm_pretraining_data_pipeline_spark.multimodal import png

        # 2x2 greyscale, Paeth-filtered: stats must match the raw samples
        st = png.png_stats(
            png.encode_png(2, 2, bytes([0, 255, 10, 20]), color_type=0,
                           filter_type=4)
        )
        assert st == {
            "width": 2, "height": 2, "bit_depth": 8, "channels": 1,
            "n_pixels": 4, "px_sum": 285, "px_min": 0, "px_max": 255,
        }

    def test_multiple_idat_chunks_concatenate(self):
        import struct
        import zlib

        from llm_pretraining_data_pipeline_spark.multimodal import png

        pix = bytes(range(12))  # 4x3 greyscale
        data = png.encode_png(4, 3, pix, color_type=0, filter_type=0)
        # split the single IDAT into two chunks by hand
        sig_ihdr = data[: 8 + 25]
        idat_len = struct.unpack(">I", data[33:37])[0]
        idat_body = data[41 : 41 + idat_len]
        iend = data[41 + idat_len + 4 :]

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body)) + ctype + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        rebuilt = (
            sig_ihdr
            + chunk(b"IDAT", idat_body[:3])
            + chunk(b"IDAT", idat_body[3:])
            + iend
        )
        assert png.decode_png(rebuilt)[4] == pix

    def test_failure_modes(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import png

        with pytest.raises(ValueError, match="signature"):
            png.decode_png(b"JFIF not a png")
        with pytest.raises(ValueError, match="truncated"):
            png.decode_png(png.PNG_SIGNATURE + b"CORRUPT!")
        with pytest.raises(ValueError, match="IHDR"):
            png.decode_png(png.PNG_SIGNATURE)  # no chunks at all
        good = png.encode_png(2, 2, bytes(4), color_type=0)
        with pytest.raises(ValueError, match="CRC"):
            corrupted = good[:45] + bytes([good[45] ^ 0xFF]) + good[46:]
            png.decode_png(corrupted)
        with pytest.raises(ValueError, match="width"):
            png.encode_png(3, 2, bytes(4), color_type=0)
        with pytest.raises(ValueError, match="color_type"):
            png.encode_png(1, 1, bytes(1), color_type=3)

    def test_spark_operator_decodes_and_flags(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import media, png

        rows = [
            (1, bytearray(png.encode_png(3, 2, bytes(range(18)), color_type=2,
                                         filter_type=1))),
            (2, bytearray(b"garbage")),
            (3, bytearray(png.encode_png(2, 2, bytes([5, 5, 5, 5]),
                                         color_type=0, filter_type=2))),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        out = {r.media_id: r for r in media.png_feature_stats(df).collect()}
        assert (out[1].width, out[1].height, out[1].channels) == (3, 2, 3)
        assert out[1].px_sum == sum(range(18)) and out[1].decode_ok
        assert not out[2].decode_ok and "signature" in out[2].decode_err
        assert out[3].n_pixels == 4 and out[3].px_sum == 20

    def test_decode_payload_uses_real_decoder_for_png(self):
        from llm_pretraining_data_pipeline_spark.multimodal import media, png

        data = png.encode_png(4, 2, bytes([100] * 24), color_type=2)
        vec = media._decode_payload("image", data)
        assert vec[0] == 4 / 65535.0 and vec[1] == 2 / 65535.0
        assert vec[2] == 3 / 4.0
        assert abs(vec[3] - 100 / 255.0) < 1e-12  # mean intensity
        assert vec[4] == vec[5] == 100 / 255.0
        # non-PNG image bytes still fall back to the byte fingerprint
        fb = media._decode_payload("image", b"\xff\xd8 jpeg-ish")
        assert len(fb) == media.FEATURE_DIM and fb != vec


class TestPngBombGuards:
    """ADVICE r7 (medium): a crafted payload must not OOM an executor —
    huge declared IHDR dimensions and high-ratio deflate streams both
    raise ValueError (-> decode_ok=false) before any pixel-sized
    allocation, while legit images under the cap decode unchanged."""

    @staticmethod
    def _build(width, height, idat_raw, color_type=0):
        import struct
        import zlib

        from llm_pretraining_data_pipeline_spark.multimodal import png

        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
        return (
            png.PNG_SIGNATURE
            + png._chunk(b"IHDR", ihdr)
            + png._chunk(b"IDAT", zlib.compress(idat_raw))
            + png._chunk(b"IEND", b"")
        )

    def test_huge_declared_dimensions_rejected_cheaply(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import png

        # 70000 x 70000 = 4.9e9 declared pixels from a few hundred bytes;
        # must fail on the cap, not on an allocation.
        bomb = self._build(70_000, 70_000, b"\x00" * 64)
        with pytest.raises(ValueError, match="max_pixels"):
            png.decode_png(bomb)

    def test_deflate_bomb_bounded(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import png

        # dims pass the cap (3x3 grey => 36 expected raw bytes) but the
        # IDAT inflates to 10 MB; the bounded inflate must stop at
        # expected+1 bytes and raise.
        bomb = self._build(3, 3, b"\x00" * 10_000_000)
        with pytest.raises(ValueError, match="inflates past"):
            png.decode_png(bomb)

    def test_zero_dimension_rejected(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import png

        with pytest.raises(ValueError, match="zero-dimension"):
            png.decode_png(self._build(0, 5, b""))

    def test_max_pixels_configurable_and_default_transparent(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import png

        data = png.encode_png(4, 4, bytes(range(16)), color_type=0)
        # default cap: decodes identically
        assert png.decode_png(data)[4] == bytes(range(16))
        # caller-tightened cap rejects the same image
        with pytest.raises(ValueError, match="max_pixels"):
            png.decode_png(data, max_pixels=15)

    def test_spark_operator_flags_bomb_as_decode_err(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import media

        bomb = self._build(70_000, 70_000, b"\x00" * 64)
        df = spark.createDataFrame(
            [(1, bytearray(bomb))], "media_id long, payload binary"
        )
        row = media.png_feature_stats(df).collect()[0]
        assert not row.decode_ok and "max_pixels" in row.decode_err

    @staticmethod
    def _build_precompressed(width, height, idat_compressed, color_type=0):
        """Like _build but takes the zlib stream verbatim — for crafting
        truncated / checksum-corrupted streams."""
        import struct

        from llm_pretraining_data_pipeline_spark.multimodal import png

        ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
        return (
            png.PNG_SIGNATURE
            + png._chunk(b"IHDR", ihdr)
            + png._chunk(b"IDAT", idat_compressed)
            + png._chunk(b"IEND", b"")
        )

    def test_truncated_idat_at_exact_size_rejected(self):
        """ADVICE r8 (low): a stream cut AFTER the last output byte but
        BEFORE the deflate final-block end / Adler-32 trailer yields
        exactly `expected` bytes — both size checks pass, so only the
        dec.eof check catches it (the unbounded zlib.decompress used to)."""
        import pytest
        import zlib

        from llm_pretraining_data_pipeline_spark.multimodal import png

        raw = b"".join(
            b"\x00" + bytes(range(r * 4, r * 4 + 4)) for r in range(4)
        )  # 4x4 grey, filter 0 per row -> expected = 20 bytes
        comp = zlib.compress(raw)
        # full stream decodes fine
        assert png.decode_png(self._build_precompressed(4, 4, comp))[4]
        # drop the 4-byte Adler-32 trailer: all 20 output bytes are still
        # recoverable, but end-of-stream is never reached
        trunc = self._build_precompressed(4, 4, comp[:-4])
        with pytest.raises(ValueError, match="truncated"):
            png.decode_png(trunc)

    def test_corrupted_adler_checksum_rejected(self):
        """Flipping the checksum's last byte must fail (zlib.error ->
        ValueError contract), proving the bounded inflate still verifies
        Adler-32 like the pre-bomb-guard zlib.decompress did."""
        import pytest
        import zlib

        from llm_pretraining_data_pipeline_spark.multimodal import png

        raw = b"".join(b"\x00" + bytes([r] * 4) for r in range(4))
        comp = bytearray(zlib.compress(raw))
        comp[-1] ^= 0xFF
        bad = self._build_precompressed(4, 4, bytes(comp))
        with pytest.raises(ValueError, match="corrupt PNG"):
            png.decode_png(bad)


class TestPngNonValueErrorPaths:
    """Review finding: zlib.error / struct.error must surface as ValueError
    so png_feature_stats' decode_ok contract holds for every corrupt
    payload class, not just clean parse failures."""

    def test_corrupt_deflate_and_truncated_structs_raise_valueerror(self):
        import struct
        import zlib

        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import png

        good = png.encode_png(2, 2, bytes(4), color_type=0)

        # corrupt the deflate stream but FIX the chunk CRC so parsing
        # reaches zlib.decompress
        idat_len = struct.unpack(">I", good[33:37])[0]
        body = bytearray(good[41 : 41 + idat_len])
        body[0] ^= 0xFF
        fixed_crc = struct.pack(
            ">I", zlib.crc32(b"IDAT" + bytes(body)) & 0xFFFFFFFF
        )
        corrupt = (
            good[:41] + bytes(body) + fixed_crc + good[41 + idat_len + 4 :]
        )
        with pytest.raises(ValueError, match="corrupt PNG"):
            png.decode_png(corrupt)

        # payload truncated inside a chunk CRC field
        with pytest.raises(ValueError):
            png.decode_png(good[:-2])

        # short IHDR body with self-consistent CRC
        ihdr_body = b"\x00" * 5
        crc = struct.pack(">I", zlib.crc32(b"IHDR" + ihdr_body) & 0xFFFFFFFF)
        short = (
            png.PNG_SIGNATURE
            + struct.pack(">I", len(ihdr_body)) + b"IHDR" + ihdr_body + crc
        )
        with pytest.raises(ValueError):
            png.decode_png(short)

    def test_spark_operator_survives_corrupt_deflate(self, spark):
        import struct
        import zlib

        from llm_pretraining_data_pipeline_spark.multimodal import media, png

        good = png.encode_png(2, 2, bytes(4), color_type=0)
        idat_len = struct.unpack(">I", good[33:37])[0]
        body = bytearray(good[41 : 41 + idat_len])
        body[0] ^= 0xFF
        fixed_crc = struct.pack(
            ">I", zlib.crc32(b"IDAT" + bytes(body)) & 0xFFFFFFFF
        )
        corrupt = (
            good[:41] + bytes(body) + fixed_crc + good[41 + idat_len + 4 :]
        )
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(corrupt))],
            "media_id long, payload binary",
        )
        out = {r.media_id: r for r in media.png_feature_stats(df).collect()}
        assert out[1].decode_ok
        assert not out[2].decode_ok and "corrupt PNG" in out[2].decode_err


class TestPngHypothesisRoundTrip:
    def test_fuzz_roundtrip(self):
        """Property: encode → decode is the identity for every valid
        (dims, color type, filter type, pixel bytes) combination."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        from llm_pretraining_data_pipeline_spark.multimodal import png

        @settings(max_examples=120, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(
            w=st.integers(1, 12),
            h=st.integers(1, 9),
            ct=st.sampled_from([0, 2, 4, 6]),
            ft=st.integers(0, 4),
            data=st.data(),
        )
        def roundtrip(w, h, ct, ft, data):
            ch = {0: 1, 2: 3, 4: 2, 6: 4}[ct]
            pix = bytes(
                data.draw(
                    st.lists(
                        st.integers(0, 255),
                        min_size=w * h * ch, max_size=w * h * ch,
                    )
                )
            )
            out = png.decode_png(
                png.encode_png(w, h, pix, color_type=ct, filter_type=ft)
            )
            assert out == (w, h, 8, ch, pix)

        roundtrip()

    def test_fuzz_decoder_total_on_mutations(self):
        """Property: randomly mutated/truncated PNG bytes either decode or
        raise ValueError — never any other exception type (the decode_ok
        contract of png_feature_stats)."""
        import random

        from llm_pretraining_data_pipeline_spark.multimodal import png

        rng = random.Random(20260814)
        base = png.encode_png(6, 4, bytes(range(72)), color_type=2,
                              filter_type=3)
        for _ in range(300):
            b = bytearray(base)
            op = rng.randrange(3)
            if op == 0:  # flip a byte
                i = rng.randrange(len(b))
                b[i] ^= rng.randrange(1, 256)
            elif op == 1:  # truncate
                b = b[: rng.randrange(len(b))]
            else:  # splice garbage
                i = rng.randrange(len(b))
                b[i:i] = bytes(rng.randrange(256) for _ in range(rng.randrange(1, 9)))
            try:
                png.decode_png(bytes(b))
            except ValueError:
                pass  # the one allowed failure mode


# (decoder, payload builder, some decoded fields and their values)
_DECODER_CASES = [
    ("png_ahash", lambda: png.encode_png(8, 8, bytes(range(64)), color_type=0),
     {"ahash_hi": 2**32 - 1, "ahash_lo": 0}),
    ("png_feature_stats", lambda: png.encode_png(8, 8, bytes(range(64)), color_type=0),
     {"width": 8, "height": 8}),
    ("wav_feature_stats", lambda: wav.encode_wav([0, 100, -100, 50]), {"n_frames": 4}),
    ("webp_feature_stats", lambda: webp.encode_webp_stub(8, 6), {"width": 8, "height": 6}),
    ("mp3_feature_stats", lambda: mp3.encode_mp3_stub(3), {"n_frames": 3}),
    ("gif_feature_stats", lambda: gif.encode_gif(8, 6), {"width": 8, "height": 6}),
    ("bmp_feature_stats", lambda: bmp.encode_bmp(4, 4, bytes(48)), {"width": 4, "height": 4}),
    ("mp4_meta_stats", lambda: mp4.encode_mp4_stub(1000, 5000, 8, 6), {"width": 8, "height": 6}),
    ("jpeg_meta_stats", lambda: jpeg.encode_jpeg_stub(8, 6), {"width": 8, "height": 6}),
]


class TestAhash:
    """Integer average-hash over decoded pixels (round 8)."""

    def test_hand_computed_8x8(self):
        from llm_pretraining_data_pipeline_spark.multimodal import png

        # 8x8 grey, grid 8 -> every pixel is its own block; overall mean
        # floor(sum(0..63)/64) = 31; bits set exactly for pixels > 31,
        # i.e. linear indices 32..63 -> lo = 0, hi = 2^32 - 1
        pix = bytes(range(64))
        data = png.encode_png(8, 8, pix, color_type=0)
        hi, lo = png.ahash_bits(data, grid=8)
        assert (hi, lo) == (2**32 - 1, 0)

    def test_multichannel_grey_projection(self):
        from llm_pretraining_data_pipeline_spark.multimodal import png

        # RGB image whose channels average to the same ramp as the grey
        # test: grey = floor((v + v + v)/3) = v
        pix = bytes(b for v in range(64) for b in (v, v, v))
        data = png.encode_png(8, 8, pix, color_type=2)
        assert png.ahash_bits(data) == (2**32 - 1, 0)

    def test_identical_images_same_hash_small_edit_small_hamming(self):
        from llm_pretraining_data_pipeline_spark.multimodal import png

        base = bytes((7 * x + 13 * y) % 256 for y in range(16) for x in range(16))
        d1 = png.encode_png(16, 16, base, color_type=0, filter_type=1)
        d2 = png.encode_png(16, 16, base, color_type=0, filter_type=4)
        assert png.ahash_bits(d1) == png.ahash_bits(d2)  # encoding-invariant
        # flip one pixel hard: at most a few blocks change
        edited = bytearray(base)
        edited[0] = 255
        d3 = png.encode_png(16, 16, bytes(edited), color_type=0)
        h1, h3 = png.ahash_bits(d1), png.ahash_bits(d3)
        ham = bin((h1[0] ^ h3[0])).count("1") + bin((h1[1] ^ h3[1])).count("1")
        assert ham <= 4

    @pytest.mark.parametrize(
        "decoder, encode, want", _DECODER_CASES, ids=[c[0] for c in _DECODER_CASES]
    )
    def test_png_ahash_respects_custom_id_col(self, spark, decoder, encode, want):
        """Every payload decoder keys its rows by the caller's id_col —
        mapInPandas matches pandas labels to schema names, so a hardcoded
        'media_id' breaks any other id_col (ADVICE r8 for png_ahash; the
        same flaw in png_feature_stats)."""
        df = spark.createDataFrame(
            [(7, bytearray(encode()))], "asset_id long, payload binary"
        )
        out = getattr(M, decoder)(df, id_col="asset_id")
        assert out.columns[0] == "asset_id"
        assert out.columns[-2:] == ["decode_ok", "decode_err"]
        row = out.collect()[0]
        assert row.asset_id == 7 and row.decode_ok, row
        assert {k: row[k] for k in want} == want

    def test_too_small_for_grid_raises(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import png

        data = png.encode_png(4, 4, bytes(16), color_type=0)
        with pytest.raises(ValueError, match="ahash grid"):
            png.ahash_bits(data, grid=8)


class TestPhashPairs:
    def test_spark_ahash_and_banded_pairs(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import media, png

        base = bytes((7 * x + 13 * y) % 256 for y in range(16) for x in range(16))
        edited = bytearray(base)
        edited[0] = 255
        far = bytes((91 * x + 57 * y + 128) % 256 for y in range(16) for x in range(16))
        rows = [
            (1, bytearray(png.encode_png(16, 16, base, color_type=0))),
            (2, bytearray(png.encode_png(16, 16, base, color_type=0, filter_type=3))),
            (3, bytearray(png.encode_png(16, 16, bytes(edited), color_type=0))),
            (4, bytearray(png.encode_png(16, 16, far, color_type=0))),
            (5, bytearray(b"not a png")),
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        hashes = media.png_ahash(df)
        got = {r.media_id: r for r in hashes.collect()}
        assert not got[5].decode_ok
        assert (got[1].ahash_hi, got[1].ahash_lo) == (
            got[2].ahash_hi, got[2].ahash_lo
        )
        pairs = {
            (r.id_a, r.id_b): r.hamming
            for r in media.phash_near_dup_pairs(hashes, max_hamming=6).collect()
        }
        assert pairs[(1, 2)] == 0          # identical content, re-encoded
        assert (1, 3) in pairs             # one-pixel edit stays close
        assert all(4 not in p for p in pairs)  # far image never pairs

    def test_pair_plan_is_banded_not_allpairs(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import media, png

        base = bytes((3 * x + 5 * y) % 256 for y in range(16) for x in range(16))
        rows = [
            (i, bytearray(png.encode_png(16, 16, base, color_type=0)))
            for i in range(4)
        ]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        plan = (
            media.phash_near_dup_pairs(media.png_ahash(df))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan

    def test_bands_must_divide_64(self, spark):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import media

        df = spark.createDataFrame(
            [(1, 0, 0, True, None)],
            "media_id long, ahash_hi long, ahash_lo long, decode_ok boolean,"
            " decode_err string",
        )
        with pytest.raises(ValueError, match="divide 64"):
            media.phash_near_dup_pairs(df, bands=5)


class TestMagicKind:
    """magic_kind: zero-Python magic-byte triage (multimodal/media.py)."""

    def _detect(self, spark, payloads):
        from llm_pretraining_data_pipeline_spark.multimodal import media
        rows = [(i, bytearray(p) if p is not None else None)
                for i, p in enumerate(payloads)]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        out = df.select("media_id", media.magic_kind("payload").alias("k"))
        return [r["k"] for r in out.orderBy("media_id").collect()]

    def test_detects_every_kind(self, spark):
        import gzip

        from llm_pretraining_data_pipeline_spark.multimodal import (
            jpeg, mp4, png, wav,
        )
        from llm_pretraining_data_pipeline_spark.sources import warc
        kinds = self._detect(spark, [
            png.encode_png(1, 1, b"\x01\x02\x03"),
            jpeg.encode_jpeg_stub(8, 8),
            wav.encode_wav([0, 1]),
            mp4.encode_mp4_stub(600, 60, 16, 16),
            gzip.compress(b"x", mtime=0),
            warc.encode_warc_record("response", "u", "r", b"b"),
            b"\x00\x01\x02\x03plainjunk",
            None,
            b"\xff",  # shorter than any magic
        ])
        assert kinds == ["png", "jpeg", "wav", "mp4", "gzip", "warc",
                         "unknown", "unknown", "unknown"]

    def test_riff_but_not_wave_is_unknown(self, spark):
        # RIFF container that is not WAVE (e.g. AVI) must not claim 'wav'
        avi = b"RIFF" + b"\x00\x00\x00\x24" + b"AVI " + b"\x00" * 16
        assert self._detect(spark, [avi]) == ["unknown"]

    def test_plan_is_pure_jvm(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import media
        df = spark.createDataFrame(
            [(1, bytearray(b"\x89PNG\r\n\x1a\n"))],
            "media_id long, payload binary",
        )
        out = df.select(media.magic_kind("payload").alias("k"))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Python" not in plan and "Arrow" not in plan
        assert "Exchange" not in plan


class TestTruncatedRecall:
    """truncated_recall (operators/similarity.py): MRL truncation audit."""

    def test_full_dims_is_perfect_recall(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import similarity
        import random
        rnd = random.Random(7)
        rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(40)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.limit(2).select(
            emb["vec_id"].alias("query_id"), "embedding"
        )
        out = similarity.truncated_recall(emb, q, dims=8, k=5).collect()
        assert all(r["recall_at_k"] == 1.0 for r in out)

    def test_truncation_degrades_but_bounded(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import similarity
        import random
        rnd = random.Random(11)
        rows = [(i, [rnd.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        q = emb.limit(2).select(emb["vec_id"].alias("query_id"), "embedding")
        out = similarity.truncated_recall(emb, q, dims=2, k=5).collect()
        assert all(0 <= r["n_hit"] <= 5 for r in out)
        assert len(out) == 2

    def test_rejects_bad_dims(self, spark):
        from llm_pretraining_data_pipeline_spark.operators import similarity
        import pytest
        df = spark.createDataFrame([(1, [0.1])], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="dims"):
            similarity.truncated_recall(df, df.selectExpr("vec_id as query_id", "embedding"), dims=0)


class TestMagicKindSpoofGuard:
    """Round-9 review finding: 'ftyp' at bytes 5-8 alone is spoofable."""

    def test_gzip_with_ftyp_mtime_stays_gzip(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import media
        # gzip header with mtime bytes spelling 'ftyp' (a valid 2029 date)
        payload = b"\x1f\x8b\x08\x00" + b"ftyp" + b"\x00\x03" + b"\x00" * 8
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "media_id long, payload binary"
        )
        out = df.select(media.magic_kind("payload").alias("k")).collect()
        assert out[0]["k"] == "gzip"

    def test_riff_with_ftyp_size_is_unknown(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import media
        payload = b"RIFF" + b"ftyp" + b"AVI " + b"\x00" * 16
        df = spark.createDataFrame(
            [(1, bytearray(payload))], "media_id long, payload binary"
        )
        out = df.select(media.magic_kind("payload").alias("k")).collect()
        assert out[0]["k"] == "unknown"

    def test_large_ftyp_box_and_largesize_still_mp4(self, spark):
        # ADVICE r9: a leading ftyp box may declare a size above 2^16
        # (long compatible-brand lists) or use the size==1 largesize
        # escape — both still carry 'ftyp' at bytes 5-8 and must triage
        # as mp4, not 'unknown'.
        from llm_pretraining_data_pipeline_spark.multimodal import media
        big = b"\x00\x01\x00\x00" + b"ftyp" + b"isom" + b"\x00" * 16
        largesize = (
            b"\x00\x00\x00\x01" + b"ftyp"
            + b"\x00\x00\x00\x00\x00\x00\x00\x20" + b"isom" + b"\x00" * 16
        )
        spoof = b"\x01\x00\x00\x00" + b"ftyp" + b"\x00" * 16  # size >= 2^24
        df = spark.createDataFrame(
            [(0, bytearray(big)), (1, bytearray(largesize)),
             (2, bytearray(spoof))],
            "media_id long, payload binary",
        )
        out = df.select("media_id", media.magic_kind("payload").alias("k"))
        kinds = [r["k"] for r in out.orderBy("media_id").collect()]
        assert kinds == ["mp4", "mp4", "unknown"]


class TestGifParser:
    """multimodal/gif.py: strict GIF structure walk (frame count,
    NETSCAPE loop, bomb guards) — the animation-tier codec."""

    def test_roundtrip_and_fields(self):
        from llm_pretraining_data_pipeline_spark.multimodal import gif

        st = gif.parse_gif(gif.encode_gif(10, 8, n_frames=3, loop=2))
        assert st["width"] == 10 and st["height"] == 8
        assert st["n_frames"] == 3 and st["animated"] is True
        assert st["loop_count"] == 2 and st["gct_colors"] == 2
        assert st["n_extensions"] == 4  # 3 GCEs + NETSCAPE
        st1 = gif.parse_gif(gif.encode_gif(4, 4))
        assert st1["n_frames"] == 1 and st1["animated"] is False
        assert st1["loop_count"] is None
        assert gif.parse_gif(
            gif.encode_gif(2, 2, version=b"GIF87a")
        )["version"] == "87a"

    def test_strictness(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import gif

        good = gif.encode_gif(6, 4, n_frames=2)
        for bad, msg in [
            (b"", "shorter"),
            (b"NOTAGIF" + b"\x00" * 10, "bad magic"),
            (good[:-1], "missing trailer"),
            (good + b"x", "trailing"),
            (good[:20], "truncated|missing|sub-block"),
        ]:
            with pytest.raises(ValueError, match=msg):
                gif.parse_gif(bad)
        # declared-dimension bomb guard fires BEFORE any allocation
        import struct
        bomb = bytearray(gif.encode_gif(2, 2))
        bomb[6:10] = struct.pack("<HH", 0xFFFF, 0xFFFF)
        with pytest.raises(ValueError, match="bomb guard"):
            gif.parse_gif(bytes(bomb))
        # frame rect outside the logical screen
        frame_oob = bytearray(gif.encode_gif(4, 4))
        idx = bytes(frame_oob).index(b"\x2c")
        frame_oob[idx + 5 : idx + 7] = struct.pack("<H", 9)
        with pytest.raises(ValueError, match="outside logical screen"):
            gif.parse_gif(bytes(frame_oob))

    def test_fuzz_total(self):
        import random

        from llm_pretraining_data_pipeline_spark.multimodal import gif

        good = gif.encode_gif(5, 3, n_frames=2, loop=0)
        rng = random.Random(99)
        for _ in range(2000):
            b = bytearray(good)
            for _ in range(rng.randrange(1, 5)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                gif.parse_gif(bytes(b))
            except ValueError:
                pass
        for i in range(len(good)):
            try:
                gif.parse_gif(good[:i])
            except ValueError:
                pass
        for n in (0, 1, 7, 13, 64):
            try:
                gif.parse_gif(bytes(rng.randrange(256) for _ in range(n)))
            except ValueError:
                pass

    def test_magic_kind_gif_arm(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import gif, media

        rows = [
            (0, bytearray(gif.encode_gif(2, 2))),
            (1, bytearray(b"GIF9")),      # not a GIF prefix
            (2, bytearray(b"GIF8")),      # exact prefix: triage says gif
        ]
        df = spark.createDataFrame(rows, "i int, payload binary")
        got = {
            r["i"]: r["k"]
            for r in df.select(
                "i", media.magic_kind("payload").alias("k")
            ).collect()
        }
        assert got[0] == "gif" and got[1] == "unknown" and got[2] == "gif"


class TestMp3Parser:
    """multimodal/mp3.py: strict MPEG-1 Layer III frame walk."""

    def test_roundtrip_cbr_vbr_id3(self):
        from llm_pretraining_data_pipeline_spark.multimodal import mp3

        st = mp3.parse_mp3(mp3.encode_mp3_stub(3, 9, 0))
        assert st["n_frames"] == 3 and st["bitrate_kbps"] == 128
        assert st["sample_rate"] == 44100 and st["vbr"] is False
        assert st["n_samples"] == 3456 and st["id3_size"] == 0
        st2 = mp3.parse_mp3(
            mp3.encode_mp3_stub(2, [9, 11], 1, channel_bits=3,
                                id3_payload=b"t" * 5)
        )
        assert st2["vbr"] is True and st2["channel_mode"] == "mono"
        assert st2["sample_rate"] == 48000 and st2["id3_size"] == 15
        assert st2["duration_ms"] == 48.0

    def test_strictness(self):
        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import mp3

        good = mp3.encode_mp3_stub(2, 9, 0)
        for bad, msg in [
            (b"", "no frames"),
            (good[:-1], "declares"),
            (good + b"\x00\x00\x00\x00", "lost sync"),
            (b"ID3\x04\x00\x00\x7f\x7f\x7f\x7f", "runs past"),
            (b"ID3\x04\x00\x00\x00\x00\x80\x00" + b"x" * 200,
             "non-syncsafe"),
        ]:
            with pytest.raises(ValueError, match=msg):
                mp3.parse_mp3(bad)
        # MPEG-2 / other layers are out of scope, typed message
        b = bytearray(good)
        b[1] = 0xF3  # version bits 10 (MPEG-2), layer III
        with pytest.raises(ValueError, match="only MPEG-1 Layer III"):
            mp3.parse_mp3(bytes(b))
        # free bitrate refused (frame length undefined)
        b = bytearray(good)
        b[2] = b[2] & 0x0F
        with pytest.raises(ValueError, match="free/invalid bitrate"):
            mp3.parse_mp3(bytes(b))

    def test_fuzz_total(self):
        import random

        from llm_pretraining_data_pipeline_spark.multimodal import mp3

        good = mp3.encode_mp3_stub(3, [9, 11, 9], 2, id3_payload=b"xy")
        rng = random.Random(13)
        for _ in range(2000):
            b = bytearray(good)
            for _ in range(rng.randrange(1, 5)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            try:
                mp3.parse_mp3(bytes(b))
            except ValueError:
                pass
        for i in range(0, len(good), 3):
            try:
                mp3.parse_mp3(good[:i])
            except ValueError:
                pass


class TestWebpParser:
    """multimodal/webp.py: RIFF chunk walk, three header shapes."""

    def test_three_formats(self):
        from llm_pretraining_data_pipeline_spark.multimodal import webp

        lossy = webp.parse_webp(webp.encode_webp_stub(64, 48, "lossy"))
        assert lossy["format"] == "lossy" and lossy["width"] == 64
        ll = webp.parse_webp(
            webp.encode_webp_stub(33, 21, "lossless", alpha=True)
        )
        assert ll == {
            "format": "lossless", "width": 33, "height": 21,
            "has_alpha": True, "animated": False, "n_frames": 1,
        }
        anim = webp.parse_webp(
            webp.encode_webp_stub(100, 80, "extended", n_frames=3)
        )
        assert anim["animated"] is True and anim["n_frames"] == 3
        assert anim["width"] == 100 and anim["format"] == "extended"

    def test_strictness_and_bomb_guard(self):
        import struct

        import pytest

        from llm_pretraining_data_pipeline_spark.multimodal import webp

        good = webp.encode_webp_stub(20, 20, "extended", n_frames=2)
        for bad, msg in [
            (b"", "shorter"),
            (good[:-1], "declares"),
            (good + b"x", "declares"),
            (b"RIFX" + good[4:], "bad RIFF"),
            (b"RIFF\x04\x00\x00\x00WEBP", "no image chunk"),
        ]:
            with pytest.raises(ValueError, match=msg):
                webp.parse_webp(bad)
        # VP8X canvas bomb: 24-bit dims up to 16M x 16M
        bomb = bytearray(webp.encode_webp_stub(4, 4, "extended"))
        i = bytes(bomb).index(b"VP8X") + 8 + 4
        bomb[i : i + 3] = struct.pack("<I", (1 << 24) - 1)[:3]
        bomb[i + 3 : i + 6] = struct.pack("<I", (1 << 24) - 1)[:3]
        with pytest.raises(ValueError, match="bomb guard"):
            webp.parse_webp(bytes(bomb))
        # lossy chunk must be a keyframe with the start code
        nk = bytearray(webp.encode_webp_stub(8, 8, "lossy"))
        j = bytes(nk).index(b"VP8 ") + 8
        nk[j] |= 0x01
        with pytest.raises(ValueError, match="keyframe"):
            webp.parse_webp(bytes(nk))

    def test_fuzz_total(self):
        import random

        from llm_pretraining_data_pipeline_spark.multimodal import webp

        goods = [
            webp.encode_webp_stub(9, 7, "lossy"),
            webp.encode_webp_stub(9, 7, "lossless", alpha=True),
            webp.encode_webp_stub(9, 7, "extended", n_frames=2),
        ]
        rng = random.Random(21)
        for good in goods:
            for _ in range(800):
                b = bytearray(good)
                for _ in range(rng.randrange(1, 4)):
                    b[rng.randrange(len(b))] = rng.randrange(256)
                try:
                    webp.parse_webp(bytes(b))
                except ValueError:
                    pass
            for i in range(len(good)):
                try:
                    webp.parse_webp(good[:i])
                except ValueError:
                    pass

    def test_magic_kind_webp_vs_wav(self, spark):
        from llm_pretraining_data_pipeline_spark.multimodal import (
            media, wav, webp,
        )

        rows = [
            (0, bytearray(webp.encode_webp_stub(4, 4, "lossy"))),
            (1, bytearray(wav.encode_wav([1, 2, 3]))),
            (2, bytearray(b"RIFF\x04\x00\x00\x00JUNK")),
        ]
        df = spark.createDataFrame(rows, "i int, payload binary")
        got = {
            r["i"]: r["k"]
            for r in df.select(
                "i", media.magic_kind("payload").alias("k")
            ).collect()
        }
        assert got == {0: "webp", 1: "wav", 2: "unknown"}
