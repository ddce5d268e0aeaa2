"""WARC reader (sources/warc.py) parser + warc_records operator tests."""

import pytest

from llm_pretraining_data_pipeline_spark.sources import http, warc


def _two_record_blob():
    return warc.encode_warc([
        ("response", "https://a.example/x", "r-0", b"hello world"),
        ("metadata", "https://a.example/x", "r-1", b"k=v"),
    ])


class TestWarcParser:
    def test_roundtrip_two_records(self):
        recs = warc.parse_warc(_two_record_blob())
        assert len(recs) == 2
        assert recs[0]["warc_type"] == "response"
        assert recs[0]["payload"] == b"hello world"
        assert recs[0]["content_length"] == 11
        assert recs[0]["record_id"] == "<urn:uuid:r-0>"
        assert recs[1]["warc_type"] == "metadata"
        assert recs[1]["target_uri"] == "https://a.example/x"

    def test_payload_may_contain_crlf(self):
        blob = warc.encode_warc_record(
            "response", "https://a.example", "r", b"a\r\n\r\nb"
        )
        assert warc.parse_warc(blob)[0]["payload"] == b"a\r\n\r\nb"

    def test_rejects_bad_version(self):
        with pytest.raises(ValueError, match="bad version"):
            warc.parse_warc(b"WARC/2.0\r\n\r\n")

    def test_rejects_truncated_headers(self):
        with pytest.raises(ValueError, match="truncated header"):
            warc.parse_warc(_two_record_blob()[:25])

    def test_rejects_missing_content_length(self):
        blob = b"WARC/1.0\r\nWARC-Type: response\r\n\r\n\r\n\r\n"
        with pytest.raises(ValueError, match="Content-Length"):
            warc.parse_warc(blob)

    def test_rejects_overlong_declared_payload(self):
        blob = (
            b"WARC/1.0\r\nContent-Length: 9999\r\n\r\n" + b"x" * 10
        )
        with pytest.raises(ValueError, match="declares"):
            warc.parse_warc(blob)

    def test_rejects_missing_terminator(self):
        good = warc.encode_warc_record("response", "u", "r", b"abc")
        with pytest.raises(ValueError, match="terminator"):
            warc.parse_warc(good[:-4] + b"XXXX")

    def test_rejects_header_without_colon(self):
        blob = b"WARC/1.0\r\nnocolonhere\r\n\r\n\r\n\r\n"
        with pytest.raises(ValueError, match="without colon"):
            warc.parse_warc(blob)

    def test_rejects_empty_blob(self):
        with pytest.raises(ValueError, match="truncated version|empty"):
            warc.parse_warc(b"")

    def test_rejects_negative_and_nonnumeric_length(self):
        with pytest.raises(ValueError, match="negative"):
            warc.parse_warc(b"WARC/1.0\r\nContent-Length: -1\r\n\r\n\r\n\r\n")
        with pytest.raises(ValueError, match="non-numeric"):
            warc.parse_warc(b"WARC/1.0\r\nContent-Length: ten\r\n\r\n\r\n\r\n")

    def test_header_count_cap(self):
        filler = b"".join(
            b"X-H%d: v\r\n" % i for i in range(warc._MAX_HEADERS + 1)
        )
        blob = b"WARC/1.0\r\n" + filler + b"\r\n\r\n\r\n"
        with pytest.raises(ValueError, match="too many header"):
            warc.parse_warc(blob)


class TestWarcRecordsOperator:
    def test_explodes_and_flags(self, spark):
        rows = [
            (1, bytearray(_two_record_blob())),
            (2, bytearray(b"not a warc blob")),
            (3, None),
        ]
        df = spark.createDataFrame(rows, "file_id long, payload binary")
        out = warc.warc_records(df).collect()
        by_file = {}
        for r in out:
            by_file.setdefault(r["file_id"], []).append(r)
        assert len(by_file[1]) == 2 and all(r["parse_ok"] for r in by_file[1])
        assert sorted(r["rec_index"] for r in by_file[1]) == [0, 1]
        assert bytes(by_file[1][0]["payload"]) == b"hello world"
        assert len(by_file[2]) == 1 and not by_file[2][0]["parse_ok"]
        assert "version" in by_file[2][0]["parse_err"]
        assert len(by_file[3]) == 1 and not by_file[3][0]["parse_ok"]

    def test_passthrough_columns_replicate_per_record(self, spark):
        # the identity-threading hook read_warc_selective uses: extra
        # input columns ride along on every emitted row, parse_ok=false
        # rows included, with their input types preserved
        rows = [
            (1, bytearray(_two_record_blob()), "shard-a", 10),
            (2, bytearray(b"not a warc blob"), "shard-b", 20),
        ]
        df = spark.createDataFrame(
            rows, "file_id long, payload binary, fname string, tag int"
        )
        out = warc.warc_records(df, passthrough=("fname", "tag")).collect()
        assert dict(out[0].asDict())["fname"] in ("shard-a", "shard-b")
        by_file = {}
        for r in out:
            by_file.setdefault(r["file_id"], []).append(r)
        assert [r["fname"] for r in by_file[1]] == ["shard-a"] * 2
        assert [r["tag"] for r in by_file[1]] == [10, 10]
        bad = by_file[2][0]
        assert not bad["parse_ok"] and bad["fname"] == "shard-b"
        assert bad["tag"] == 20


class TestWarcGz:
    """CommonCrawl .warc.gz: per-record gzip members (sources/warc.py)."""

    def test_roundtrip_members(self):
        recs = [("response", "https://a.example", "r-0", b"hello"),
                ("metadata", "https://a.example", "r-1", b"k=v")]
        out = warc.parse_warc_gz(warc.encode_warc_gz(recs))
        assert [r["payload"] for r in out] == [b"hello", b"k=v"]
        assert [r["warc_type"] for r in out] == ["response", "metadata"]

    def test_members_are_individually_seekable(self):
        import gzip
        recs = [("response", "u", "r-0", b"a"), ("response", "u", "r-1", b"b")]
        blob = warc.encode_warc_gz(recs)
        # first member alone must decompress to record 0 (CC seekability)
        m0 = gzip.compress(warc.encode_warc_record(*recs[0]), mtime=0)
        assert blob.startswith(m0)
        assert warc.parse_warc(gzip.decompress(m0))[0]["payload"] == b"a"

    def test_truncated_member_raises(self):
        blob = warc.encode_warc_gz([("response", "u", "r", b"x" * 100)])
        with pytest.raises(ValueError, match="truncated|bad gzip"):
            warc.gunzip_members(blob[: len(blob) // 2])

    def test_trailing_garbage_raises(self):
        blob = warc.encode_warc_gz([("response", "u", "r", b"x")])
        with pytest.raises(ValueError, match="bad gzip"):
            warc.gunzip_members(blob + b"NOTGZIP")

    def test_bomb_cap(self):
        blob = warc.encode_warc_gz([("response", "u", "r", b"\x00" * 10_000)])
        with pytest.raises(ValueError, match="inflates past"):
            warc.gunzip_members(blob, max_member_bytes=1024)

    def test_empty_blob_raises(self):
        with pytest.raises(ValueError, match="empty"):
            warc.gunzip_members(b"")

    def test_operator_gzipped_flag(self, spark):
        good = warc.encode_warc_gz(
            [("response", "https://a.example/x", "r-0", b"hello world")]
        )
        rows = [(1, bytearray(good)), (2, bytearray(good[:10]))]
        df = spark.createDataFrame(rows, "file_id long, payload binary")
        out = {r["file_id"]: r
               for r in warc.warc_records(df, gzipped=True).collect()}
        assert out[1]["parse_ok"] and bytes(out[1]["payload"]) == b"hello world"
        assert not out[2]["parse_ok"] and "gunzip" in out[2]["parse_err"]


class TestHttpResponseSplit:
    """parse_http_response / _dechunk (sources/http.py): the split between
    WARC response payloads and the text pipeline."""

    BODY = b"The quick brown fox jumps over the lazy dog."

    def _msg(self, body=None, status=b"HTTP/1.1 200 OK", headers=None):
        body = self.BODY if body is None else body
        hs = headers if headers is not None else [
            b"Content-Type: text/html; charset=UTF-8",
            b"Content-Length: " + str(len(body)).encode(),
        ]
        return status + b"\r\n" + b"\r\n".join(hs) + b"\r\n\r\n" + body

    def test_plain_split(self):
        d = http.parse_http_response(self._msg())
        assert d["status"] == 200
        assert d["content_type"] == "text/html"
        assert d["charset"] == "utf-8"
        assert d["content_length_hdr"] == len(self.BODY)
        assert d["n_headers"] == 2
        assert d["body"] == self.BODY

    def test_http10_and_no_reason(self):
        d = http.parse_http_response(self._msg(status=b"HTTP/1.0 204"))
        assert d["status"] == 204

    def test_chunked_roundtrip_with_extension_and_trailer(self):
        half = len(self.BODY) // 2
        cb = (
            b"%X;ext=1\r\n" % half + self.BODY[:half] + b"\r\n"
            + b"%X\r\n" % (len(self.BODY) - half) + self.BODY[half:] + b"\r\n"
            + b"0\r\nX-Trailer: v\r\n\r\n"
        )
        msg = self._msg(
            body=cb,
            headers=[b"Content-Type: text/plain",
                     b"Transfer-Encoding: chunked"],
        )
        d = http.parse_http_response(msg)
        assert d["body"] == self.BODY
        assert d["content_length_hdr"] is None

    def test_chunked_truncated_raises(self):
        cb = b"%X\r\n" % len(self.BODY) + self.BODY[:-3]
        msg = self._msg(
            body=cb, headers=[b"Transfer-Encoding: chunked"]
        )
        with pytest.raises(ValueError, match="chunk declares"):
            http.parse_http_response(msg)

    def test_chunked_missing_terminator_raises(self):
        cb = b"%X\r\n" % len(self.BODY) + self.BODY + b"\r\n"
        msg = self._msg(body=cb, headers=[b"Transfer-Encoding: chunked"])
        with pytest.raises(ValueError, match="truncated chunk-size"):
            http.parse_http_response(msg)

    def test_chunked_trailing_garbage_raises(self):
        cb = (b"%X\r\n" % len(self.BODY) + self.BODY + b"\r\n"
              + b"0\r\n\r\nEXTRA")
        msg = self._msg(body=cb, headers=[b"Transfer-Encoding: chunked"])
        with pytest.raises(ValueError, match="trailing garbage"):
            http.parse_http_response(msg)

    def test_gzip_content_encoding_inflated(self):
        import gzip
        gz = gzip.compress(self.BODY, mtime=0)
        msg = self._msg(
            body=gz,
            headers=[b"Content-Type: text/plain",
                     b"Content-Encoding: gzip"],
        )
        d = http.parse_http_response(msg)
        assert d["body"] == self.BODY

    def test_chunked_then_gzip_order(self):
        # RFC 9110 §8.4: transfer coding is removed first, THEN the
        # content coding — chunk the gzip bytes and require round-trip
        import gzip
        gz = gzip.compress(self.BODY, mtime=0)
        half = len(gz) // 2
        cb = (b"%X\r\n" % half + gz[:half] + b"\r\n"
              + b"%X\r\n" % (len(gz) - half) + gz[half:] + b"\r\n0\r\n\r\n")
        msg = self._msg(
            body=cb,
            headers=[b"Transfer-Encoding: chunked",
                     b"Content-Encoding: gzip"],
        )
        assert http.parse_http_response(msg)["body"] == self.BODY

    def test_truncated_gzip_body_raises(self):
        import gzip
        gz = gzip.compress(self.BODY, mtime=0)
        msg = self._msg(
            body=gz[:-4], headers=[b"Content-Encoding: gzip"]
        )
        with pytest.raises(ValueError, match="gunzip"):
            http.parse_http_response(msg)

    def test_identity_encoding_noop_and_unsupported_raises(self):
        msg = self._msg(headers=[b"Content-Encoding: identity",
                                 b"Content-Type: text/plain"])
        assert http.parse_http_response(msg)["body"] == self.BODY
        # 'br' is now routed to the RFC 7932 meta-block decoder (round
        # 12): a plain-text body is not a brotli stream, so it fails
        # THERE, with a br-typed reason, not as an unsupported coding
        bad = self._msg(headers=[b"Content-Encoding: br"])
        with pytest.raises(ValueError, match="br:"):
            http.parse_http_response(bad)
        unsupported = self._msg(headers=[b"Content-Encoding: zstd"])
        with pytest.raises(ValueError, match="Content-Encoding"):
            http.parse_http_response(unsupported)

    def test_deflate_zlib_and_raw_forms_inflated(self):
        # RFC 9110 §8.4.1.2 names the zlib container, but real servers
        # (and archived captures) routinely send raw deflate — both
        # forms must yield the identical entity (round-11 arm).
        import zlib
        for enc in (
            zlib.compress(self.BODY),
            (lambda co: co.compress(self.BODY) + co.flush())(
                zlib.compressobj(wbits=-15)
            ),
        ):
            msg = self._msg(
                body=enc,
                headers=[b"Content-Type: text/plain",
                         b"Content-Encoding: deflate"],
            )
            assert http.parse_http_response(msg)["body"] == self.BODY

    def test_chunked_then_deflate_order(self):
        import zlib
        enc = zlib.compress(self.BODY)
        half = len(enc) // 2
        cb = (b"%X\r\n" % half + enc[:half] + b"\r\n"
              + b"%X\r\n" % (len(enc) - half) + enc[half:] + b"\r\n0\r\n\r\n")
        msg = self._msg(
            body=cb,
            headers=[b"Transfer-Encoding: chunked",
                     b"Content-Encoding: deflate"],
        )
        assert http.parse_http_response(msg)["body"] == self.BODY

    def test_deflate_malformed_truncated_and_garbage_raise(self):
        import zlib
        enc = zlib.compress(self.BODY)
        for body, why in (
            # 0x00 fails the CMF sniff → routed to the raw arm, where
            # the stored-block NLEN check rejects it
            (b"\x00not deflate at all", "bad raw deflate"),
            (enc[:-4], "truncated zlib"),  # sniff passes, stream cut
            (enc + b"JUNK", "trailing garbage"),
        ):
            msg = self._msg(
                body=body, headers=[b"Content-Encoding: deflate"]
            )
            with pytest.raises(ValueError, match=why):
                http.parse_http_response(msg)

    def test_corrupt_zlib_body_never_reinterpreted_as_raw(self):
        # ADVICE r11: a zlib-container body with a bad ADLER32 tail (or
        # any mid-stream corruption) must surface as an error — the old
        # retry-on-any-zlib.error fallback could silently inflate it as
        # raw deflate garbage when the bytes happened to form a
        # complete raw stream. The CMF/FLG sniff routes it to the zlib
        # arm, whose failure is final.
        import zlib
        enc = bytearray(zlib.compress(self.BODY))
        enc[-1] ^= 0xFF  # corrupt the ADLER32 checksum tail
        with pytest.raises(ValueError, match="bad zlib stream"):
            http._inflate_deflate(bytes(enc))

    def test_deflate_bomb_capped(self):
        import zlib
        bomb = zlib.compress(b"\x00" * (1 << 22))
        with pytest.raises(ValueError, match="inflates past"):
            http._inflate_deflate(bomb, max_bytes=1 << 20)

    def test_bad_status_line_raises(self):
        with pytest.raises(ValueError, match="bad status line"):
            http.parse_http_response(self._msg(status=b"ICANHAZ 200 OK"))
        with pytest.raises(ValueError, match="bad status line"):
            http.parse_http_response(self._msg(status=b"HTTP/2 200 OK"))

    def test_missing_terminator_raises(self):
        with pytest.raises(ValueError, match="CRLF CRLF"):
            http.parse_http_response(b"HTTP/1.1 200 OK\r\nA: b\r\nbody")

    def test_obs_fold_raises(self):
        msg = (b"HTTP/1.1 200 OK\r\nA: b\r\n folded\r\n\r\nx")
        with pytest.raises(ValueError, match="obs-fold"):
            http.parse_http_response(msg)

    def test_header_without_colon_raises(self):
        msg = b"HTTP/1.1 200 OK\r\nNOCOLON\r\n\r\nx"
        with pytest.raises(ValueError, match="without colon"):
            http.parse_http_response(msg)

    def test_nonnumeric_content_length_raises(self):
        msg = self._msg(headers=[b"Content-Length: abc"])
        with pytest.raises(ValueError, match="non-numeric"):
            http.parse_http_response(msg)

    def test_repeated_headers_merge(self):
        msg = self._msg(headers=[b"Via: a", b"Via: b"])
        # merged per RFC 9110 §5.2 — n_headers counts distinct field names
        assert http.parse_http_response(msg)["n_headers"] == 1

    def test_header_cap(self):
        hs = [b"H%d: v" % i for i in range(80)]
        with pytest.raises(ValueError, match="too many header"):
            http.parse_http_response(self._msg(headers=hs))

    def test_header_cap_counts_lines_not_keys(self):
        # round-10 review: a hostile payload repeating ONE field name must
        # still trip the cap (len(headers) stayed 1 pre-fix — quadratic
        # merge work with no bound)
        hs = [b"A: x"] * 80
        with pytest.raises(ValueError, match="too many header"):
            http.parse_http_response(self._msg(headers=hs))

    def test_unremovable_transfer_coding_raises(self):
        # 'gzip, chunked': chunked comes off, but the gzip TRANSFER coding
        # is not removable here — must raise, not return compressed bytes
        cb = b"%X\r\n" % len(self.BODY) + self.BODY + b"\r\n0\r\n\r\n"
        msg = self._msg(
            body=cb, headers=[b"Transfer-Encoding: gzip, chunked"]
        )
        with pytest.raises(ValueError, match="unsupported Transfer-Encoding"):
            http.parse_http_response(msg)
        # and a token that merely CONTAINS 'chunked' is not chunked
        msg2 = self._msg(headers=[b"Transfer-Encoding: x-chunked"])
        with pytest.raises(ValueError, match="unsupported Transfer-Encoding"):
            http.parse_http_response(msg2)

    def test_chunked_not_last_raises(self):
        msg = self._msg(
            body=self.BODY, headers=[b"Transfer-Encoding: chunked, gzip"]
        )
        with pytest.raises(ValueError, match="unsupported Transfer-Encoding"):
            http.parse_http_response(msg)

    def test_zero_padded_chunk_size_accepted(self):
        # RFC 9112 places no digit-count limit; some servers zero-pad
        cb = (b"00000000000000000%X\r\n" % len(self.BODY) + self.BODY
              + b"\r\n0\r\n\r\n")
        msg = self._msg(body=cb, headers=[b"Transfer-Encoding: chunked"])
        assert http.parse_http_response(msg)["body"] == self.BODY

    def test_negative_and_prefixed_chunk_sizes_rejected(self):
        # int(tok, 16) alone accepts '-2' / '+5' / '0x1f' / '1_0'; '-2'
        # previously parsed as a VALID empty body (cursor never advanced
        # past real data) — the shape check must reject all of them
        for tok in (b"-2", b"+5", b"0x1F", b"1_0", b""):
            msg = self._msg(
                body=tok + b"\r\n0\r\n\r\n",
                headers=[b"Transfer-Encoding: chunked"],
            )
            with pytest.raises(ValueError, match="bad chunk size|truncated"):
                http.parse_http_response(msg)


class TestWarcHttpPipeline:
    """Composition: WARC blobs → response records → HTTP body → the full
    document pipeline (VERDICT r9 item 1 'done' criterion)."""

    def test_warc_to_pipeline(self, spark):
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.plans import pipeline as P

        pages = {
            1: "This is a perfectly ordinary test document with enough "
               "words to survive the prefilter cascade and be kept.",
            2: "Another normal document follows here, different from the "
               "first one and also long enough to pass the basic rules.",
        }
        blobs = []
        for i, text in pages.items():
            body = text.encode("utf-8")
            msg = (
                b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; "
                b"charset=utf-8\r\nContent-Length: %d\r\n\r\n" % len(body)
            ) + body
            blobs.append(
                (i, bytearray(warc.encode_warc([
                    ("response", f"https://ex.org/{i}", f"r{i}", msg),
                    ("metadata", f"https://ex.org/{i}", f"m{i}", b"z"),
                ])))
            )
        # one non-HTTP response payload: must flow through as http_ok=false
        blobs.append(
            (3, bytearray(warc.encode_warc([
                ("response", "https://ex.org/3", "r3", b"not http at all"),
            ])))
        )
        files = spark.createDataFrame(blobs, "file_id long, payload binary")
        resp = http.warc_http_records(files)
        docs = resp.where(F.col("http_ok")).select(
            F.col("target_uri").alias("url"),
            F.decode(F.col("body"), "utf-8").alias("text"),
        )
        out = P.run_pipeline(
            docs, P.PipelineConfig(apply_lang_filter=False)
        )
        rows = {r["url"]: r for r in out.collect()}
        assert len(rows) == 2  # the bad-HTTP record never reaches the text stage
        for i, text in pages.items():
            r = rows[f"https://ex.org/{i}"]
            assert r["drop_reason"] is None
            assert r["text"] == text
        bad = {r["file_id"]: r for r in resp.collect()}[3]
        assert not bad["http_ok"] and "CRLF CRLF" in bad["http_err"]


class TestHttpBodyText:
    """http_body_text (sources/http.py): total charset-safe decode."""

    def _decode(self, spark, bodies):
        from pyspark.sql import functions as F
        rows = [(i, bytearray(b) if b is not None else None)
                for i, b in enumerate(bodies)]
        df = spark.createDataFrame(rows, "i long, body binary")
        out = df.select("i", http.http_body_text("body").alias("d"))
        return {r["i"]: r["d"] for r in out.collect()}

    def test_utf8_latin1_and_null(self, spark):
        out = self._decode(spark, [
            "plain ünïcode".encode("utf-8"),
            "caf\xe9 latin-1".encode("latin-1"),   # invalid as UTF-8
            b"",
            None,
        ])
        assert out[0]["text"] == "plain ünïcode" and not out[0]["used_fallback"]
        assert out[1]["text"] == "café latin-1" and out[1]["used_fallback"]
        assert out[2]["text"] == "" and not out[2]["used_fallback"]
        assert out[3]["text"] is None and out[3]["used_fallback"] is None

    def test_total_on_arbitrary_bytes(self, spark):
        # latin-1 is total: any byte soup decodes without error
        out = self._decode(spark, [bytes(range(256))])
        assert out[0]["used_fallback"] and len(out[0]["text"]) == 256

    def test_plan_pure_jvm(self, spark):
        df = spark.createDataFrame([(1, bytearray(b"x"))], "i long, body binary")
        plan = (
            df.select(http.http_body_text("body").alias("d"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Python" not in plan and "Exchange" not in plan


class TestParserFuzz:
    """Hypothesis fuzz over the strict parsers: arbitrary byte soup must
    either parse or raise ValueError — never IndexError/KeyError/etc —
    and structured random messages must round-trip exactly."""

    def test_http_parser_total_over_byte_soup(self):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.binary(max_size=400))
        def check(payload):
            try:
                d = http.parse_http_response(payload)
                assert isinstance(d["status"], int)
            except ValueError:
                pass  # the only legal failure mode

        check()

    def test_http_parser_prefixed_soup(self):
        # byte soup grafted onto a valid-looking prefix reaches the
        # header/chunk walks instead of dying at the status line
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.binary(max_size=300),
               st.sampled_from([b"", b"Transfer-Encoding: chunked\r\n",
                                b"Content-Encoding: gzip\r\n"]))
        def check(tail, coding):
            payload = b"HTTP/1.1 200 OK\r\n" + coding + b"\r\n" + tail
            try:
                http.parse_http_response(payload)
            except ValueError:
                pass

        check()

    def test_warc_parser_total_over_byte_soup(self):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        @settings(max_examples=300, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.binary(max_size=400))
        def check(payload):
            try:
                warc.parse_warc(payload)
            except ValueError:
                pass

        check()

    def test_http_roundtrip_random_messages(self):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        body_s = st.binary(max_size=200)
        status_s = st.integers(min_value=100, max_value=599)

        @settings(max_examples=200, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(body_s, status_s, st.booleans(), st.booleans())
        def check(body, status, chunked, gz):
            import gzip as _gzip
            ent = _gzip.compress(body, mtime=0) if gz else body
            headers = [b"Content-Type: text/plain"]
            if gz:
                headers.append(b"Content-Encoding: gzip")
            if chunked:
                headers.append(b"Transfer-Encoding: chunked")
                wire = b""
                # split into up to 2 chunks at a deterministic point
                half = len(ent) // 2
                for c in (ent[:half], ent[half:]):
                    if c:
                        wire += b"%X\r\n" % len(c) + c + b"\r\n"
                wire += b"0\r\n\r\n"
            else:
                headers.append(b"Content-Length: %d" % len(ent))
                wire = ent
            msg = (b"HTTP/1.1 %d X\r\n" % status
                   + b"\r\n".join(headers) + b"\r\n\r\n" + wire)
            d = http.parse_http_response(msg)
            assert d["status"] == status
            assert d["body"] == body

        check()

    def test_warc_roundtrip_random_records(self):
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st

        token = st.from_regex(r"[A-Za-z0-9._:/-]{1,24}", fullmatch=True)

        @settings(max_examples=200, deadline=None,
                  suppress_health_check=list(HealthCheck))
        @given(st.lists(
            st.tuples(st.sampled_from(["response", "metadata", "request"]),
                      token, token, st.binary(max_size=120)),
            min_size=1, max_size=4,
        ))
        def check(recs):
            out = warc.parse_warc(warc.encode_warc(recs))
            assert len(out) == len(recs)
            for (t, uri, rid, payload), r in zip(recs, out):
                assert r["warc_type"] == t
                assert r["target_uri"] == uri
                assert r["payload"] == payload
                assert r["content_length"] == len(payload)

        check()


class TestCdxSidecar:
    """CDX/CDXJ sidecar (sources/cdx.py): index build + selective read."""

    def _files(self, spark):
        blob = warc.encode_warc([
            ("response", "https://a.example/x", "r1",
             b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
             b"Content-Length: 5\r\n\r\nhello"),
            ("metadata", "https://a.example/x", "r2", b"m=1"),
            ("response", "https://b.example/y?b=2&a=1", "r3",
             b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n"
             b"Content-Length: 4\r\n\r\ngone"),
        ])
        return spark.createDataFrame(
            [(1, bytearray(blob))], "file_id long, payload binary"
        ), blob

    def test_cdx_rows_geometry_and_digest(self, spark):
        import hashlib

        from llm_pretraining_data_pipeline_spark.sources import cdx
        files, blob = self._files(spark)
        rows = {r["rec_index"]: r for r in cdx.cdx_records(files).collect()}
        assert set(rows) == {0, 2}  # response records only
        a, b = rows[0], rows[2]
        assert a["surt"] == "example,a)/x"
        assert b["surt"] == "example,b)/y?a=1&b=2"  # query sorted
        assert a["status"] == 200 and b["status"] == 404
        assert a["digest"] == hashlib.sha256(b"hello").hexdigest()
        # geometry: each (offset, record_bytes) slice IS the record
        for r in (a, b):
            piece = blob[r["offset"]:r["offset"] + r["record_bytes"]]
            assert warc.parse_warc(piece)[0]["target_uri"] == r["target_uri"]
        # and the slices tile the blob in order with the metadata record
        assert a["offset"] == 0
        assert b["offset"] + b["record_bytes"] == len(blob)

    def test_selective_read_parses_only_matching(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        files, _ = self._files(spark)
        idx = cdx.cdx_records(files)
        out = cdx.read_warc_selective(files, idx, "example,b)").collect()
        assert len(out) == 1
        assert out[0]["target_uri"] == "https://b.example/y?b=2&a=1"
        assert out[0]["parse_ok"]
        # prefix covering the whole TLD-less host family
        both = cdx.read_warc_selective(files, idx, "example,").collect()
        assert len(both) == 2

    def test_selective_read_restores_original_identity(self, spark):
        # ADVICE r11: the slices re-parse as one-record blobs, but the
        # output must carry the ORIGINAL (rec_index, offset) — two
        # matching records of one blob would otherwise collide on
        # (file_id, rec_index=0) in any composed rec_id / rebuilt index.
        from llm_pretraining_data_pipeline_spark.sources import cdx
        files, _ = self._files(spark)
        idx = cdx.cdx_records(files)
        orig = {
            r["rec_index"]: r
            for r in idx.where("surt IS NOT NULL").collect()
        }
        out = cdx.read_warc_selective(files, idx, "example,").collect()
        assert sorted(r["rec_index"] for r in out) == [0, 2]
        for r in out:
            o = orig[r["rec_index"]]
            assert r["offset"] == o["offset"]
            assert r["record_bytes"] == o["record_bytes"]
            assert r["target_uri"] == o["target_uri"]

    def test_selective_read_ts_range(self, spark):
        # two captures of the same page across crawl generations: the
        # pywb-style from=/to= slice must parse only the in-range one
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.sources import cdx
        def blob(i):
            body = b"gen %d" % i
            return warc.encode_warc([
                ("response", "https://a.example/x", f"r{i}",
                 b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                 b"Content-Length: %d\r\n\r\n" % len(body) + body),
            ])
        files = spark.createDataFrame(
            [(i, bytearray(blob(i))) for i in (1, 2)],
            "file_id long, payload binary",
        )
        ts = F.concat(
            F.lit("2024010"), F.col("file_id").cast("string"),
            F.lit("000000"),
        )
        idx = cdx.cdx_records(files, timestamp=ts)
        out = cdx.read_warc_selective(
            files, idx, "example,a)/",
            from_ts="20240102000000", to_ts="20240102000000",
        ).collect()
        assert len(out) == 1 and out[0]["file_id"] == 2
        with pytest.raises(ValueError, match="14-digit"):
            cdx.read_warc_selective(files, idx, "example,a)/", from_ts="x")

    def test_selective_read_plan_broadcasts_selection(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        files, _ = self._files(spark)
        idx = cdx.cdx_records(files)
        plan = (
            cdx.read_warc_selective(files, idx, "example,b)")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_cdxj_line_format_deterministic(self, spark):
        import json

        from llm_pretraining_data_pipeline_spark.sources import cdx
        files, _ = self._files(spark)
        line = (
            cdx.cdxj_lines(cdx.cdx_records(files))
            .orderBy("rec_index" if False else "surt")
            .collect()[0]["cdxj"]
        )
        surt, ts, js = line.split(" ", 2)
        assert surt == "example,a)/x"
        assert ts == cdx.EPOCH_TS14
        d = json.loads(js)
        assert list(d) == [
            "url", "mime", "status", "digest", "length", "offset",
            "filename",
        ]
        assert d["url"] == "https://a.example/x"
        assert d["filename"] == "warc-1.warc"

    def test_non_http_record_is_cdx_ok_false(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        blob = warc.encode_warc(
            [("response", "https://c.example/z", "r9", b"NOT HTTP")]
        )
        files = spark.createDataFrame(
            [(7, bytearray(blob))], "file_id long, payload binary"
        )
        row = cdx.cdx_records(files).collect()[0]
        assert row["cdx_ok"] is False
        assert row["status"] is None and row["digest"] is None
        assert row["surt"] == "example,c)/z"  # key still indexable


class TestCdxGzRefusal:
    def test_selective_read_refuses_gzipped(self, spark):
        # inflated-member offsets cannot byte-slice a compressed blob —
        # the reader must refuse instead of silently slicing garbage
        from llm_pretraining_data_pipeline_spark.sources import cdx
        files = spark.createDataFrame(
            [(1, bytearray(b""))], "file_id long, payload binary"
        )
        idx = spark.createDataFrame(
            [(1, "com,example)/", 0, 10)],
            "file_id long, surt string, offset long, record_bytes long",
        )
        with pytest.raises(ValueError, match="gzipped"):
            cdx.read_warc_selective(files, idx, "com,", gzipped=True)

    def test_cdxj_null_surt_gets_sentinel(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx, warc
        blob = warc.encode_warc(
            [("response", "dns:example.com", "r1", b"NOT HTTP")]
        )
        files = spark.createDataFrame(
            [(1, bytearray(blob))], "file_id long, payload binary"
        )
        line = cdx.cdxj_lines(cdx.cdx_records(files)).collect()[0]["cdxj"]
        assert line.startswith("- 19700101000000 ")


class TestCdxjParse:
    """parse_cdxj_lines (sources/cdx.py): the consume side."""

    def test_roundtrip_inverse(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx, warc
        blob = warc.encode_warc([
            ("response", "https://a.example/x?b=2&a=1", "r1",
             b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
             b"Content-Length: 5\r\n\r\nhello"),
        ])
        files = spark.createDataFrame(
            [(9, bytearray(blob))], "file_id long, payload binary"
        )
        orig = cdx.cdx_records(files).collect()[0]
        back = cdx.parse_cdxj_lines(
            cdx.cdxj_lines(cdx.cdx_records(files)).select("cdxj")
        ).collect()[0]
        assert back["line_ok"]
        for f in ("surt", "ts", "target_uri", "mime", "status", "digest",
                  "offset", "record_bytes"):
            assert back[f] == orig[f], f
        assert back["filename"] == "warc-9.warc"

    def test_malformed_and_sentinel_lines(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            (1, "not a cdxj line"),
            (2, "com,a)/x 19700101000000 {broken json"),
            (3, '- 19700101000000 {"url":"dns:x","mime":null,'
                '"status":null,"digest":null,"length":7,"offset":0,'
                '"filename":"warc-1.warc"}'),
            (4, None),
            # brace-delimited garbage: PERMISSIVE from_json returns a
            # struct of NULLS (not a null struct) for this — only the
            # corrupt-record column distinguishes it from a legitimate
            # all-null record (round-11 review finding)
            (5, "com,a)/x 19700101000000 {garbage here}"),
            # valid JSON, wrong field type: status must not silently
            # null while the line reports well-formed
            (6, 'com,a)/x 19700101000000 {"url":"u","mime":null,'
                '"status":"notanint","digest":null,"length":7,'
                '"offset":0,"filename":"f"}'),
        ]
        out = {
            i: r for i, r in zip(
                (r[0] for r in rows),
                cdx.parse_cdxj_lines(
                    spark.createDataFrame(rows, "i long, cdxj string")
                    .select("cdxj")
                ).collect(),
            )
        }
        assert not out[1]["line_ok"] and out[1]["surt"] is None
        assert not out[2]["line_ok"]
        assert out[3]["line_ok"]
        assert out[3]["surt"] is None          # '-' sentinel → null
        assert out[3]["record_bytes"] == 7
        assert not out[4]["line_ok"]
        assert not out[5]["line_ok"]
        assert not out[6]["line_ok"]


class TestCdxjFileSidecar:
    """write_cdxj / read_cdxj: range-partitioned sorted shards + manifest."""

    def _lines(self, spark, n=60):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        def msg(body):
            return (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                    b"Content-Length: %d\r\n\r\n" % len(body) + body)
        rows = []
        for i in range(n):
            host = ["alpha", "beta", "gamma"][i % 3]
            uri = f"https://{host}.example/doc/{i}"
            rows.append((i, bytearray(warc.encode_warc(
                [("response", uri, f"r{i}", msg(b"body %d" % i))]
            ))))
        files = spark.createDataFrame(rows, "file_id long, payload binary")
        return cdx.cdxj_lines(cdx.cdx_records(files))

    def test_write_read_roundtrip_and_global_order(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        path = str(tmp_path / "idx")
        man = cdx.write_cdxj(self._lines(spark), path, num_shards=4)
        assert man["total_lines"] == 60 and man["num_shards"] == 4
        # total order holds ACROSS shards: each shard's last key sorts
        # at or before the next shard's first key
        ranges = [(s["first_key"], s["last_key"]) for s in man["shards"]]
        for (_, l1), (f2, _) in zip(ranges, ranges[1:]):
            assert l1 <= f2
        # and WITHIN each shard the lines are sorted
        import os
        for s in man["shards"]:
            with open(os.path.join(path, s["file"])) as fh:
                keys = [" ".join(x.split(" ", 2)[:2]) for x in fh]
            assert keys == sorted(keys)
        back = cdx.read_cdxj(spark, path)
        assert back.count() == 60
        assert back.where("line_ok").count() == 60

    def test_prefix_read_prunes_via_manifest(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        path = str(tmp_path / "idx")
        cdx.write_cdxj(self._lines(spark), path, num_shards=4)
        beta = cdx.read_cdxj(spark, path, surt_prefix="example,beta)")
        rows = beta.collect()
        assert len(rows) == 20
        assert all(r["surt"].startswith("example,beta)") for r in rows)
        # a prefix past every key reads nothing (manifest proves it)
        assert cdx.read_cdxj(
            spark, path, surt_prefix="zzz,nothing)"
        ).count() == 0

    def _generations(self, spark, n=28):
        # ONE surt captured across n generations (day 1..n) — its key
        # run spans shards, so a ts range can straddle a boundary
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.sources import cdx
        def msg(body):
            return (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                    b"Content-Length: %d\r\n\r\n" % len(body) + body)
        rows = [
            (i, bytearray(warc.encode_warc(
                [("response", "https://hot.example/page", f"r{i}",
                  msg(b"gen %d" % i))]
            )))
            for i in range(n)
        ]
        files = spark.createDataFrame(rows, "file_id long, payload binary")
        ts = F.concat(
            F.lit("202401"),
            F.lpad((F.col("file_id") % 28 + 1).cast("string"), 2, "0"),
            F.lit("000000"),
        )
        return cdx.cdxj_lines(cdx.cdx_records(files, timestamp=ts))

    def test_ts_range_read_straddles_shard_boundary(self, spark, tmp_path):
        # VERDICT r11 item 5: the pywb from=/to= slice, refereed across
        # a shard boundary — the single surt's 28 generations range-
        # partition into 4 shards, so [day 10, day 20] spans at least two
        from llm_pretraining_data_pipeline_spark.sources import cdx
        path = str(tmp_path / "gens")
        man = cdx.write_cdxj(self._generations(spark), path, num_shards=4)
        assert man["num_shards"] == 4
        out = cdx.read_cdxj(
            spark, path, surt_prefix="example,hot)/page",
            from_ts="20240110000000", to_ts="20240120000000",
            surt_exact=True,
        ).collect()
        assert sorted(r["ts"] for r in out) == [
            f"202401{d:02d}000000" for d in range(10, 21)
        ]
        # boundary inclusivity: both endpoints are captures and both
        # must be present (pywb from=/to= are inclusive)
        tss = {r["ts"] for r in out}
        assert "20240110000000" in tss and "20240120000000" in tss

    def test_ts_range_prunes_shards_on_key_ts(self, spark, tmp_path):
        # prove the manifest pruning actually skips shards: delete the
        # shard files that cannot contain the queried range — a pruned
        # read never lists them, an unpruned read would fail on the
        # missing files
        import json
        import os

        from llm_pretraining_data_pipeline_spark.sources import cdx
        path = str(tmp_path / "gens")
        cdx.write_cdxj(self._generations(spark), path, num_shards=4)
        with open(os.path.join(path, "_cdxj_manifest.json")) as fh:
            man = json.load(fh)
        lo, hi = "example,hot)/page 20240101000000", \
                 "example,hot)/page 20240103000000"
        keep = {
            s["file"] for s in man["shards"]
            if s["last_key"] >= lo and s["first_key"] <= hi
        }
        assert 0 < len(keep) < len(man["shards"])
        for s in man["shards"]:
            if s["file"] not in keep:
                os.remove(os.path.join(path, s["file"]))
        out = cdx.read_cdxj(
            spark, path, surt_prefix="example,hot)/page",
            from_ts="20240101000000", to_ts="20240103000000",
            surt_exact=True,
        ).collect()
        assert sorted(r["ts"] for r in out) == [
            f"202401{d:02d}000000" for d in (1, 2, 3)
        ]

    def test_ts_range_without_prefix_row_filters(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        path = str(tmp_path / "gens")
        cdx.write_cdxj(self._generations(spark), path, num_shards=2)
        assert cdx.read_cdxj(
            spark, path, from_ts="20240127000000"
        ).count() == 2  # days 27, 28

    def test_bad_ts_shape_raises(self, spark, tmp_path):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        with pytest.raises(ValueError, match="14-digit"):
            cdx.read_cdxj(spark, str(tmp_path), from_ts="2024")
        with pytest.raises(ValueError, match="14-digit"):
            cdx.read_cdxj(spark, str(tmp_path), to_ts="20240101T000000")
        # full-width Unicode digits pass bare isdigit() but would
        # lexicographically filter EVERYTHING out — must raise instead
        # (review finding)
        with pytest.raises(ValueError, match="14-digit"):
            cdx.read_cdxj(spark, str(tmp_path), from_ts="２０２４０１０２０００００0")
        with pytest.raises(ValueError, match="surt_exact"):
            cdx.read_cdxj(spark, str(tmp_path), surt_exact=True)


class TestCdxLatest:
    """cdx_latest (sources/cdx.py): newest capture per SURT key."""

    SCHEMA = ("file_id long, rec_index int, surt string, ts string, "
              "digest string")

    def test_keep_newest_and_solo_null_keys(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            (1, 0, "com,a)/x", "20240101000000", "old"),
            (2, 0, "com,a)/x", "20240301000000", "new"),
            (3, 0, "com,b)/y", "20240101000000", "only"),
            # same-timestamp recrawl: the (ts, file_id, rec_index) tail
            # must resolve deterministically to the larger id
            (4, 0, "com,c)/z", "20240201000000", "tie-lo"),
            (5, 0, "com,c)/z", "20240201000000", "tie-hi"),
            # distinct hostless URIs: null SURTs must NOT collapse
            (6, 0, None, "20240101000000", "ns1"),
            (7, 0, None, "20240101000000", "ns2"),
        ]
        df = spark.createDataFrame(rows, self.SCHEMA)
        out = {r["file_id"]: r for r in cdx.cdx_latest(df).collect()}
        assert set(out) == {2, 3, 5, 6, 7}
        assert out[2]["digest"] == "new"
        assert out[5]["digest"] == "tie-hi"

    def test_plan_is_one_agg_no_window(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        df = spark.createDataFrame(
            [(1, 0, "com,a)/x", "20240101000000", "d")], self.SCHEMA
        )
        plan = (
            cdx.cdx_latest(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
        assert plan.count("Exchange") == 1


class TestCdxLatestOverPublishedSidecars:
    """cdx_latest must compose over read_cdxj frames (review finding 2):
    the cross-generation merge the function documents starts from
    PUBLISHED sidecars, which carry (filename, offset), not the
    builder's (file_id, rec_index)."""

    def test_merge_two_published_generations(self, spark, tmp_path):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.sources import cdx
        gens = []
        for g, ts in ((0, "20240101000000"), (1, "20240301000000")):
            def msg(body):
                return (b"HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
                        b"Content-Length: %d\r\n\r\n" % len(body) + body)
            rows = [(i, bytearray(warc.encode_warc([(
                "response", f"https://h{i}.example/p", f"r{g}-{i}",
                msg(b"gen %d doc %d" % (g, i)))]
            ))) for i in range(4)]
            files = spark.createDataFrame(
                rows, "file_id long, payload binary"
            )
            lines = cdx.cdxj_lines(
                cdx.cdx_records(files, timestamp=F.lit(ts))
            )
            path = str(tmp_path / f"gen{g}")
            cdx.write_cdxj(lines, path, num_shards=2)
            gens.append(cdx.read_cdxj(spark, path))
        merged = cdx.cdx_latest(gens[0].unionByName(gens[1]))
        rows = merged.collect()
        assert len(rows) == 4
        assert all(r["ts"] == "20240301000000" for r in rows)
        # and a frame with NEITHER identity pair raises loudly
        with _pytest.raises(ValueError, match="identity columns"):
            cdx.cdx_latest(
                spark.createDataFrame(
                    [("s", "t")], "surt string, ts string"
                )
            )


class TestFrontierExpand:
    """frontier_expand (sources/cdx.py): fetch → index → expand loop."""

    def test_new_urls_only_with_inlink_counts(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        pages = spark.createDataFrame(
            [
                ("https://a.example/dir/page.html",
                 '<a href="x.html">1</a> <a href="x.html">2</a> '
                 '<a href="/known.html">k</a> <a href="#top">t</a> '
                 '<a href="https://b.example/new">n</a>'),
                ("https://c.example/p",
                 '<a href="x.html">other host, same name</a>'),
            ],
            "url string, html string",
        )
        index = spark.createDataFrame(
            [("example,a)/known.html",), ("example,a)/dir/page.html",)],
            "surt string",
        )
        out = {r["surt"]: r for r in cdx.frontier_expand(pages, index).collect()}
        assert set(out) == {
            "example,a)/dir/x.html",   # resolved relative, 2 in-links
            "example,b)/new",
            "example,c)/x.html",       # same name, different host
        }
        assert out["example,a)/dir/x.html"]["n_sources"] == 2
        assert out["example,b)/new"]["n_sources"] == 1
        # the known URL and the fragment ref must not appear
        assert "example,a)/known.html" not in out

    def test_plan_no_window_no_cartesian(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        pages = spark.createDataFrame(
            [("https://a.example/p", '<a href="x">x</a>')],
            "url string, html string",
        )
        index = spark.createDataFrame([("s",)], "surt string")
        plan = (
            cdx.frontier_expand(pages, index)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
        assert "CartesianProduct" not in plan

    def _polite_fixture(self, spark):
        from llm_pretraining_data_pipeline_spark.functions import urls
        pages = spark.createDataFrame(
            [(
                "https://a.example/idx",
                '<a href="/ok.html">o</a> <a href="/private/s.html">s</a> '
                '<a href="https://open.example/x">x</a>',
            )],
            "url string, html string",
        )
        index = spark.createDataFrame(
            [("example,a)/idx",)], "surt string"
        )
        robots = spark.createDataFrame(
            [("a.example",
              "User-agent: *\nDisallow: /private/\nCrawl-delay: 3")],
            "domain string, robots_txt string",
        )
        return (
            pages, index,
            urls.parse_robots(robots), urls.robots_directives(robots),
        )

    def test_robots_gate_excludes_disallowed_unindexed(self, spark):
        # VERDICT r11 item 4: /private/s.html is NOT in the index — the
        # anti-join alone would emit it; the robots gate must not
        from llm_pretraining_data_pipeline_spark.sources import cdx
        pages, index, rules, dirs = self._polite_fixture(spark)
        out = {
            r["surt"]: r
            for r in cdx.frontier_expand(
                pages, index, robots_rules=rules, directives=dirs
            ).collect()
        }
        assert set(out) == {"example,a)/ok.html", "example,open)/x"}
        # crawl_delay rides along; hosts without a directive get null
        assert out["example,a)/ok.html"]["crawl_delay"] == 3.0
        assert out["example,open)/x"]["crawl_delay"] is None
        # without the gate the disallowed URL WOULD be emitted — the
        # composition, not the anti-join, is what excludes it
        bare = {
            r["surt"]
            for r in cdx.frontier_expand(pages, index).collect()
        }
        assert "example,a)/private/s.html" in bare

    def test_polite_plan_gates_broadcast(self, spark):
        # the gate and delay joins must broadcast against the deduped
        # key frame — the frontier side never reshuffles for politeness.
        # The only windows allowed are parse_robots' own per-DOMAIN line
        # grouping (robots-file-sized, never the frontier).
        import re

        from llm_pretraining_data_pipeline_spark.sources import cdx
        pages, index, rules, dirs = self._polite_fixture(spark)
        plan = (
            cdx.frontier_expand(
                pages, index, robots_rules=rules, directives=dirs
            )
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan
        specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
        assert specs and set(specs) == {"domain"}

    def test_broadcast_gates_escape_hatch(self, spark):
        # match-heavy corpora (dominant Disallow:/ hosts) need the AQE
        # path — results must be identical either way (review finding)
        from llm_pretraining_data_pipeline_spark.sources import cdx
        pages, index, rules, dirs = self._polite_fixture(spark)
        a = sorted(
            (r["surt"], r["crawl_delay"])
            for r in cdx.frontier_expand(
                pages, index, robots_rules=rules, directives=dirs,
            ).collect()
        )
        b = sorted(
            (r["surt"], r["crawl_delay"])
            for r in cdx.frontier_expand(
                pages, index, robots_rules=rules, directives=dirs,
                broadcast_gates=False,
            ).collect()
        )
        assert a == b and len(a) == 2


class TestFrontierSchedule:
    def test_composes_with_polite_expand(self, spark):
        # the full loop tail: expand (robots-gated, delay-carrying) →
        # per-host slots; the delay column must ride through
        from llm_pretraining_data_pipeline_spark.functions import urls
        from llm_pretraining_data_pipeline_spark.sources import cdx
        pages = spark.createDataFrame(
            [(
                "https://a.example/idx",
                '<a href="/one.html">1</a> <a href="/two.html">2</a> '
                '<a href="/one.html">again</a>',
            )],
            "url string, html string",
        )
        index = spark.createDataFrame([("example,a)/idx",)], "surt string")
        robots = spark.createDataFrame(
            [("a.example", "User-agent: *\nCrawl-delay: 2")],
            "domain string, robots_txt string",
        )
        frontier = cdx.frontier_expand(
            pages, index,
            robots_rules=urls.parse_robots(robots),
            directives=urls.robots_directives(robots),
        )
        out = {
            r["url"]: r
            for r in cdx.frontier_schedule(frontier).collect()
        }
        one = out["https://a.example/one.html"]
        two = out["https://a.example/two.html"]
        assert one["fetch_rank"] == 1 and one["start_offset_s"] == 0.0
        assert one["n_sources"] == 2  # linked twice -> scheduled first
        assert two["fetch_rank"] == 2 and two["start_offset_s"] == 2.0

    def test_budget_and_default_delay(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            ("example,h)/a", "https://h.example/a", 5, None),
            ("example,h)/b", "https://h.example/b", 1, None),
            ("example,h)/c", "https://h.example/c", 1, None),
        ]
        f = spark.createDataFrame(
            rows,
            "surt string, url string, n_sources long, crawl_delay double",
        )
        out = cdx.frontier_schedule(
            f, default_delay=0.5, per_host_budget=2
        ).collect()
        assert sorted(r["url"][-1] for r in out) == ["a", "b"]  # c dropped
        offs = {r["url"][-1]: r["start_offset_s"] for r in out}
        assert offs == {"a": 0.0, "b": 0.5}  # null delay -> default
        # without the delay column at all, the default still applies
        out2 = cdx.frontier_schedule(
            f.drop("crawl_delay"), default_delay=3.0
        ).collect()
        assert {r["url"][-1]: r["start_offset_s"] for r in out2} == {
            "a": 0.0, "b": 3.0, "c": 6.0,
        }

    def test_delay_is_a_host_directive_not_per_row(self, spark):
        # mixed/partly-null delays must resolve ONCE per host (MAX, the
        # conservative politeness merge) — per-row coalescing would
        # schedule rank-2 closer than the directive allows (review
        # finding)
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            ("example,h)/a", "https://h.example/a", 5, 2.0),
            ("example,h)/b", "https://h.example/b", 1, None),
        ]
        f = spark.createDataFrame(
            rows,
            "surt string, url string, n_sources long, crawl_delay double",
        )
        out = {r["url"][-1]: r for r in cdx.frontier_schedule(f).collect()}
        assert out["b"]["start_offset_s"] == 2.0  # host's 2s, not 1s

    def test_hostless_rows_excluded(self, spark):
        # unparseable-host rows are unfetchable: never ranked, never
        # emitted, never consuming budget (review finding)
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            ("example,h)/a", "https://h.example/a", 1, None),
            (None, "mailto:x@y.example", 9, None),
            (None, None, 9, None),
        ]
        f = spark.createDataFrame(
            rows,
            "surt string, url string, n_sources long, crawl_delay double",
        )
        out = cdx.frontier_schedule(f, per_host_budget=1).collect()
        assert len(out) == 1 and out[0]["host"] == "h.example"


class TestCdxDigestDrift:
    SCHEMA = ("file_id long, rec_index int, surt string, ts string, "
              "digest string, target_uri string")

    def test_null_digest_drift_semantics(self, spark):
        # http-failed captures carry null digests: null->value IS a
        # change, null->null is NOT (eqNullSafe), single capture never is
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            (1, 0, "com,a)/x", "20240101000000", None, "https://a/x"),
            (2, 0, "com,a)/x", "20240201000000", "d1", "https://a/x"),
            (3, 0, "com,b)/y", "20240101000000", None, "https://b/y"),
            (4, 0, "com,b)/y", "20240201000000", None, "https://b/y"),
            (5, 0, "com,c)/z", "20240101000000", "d9", "https://c/z"),
            (6, 0, None, "20240101000000", "dn", "dns:x"),  # excluded
        ]
        out = {
            r["surt"]: r
            for r in cdx.cdx_digest_drift(
                spark.createDataFrame(rows, self.SCHEMA)
            ).collect()
        }
        assert set(out) == {"com,a)/x", "com,b)/y", "com,c)/z"}
        assert out["com,a)/x"]["changed"] is True
        assert out["com,a)/x"]["latest_digest"] == "d1"
        assert out["com,b)/y"]["changed"] is False
        assert out["com,c)/z"]["changed"] is False
        assert out["com,c)/z"]["prev_ts"] is None
        assert out["com,c)/z"]["n_captures"] == 1

    def test_composes_over_published_sidecar_shape(self, spark):
        # parsed sidecars carry (filename, offset), not (file_id,
        # rec_index) — the identity-tail fallback must accept them
        from llm_pretraining_data_pipeline_spark.sources import cdx
        schema = ("filename string, offset long, surt string, ts string, "
                  "digest string, target_uri string")
        rows = [
            ("a.warc", 0, "com,a)/x", "20240101000000", "d0", "u"),
            ("b.warc", 0, "com,a)/x", "20240201000000", "d1", "u"),
        ]
        out = cdx.cdx_digest_drift(
            spark.createDataFrame(rows, schema)
        ).collect()
        assert len(out) == 1 and out[0]["changed"] is True

    def test_missing_identity_raises(self, spark):
        import pytest as _pytest

        from llm_pretraining_data_pipeline_spark.sources import cdx
        df = spark.createDataFrame(
            [("s", "t", "d", "u")],
            "surt string, ts string, digest string, target_uri string",
        )
        with _pytest.raises(ValueError, match="identity columns"):
            cdx.cdx_digest_drift(df)

    def test_plan_one_shuffle_no_window(self, spark):
        # drift is ONE hash aggregation: no window (hot URLs can't
        # straggle), no cartesian, exactly one Exchange
        from llm_pretraining_data_pipeline_spark.sources import cdx
        df = spark.createDataFrame(
            [(1, 0, "com,a)/x", "20240101000000", "d", "u")], self.SCHEMA
        )
        plan = (
            cdx.cdx_digest_drift(df)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
        assert "CartesianProduct" not in plan
        assert plan.count("Exchange") == 1

    def test_null_ts_second_capture_still_drift_compares(self, spark):
        # the single-capture sentinel is the capture COUNT: a real
        # second capture whose own ts is null (unparseable WARC-Date)
        # must still digest-compare (review finding)
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            (1, 0, "com,a)/x", "20240101000000", "d0", "u"),
            (2, 0, "com,a)/x", None, "d1", "u"),
        ]
        out = cdx.cdx_digest_drift(
            spark.createDataFrame(rows, self.SCHEMA)
        ).collect()
        assert len(out) == 1
        assert out[0]["n_captures"] == 2
        assert out[0]["changed"] is True


class TestSitemapRecrawl:
    ENTRY_SCHEMA = (
        "domain string, entry_pos int, loc string, lastmod string, "
        "changefreq string, priority double, is_index boolean, "
        "sm_ok boolean"
    )

    def _run(self, spark, entries, index_rows):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        e = spark.createDataFrame(entries, self.ENTRY_SCHEMA)
        idx = spark.createDataFrame(index_rows, "surt string, ts string")
        return {
            r["surt"]: r
            for r in cdx.sitemap_recrawl(e, idx).collect()
        }

    def test_verdicts_and_ignored_rows(self, spark):
        entries = [
            # modified: lastmod day 5 > capture day 3
            ("a.example", 0, "https://a.example/p0", "2024-01-05",
             None, None, False, True),
            # equal-to-capture lastmod: NOT newer -> skip
            ("a.example", 1, "https://a.example/p1", "2024-01-03",
             None, None, False, True),
            # new URL
            ("a.example", 2, "https://a.example/pnew", "2024-01-02",
             None, None, False, True),
            # indexed, lastmod-less -> skip (no evidence)
            ("a.example", 3, "https://a.example/pnolm", None,
             None, None, False, True),
            # sitemapindex child + malformed row: both ignored
            ("a.example", 4, "https://a.example/child.xml",
             "2024-09-09", None, None, True, True),
            ("a.example", None, None, None, None, None, None, False),
        ]
        index = [
            ("example,a)/p0", "20240103000000"),
            ("example,a)/p1", "20240103000000"),
            ("example,a)/pnolm", "20240103000000"),
        ]
        out = self._run(spark, entries, index)
        assert set(out) == {"example,a)/p0", "example,a)/pnew"}
        assert out["example,a)/p0"]["reason"] == "modified"
        assert out["example,a)/p0"]["last_capture_ts"] == "20240103000000"
        assert out["example,a)/pnew"]["reason"] == "new"
        assert out["example,a)/pnew"]["last_capture_ts"] is None

    def test_multi_generation_index_uses_newest(self, spark):
        entries = [
            ("a.example", 0, "https://a.example/p", "2024-01-04",
             None, None, False, True),
        ]
        # newest capture (day 5) postdates lastmod -> skip, even though
        # an older generation (day 1) predates it
        index = [
            ("example,a)/p", "20240101000000"),
            ("example,a)/p", "20240105000000"),
        ]
        assert self._run(spark, entries, index) == {}

    def test_plan_no_window_no_cartesian(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        e = spark.createDataFrame(
            [("a.example", 0, "https://a.example/p", "2024-01-04",
              None, None, False, True)],
            self.ENTRY_SCHEMA,
        )
        idx = spark.createDataFrame(
            [("example,a)/p", "20240101000000")], "surt string, ts string"
        )
        plan = (
            cdx.sitemap_recrawl(e, idx)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
        assert "CartesianProduct" not in plan

    def test_split_sitemap_duplicates_dedupe(self, spark):
        # split-sitemap sites list the same URL in several files; the
        # fetcher must see ONE row, with the NEWEST lastmod claim
        # (review finding)
        entries = [
            ("a.example", 0, "https://a.example/p", "2024-01-04",
             None, None, False, True),
            ("a.example", 0, "https://a.example/p", "2024-01-05",
             None, None, False, True),
        ]
        index = [("example,a)/p", "20240103000000")]
        out = self._run(spark, entries, index)
        assert list(out) == ["example,a)/p"]
        assert out["example,a)/p"]["reason"] == "modified"
        assert out["example,a)/p"]["lastmod_ts"] == "20240105000000"

    def test_digit_free_lastmod_is_null_not_year_zero(self, spark):
        # 'yesterday' has no digits: lastmod_ts must be null (no usable
        # evidence), not a fabricated '00000000000000' (review finding)
        entries = [
            ("a.example", 0, "https://a.example/new", "yesterday",
             None, None, False, True),
            ("a.example", 1, "https://a.example/known", "yesterday",
             None, None, False, True),
        ]
        index = [("example,a)/known", "20240103000000")]
        out = self._run(spark, entries, index)
        # unindexed: still fetched as new, with a NULL lastmod_ts
        assert set(out) == {"example,a)/new"}
        assert out["example,a)/new"]["reason"] == "new"
        assert out["example,a)/new"]["lastmod_ts"] is None


class TestHttpLocation:
    def test_location_header_exposed_and_stripped(self):
        msg = (
            b"HTTP/1.1 301 Moved Permanently\r\n"
            b"Location:   https://b.example/new  \r\n"
            b"Content-Length: 0\r\n\r\n"
        )
        assert http.parse_http_response(msg)["location"] == (
            "https://b.example/new"
        )
        no_loc = (
            b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok"
        )
        assert http.parse_http_response(no_loc)["location"] is None
        empty = (
            b"HTTP/1.1 301 Moved\r\nLocation: \r\n"
            b"Content-Length: 0\r\n\r\n"
        )
        assert http.parse_http_response(empty)["location"] is None


class TestResolveRedirects:
    SCHEMA = "url string, status int, location string"

    def _run(self, spark, rows, **kw):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        df = spark.createDataFrame(rows, self.SCHEMA)
        return {
            r["surt"]: r for r in cdx.resolve_redirects(df, **kw).collect()
        }

    def test_chain_collapses_and_dangling_edge_resolves(self, spark):
        rows = [
            ("https://a.example/1", 301, "https://a.example/2"),
            ("https://a.example/2", 302, "/3"),       # root-relative
            ("https://a.example/3", 200, None),
            ("https://a.example/gone", 308, "https://x.example/out"),
        ]
        out = self._run(spark, rows)
        assert out["example,a)/1"]["final_surt"] == "example,a)/3"
        assert out["example,a)/1"]["n_hops"] == 2
        assert out["example,a)/1"]["resolved"] is True
        assert out["example,a)/3"]["n_hops"] == 0
        # destination never captured: the chain still ENDS there
        g = out["example,a)/gone"]
        assert g["final_surt"] == "example,x)/out" and g["resolved"] is True

    def test_over_long_chain_unresolved_within_max_hops(self, spark):
        # 3-hop chain with max_hops=2 (1 doubling round): /1 only
        # reaches /3 (still a redirect source) -> unresolved; /2
        # reaches /4 in 2 hops -> resolved
        rows = [
            ("https://a.example/1", 301, "/2"),
            ("https://a.example/2", 301, "/3"),
            ("https://a.example/3", 301, "/4"),
            ("https://a.example/4", 200, None),
        ]
        out = self._run(spark, rows, max_hops=2)
        assert out["example,a)/1"]["resolved"] is False
        assert out["example,a)/2"]["resolved"] is True
        assert out["example,a)/2"]["final_surt"] == "example,a)/4"

    def test_self_redirect_unresolved(self, spark):
        rows = [("https://a.example/me", 301, "https://a.example/me")]
        out = self._run(spark, rows)
        me = out["example,a)/me"]
        assert me["resolved"] is False
        assert me["final_surt"] == "example,a)/me"

    def test_status_without_location_is_not_an_edge(self, spark):
        # a 301 whose Location header vanished (header-cap, stripping)
        # cannot chain: its own row is unresolvable=false? No — it is
        # NOT a redirect edge, so it is its own final, resolved
        rows = [("https://a.example/x", 301, None)]
        out = self._run(spark, rows)
        assert out["example,a)/x"]["resolved"] is True
        assert out["example,a)/x"]["n_hops"] == 0


class TestWetCdxRoundTrip:
    """publish → index → selective read: the engine's own WET export
    must be range-fetchable through its own CDX sidecar."""

    def _published(self, spark):
        from llm_pretraining_data_pipeline_spark.plans import exports
        from llm_pretraining_data_pipeline_spark.sources import cdx
        docs = spark.createDataFrame(
            [
                (1, "https://a.example/x", "first document text"),
                (2, "https://b.example/y", "second döc with ütf-8"),
                (3, "https://a.example/z", "third document body"),
            ],
            "doc_id long, url string, text string",
        )
        shards = exports.wet_shard_frame(docs, num_shards=2)
        idx = cdx.cdx_records(
            shards, payload_col="wet_file", id_col="shard_id",
            warc_types=("conversion",),
        )
        return shards, idx

    def test_conversion_index_rows(self, spark):
        shards, idx = self._published(spark)
        rows = {r["surt"]: r for r in idx.collect()}
        assert set(rows) == {
            "example,a)/x", "example,b)/y", "example,a)/z",
        }
        import hashlib
        assert rows["example,b)/y"]["digest"] == hashlib.sha256(
            "second döc with ütf-8".encode()
        ).hexdigest()
        assert all(r["cdx_ok"] for r in rows.values())
        assert all(
            r["status"] is None and r["mime"] is None
            for r in rows.values()
        )

    def test_selective_read_recovers_published_text(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx
        shards, idx = self._published(spark)
        out = cdx.read_warc_selective(
            shards, idx, "example,a)",
            payload_col="wet_file", id_col="shard_id",
        ).collect()
        texts = sorted(bytes(r["payload"]).decode("utf-8") for r in out)
        assert texts == ["first document text", "third document body"]
        assert all(r["warc_type"] == "conversion" for r in out)
        assert all(r["parse_ok"] for r in out)

    def test_conversion_mode_plan_is_pure_jvm(self, spark):
        # no HTTP split for conversion records: the payload IS the
        # content, so the plan must carry NO Arrow/Python eval beyond
        # the record explode itself
        shards, idx = self._published(spark)
        plan = idx._jdf.queryExecution().executedPlan().toString()
        assert plan.lower().count("arrowevalpython") == 0

    def test_mixed_types_with_response_refused(self, spark):
        import pytest as _pytest

        from llm_pretraining_data_pipeline_spark.sources import cdx
        files = spark.createDataFrame(
            [(1, bytearray(b""))], "file_id long, payload binary"
        )
        with _pytest.raises(ValueError, match="mixing 'response'"):
            cdx.cdx_records(
                files, warc_types=("response", "conversion")
            )


class TestCdxLatestMalformedRows:
    def test_all_malformed_rows_survive_a_merge(self, spark):
        # parsed frames null BOTH tail columns on malformed lines; the
        # solo key must stay unique per row or a merge silently drops
        # all but one broken-line audit row (review finding)
        from llm_pretraining_data_pipeline_spark.sources import cdx
        rows = [
            (None, None, None, None, None, None, None, None, None, False),
            (None, None, None, None, None, None, None, None, None, False),
            ("com,a)/x", "20240101000000", "u", "m", 200, "d", 0, 10,
             "f.warc", True),
        ]
        schema = ("surt string, ts string, target_uri string, mime string, "
                  "status int, digest string, offset long, "
                  "record_bytes long, filename string, line_ok boolean")
        df = spark.createDataFrame(rows, schema)
        out = cdx.cdx_latest(df.unionByName(df))  # a two-sidecar merge
        assert out.where("surt IS NULL").count() == 4  # 2 per "sidecar"
        assert out.where("surt IS NOT NULL").count() == 1


class TestRevisitResolution:
    """WARC revisit records (sources/cdx.py::resolve_revisits) — the
    crawl-time dedup shape: a re-fetch whose payload digest matched an
    earlier capture ships a near-empty 'revisit' record that must be
    joined back to the original response by digest."""

    @staticmethod
    def _http(body: bytes) -> bytes:
        return (
            "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode("ascii") + body

    @staticmethod
    def _blob(records):
        return bytearray(warc.encode_warc(records))

    def _records(self, spark, rows):
        from llm_pretraining_data_pipeline_spark.sources import warc as W

        df = spark.createDataFrame(rows, "file_id long, payload binary")
        return W.warc_records(
            df, headers=("WARC-Payload-Digest", "WARC-Truncated")
        )

    def test_header_projection(self, spark):
        rows = [
            (1, self._blob([
                ("response", "http://a/", "r0", b"x",
                 (("WARC-Truncated", "length"),)),
                ("response", "http://b/", "r1", b"y"),
            ])),
            (2, bytearray(b"garbage")),
        ]
        out = self._records(spark, rows).collect()
        by = {(r["file_id"], r["rec_index"]): r for r in out}
        assert by[(1, 0)]["warc_truncated"] == "length"
        assert by[(1, 1)]["warc_truncated"] is None
        assert by[(1, 0)]["warc_payload_digest"] is None
        bad = by[(2, None)]
        assert not bad["parse_ok"] and bad["warc_truncated"] is None

    def test_resolves_by_digest(self, spark):
        import hashlib

        from llm_pretraining_data_pipeline_spark.sources import cdx

        body = b"the original body"
        digest = hashlib.sha256(body).hexdigest()
        rows = [
            (1, self._blob([("response", "http://a/", "orig",
                             self._http(body))])),
            (2, self._blob([
                ("revisit", "http://a/", "re", b"",
                 (("WARC-Payload-Digest", f"sha256:{digest}"),)),
            ])),
        ]
        out = cdx.resolve_revisits(self._records(spark, rows))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        rv = out.where("warc_type = 'revisit'").collect()[0]
        assert rv["revisit_resolved"] is True
        assert rv["resolved_from"] == "<urn:uuid:orig>"
        assert bytes(rv["payload"]) == self._http(body)
        # non-revisit rows pass through untouched, tri-state null
        resp = out.where("warc_type = 'response'").collect()[0]
        assert resp["revisit_resolved"] is None
        assert resp["resolved_from"] is None

    def test_unresolved_and_label_variants(self, spark):
        import hashlib

        from llm_pretraining_data_pipeline_spark.sources import cdx

        body = b"content"
        hexd = hashlib.sha256(body).hexdigest()
        rows = [
            (1, self._blob([("response", "http://a/", "orig",
                             self._http(body))])),
            # uppercase hex + different algo label still resolves
            (2, self._blob([
                ("revisit", "http://a/", "up", b"",
                 (("WARC-Payload-Digest", f"SHA-256:{hexd.upper()}"),)),
            ])),
            # matches nothing -> unresolved, payload untouched
            (3, self._blob([
                ("revisit", "http://a/", "gone", b"",
                 (("WARC-Payload-Digest", "sha256:" + "0" * 64),)),
            ])),
            # no digest header at all -> unresolved
            (4, self._blob([("revisit", "http://a/", "bare", b"")])),
        ]
        out = {
            r["record_id"]: r
            for r in cdx.resolve_revisits(self._records(spark, rows))
            .where("warc_type = 'revisit'").collect()
        }
        assert out["<urn:uuid:up>"]["revisit_resolved"] is True
        assert bytes(out["<urn:uuid:up>"]["payload"]) == self._http(body)
        assert out["<urn:uuid:gone>"]["revisit_resolved"] is False
        assert bytes(out["<urn:uuid:gone>"]["payload"]) == b""
        assert out["<urn:uuid:bare>"]["revisit_resolved"] is False

    def test_representative_is_earliest_capture(self, spark):
        import hashlib

        from llm_pretraining_data_pipeline_spark.sources import cdx

        body = b"same everywhere"
        digest = hashlib.sha256(body).hexdigest()
        rows = [
            (7, self._blob([("response", "http://a/", "later",
                             self._http(body))])),
            (3, self._blob([("response", "http://b/", "earlier",
                             self._http(body))])),
            (9, self._blob([
                ("revisit", "http://a/", "re", b"",
                 (("WARC-Payload-Digest", f"sha256:{digest}"),)),
            ])),
        ]
        rv = (
            cdx.resolve_revisits(self._records(spark, rows))
            .where("warc_type = 'revisit'").collect()[0]
        )
        assert rv["resolved_from"] == "<urn:uuid:earlier>"

    def test_missing_digest_column_raises(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx

        rows = [(1, self._blob([("response", "http://a/", "r", b"x")]))]
        df = spark.createDataFrame(rows, "file_id long, payload binary")
        recs = warc.warc_records(df)  # no headers= projection
        with pytest.raises(ValueError, match="warc_payload_digest"):
            cdx.resolve_revisits(recs)

    def test_sha1_base32_raw_payload_resolves(self, spark):
        # ADVICE r12: real archives (CommonCrawl/warcio; WARC §6.7.2)
        # stamp sha1:<BASE32> over the RAW stored payload. With a
        # gzip Content-Encoding original, raw bytes != decoded body, so
        # this claim can ONLY resolve through the sha1-raw identity —
        # the sha256-of-decoded-body arm can never match it.
        import base64
        import gzip
        import hashlib

        from llm_pretraining_data_pipeline_spark.sources import cdx

        body = b"the gzipped original body"
        raw = gzip.compress(body, mtime=0)
        msg = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n"
            "Content-Encoding: gzip\r\n"
            f"Content-Length: {len(raw)}\r\n\r\n"
        ).encode("ascii") + raw
        b32 = base64.b32encode(hashlib.sha1(raw).digest()).decode("ascii")
        sha256_hex = hashlib.sha256(body).hexdigest()
        rows = [
            (1, self._blob([("response", "http://a/", "orig", msg)])),
            (2, self._blob([
                ("revisit", "http://a/", "cc", b"",
                 (("WARC-Payload-Digest", f"sha1:{b32}"),)),
            ])),
            # the engine's own sha256-of-decoded-body claim still works
            (3, self._blob([
                ("revisit", "http://a/", "own", b"",
                 (("WARC-Payload-Digest", f"sha256:{sha256_hex}"),)),
            ])),
            # sha1 over the DECODED body is nobody's convention: stays
            # unresolved (proves the raw-vs-decoded distinction is real)
            (4, self._blob([
                ("revisit", "http://a/", "wrong", b"",
                 (("WARC-Payload-Digest", "sha1:" + base64.b32encode(
                     hashlib.sha1(body).digest()).decode("ascii")),)),
            ])),
        ]
        out = {
            r["record_id"]: r
            for r in cdx.resolve_revisits(self._records(spark, rows))
            .where("warc_type = 'revisit'").collect()
        }
        assert out["<urn:uuid:cc>"]["revisit_resolved"] is True
        assert bytes(out["<urn:uuid:cc>"]["payload"]) == msg
        assert out["<urn:uuid:own>"]["revisit_resolved"] is True
        assert out["<urn:uuid:wrong>"]["revisit_resolved"] is False

    def test_lf_only_original_resolves_via_sha1_raw(self, spark):
        # ADVICE r13: a lenient archiver that stored an LF-only HTTP
        # message stamps its sha1:<BASE32> payload digest over the
        # bytes after b"\n\n"; without the LF fallback the engine
        # digested the header bytes into the payload and the claim
        # silently never resolved. The engine's own splitter stays
        # strict-CRLF (the original is http_ok=false downstream) —
        # revisit resolution and text extraction are independent.
        import base64
        import hashlib

        from llm_pretraining_data_pipeline_spark.sources import cdx

        body = b"lf only body bytes"
        msg = b"HTTP/1.1 200 OK\nContent-Type: text/plain\n\n" + body
        b32 = base64.b32encode(hashlib.sha1(body).digest()).decode("ascii")
        rows = [
            (1, self._blob([("response", "http://lf/", "orig", msg)])),
            (2, self._blob([
                ("revisit", "http://lf/", "cc", b"",
                 (("WARC-Payload-Digest", f"sha1:{b32}"),)),
            ])),
        ]
        out = {
            r["record_id"]: r
            for r in cdx.resolve_revisits(self._records(spark, rows))
            .where("warc_type = 'revisit'").collect()
        }
        assert out["<urn:uuid:cc>"]["revisit_resolved"] is True
        assert bytes(out["<urn:uuid:cc>"]["payload"]) == msg


class TestHttpBodyTextCharset:
    """WHATWG-faithful charset decode (sources/http.py::
    http_body_text_charset): BOM > declared label > meta sniff >
    content fallback; latin-1-family labels mean windows-1252."""

    def _run(self, spark, rows):
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        df = spark.createDataFrame(
            rows, "i int, body binary, charset string"
        )
        out = (
            df.select("i", http_body_text_charset().alias("d"))
            .select("i", "d.*")
            .collect()
        )
        return {r["i"]: (r["text"], r["charset_used"], r["charset_source"])
                for r in out}

    def test_precedence_chain(self, spark):
        sfx = b"\x93q\x94 \x97 caf\xe9 \x80"   # cp1252 bytes
        dec = "“q” — café €"
        got = self._run(spark, [
            (0, bytearray("héllo".encode("utf-8")), "utf-8"),
            (1, bytearray(b"p " + sfx), "windows-1252"),
            # every latin-1-family label means cp1252 (WHATWG)
            (2, bytearray(b"p " + sfx), "ISO-8859-1"),
            (3, bytearray(b"p " + sfx), "ascii"),
            # meta sniff when no header label
            (4, bytearray(b'<meta charset="latin1">m ' + sfx), None),
            # legacy http-equiv form
            (5, bytearray(
                b'<meta http-equiv="Content-Type" content='
                b'"text/html; charset=windows-1252">m ' + sfx), None),
            # content fallback: invalid utf-8, nothing declared
            (6, bytearray(b"r " + sfx), None),
            # content fallback: valid utf-8
            (7, bytearray("ok café".encode("utf-8")), None),
            # unsupported label falls through to content sniff
            (8, bytearray(b"ascii only"), "shift_jis"),
        ])
        assert got[0] == ("héllo", "utf-8", "declared")
        assert got[1] == ("p " + dec, "windows-1252", "declared")
        assert got[2] == ("p " + dec, "windows-1252", "declared")
        assert got[3] == ("p " + dec, "windows-1252", "declared")
        assert got[4][0].endswith("m " + dec)
        assert got[4][1:] == ("windows-1252", "meta")
        assert got[5][1:] == ("windows-1252", "meta")
        assert got[6] == ("r " + dec, "windows-1252", "content")
        assert got[7] == ("ok café", "utf-8", "content")
        assert got[8] == ("ascii only", "utf-8", "content")

    def test_bom_wins_over_label(self, spark):
        got = self._run(spark, [
            # UTF-8 BOM beats a cp1252 declaration
            (0, bytearray(b"\xef\xbb\xbf" + "bom café".encode("utf-8")),
             "windows-1252"),
            (1, bytearray(b"\xff\xfe" + "lé".encode("utf-16-le")), None),
            (2, bytearray(b"\xfe\xff" + "bé".encode("utf-16-be")), None),
            # UTF-8 BOM followed by invalid UTF-8 -> cp1252, not a throw
            (3, bytearray(b"\xef\xbb\xbfbad \x93"), None),
        ])
        assert got[0] == ("bom café", "utf-8", "bom")
        assert got[1] == ("lé", "utf-16le", "bom")
        assert got[2] == ("bé", "utf-16be", "bom")
        assert got[3] == ("bad “", "windows-1252", "content")

    def test_declared_label_is_honored_over_content(self, spark):
        # the contrast with http_body_text: a mislabeled-but-valid-UTF-8
        # body decodes per the DECLARATION (mojibake by design; the
        # ftfy-repair stage owns the fix)
        got = self._run(spark, [
            (0, bytearray("café".encode("utf-8")), "latin1"),
        ])
        assert got[0] == ("cafÃ©", "windows-1252", "declared")

    def test_null_and_empty(self, spark):
        got = self._run(spark, [
            (0, None, "utf-8"),
            (1, bytearray(b""), None),
        ])
        assert got[0] == (None, None, None)
        assert got[1] == ("", "utf-8", "content")

    def test_cp1252_undefined_bytes_stay_c1(self, spark):
        # 0x81 8D 8F 90 9D have no cp1252 mapping; WHATWG keeps the C1
        # control (identical to the latin-1 decode)
        got = self._run(spark, [
            (0, bytearray(b"a\x81b\x90c"), "windows-1252"),
        ])
        assert got[0][0] == "a\x81b\x90c"

    def _run_mb(self, spark, rows):
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        df = spark.createDataFrame(
            rows, "i int, body binary, charset string"
        )
        out = (
            df.select(
                "i",
                http_body_text_charset(multibyte=True).alias("d"),
            )
            .select("i", "d.*")
            .collect()
        )
        return {r["i"]: (r["text"], r["charset_used"], r["charset_source"])
                for r in out}

    def test_multibyte_labels_decode(self, spark):
        # VERDICT r12 item 5: the WHATWG multi-byte legacy labels decode
        # through the gated Arrow stage
        got = self._run_mb(spark, [
            (0, bytearray("a こんにちは".encode("shift_jis")), "x-sjis"),
            (1, bytearray("b 안녕".encode("euc_kr")), "ks_c_5601-1987"),
            (2, bytearray("c 你好".encode("gbk")), "GB2312"),
            (3, bytearray("d 你好".encode("big5")), "big5"),
            (4, bytearray("e €好".encode("gb18030")), "gb18030"),
            (5, bytearray("f 日本".encode("euc_jp")), "euc-jp"),
            # meta-sniffed multi-byte label, no header charset
            (6, bytearray(
                '<meta charset="shift_jis">g テスト'.encode("shift_jis")
            ), None),
            # undecodable bytes under the declared codec -> U+FFFD, total
            (7, bytearray(b"h \x85\x40ok\xff\xff"), "sjis"),
        ])
        assert got[0] == ("a こんにちは", "shift_jis", "declared")
        assert got[1] == ("b 안녕", "euc-kr", "declared")
        assert got[2] == ("c 你好", "gbk", "declared")
        assert got[3] == ("d 你好", "big5", "declared")
        assert got[4] == ("e €好", "gb18030", "declared")
        assert got[5] == ("f 日本", "euc-jp", "declared")
        assert got[6][0].endswith("g テスト")
        assert got[6][1:] == ("shift_jis", "meta")
        assert got[7][1:] == ("shift_jis", "declared")
        assert "ok" in got[7][0] and "�" in got[7][0]

    def test_wide_vendor_codecs_are_the_whatwg_indices(self, spark):
        # review finding r13: WHATWG EUC-KR IS the UHC index and WHATWG
        # Shift_JIS includes the NEC/IBM extensions — strict euc_kr /
        # shift_jis would U+FFFD real body text that cp949/cp932 decode
        uhc_only = "똠"  # U+B620: 2-byte UHC-only, NOT in KS X 1001
        # strict euc_kr cannot DECODE the UHC 2-byte form real Korean
        # servers send (it only knows the 8-byte jamo composition)
        assert "�" in uhc_only.encode("cp949").decode(
            "euc_kr", errors="replace"
        )
        nec = "①"  # U+2460: NEC row 13, in cp932, NOT in JIS X 0208
        import pytest as _pytest

        with _pytest.raises(UnicodeEncodeError):
            nec.encode("shift_jis")
        got = self._run_mb(spark, [
            (0, bytearray(("k " + uhc_only).encode("cp949")), "euc-kr"),
            (1, bytearray(("j " + nec).encode("cp932")), "windows-31j"),
        ])
        assert got[0] == ("k " + uhc_only, "euc-kr", "declared")
        assert got[1] == ("j " + nec, "shift_jis", "declared")

    def test_multibyte_precedence(self, spark):
        got = self._run_mb(spark, [
            # BOM beats a multi-byte declaration
            (0, bytearray(b"\xef\xbb\xbf" + "bom".encode("utf-8")),
             "shift_jis"),
            # supported declared label beats a multi-byte META sniff
            (1, bytearray(b'<meta charset="shift_jis">x'), "utf-8"),
            # multi-byte declared label beats a supported META sniff
            (2, bytearray(
                '<meta charset="utf-8">y こ'.encode("shift_jis")),
             "x-sjis"),
            # no label anywhere: content chain unchanged
            (3, bytearray("plain café".encode("utf-8")), None),
        ])
        assert got[0] == ("bom", "utf-8", "bom")
        assert got[1][1:] == ("utf-8", "declared")
        assert got[2][0].endswith("y こ")
        assert got[2][1:] == ("shift_jis", "declared")
        assert got[3] == ("plain café", "utf-8", "content")

    def test_default_plan_stays_zero_python(self, spark):
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        df = spark.createDataFrame(
            [(1, bytearray(b"x"), "utf-8")],
            "i int, body binary, charset string",
        )
        plain = df.select(http_body_text_charset().alias("d"))
        assert "ArrowEvalPython" not in plain._jdf.queryExecution(
        ).executedPlan().toString()
        mb = df.select(http_body_text_charset(multibyte=True).alias("d"))
        mb_plan = mb._jdf.queryExecution().executedPlan().toString()
        assert mb_plan.count("ArrowEvalPython") == 1


class TestScheduleReplay:
    """sources/cdx.py::schedule_replay — the fetch-simulation referee
    (VERDICT r12 item 7): a clean frontier_schedule replays ok=true on
    every host; tampered schedules surface early_hits / rank holes."""

    def _replay(self, spark, rows, directives=None, **kw):
        from llm_pretraining_data_pipeline_spark.sources import cdx

        sched = spark.createDataFrame(
            rows, "host string, fetch_rank int, start_offset_s double"
        )
        dirs = None
        if directives is not None:
            dirs = spark.createDataFrame(
                directives, "domain string, crawl_delay double"
            )
        out = cdx.schedule_replay(sched, directives=dirs, **kw)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        return {r["host"]: r for r in out.collect()}

    def test_clean_schedule_replays_ok(self, spark):
        got = self._replay(
            spark,
            [("a", 1, 0.0), ("a", 2, 2.0), ("a", 3, 4.0), ("b", 1, 0.0)],
            directives=[("a", 2.0)],
        )
        assert got["a"]["ok"] and got["a"]["early_hits"] == 0
        assert got["a"]["min_gap_s"] == 2.0
        assert got["a"]["required_delay_s"] == 2.0
        assert got["b"]["ok"] and got["b"]["min_gap_s"] is None
        assert got["b"]["required_delay_s"] == 1.0  # default

    def test_early_hit_detected(self, spark):
        # slot 3 fires 1.5 s after slot 2 against a 2 s directive
        got = self._replay(
            spark,
            [("a", 1, 0.0), ("a", 2, 2.0), ("a", 3, 3.5)],
            directives=[("a", 2.0)],
        )
        assert got["a"]["early_hits"] == 1
        assert not got["a"]["ok"]
        assert got["a"]["rank_contiguous"]  # ranks fine, spacing not

    def test_rank_holes_and_duplicates_detected(self, spark):
        got = self._replay(
            spark,
            # hole: rank 2 missing; dup: host b has two rank-1 slots
            [("a", 1, 0.0), ("a", 3, 4.0),
             ("b", 1, 0.0), ("b", 1, 0.0),
             ("c", 2, 0.0)],  # doesn't start at 1
        )
        assert not got["a"]["rank_contiguous"] and not got["a"]["ok"]
        assert not got["b"]["rank_contiguous"]
        assert not got["c"]["rank_contiguous"]

    def test_max_merge_of_directives(self, spark):
        # two directives for one host: the conservative MAX applies
        got = self._replay(
            spark,
            [("a", 1, 0.0), ("a", 2, 2.0)],
            directives=[("a", 1.0), ("a", 3.0)],
        )
        assert got["a"]["required_delay_s"] == 3.0
        assert got["a"]["early_hits"] == 1 and not got["a"]["ok"]

    def test_frontier_schedule_output_always_replays_clean(self, spark):
        # property: whatever frontier_schedule emits must replay ok
        from llm_pretraining_data_pipeline_spark.sources import cdx

        frontier = spark.createDataFrame(
            [(f"https://h{i % 5}.ex/p{i}", f"ex,h{i % 5})/p{i}",
              (i * 7) % 13 + 1, float(i % 4) if i % 3 else None)
             for i in range(60)],
            "url string, surt string, n_sources long, crawl_delay double",
        )
        sched = cdx.frontier_schedule(
            frontier, default_delay=0.5, per_host_budget=9
        )
        dirs = frontier.where("crawl_delay IS NOT NULL").selectExpr(
            "regexp_extract(url, 'https://([^/]+)/', 1) AS domain",
            "crawl_delay",
        )
        out = cdx.schedule_replay(
            sched, directives=dirs, default_delay=0.5
        ).collect()
        assert out and all(r["ok"] for r in out)


class TestCdxIncremental:
    """sources/cdx.py::cdx_incremental — only-new-digests anti-join."""

    def test_new_digests_only(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx

        prev = spark.createDataFrame(
            [("d1", "a"), ("d2", "b"), (None, "bad")],
            "digest string, surt string",
        )
        cur = spark.createDataFrame(
            [("d1", "a2"), ("d3", "c"), (None, "bad2")],
            "digest string, surt string",
        )
        out = cdx.cdx_incremental(cur, prev)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        rows = out.collect()
        # d1 seen before -> dropped; null digest -> excluded by contract
        assert [(r["digest"], r["surt"]) for r in rows] == [("d3", "c")]


class TestRevisitIndexMode:
    """cdx_records(warc_types=('revisit',)): pywb-convention revisit rows."""

    def test_claimed_digest_and_missing_header(self, spark):
        from llm_pretraining_data_pipeline_spark.sources import cdx

        blob = warc.encode_warc([
            ("revisit", "https://a.example/x", "r0", b"",
             (("WARC-Payload-Digest", "sha-256:" + "AB" * 32),)),
            ("revisit", "https://a.example/y", "r1", b""),  # no header
            ("response", "https://a.example/z", "r2",
             b"HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nok"),
        ])
        df = spark.createDataFrame(
            [(1, bytearray(blob))], "file_id long, payload binary"
        )
        out = cdx.cdx_records(df, warc_types=("revisit",))
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan  # no HTTP split
        assert "Exchange" not in plan
        rows = {r["rec_index"]: r for r in out.collect()}
        # response records are NOT this mode's business
        assert set(rows) == {0, 1}
        assert rows[0]["mime"] == "warc/revisit"
        assert rows[0]["digest"] == "ab" * 32  # label stripped, lowered
        assert rows[0]["cdx_ok"] is True
        assert rows[1]["cdx_ok"] is False and rows[1]["digest"] is None


class TestCharsetDecodeTotality:
    """http_body_text_charset must be TOTAL: any byte sequence decodes
    (ANSI mode would otherwise throw mid-job on hostile bytes)."""

    def test_byte_soup_never_throws(self, spark):
        import random

        rng = random.Random(0xC0DE)
        rows = []
        for i in range(200):
            n = rng.randrange(0, 64)
            body = bytes(rng.randrange(256) for _ in range(n))
            # bias some rows toward the tricky arms
            arm = i % 5
            if arm == 1:
                body = b"\xef\xbb\xbf" + body       # utf-8 BOM + soup
            elif arm == 2:
                body = b"\xff\xfe" + body           # utf-16le BOM, odd lens
            elif arm == 3:
                body = b"\xfe\xff" + body           # utf-16be BOM
            elif arm == 4:
                body = b"\xff\xfe\x00\x00" + body   # utf-32le BOM prefix
            cs = rng.choice(
                [None, "utf-8", "windows-1252", "utf-16", "x-sjis", "",
                 "UTF-16BE", "latin1"]
            )
            rows.append((i, bytearray(body), cs))
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        df = spark.createDataFrame(rows, "i int, body binary, charset string")
        out = df.select("i", http_body_text_charset().alias("d")).select(
            "i", "d.*"
        ).collect()
        assert len(out) == 200
        for r in out:
            assert r["text"] is not None
            assert r["charset_used"] in (
                "utf-8", "windows-1252", "utf-16le", "utf-16be",
            )
            assert r["charset_source"] in (
                "bom", "declared", "meta", "content",
            )

    def test_anchor_extraction_total_on_soup(self, spark):
        import random

        from llm_pretraining_data_pipeline_spark.functions.structural import (
            extract_anchors,
        )

        rng = random.Random(7)
        alphabet = '<>a href="= \t\n/x.b'
        rows = [
            (i, "".join(rng.choice(alphabet) for _ in range(200)))
            for i in range(100)
        ] + [(100, '<a href="' + "y" * 5000), (101, "<a " + "z" * 5000 + ">")]
        df = spark.createDataFrame(rows, "i int, html string")
        out = df.select(extract_anchors("html").alias("a")).collect()
        assert len(out) == 102  # no throw, no hang


class TestUtf16MalformedFallback:
    """Malformed UTF-16 (odd length, unpaired surrogates) must degrade
    to the content chain, never throw (ANSI decode would)."""

    def test_malformed_utf16_routes_to_content(self, spark):
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        rows = [
            # odd byte count after LE BOM
            (0, bytearray(b"\xff\xfeabc"), None),
            # unpaired high surrogate (BE: D8 00)
            (1, bytearray(b"\xfe\xff\xd8\x00\x00A"), None),
            # declared utf-16le over odd-length ascii
            (2, bytearray(b"abc"), "utf-16le"),
            # low surrogate before high (LE: 00 DC)
            (3, bytearray(b"\xff\xfe\x00\xdc\x00\xd8"), None),
            # valid pair still decodes (LE surrogate pair = U+10000)
            (4, bytearray(b"\xff\xfe\x00\xd8\x00\xdc"), None),
        ]
        df = spark.createDataFrame(rows, "i int, body binary, charset string")
        got = {
            r["i"]: (r["text"], r["charset_used"], r["charset_source"])
            for r in df.select(
                "i", http_body_text_charset().alias("d")
            ).select("i", "d.*").collect()
        }
        # 0-3: fell through to content sniff, nothing threw
        for i in (0, 1, 3):
            assert got[i][1] in ("utf-8", "windows-1252")
            assert got[i][2] == "content"
        assert got[2] == ("abc", "utf-8", "content")  # valid utf-8 wins
        assert got[4] == ("\U00010000", "utf-16le", "bom")


class TestCharsetLabelArmShortCircuit:
    """Round-15 optimization pin: the label arms must compare with
    NULL-SAFE equality (<=>), not ==. With ==, an absent/unhonorable
    label makes the CASE predicate NULL, and a NULL-valued AND cannot
    short-circuit — every fall-through row then pays BOTH full-body
    UTF-16 validity regex chains before reaching the content arm
    (measured 5x on an unlabeled 500k-doc corpus,
    OPTIMIZATION_r15.md §2)."""

    def test_label_arms_are_null_safe(self, spark):
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        expr = str(http_body_text_charset("body", "charset"))
        # 5 label arms: utf-8 (x2), windows-1252, utf-16le, utf-16be
        assert expr.count("<=>") >= 5, expr[:2000]
        # and no plain-equality label arm crept back in (the Column
        # repr prints == as `=(x, y)` and <=> as `<=>(x, y)`)
        import re

        assert not re.search(r"(?<!<)=\(coalesce", expr), (
            "label arm compares with ==; a null label would defeat "
            "the short-circuit past the UTF-16 validity scans"
        )

    def test_unlabeled_rows_identical_to_labelless_call(self, spark):
        # semantics referee: an all-null charset column must route every
        # row exactly like the no-column sniff chain (the short-circuit
        # is a speed fix, never a routing change)
        from pyspark.sql import functions as F

        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        rows = [
            (0, bytearray("plain ascii".encode())),
            (1, bytearray("café utf8".encode())),
            (2, bytearray(b"caf\xe9 latin1")),
            (3, bytearray(b"\xef\xbb\xbfbom utf8")),
            (4, bytearray(b"\xff\xfea\x00b\x00")),
            (5, bytearray(b"")),
        ]
        df = spark.createDataFrame(rows, "i int, body binary").withColumn(
            "charset", F.lit(None).cast("string")
        )
        with_col = {
            r["i"]: (r["text"], r["charset_used"], r["charset_source"])
            for r in df.select(
                "i", http_body_text_charset("body", "charset").alias("d")
            ).select("i", "d.*").collect()
        }
        without = {
            r["i"]: (r["text"], r["charset_used"], r["charset_source"])
            for r in df.select(
                "i", http_body_text_charset("body", None).alias("d")
            ).select("i", "d.*").collect()
        }
        assert with_col == without


class TestCharsetDecodeNoHeaderColumn:
    def test_charset_col_none_uses_sniff_chain(self, spark):
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        rows = [
            (0, bytearray("plain café".encode("utf-8"))),
            (1, bytearray(b"raw \x93cp1252\x94")),
            (2, bytearray(b'<meta charset="latin1">x \x97')),
        ]
        df = spark.createDataFrame(rows, "i int, body binary")
        got = {
            r["i"]: (r["text"], r["charset_used"], r["charset_source"])
            for r in df.select(
                "i",
                http_body_text_charset("body", charset_col=None).alias("d"),
            ).select("i", "d.*").collect()
        }
        assert got[0] == ("plain café", "utf-8", "content")
        assert got[1] == ("raw “cp1252”", "windows-1252", "content")
        assert got[2] == (
            '<meta charset="latin1">x —', "windows-1252", "meta",
        )


class TestUtf16LargeBodies:
    def test_large_valid_and_invalid_utf16(self, spark):
        # review finding: the first validity regex StackOverflowError'd
        # on ~20 KB bodies; the violation-search form must stay linear
        from llm_pretraining_data_pipeline_spark.sources.http import (
            http_body_text_charset,
        )

        big = "héllo wörld \U0001F600 " * 8000  # ~120k chars, astral pairs
        rows = [
            (0, bytearray(b"\xff\xfe" + big.encode("utf-16-le")), None),
            (1, bytearray(b"\xfe\xff" + big.encode("utf-16-be")), None),
            (2, bytearray(big.encode("utf-16-le")), "utf-16"),
            (3, bytearray(
                b"\xfe\xff" + big[:50000].encode("utf-16-be")
                + b"\xd8\x00\x00A" + b"\x00B" * 1000
            ), None),
        ]
        df = spark.createDataFrame(rows, "i int, body binary, charset string")
        got = {
            r["i"]: (r["charset_used"], r["charset_source"],
                     r["text"][:15])
            for r in df.select(
                "i", http_body_text_charset().alias("d")
            ).select("i", "d.*").collect()
        }
        assert got[0] == ("utf-16le", "bom", big[:15])
        assert got[1] == ("utf-16be", "bom", big[:15])
        assert got[2][0] == "utf-16le" and got[2][1] == "declared"
        # unpaired surrogate mid-body: degrades, never throws
        assert got[3][0] == "windows-1252" and got[3][1] == "content"
