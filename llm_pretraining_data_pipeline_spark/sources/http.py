"""HTTP/1.x response-message splitter for the WARC ingestion path.

A CommonCrawl ``response`` record's payload is not document text — it is a
full HTTP message: status line, header block, CRLF CRLF, body (RFC 9112).
Feeding the raw payload into the text pipeline ingests HTTP headers as
document content, so this module supplies the split every WARC consumer
runs between ``sources/warc.py`` and the text stages: parse the status
line, validate and collect the headers, de-chunk the body when
``Transfer-Encoding: chunked`` applies, and surface the content type /
charset the downstream decode step needs.

Strictness mirrors the repo's codec discipline (png/wav/mp4/jpeg/warc):
the status line must be ``HTTP/1.0|1.1 <3 digits> [reason]``, every header
line must contain a colon, deprecated obs-fold continuations raise
(RFC 9112 §5.2 says reject or replace — we reject), a header-count cap
bounds hostile inputs, ``Content-Length`` must be numeric, and a chunked
body must be a well-formed chunk chain ending in the 0-chunk + trailer
terminator with no trailing garbage. Malformed messages surface as
``http_ok=false`` rows with the exact error, never exceptions — at 100 TB
ingestion errors are data.

Scale shape: ``http_response_split`` is an Arrow-batched ``pandas_udf``
returning ONE struct column — a narrow per-row transform with no shuffle,
composable anywhere in a plan. Catalyst's Python-UDF extraction pulls the
duplicate field references into a single ``ArrowEvalPython`` evaluation,
so expanding the struct costs one Python pass per row, not one per field.

Reference parity note: the reference pipeline ingests JSONL text documents
(ingest.py:43) and has no web-archive path — this module is §2.9 extension
surface (the first thing a CommonCrawl user needs), not a reference port.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
)

from llm_pretraining_data_pipeline_spark.functions.arrow_rows import row_udf, struct_type
from llm_pretraining_data_pipeline_spark.sources.warc import parse_header_lines

_MAX_HEADERS = 64

_STATUS_RE = re.compile(rb"^HTTP/1\.[01] (\d{3})(?: (.*))?$")
_CHARSET_RE = re.compile(r";\s*charset\s*=\s*\"?([^\";\s]+)\"?", re.IGNORECASE)
# Chunk sizes are bare hex digits (RFC 9112 §7.1). int(tok, 16) alone
# would also accept '-2' (which mis-frames the chain: size=-2 passes the
# bounds check and the cursor never advances past real data), '+5',
# '0x1f' and '1_0' — validate the token shape first. No digit-count
# bound: zero-padded sizes are spec-valid, and the VALUE is bounded by
# the declares-vs-remaining check in the chunk walk.
_CHUNK_SIZE_RE = re.compile(rb"^[0-9A-Fa-f]+$")

HTTP_STRUCT_SCHEMA = struct_type(
    status=IntegerType(), content_type=StringType(), charset=StringType(),
    content_length_hdr=LongType(), n_headers=IntegerType(),
    location=StringType(), body=BinaryType(), http_ok=BooleanType(),
    http_err=StringType(),
)


def _dechunk(data: bytes) -> bytes:
    """Decode a chunked transfer coding body (RFC 9112 §7.1), strictly:
    hex size lines (chunk extensions after ';' ignored), exact CRLF
    framing, mandatory 0-chunk terminator, trailer fields allowed but the
    buffer must end exactly at the final CRLF."""
    out = []
    pos = 0
    while True:
        line_end = data.find(b"\r\n", pos)
        if line_end < 0:
            raise ValueError("dechunk: truncated chunk-size line")
        size_tok = data[pos:line_end].split(b";")[0].strip()
        if not _CHUNK_SIZE_RE.match(size_tok):
            raise ValueError(
                f"dechunk: bad chunk size {size_tok[:16]!r}"
            )
        size = int(size_tok, 16)
        pos = line_end + 2
        if size == 0:
            while True:  # trailer section: *(field CRLF) CRLF
                t_end = data.find(b"\r\n", pos)
                if t_end < 0:
                    raise ValueError("dechunk: truncated trailer section")
                line = data[pos:t_end]
                pos = t_end + 2
                if not line:
                    break
            if pos != len(data):
                raise ValueError("dechunk: trailing garbage after terminator")
            return b"".join(out)
        if pos + size + 2 > len(data):
            raise ValueError(
                f"dechunk: chunk declares {size} bytes, "
                f"{len(data) - pos} remain"
            )
        out.append(data[pos : pos + size])
        if data[pos + size : pos + size + 2] != b"\r\n":
            raise ValueError("dechunk: missing chunk-data CRLF")
        pos += size + 2


def _inflate_deflate(data: bytes, max_bytes: int = 1 << 26) -> bytes:
    """Inflate a ``Content-Encoding: deflate`` entity (RFC 9110
    §8.4.1.2: the zlib container). A long tail of real servers — and
    archived captures of them — send RAW deflate instead; the container
    is routed by the standard zlib CMF/FLG sniff on the first two bytes
    (CM=8, CINFO<=7, (CMF<<8|FLG) % 31 == 0) — NOT by retry-on-error,
    because a corrupted zlib body (bad ADLER32 tail, flipped header bit
    mid-stream) must surface as ``http_ok=false``, not be silently
    reinterpreted as raw deflate that happens to inflate to garbage
    (ADVICE r11). The residual ambiguity is a raw-deflate stream whose
    first two bytes coincidentally pass the sniff (~0.1% of random
    openings) — that arm fails loudly rather than decoding wrong.
    Bounded exactly like ``gunzip_members`` (the decompression-bomb cap
    raises BEFORE the allocation grows past it); truncation and
    trailing garbage raise, so malformed bodies surface as
    ``http_ok=false`` data rows."""
    import zlib

    is_zlib = (
        len(data) >= 2
        and (data[0] & 0x0F) == 8
        and (data[0] >> 4) <= 7
        and ((data[0] << 8) | data[1]) % 31 == 0
    )
    kind = "zlib" if is_zlib else "raw deflate"
    dec = zlib.decompressobj(wbits=15 if is_zlib else -15)
    try:
        out = dec.decompress(data, max_bytes + 1)
    except zlib.error as exc:
        raise ValueError(f"deflate: bad {kind} stream: {exc}") from None
    if len(out) > max_bytes:
        raise ValueError(
            f"deflate: body inflates past {max_bytes} bytes"
        )
    if not dec.eof:
        raise ValueError(f"deflate: truncated {kind} stream")
    if dec.unused_data:
        raise ValueError("deflate: trailing garbage after stream end")
    return out


def parse_http_response(
    payload: bytes, max_headers: int = _MAX_HEADERS
) -> dict:
    """Split one HTTP/1.x response message.

    Returns ``{status, content_type, charset, content_length_hdr,
    n_headers, body}``; ``content_type`` is the lowercased media type
    (parameters stripped), ``charset`` the lowercased charset parameter
    when present. A declared ``Content-Length`` is reported, not enforced
    against the body (truncated captures are an audit signal downstream,
    ``content_length_hdr`` vs the body length, not a parse failure).
    ``Transfer-Encoding: chunked`` bodies are de-chunked and
    ``Content-Encoding: gzip`` entities inflated (bounded), in that
    order, so ``body`` is always the final entity bytes. Raises
    ``ValueError`` on anything malformed.
    """
    sep = payload.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError(
            "parse_http_response: missing CRLF CRLF header terminator"
        )
    head = payload[:sep]
    body = payload[sep + 4 :]
    lines = head.split(b"\r\n")
    m = _STATUS_RE.match(lines[0])
    if not m:
        raise ValueError(
            f"parse_http_response: bad status line {lines[0][:40]!r}"
        )
    status = int(m.group(1))
    # Shared strict header-block parser (sources/warc.py): line-counted
    # cap (a repeated field name can't bypass it), obs-fold rejected,
    # repeated fields merged into a comma list (RFC 9110 §5.2).
    headers = parse_header_lines(
        lines[1:],
        max_headers=max_headers,
        merge_repeats=True,
        ctx="parse_http_response",
    )
    # Transfer-Encoding is a comma list of codings applied in order;
    # chunked, when used, MUST be last (RFC 9112 §6.1). Token-match —
    # a substring check would both miss 'gzip, chunked' leaving
    # still-compressed bytes flagged http_ok=true AND misfire on
    # 'x-chunked'. Any coding this parser can't remove raises, so
    # unsupported framing surfaces as an http_ok=false data row.
    te_raw = headers.get("transfer-encoding", "")
    te_tokens = [t.strip().lower() for t in te_raw.split(",") if t.strip()]
    if te_tokens:
        if te_tokens[-1] == "chunked":
            body = _dechunk(body)
            te_tokens = te_tokens[:-1]
        unsupported = [t for t in te_tokens if t != "identity"]
        if unsupported:
            raise ValueError(
                f"parse_http_response: unsupported Transfer-Encoding "
                f"{te_raw!r}"
            )
    # Content-Encoding applies to the de-chunked entity (RFC 9110 §8.4):
    # real CC captures carry gzip'd bodies routinely. Reuse the WARC
    # layer's bounded single-member inflate (decompression-bomb cap,
    # dec.eof required, trailing garbage raises). 'identity' is a no-op;
    # 'deflate' inflates via the header-sniffed zlib/raw arm (RFC 9110
    # §8.4.1.2 names zlib, real archives carry both); 'br' decodes the
    # RFC 7932 meta-block layer (metadata + uncompressed blocks — the
    # br-wrapped-incompressible case) and surfaces compressed
    # meta-blocks as a typed refusal (sources/br.py has the
    # measurement); remaining codings (compress, zstd) raise — every
    # refusal is an http_ok=false data row, the honest signal for an
    # unsupported tail.
    ce = headers.get("content-encoding", "").strip().lower()
    if ce == "gzip":
        from llm_pretraining_data_pipeline_spark.sources.warc import (
            gunzip_members,
        )

        members = gunzip_members(body)
        if len(members) != 1:
            raise ValueError(
                f"parse_http_response: gzip body has {len(members)} "
                "members, expected 1"
            )
        body = members[0]
    elif ce == "deflate":
        body = _inflate_deflate(body)
    elif ce == "br":
        from llm_pretraining_data_pipeline_spark.sources.br import br_decode

        body = br_decode(body)
    elif ce not in ("", "identity"):
        raise ValueError(
            f"parse_http_response: unsupported Content-Encoding {ce!r}"
        )
    ct_raw = headers.get("content-type")
    content_type = None
    charset = None
    if ct_raw is not None:
        content_type = ct_raw.split(";")[0].strip().lower()
        cm = _CHARSET_RE.search(ct_raw)
        if cm:
            charset = cm.group(1).lower()
    content_length_hdr = None
    cl = headers.get("content-length")
    if cl is not None:
        tok = cl.strip()
        if not tok.isdigit():
            raise ValueError(
                f"parse_http_response: non-numeric Content-Length {cl!r}"
            )
        content_length_hdr = int(tok)
    # Location is THE redirect-chain edge (3xx responses): exposed
    # verbatim (may be relative — RFC 9110 §10.2.2 allows a URI
    # reference; the consumer resolves it against the request URI,
    # sources/cdx.py::resolve_redirects does exactly that). Absent or
    # empty → null.
    location = headers.get("location")
    if location is not None:
        location = location.strip() or None
    return {
        "status": status,
        "content_type": content_type,
        "charset": charset,
        "content_length_hdr": content_length_hdr,
        "n_headers": len(headers),
        "location": location,
        "body": body,
    }


# parse_http_response's keys, in schema order (the struct minus its status pair)
_HTTP_KEYS = HTTP_STRUCT_SCHEMA.fieldNames()[:-2]
_HTTP_FAILED = (None,) * len(_HTTP_KEYS)


def _http_split(v) -> tuple:
    try:
        d = parse_http_response(bytes(v) if v is not None else b"")
    except ValueError as exc:
        return (*_HTTP_FAILED, False, str(exc))
    return (*(d[k] for k in _HTTP_KEYS), True, None)


_HTTP_SPLIT = row_udf(HTTP_STRUCT_SCHEMA, _http_split)


def http_response_split(c: Column | str) -> Column:
    """Column operator: binary HTTP response message → ONE struct column
    ``(status, content_type, charset, content_length_hdr, n_headers,
    location, body, http_ok, http_err)``. Malformed messages yield
    ``http_ok=false`` + the error string with NULL fields (errors are
    data). Arrow-batched; no shuffle; compose with ``.withColumn`` and
    expand fields downstream."""
    return _HTTP_SPLIT(F.col(c) if isinstance(c, str) else c)


def warc_http_records(
    files: DataFrame | None = None,
    payload_col: str = "payload",
    id_col: str = "file_id",
    gzipped: bool = False,
    records: DataFrame | None = None,
    extra_cols: tuple = (),
) -> DataFrame:
    """The full CommonCrawl entry shape: WARC blobs → ``response`` records
    → HTTP-split rows ready for the text pipeline.

    Composes ``warc_records`` (1 blob → N records, file-granularity
    parallel) with ``http_response_split`` over the ``warc_type =
    'response'`` slice. Output per response record: the WARC identity
    columns plus ``http_status / content_type / charset /
    content_length_hdr / n_headers / body / http_ok / http_err``. The
    ``body`` is the de-chunked entity bytes — decode with the charset and
    feed ``text`` into ``plans.pipeline.run_pipeline`` (composition test:
    tests/test_warc.py::TestWarcHttpPipeline).

    ``records`` — an already-exploded ``warc_records``-shaped frame to
    split instead of raw blobs (how ``plans/crawl.py`` feeds
    revisit-resolved records through the same projection);
    ``extra_cols`` — column names of ``records`` replicated onto the
    output (e.g. a revisit-provenance flag).
    """
    from llm_pretraining_data_pipeline_spark.sources.warc import warc_records

    if records is None:
        if files is None:
            raise ValueError("warc_http_records: pass files or records")
        recs = warc_records(
            files, payload_col=payload_col, id_col=id_col, gzipped=gzipped
        )
    else:
        recs = records
    resp = recs.where(
        (F.col("warc_type") == "response") & F.col("parse_ok")
    )
    h = http_response_split(F.col("payload"))
    return resp.withColumn("_h", h).select(
        id_col,
        "rec_index",
        "target_uri",
        "record_id",
        F.col("_h.status").alias("http_status"),
        F.col("_h.content_type").alias("content_type"),
        F.col("_h.charset").alias("charset"),
        F.col("_h.content_length_hdr").alias("content_length_hdr"),
        F.col("_h.n_headers").alias("n_headers"),
        F.col("_h.location").alias("location"),
        F.col("_h.body").alias("body"),
        F.col("_h.http_ok").alias("http_ok"),
        F.col("_h.http_err").alias("http_err"),
        *extra_cols,
    )


def http_body_text(body_col: Column | str = "body") -> Column:
    """Decode an HTTP entity body to text — total, mojibake-safe, pure
    Catalyst: valid-UTF-8 bytes decode as UTF-8 (the dominant real case,
    and what a declared ``charset=utf-8`` promises); anything else falls
    back to ISO-8859-1, which is total (every byte sequence is valid
    latin-1), so no payload can fail the decode step. Returns a struct
    ``(text, used_fallback)`` — the fallback flag is the audit signal a
    curation pipeline aggregates per source (a source whose fallback
    rate spikes is mislabeling charsets upstream).

    The DECLARED charset is deliberately not consulted: a body that
    validates as UTF-8 decodes as UTF-8 even if the header claims
    latin-1 (ASCII is a subset of both, and real servers mislabel
    constantly — content sniffing beats declarations, the WHATWG
    encoding-sniffing rationale). Zero Python, zero shuffle,
    codegen-fused; compose after ``http_response_split`` /
    ``warc_http_records``. Null body → null text.
    """
    b = F.col(body_col) if isinstance(body_col, str) else body_col
    valid = F.is_valid_utf8(b)
    return F.struct(
        F.when(valid, F.decode(b, "UTF-8"))
        .otherwise(F.decode(b, "ISO-8859-1"))
        .alias("text"),
        F.when(b.isNotNull(), ~valid).alias("used_fallback"),
    )


# WHATWG windows-1252: ISO-8859-1 maps 0x80-0x9F to C1 controls; cp1252
# maps 27 of them to printable characters (smart quotes, em-dash, euro,
# ...) and the 5 gaps (0x81 8D 8F 90 9D) back to the C1 control itself —
# exactly what a translate() over the latin-1 decode reproduces.
_CP1252_FROM = "".join(chr(b) for b in range(0x80, 0xA0))
_CP1252_TO = "".join(
    bytes([b]).decode("cp1252", errors="ignore") or chr(b)
    for b in range(0x80, 0xA0)
)

# WHATWG encoding-label aliases (the subset a JVM-side decoder can honor;
# every latin-1-family label maps to windows-1252 per the spec — browsers
# never decode real ISO-8859-1).
_CHARSET_ALIASES = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "windows-1252": "windows-1252", "x-cp1252": "windows-1252",
    "cp1252": "windows-1252", "iso-8859-1": "windows-1252",
    "iso8859-1": "windows-1252", "iso_8859-1": "windows-1252",
    "latin1": "windows-1252", "latin-1": "windows-1252",
    "l1": "windows-1252", "ascii": "windows-1252",
    "us-ascii": "windows-1252", "iso-ir-100": "windows-1252",
    "cp819": "windows-1252", "ibm819": "windows-1252",
    "utf-16": "utf-16le", "utf-16le": "utf-16le", "unicode": "utf-16le",
    "ucs-2": "utf-16le", "utf-16be": "utf-16be",
}

_META_CHARSET_RE = (
    r"(?i)<meta[^>]{0,512}charset\s*=\s*['\"]?\s*([A-Za-z0-9._-]+)"
)

# WHATWG encoding labels for the MULTI-BYTE legacy charsets the JVM-side
# translate() approach cannot express (VERDICT r12 item 5) — label →
# canonical name. Disjoint from _CHARSET_ALIASES by construction (a label
# maps in exactly one table). Decoding uses Python's codecs (the
# canonical-name → codec map below) with errors='replace'. The codec per
# name is the WIDE vendor variant, because that is what WHATWG's indices
# actually are (review finding r13): WHATWG EUC-KR IS the UHC index →
# cp949 (strict euc_kr would U+FFFD every extended hangul syllable
# outside KS X 1001); WHATWG Shift_JIS includes the NEC/IBM extensions →
# cp932; WHATWG Big5 includes the HKSCS extensions → big5hkscs. Residual
# divergence from the exact WHATWG tables is confined to a handful of
# mapping corner cells, not whole character classes.
_MB_CHARSET_ALIASES = {
    # Shift_JIS
    "shift_jis": "shift_jis", "shift-jis": "shift_jis",
    "sjis": "shift_jis", "x-sjis": "shift_jis", "ms_kanji": "shift_jis",
    "csshiftjis": "shift_jis", "windows-31j": "shift_jis",
    "ms932": "shift_jis",
    # EUC-JP / ISO-2022-JP
    "euc-jp": "euc-jp", "x-euc-jp": "euc-jp",
    "cseucpkdfmtjapanese": "euc-jp",
    "iso-2022-jp": "iso-2022-jp", "csiso2022jp": "iso-2022-jp",
    # EUC-KR
    "euc-kr": "euc-kr", "korean": "euc-kr", "ks_c_5601-1987": "euc-kr",
    "ks_c_5601-1989": "euc-kr", "ksc5601": "euc-kr", "ksc_5601": "euc-kr",
    "csksc56011987": "euc-kr", "iso-ir-149": "euc-kr",
    "windows-949": "euc-kr", "cseuckr": "euc-kr",
    # GBK (WHATWG maps every gb2312-family label to GBK) / gb18030
    "gbk": "gbk", "gb2312": "gbk", "gb_2312": "gbk", "gb_2312-80": "gbk",
    "chinese": "gbk", "csgb2312": "gbk", "csiso58gb231280": "gbk",
    "iso-ir-58": "gbk", "x-gbk": "gbk",
    "gb18030": "gb18030",
    # Big5
    "big5": "big5", "big5-hkscs": "big5", "cn-big5": "big5",
    "csbig5": "big5", "x-x-big5": "big5",
}
_MB_PY_CODECS = {
    "shift_jis": "cp932", "euc-jp": "euc_jp",
    "iso-2022-jp": "iso2022_jp", "euc-kr": "cp949", "gbk": "gbk",
    "gb18030": "gb18030", "big5": "big5hkscs",
}


def _mb_decode(body, label):
    """Decode ``body`` with the Python codec for canonical multi-byte
    charset ``label`` (errors='replace' — total). Callers null the body
    for rows outside the multi-byte gate, so the Arrow transfer carries
    bytes only for the minority that needs Python."""
    codec = _MB_PY_CODECS.get(label)
    if body is None or codec is None:
        return None
    return bytes(body).decode(codec, errors="replace")


_MB_DECODE = row_udf(StringType(), _mb_decode)


def _cp1252(b: Column) -> Column:
    return F.translate(
        F.decode(b, "ISO-8859-1"), _CP1252_FROM, _CP1252_TO
    )


# Complete UTF-16 well-formedness over the latin-1 byte view. Needed
# because Spark 4's ANSI decode THROWS MALFORMED_CHARACTER_CODING on
# bad UTF-16 (fuzz finding): a hostile body with a UTF-16 BOM must
# degrade, never kill the job.
#
# Shape matters (review finding): an anchored `(?:pair|surrogatepair)*$`
# regex is CORRECT but Java's Pattern recurses once per group-star
# iteration — a well-formed 20 KB UTF-16 body StackOverflowErrors the
# task, which is strictly worse than the throw being guarded. Instead:
# (1) squeeze out the HIGH byte of every 2-byte unit with one
# global regexp_replace (iterative, no recursion), then (2) search that
# half-string for LOCAL violations — a high surrogate not followed by a
# low, or a low not preceded by a high. Both patterns are bounded
# (no nested quantifiers), so the whole check is linear at any size.
# Plus the even-length check, this is complete: surrogate pairing is a
# property of adjacent UNITS, which are adjacent chars in the squeezed
# string.
_UTF16_HI_BE = r"(?s)(.)."   # unit's first byte at even offsets (BE)
_UTF16_HI_LE = r"(?s).(.)"   # ... at odd offsets (LE)
_UTF16_VIOLATION_1 = "[\\x{D8}-\\x{DB}](?:[^\\x{DC}-\\x{DF}]|$)"
_UTF16_VIOLATION_2 = "(?:^|[^\\x{D8}-\\x{DB}])[\\x{DC}-\\x{DF}]"


def _utf16_valid(b: Column, le: bool) -> Column:
    s = F.decode(b, "ISO-8859-1")
    highs = F.regexp_replace(
        s, F.lit(_UTF16_HI_LE if le else _UTF16_HI_BE), "$1"
    )
    return (
        (F.length(b) % 2 == 0)
        & ~highs.rlike(_UTF16_VIOLATION_1)
        & ~highs.rlike(_UTF16_VIOLATION_2)
    )


def http_body_text_charset(
    body_col: Column | str = "body",
    charset_col: Column | str | None = "charset",
    meta_sniff: bool = True,
    prefix_bytes: int = 1024,
    multibyte: bool = False,
) -> Column:
    """Charset-honoring HTTP body decode — the WHATWG-faithful twin of
    ``http_body_text`` (which content-sniffs and ignores declarations).
    Pure Catalyst, total (every byte sequence decodes), zero Python.

    Precedence, per the WHATWG encoding sniffing algorithm:

    1. **BOM wins**: UTF-8 / UTF-16LE / UTF-16BE byte-order marks
       override everything (a UTF-8 BOM followed by invalid UTF-8 falls
       through to the windows-1252 arm — Catalyst's strict UTF-8 decode
       would throw under ANSI, and U+FFFD-soup text is worse than the
       latin-visible bytes).
    2. **Declared label** (``charset_col`` — the Content-Type parameter
       ``http_response_split`` extracts), normalized through the WHATWG
       alias table: every latin-1-family label (iso-8859-1, ascii,
       latin1, ...) means windows-1252 — browsers never decode real
       ISO-8859-1, and neither do the corpora trained on their output.
    3. **Meta sniff** (``meta_sniff=True``): no usable label → scan the
       first ``prefix_bytes`` bytes (latin-1 view, so the regex is
       total) for ``<meta ... charset=X`` — covers both the HTML5 form
       and the legacy http-equiv ``content="text/html; charset=X"``.
    4. **Content fallback**: no recognized label anywhere → valid UTF-8
       decodes as UTF-8, anything else as windows-1252 (the WHATWG
       legacy default for the locales that dominate web corpora).

    A label the JVM-side table cannot honor is treated as absent and
    falls to step 3/4 rather than guessing — UNLESS ``multibyte=True``
    (VERDICT r12 item 5): then the WHATWG multi-byte legacy labels
    (shift_jis, euc-jp, iso-2022-jp, euc-kr, gbk/gb2312, gb18030, big5)
    are honored through ONE Arrow stage whose input bytes are NULLED
    for every row outside the multi-byte gate — the dominant
    UTF-8/cp1252 path stays pure Catalyst and the Arrow transfer
    carries only the minority that needs Python. Precedence is
    preserved across both tables: BOM > declared (either table) > meta
    (either table) > content. Default False keeps today's zero-Python
    plan bit-identical (``charset_source`` still exposes the fall-through
    so callers can route).

    Returns a struct ``(text, charset_used, charset_source)`` —
    ``charset_used`` ∈ {utf-8, windows-1252, utf-16le, utf-16be} plus,
    under ``multibyte=True``, the canonical multi-byte names;
    ``charset_source`` ∈ {bom, declared, meta, content}; all null for a
    null body. Unlike ``http_body_text`` this HONORS a non-UTF-8 label
    over content that happens to validate as UTF-8 — mislabeled servers
    produce mojibake here by design (that is what the declaration says),
    which the ``p33`` ftfy-repair stage detects and fixes downstream.
    """
    b = F.col(body_col) if isinstance(body_col, str) else body_col
    if charset_col is None:
        declared = F.lit(None).cast("string")
    else:
        declared = (
            F.col(charset_col)
            if isinstance(charset_col, str)
            else charset_col
        )

    alias_map = F.create_map(
        *[F.lit(x) for kv in _CHARSET_ALIASES.items() for x in kv]
    )
    decl_label = F.element_at(alias_map, F.lower(F.trim(declared)))
    if meta_sniff:
        prefix = F.decode(
            F.substring(b, 1, prefix_bytes), "ISO-8859-1"
        )
        meta_raw = F.nullif(
            F.lower(F.regexp_extract(prefix, _META_CHARSET_RE, 1)),
            F.lit(""),
        )
        meta_label = F.element_at(alias_map, meta_raw)
    else:
        meta_raw = F.lit(None).cast("string")
        meta_label = F.lit(None).cast("string")

    label = F.coalesce(decl_label, meta_label)
    source = F.when(decl_label.isNotNull(), F.lit("declared")).when(
        meta_label.isNotNull(), F.lit("meta")
    )

    if multibyte:
        mb_map = F.create_map(
            *[F.lit(x) for kv in _MB_CHARSET_ALIASES.items() for x in kv]
        )
        mb_decl = F.element_at(mb_map, F.lower(F.trim(declared)))
        mb_meta = F.element_at(mb_map, meta_raw)
        # cross-table precedence: a SUPPORTED declared label beats a
        # multi-byte meta sniff, and a multi-byte declared label beats a
        # supported meta sniff (declared > meta, table-independent)
        mb_label = F.when(decl_label.isNull(), mb_decl).otherwise(
            F.lit(None)
        )
        mb_label = F.coalesce(
            mb_label,
            F.when(
                decl_label.isNull() & mb_decl.isNull()
                & meta_label.isNull(),
                mb_meta,
            ),
        )
        mb_source = F.when(
            decl_label.isNull() & mb_decl.isNotNull(), F.lit("declared")
        ).when(mb_label.isNotNull(), F.lit("meta"))
        # the Arrow stage sees bytes ONLY for multi-byte-gated rows
        mb_text = _MB_DECODE(
            F.when(mb_label.isNotNull(), b), mb_label
        )
    else:
        mb_label = F.lit(None).cast("string")
        mb_source = F.lit(None).cast("string")
        mb_text = F.lit(None).cast("string")

    bom_utf8 = F.substring(b, 1, 3) == F.lit(b"\xef\xbb\xbf")
    head4 = F.substring(b, 1, 4)
    bom_16le = (F.substring(b, 1, 2) == F.lit(b"\xff\xfe")) & (
        head4 != F.lit(b"\xff\xfe\x00\x00")
    )
    bom_16be = F.substring(b, 1, 2) == F.lit(b"\xfe\xff")
    rest8 = F.substring(b, 4, 2147483647)
    utf8_valid = F.is_valid_utf8(b)

    def _s(text, used, src):
        return F.struct(
            text.alias("text"),
            F.lit(used).alias("charset_used")
            if isinstance(used, str)
            else used.alias("charset_used"),
            F.lit(src).alias("charset_source")
            if isinstance(src, str)
            else src.alias("charset_source"),
        )

    null_struct = F.struct(
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("charset_used"),
        F.lit(None).cast("string").alias("charset_source"),
    )
    rest16 = F.substring(b, 3, 2147483647)
    return (
        F.when(b.isNull(), null_struct)
        .when(
            bom_utf8 & F.is_valid_utf8(rest8),
            _s(F.decode(rest8, "UTF-8"), "utf-8", "bom"),
        )
        .when(bom_utf8, _s(_cp1252(rest8), "windows-1252", "content"))
        # UTF-16 arms pre-validate: Spark's ANSI decode throws
        # MALFORMED_CHARACTER_CODING on bad UTF-16; malformed input
        # falls through to the content chain instead (totality)
        .when(
            bom_16le & _utf16_valid(rest16, le=True),
            _s(F.decode(b, "UTF-16"), "utf-16le", "bom"),
        )
        .when(
            bom_16be & _utf16_valid(rest16, le=False),
            _s(F.decode(b, "UTF-16"), "utf-16be", "bom"),
        )
        # multi-byte legacy labels (multibyte=True only; mb_label is
        # null-literal otherwise and Catalyst prunes the arm). Sits after
        # the BOM arms (BOM wins) and before the JVM-side label arms —
        # mb_label is non-null only when the cross-table precedence
        # picked a multi-byte charset, so the two label families never
        # shadow each other.
        .when(mb_label.isNotNull(), _s(mb_text, mb_label, mb_source))
        # label arms compare with NULL-SAFE equality (<=>), not ==: for
        # an absent/unhonorable label, `label == lit` is NULL and a
        # NULL-valued AND cannot short-circuit (NULL AND x must still
        # evaluate x to pick NULL vs false), so every fall-through row
        # paid BOTH full-body UTF-16 validity scans + the UTF-8 validity
        # chain before reaching the content arm — the measured cause of
        # the r15 mb_off>mb_on inversion (OPTIMIZATION_r15.md §2:
        # +1.58 s over 500k docs for an 8.4% unhonored slice). `<=>`
        # yields a definite false for a null label, and codegen's AND
        # skips the right side when the left is false — unlabeled rows
        # now fall straight through to the content arm. Semantics are
        # identical: CASE treats a NULL predicate exactly like false.
        .when(
            label.eqNullSafe("utf-8") & utf8_valid,
            _s(F.decode(b, "UTF-8"), "utf-8", source),
        )
        .when(
            label.eqNullSafe("utf-8"),
            _s(_cp1252(b), "windows-1252", "content"),
        )
        .when(
            label.eqNullSafe("windows-1252"),
            _s(_cp1252(b), "windows-1252", source),
        )
        .when(
            label.eqNullSafe("utf-16le") & _utf16_valid(b, le=True),
            _s(F.decode(b, "UTF-16LE"), "utf-16le", source),
        )
        .when(
            label.eqNullSafe("utf-16be") & _utf16_valid(b, le=False),
            _s(F.decode(b, "UTF-16BE"), "utf-16be", source),
        )
        .when(utf8_valid, _s(F.decode(b, "UTF-8"), "utf-8", "content"))
        .otherwise(_s(_cp1252(b), "windows-1252", "content"))
    )
