"""Bit-parity of the Arrow-batched HTML entity decoder
(functions/structural_vec.py::decode_entities_str) against the
definitional Catalyst chain (functions/structural.py::
decode_html_entities) — the metrics_vec discipline: fixtures targeting
every decoding rule and a full-codepoint sweep."""

from llm_pretraining_data_pipeline_spark.functions import structural
from llm_pretraining_data_pipeline_spark.functions import structural_vec


ENTITY_FIXTURES = [
    None,
    "",
    "no entities here at all",
    "bare & ampersand and & another",
    "Fish &amp; Chips &lt;b&gt;bold&lt;/b&gt;",
    # one-pass rule: double-escaped text un-escapes exactly one level
    "&amp;amp; &amp;#65; &amp;lt;",
    "&&amp; and &#38;amp; overlap shapes",
    # numeric: decimal, hex (both x cases), zero-padded, astral
    "A&#233;B&#xE9;C&#XE9;D &#000000065; &#x1F600; &#128169;",
    # invalid codepoints -> U+FFFD; out-of-range and surrogates
    "&bogus; &#0; &#xD800; &#xDFFF; &#1114112; &#x110000;",
    # bounds: 18 decimal digits max, 15 hex max — longer passes through
    "&#999999999999999999; &#1000000000000000000; "
    "&#xFFFFFFFFFFFFFFF; &#xFFFFFFFFFFFFFFFF;",
    # case-sensitive names: Eacute vs eacute vs EACUTE(unknown)
    "&Eacute;&eacute;&EACUTE; &nbsp;&shy; &frac12;&sup2;",
    # missing semicolon never decodes
    "&amp &#65 &#x41 tail",
    # name length bound: 32+ chars pass through
    "&" + "a" * 32 + "; and &" + "a" * 33 + ";",
    "query strings id=7&q=1&#38;r=2&lt=9",
    # every named entity round-trips
    " ".join(f"&{k};" for k in [
        "amp", "lt", "gt", "quot", "apos", "nbsp", "copy", "reg",
        "trade", "deg", "plusmn", "middot", "hellip", "mdash", "ndash",
        "lsquo", "rsquo", "ldquo", "rdquo", "laquo", "raquo", "sect",
        "para", "micro", "times", "divide", "frac12", "frac14",
        "frac34", "sup1", "sup2", "sup3", "euro", "pound", "cent",
        "yen", "curren", "bull", "dagger", "Dagger", "permil",
        "prime", "Prime", "minus", "shy", "iexcl", "iquest", "szlig",
        "agrave", "aacute", "auml", "ccedil", "egrave", "eacute",
        "euml", "iacute", "ntilde", "oacute", "ouml", "uacute",
        "uuml", "Aacute", "Eacute", "Ouml", "Uuml",
    ]),
]


class TestEntityDecoderParity:
    def _compare(self, spark, texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, s string"
        )
        rows = df.select(
            "i",
            "s",
            structural.decode_html_entities("s").alias("c"),
            structural_vec.decode_entities_str("s").alias("v"),
        ).collect()
        for r in rows:
            assert r["c"] == r["v"], (
                f"row {r['i']}: {r['s']!r}\n cat={r['c']!r}\n vec={r['v']!r}"
            )

    def test_fixtures(self, spark):
        self._compare(spark, ENTITY_FIXTURES)

    def test_codepoint_sweep_as_numeric_refs_and_raw_text(self, spark):
        # every BMP-sample codepoint both AS a numeric reference and as
        # RAW text next to one (catches any divergence in the UTF-8
        # assembly vs chr(), and any pattern-class drift)
        cps = [
            c
            for c in list(range(1, 0x800)) + list(range(0xFFF0, 0x10010))
            + list(range(0x1F600, 0x1F610))
            if not 0xD800 <= c <= 0xDFFF
        ]
        docs = []
        for k in range(0, len(cps), 64):
            chunk = cps[k:k + 64]
            docs.append(
                " ".join(f"&#{c};x{chr(c)}y&#x{c:X};" for c in chunk)
            )
        self._compare(spark, docs)
