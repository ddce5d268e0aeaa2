"""Vectorized fast path for HTML character-reference decoding.

WHY: ``structural.decode_html_entities`` splits the text before every
``&`` and decodes each part's leading token through an interpreted
``transform`` (CodegenFallback). Measured at the bench shape (50k
raw-HTML docs, round 16): the 'entities' rung was +3.2 s of the ~14 s
web-curation recipe, the largest rung. One Arrow-batched pass that runs
the same token regex through CPython's C engine (one ``re.sub`` per row)
does the whole decode. ``plans/web_curation.py`` and p42_html_entities
use it.

BIT-PARITY IS CONTRACT, not aspiration (the ``metrics_vec`` /
``minhash_vec`` discipline): the Catalyst expression in
``structural.py`` remains the definitional semantics; this module must
follow it, never lead. Enforced by tests/test_structural_vec.py
(named-map sweep, numeric bounds, double-escape one-pass rule,
full-codepoint sweep). The parity surfaces:

  * TOKEN. The exact ``_ENTITY_TOKEN_RE`` of ``structural.py``,
    case-exact, no flags; a token never contains '&', so a left-to-right
    sub over '&'-starting matches visits the same tokens as the Catalyst
    split before each '&'.
  * ONE PASS. Decoded output is never rescanned (``&amp;amp;`` →
    ``&amp;``), numeric before named; unknown names and bare '&' pass
    through; invalid codepoints (0, surrogates, > U+10FFFF) become
    U+FFFD; null in → null out.

100 TB: Arrow-batched, shuffle-free, embarrassingly parallel — the
same sanctioned-Python shape as the vectorized metrics block.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql.types import StringType

from llm_pretraining_data_pipeline_spark.functions.arrow_rows import row_udf
from llm_pretraining_data_pipeline_spark.functions.structural import _NAMED_ENTITIES
from llm_pretraining_data_pipeline_spark.functions.text_norm import _col

# HTML character-reference token — the EXACT _ENTITY_TOKEN_RE from
# structural.py (anchored there with ^& over each '&'-split part; a
# left-to-right sub over '&'-starting matches visits the same set,
# because a token never contains '&' internally). Case-exact, no flags.
_ENTITY_SUB_RE_PY = re.compile(
    r"&(#[0-9]{1,18}|#[xX][0-9A-Fa-f]{1,15}|[A-Za-z][A-Za-z0-9]{1,31});"
)


def _decode_entities_py(s) -> str:
    """One row of ``structural.decode_html_entities``, mirrored rule
    for rule: ONE forward pass (decoded output never rescanned),
    numeric before named, unknown names / bare '&' pass through,
    invalid codepoints (0, surrogates, > U+10FFFF) become U+FFFD."""
    if not isinstance(s, str):
        return s

    def repl(m):
        tok = m.group(1)
        if tok.startswith("#"):
            cp = (
                int(tok[2:], 16)
                if tok[1] in ("x", "X")
                else int(tok[1:])
            )
            if 1 <= cp <= 0x10FFFF and not 0xD800 <= cp <= 0xDFFF:
                return chr(cp)
            return "�"
        rep = _NAMED_ENTITIES.get(tok)
        return rep if rep is not None else m.group(0)

    return _ENTITY_SUB_RE_PY.sub(repl, s)


_DECODE_ENTITIES = row_udf(StringType(), _decode_entities_py)


def decode_entities_str(c: Column | str) -> Column:
    """Arrow-batched ``structural.decode_html_entities`` — bit-identical
    one-forward-pass HTML character-reference decoding (named, decimal,
    hex; unknown names and bare '&' pass through; invalid codepoints →
    U+FFFD; null in → null out), one C-engine ``re.sub`` per row (see
    module docstring)."""
    return _DECODE_ENTITIES(_col(c))
