"""The one Arrow adapter for per-row Python work.

Catalyst has no equivalent for a handful of per-row steps (the
single-tokenisation metric blocks, lang ID, HTML entity decode, the HTTP
split, the multi-byte charset decode, the sha1-base32 payload digest and
the media payload decoders; NFKC, which has no builtin either, runs in the
JVM through ICU4J instead, see ``text_norm.nfkc_normalize``). Each is
written as a plain function of one row; this module turns it into an
Arrow-batched Spark operator, so the batch loop, the pandas shaping and
the error contract exist once:

  * ``row_udf(return_type, row_fn)`` — a scalar pandas UDF that maps
    ``row_fn`` over one or more input Series (one ``ArrowEvalPython``
    node). A ``StructType`` result takes its field names from the schema,
    so ``row_fn`` returns a plain tuple in field order. The return type
    is a ``DataType``, never a DDL string: a DDL string is parsed through
    the JVM, so only a ``DataType`` lets modules declare their UDFs once,
    at import, with no SparkSession.
  * ``map_rows(df, id_col, fields, parse)`` — a ``mapInPandas`` decoder
    over ``(id_col, payload)``. ``parse(raw_bytes)`` returns a mapping
    holding ``fields``; a ``ValueError`` becomes a ``decode_ok=false``
    row carrying its message, so a curation pipeline counts undecodable
    payloads instead of dying on them.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Mapping

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DataType,
    LongType,
    StringType,
    StructField,
    StructType,
)


def struct_type(**fields: DataType) -> StructType:
    """``StructType`` of the given fields, in argument order."""
    return StructType([StructField(n, t) for n, t in fields.items()])


def row_udf(return_type: DataType, row_fn: Callable):
    """Arrow-batched UDF applying ``row_fn`` to each row of its input
    columns. A null in a string or binary column arrives as ``None`` and
    ``row_fn`` decides what it maps to; a null in a numeric column arrives
    as ``NaN``, because pandas holds it as float64. The UDF is named after
    ``row_fn`` in plans."""
    if isinstance(return_type, StructType):
        names = return_type.fieldNames()

        def batch(*cols: pd.Series) -> pd.DataFrame:
            return pd.DataFrame(list(map(row_fn, *cols)), columns=names)

    else:

        def batch(*cols: pd.Series) -> pd.Series:
            return pd.Series(list(map(row_fn, *cols)), dtype=object)

    batch.__name__ = batch.__qualname__ = row_fn.__name__
    return F.pandas_udf(batch, return_type)


def map_rows(
    df: DataFrame,
    id_col: str,
    fields: StructType,
    parse: Callable[[bytes], Mapping],
) -> DataFrame:
    """``(id_col, payload)`` → one row per input: the id, ``fields`` read
    by name from ``parse(payload)``, then ``decode_ok``/``decode_err``.
    A null payload is parsed as ``b""``. The id field is spelled as
    ``id_col`` because ``mapInPandas`` matches pandas labels to schema
    field names."""
    schema = StructType(
        [StructField(id_col, LongType()), *fields.fields]
    ).add("decode_ok", BooleanType()).add("decode_err", StringType())
    keys = fields.fieldNames()
    columns = schema.fieldNames()
    failed = (None,) * len(keys)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for rid, payload in zip(pdf[id_col], pdf["payload"]):
                try:
                    st = parse(bytes(payload) if payload is not None else b"")
                except ValueError as exc:
                    rows.append((rid, *failed, False, str(exc)))
                else:
                    rows.append((rid, *(st[k] for k in keys), True, None))
            yield pd.DataFrame(rows, columns=columns)

    batches.__name__ = batches.__qualname__ = parse.__name__
    return df.select(id_col, "payload").mapInPandas(batches, schema=schema)
