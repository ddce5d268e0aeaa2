"""The Arrow row adapter: ``row_udf`` and ``map_rows``."""

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType

from llm_pretraining_data_pipeline_spark.functions.arrow_rows import (
    map_rows,
    row_udf,
    struct_type,
)


class TestRowUdf:
    # Row functions are defined inside each test: executors cannot import
    # this test module, so a module-level one would not unpickle there.

    def test_struct_fields_come_from_schema(self, spark):
        def _word_and_len(s):
            return (len(s), s.upper()) if s is not None else (None, None)

        udf = row_udf(struct_type(n=LongType(), up=StringType()), _word_and_len)
        df = spark.createDataFrame([(1, "ab"), (2, None)], "id long, s string")
        out = df.select("id", udf("s").alias("r")).orderBy("id")
        assert out.schema["r"].dataType.fieldNames() == ["n", "up"]
        rows = [(r.id, r.r.n, r.r.up) for r in out.collect()]
        assert rows == [(1, 2, "AB"), (2, None, None)]

    def test_scalar_null_passes_through_and_udf_is_named(self, spark):
        def _upper(s):
            return s.upper() if s is not None else None

        udf = row_udf(StringType(), _upper)
        df = spark.createDataFrame([(1, "ab"), (2, None)], "id long, s string")
        out = df.select("id", udf("s").alias("u"))
        assert sorted(out.collect()) == [(1, "AB"), (2, None)]
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython [_upper(s" in plan, plan

    def test_two_column_input(self, spark):
        def _decode_as(body, codec):
            return bytes(body).decode(codec) if body is not None and codec else None

        udf = row_udf(StringType(), _decode_as)
        df = spark.createDataFrame(
            [(1, bytearray("é".encode("utf-8")), "utf-8"),
             (2, bytearray("é".encode("latin-1")), "latin-1"),
             (3, None, "utf-8"),
             (4, bytearray(b"x"), None)],
            "id long, body binary, codec string",
        )
        out = df.select("id", udf(F.col("body"), F.col("codec")).alias("t"))
        assert sorted(out.collect()) == [(1, "é"), (2, "é"), (3, None), (4, None)]


class TestMapRows:
    def test_value_error_becomes_failed_row(self, spark):
        def _parse(raw):
            if not raw.startswith(b"OK"):
                raise ValueError(f"bad magic {raw[:2]!r}")
            return {"n": len(raw), "tail": raw[2:].decode(), "unused": 0}

        fields = struct_type(n=IntegerType(), tail=StringType())
        df = spark.createDataFrame(
            [(1, bytearray(b"OKxy")), (2, bytearray(b"NOPE")), (3, None)],
            "item_id long, payload binary",
        )
        out = map_rows(df, "item_id", fields, _parse)
        assert out.columns == ["item_id", "n", "tail", "decode_ok", "decode_err"]
        rows = sorted(tuple(r) for r in out.collect())
        assert rows == [
            (1, 4, "xy", True, None),
            (2, None, None, False, "bad magic b'NO'"),
            (3, None, None, False, "bad magic b''"),
        ]
