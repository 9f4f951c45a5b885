"""tostring display semantics vs the reference's table
(/root/reference/tostring/tostring.go:34-98)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F
from pyspark.sql import types as T

from exporter_spark.functions.tostring import (
    _go_fixed_repr,
    display_columns,
    display_expr,
    go_float_fn,
    project,
)


def _one(spark, value, spark_type, float_mode="java"):
    df = spark.createDataFrame([(value,)], T.StructType([T.StructField("v", spark_type)]))
    go = go_float_fn(spark) if float_mode == "go" else None
    return df.selectExpr(f"{display_expr('v', spark_type, go_float=go)} AS s").first()["s"]


def test_go_fixed_repr_table():
    # strconv.FormatFloat(v, 'f', -1, 64) parity cases
    assert _go_fixed_repr(3.14) == "3.14"
    assert _go_fixed_repr(3.0) == "3"
    assert _go_fixed_repr(0.0) == "0"
    assert _go_fixed_repr(-0.5) == "-0.5"
    assert _go_fixed_repr(1e21) == "1000000000000000000000"
    assert _go_fixed_repr(1e-7) == "0.0000001"
    assert _go_fixed_repr(0.1) == "0.1"
    assert _go_fixed_repr(float("nan")) == "NaN"
    assert _go_fixed_repr(float("inf")) == "+Inf"


def test_bool(spark):
    assert _one(spark, True, T.BooleanType()) == "true"
    assert _one(spark, False, T.BooleanType()) == "false"
    assert _one(spark, None, T.BooleanType()) is None


def test_ints_strings_bytes(spark):
    assert _one(spark, 42, T.LongType()) == "42"
    assert _one(spark, "héllo", T.StringType()) == "héllo"
    assert _one(spark, bytearray(b"raw"), T.BinaryType()) == "raw"


def test_timestamp_rfc3339nano(spark):
    ts = dt.datetime(2024, 1, 1, 0, 9, 58, 778549)
    assert _one(spark, ts, T.TimestampType()) == "2024-01-01T00:09:58.778549Z"
    ts2 = dt.datetime(2024, 1, 1, 12, 0, 0, 500000)
    assert _one(spark, ts2, T.TimestampType()) == "2024-01-01T12:00:00.5Z"
    ts3 = dt.datetime(2024, 6, 30, 23, 59, 59)
    assert _one(spark, ts3, T.TimestampType()) == "2024-06-30T23:59:59Z"
    # Go zero time ⇒ NULL (tostring.go:67-69)
    zero = dt.datetime(1, 1, 1, 0, 0, 0)
    assert _one(spark, zero, T.TimestampType()) is None
    assert _one(spark, None, T.TimestampType()) is None


def test_float_modes(spark):
    assert _one(spark, 3.14, T.DoubleType(), float_mode="go") == "3.14"
    assert _one(spark, 3.0, T.DoubleType(), float_mode="go") == "3"
    assert _one(spark, 1e21, T.DoubleType(), float_mode="go") == "1000000000000000000000"
    assert _one(spark, None, T.DoubleType(), float_mode="go") is None
    # java mode: Spark CAST semantics
    assert _one(spark, 3.14, T.DoubleType(), float_mode="java") == "3.14"
    assert _one(spark, 3.0, T.DoubleType(), float_mode="java") == "3.0"


def test_complex_json_null_rules(spark):
    at = T.ArrayType(T.LongType())
    assert _one(spark, [1, 2], at) == "[1,2]"
    assert _one(spark, [], at) is None  # "[]" ⇒ NULL (tostring.go:80-83)
    mt = T.MapType(T.StringType(), T.LongType())
    assert _one(spark, {"a": 1}, mt) == '{"a":1}'
    assert _one(spark, {}, mt) is None  # "{}" ⇒ NULL


def test_display_columns_formatter_override(spark):
    df = spark.createDataFrame([(1, dt.datetime(2024, 5, 1, 10, 0, 0))], "id long, ts timestamp")
    cols = display_columns(df, formatters={"ts": F.date_format(F.col("ts"), "yyyy-MM-dd")})
    row = project(df, cols).first()
    assert row["id"] == "1"
    assert row["ts"] == "2024-05-01"
