from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from platform_etl_backend_spark.functions import columns as C


def test_flatten_cat(spark):
    df = spark.createDataFrame(
        [(["a", "b"], ["b", None, ""]), (None, ["c"]), (None, None)],
        "x: array<string>, y: array<string>",
    )
    out = [r[0] for r in df.select(C.flatten_cat("x", "y")).collect()]
    assert out == [["a", "b"], ["c"], []]


def test_flatten_cat_normalizes_whitespace_and_commas(spark):
    """Reference parity (Helpers.scala:154-167): each element passes through
    replace(trim(s), ',', '') BEFORE distinct — ' a ' and 'a,' merge with 'a'.
    Whitespace-only labels normalize to '' and are dropped (our documented
    divergence: the reference keeps the empty string)."""
    df = spark.createDataFrame(
        [([" a ", "a,", "b, c"], ["a", "   ", ",", "d ,e"])],
        "x: array<string>, y: array<string>",
    )
    out = df.select(C.flatten_cat("x", "y")).first()[0]
    assert out == ["a", "b c", "d e"]


def test_safe_array_union(spark):
    df = spark.createDataFrame([(["a"], None, ["b", "a"])],
                               "x: array<string>, y: array<string>, z: array<string>")
    out = df.select(C.safe_array_union("x", "y", "z")).first()[0]
    assert out == ["a", "b"]


def test_mk_flatten_array(spark):
    df = spark.createDataFrame([(["a", None], ["a", "c"])],
                               "x: array<string>, y: array<string>")
    out = df.select(C.mk_flatten_array(F.col("x"), F.col("y"))).first()[0]
    assert out == ["a", "c"]


def test_nest(spark):
    df = spark.createDataFrame([(1, "a", "b")], ["id", "p", "q"])
    out = C.nest(df, ["p", "q"], "info")
    assert out.columns == ["id", "info"]
    assert out.first().info.asDict() == {"p": "a", "q": "b"}


def test_harmonic_fn(spark):
    df = spark.createDataFrame([([1.0, 0.5, 0.25],)], "s: array<double>")
    got = df.select(C.harmonic_fn("s")).first()[0]
    assert got == pytest.approx(1.0 / 1 + 0.5 / 4 + 0.25 / 9)


def test_transpose_dataframe(spark):
    df = spark.createDataFrame([("g1", 1.0, 2.0)], ["id", "t1", "t2"])
    out = C.transpose_dataframe(df, ["id"]).collect()
    assert {(r.id, r.row_name, r.value) for r in out} == {("g1", "t1", 1.0), ("g1", "t2", 2.0)}


def test_union_different_schema(spark):
    a = spark.createDataFrame([(1, "x")], ["id", "a"])
    b = spark.createDataFrame([(2, "y")], ["id", "b"])
    out = C.union_dataframe_different_schema(a, b)
    assert set(out.columns) == {"id", "a", "b"}
    assert out.count() == 2


def test_rename_all_cols_nested(spark):
    df = spark.createDataFrame(
        [(1, {"sub_field": [{"deep_one": "v"}]})],
        "top_id: int, nested_val: struct<sub_field: array<struct<deep_one: string>>>",
    )
    out = C.snake_to_lower_camel_schema(df)
    assert out.columns == ["topId", "nestedVal"]
    assert out.schema["nestedVal"].dataType.fieldNames() == ["subField"]
    inner = out.schema["nestedVal"].dataType["subField"].dataType.elementType
    assert inner.fieldNames() == ["deepOne"]
    assert out.first().nestedVal.subField[0].deepOne == "v"
