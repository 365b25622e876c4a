"""Column-expression helpers — the engine's shared vocabulary.

Reference parity: ``spark/Helpers.scala`` (each function cites its line
range). All are pure Catalyst expressions — no UDFs — so they stay inside
whole-stage codegen and cost nothing extra at 100TB.
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def mk_flatten_array(*cols: Column) -> Column:
    """filter-nulls ∘ array_distinct ∘ flatten over an array of arrays
    (Helpers.scala:134-146)."""
    arr = F.array(*cols)
    return F.filter(F.array_distinct(F.flatten(F.filter(arr, lambda x: x.isNotNull()))),
                    lambda x: x.isNotNull())


def flatten_cat(*array_cols: Column | str) -> Column:
    """The reference's label-merging primitive ``flattenCat``
    (Helpers.scala:154-167, used ~30× in Search.scala): concatenate N
    array columns, dropping null arrays, normalizing every element with
    ``replace(trim(s), ',', '')`` exactly as the reference does, then
    distinct and dropping null elements.

    Deliberate divergence (documented): the reference keeps elements
    that normalize to the empty string (whitespace-only labels survive
    as ``""`` in its keyword arrays); we drop them — empty keywords are
    index noise with no lookup value.
    """
    cols = [F.col(c) if isinstance(c, str) else c for c in array_cols]
    arr = F.array(*cols)
    merged = F.flatten(F.filter(arr, lambda x: x.isNotNull()))
    normed = F.transform(merged, lambda s: F.replace(F.trim(s), F.lit(","), F.lit("")))
    return F.array_distinct(F.filter(normed, lambda x: x.isNotNull() & (x != F.lit(""))))


def word_ngrams_upto(toks: Column, max_n: int) -> Column:
    """Every 1- to ``max_n``-word n-gram of the token array ``toks``, each
    joined by single spaces, in order of n then position."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(max_n)),
            lambda n: F.when(
                F.size(toks) >= n,
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size(toks) - n + 1, F.lit(1))),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )


def safe_array_union(*cols: Column | str) -> Column:
    """Null-safe n-ary array union (Helpers.scala:346-347): coalesce each
    operand with an empty array, then pairwise array_union."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    empty = F.array().cast("array<string>")
    safe = [F.coalesce(c, empty) for c in cs]
    return reduce(lambda a, b: F.array_union(a, b), safe)


def nest(df: DataFrame, cols: Sequence[str], name: str) -> DataFrame:
    """Collapse columns into one struct column (Helpers.scala:310-318),
    used 12+ times in the reference's target step."""
    return df.withColumn(name, F.struct(*[F.col(c) for c in cols])).drop(*cols)


def harmonic_fn(scores_col: Column | str, precision: int | None = None) -> Column:
    """Harmonic sum of a score array (Helpers.scala:262-267): sort desc,
    divide the i-th score by i², sum. Pure Catalyst: sort_array +
    zip_with(sequence) + aggregate — no UDF, vectorizable, scale-free.
    """
    c = F.col(scores_col) if isinstance(scores_col, str) else scores_col
    sorted_desc = F.sort_array(c, asc=False)
    idx = F.sequence(F.lit(1), F.greatest(F.size(c), F.lit(1)))
    terms = F.zip_with(sorted_desc, idx, lambda s, i: s / (i.cast("double") * i))
    total = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    # empty array → 0.0 (zip_with would null-pad against [1]); null stays null
    total = F.when(F.size(c) > 0, total).otherwise(F.lit(0.0))
    return F.round(total, precision) if precision is not None else total


def transpose_dataframe(df: DataFrame, id_cols: Sequence[str]) -> DataFrame:
    """Melt / unpivot a wide matrix into (row_name, value) long form
    (Helpers.scala:186-200 transposeDataframe, used by Expression.scala:70-72).

    Spark-native: a single generator expression — explode over an array of
    (name, value) structs — so the scan reads each row once; no shuffle.
    """
    value_cols = [c for c in df.columns if c not in set(id_cols)]
    pairs = F.array(*[
        F.struct(F.lit(c).alias("row_name"), F.col(c).cast("double").alias("value"))
        for c in value_cols
    ])
    return (
        df.select(*id_cols, F.explode(pairs).alias("p"))
        .select(*id_cols, "p.row_name", "p.value")
    )


def union_dataframe_different_schema(a: DataFrame, b: DataFrame) -> DataFrame:
    """Union with null-padding for mismatched schemas
    (Helpers.scala:209-239 unionDataframeDifferentSchema). PySpark-native:
    ``unionByName(allowMissingColumns=True)`` gives identical semantics."""
    return a.unionByName(b, allowMissingColumns=True)


def _rename_datatype(dt: T.DataType, fn) -> T.DataType:
    if isinstance(dt, T.StructType):
        return T.StructType([
            T.StructField(fn(f.name), _rename_datatype(f.dataType, fn), f.nullable, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_rename_datatype(dt.elementType, fn), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(dt.keyType, _rename_datatype(dt.valueType, fn), dt.valueContainsNull)
    return dt


def rename_all_cols(df: DataFrame, fn) -> DataFrame:
    """Recursively rename every (nested) field with ``fn``
    (Helpers.scala:269-283 renameAllCols).

    Spark-native: instead of the reference's ``createDataFrame(df.rdd,
    newSchema)`` round-trip (breaks codegen, forces deserialization), cast
    each top-level column to its renamed type — a zero-cost metadata-only
    projection Catalyst folds into the scan.
    """
    new_schema = _rename_datatype(df.schema, fn)
    assert isinstance(new_schema, T.StructType)
    return df.select(*[
        F.col(old.name).cast(new.dataType).alias(new.name)
        for old, new in zip(df.schema.fields, new_schema.fields)
    ])


_SNAKE = re.compile(r"_([a-z0-9])")


def snake_to_lower_camel(name: str) -> str:
    return _SNAKE.sub(lambda m: m.group(1).upper(), name)


def snake_to_lower_camel_schema(df: DataFrame) -> DataFrame:
    """Helpers.scala:248-260 — snake_case → lowerCamel over the whole tree."""
    return rename_all_cols(df, snake_to_lower_camel)


def replace_spaces_schema(df: DataFrame) -> DataFrame:
    """Helpers.scala:286-295."""
    return rename_all_cols(df, lambda n: n.replace(" ", "_"))


def priority_dedup_array(
    arr: Column, priority: dict[str, int]
) -> Column:
    """Priority-ranked array dedup, pure Catalyst (X1/O5 port — the
    reference's ``cleanProteinIds`` Scala UDF, Target.scala:525-593:
    swissprot > trembl > uniprot > ensembl_PRO, first occurrence per id).

    Sort by (priority, id), then fold left keeping the first struct per id —
    no explode, no UDF, no shuffle.
    """
    keyed = F.transform(
        arr,
        lambda x: F.struct(
            _priority_rank(x["source"], priority).alias("rank"),
            x["id"].alias("key"),
            x.alias("item"),
        ),
    )
    sorted_arr = F.array_sort(keyed)
    deduped = F.aggregate(
        sorted_arr,
        F.array().cast(
            "array<struct<rank:int,key:string,item:struct<id:string,source:string>>>"
        ),
        lambda acc, x: F.when(
            F.exists(acc, lambda y: y["key"] == x["key"]), acc
        ).otherwise(F.array_append(acc, x)),
    )
    return F.transform(deduped, lambda x: x["item"])


def _priority_rank(src: Column, priority: dict[str, int]) -> Column:
    out = F.lit(len(priority))
    for s, r in priority.items():
        out = F.when(src == s, F.lit(r)).otherwise(out)
    return out.cast("int")
