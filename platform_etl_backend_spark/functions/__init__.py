from platform_etl_backend_spark.functions.columns import (
    flatten_cat,
    harmonic_fn,
    mk_flatten_array,
    nest,
    rename_all_cols,
    safe_array_union,
    snake_to_lower_camel_schema,
    transpose_dataframe,
    union_dataframe_different_schema,
)

__all__ = [
    "flatten_cat",
    "harmonic_fn",
    "mk_flatten_array",
    "nest",
    "rename_all_cols",
    "safe_array_union",
    "snake_to_lower_camel_schema",
    "transpose_dataframe",
    "union_dataframe_different_schema",
]
