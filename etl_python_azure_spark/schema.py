"""Schema utilities: nested flattening, drift-tolerant selection, dedupe.

The reference flattens every REST payload with ``pandas.json_normalize``
(`L:45,95,135`, `S:106,118,129,139`) producing dotted column names it
then rewrites to ``_`` (`L:48,183`, `S:174,184`), and defends against
schema drift by intersecting desired columns with present ones
(`L:113`, `S:164`).  Here the same capabilities are pure-metadata
Column expressions — no data pass, no Python UDF.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def flatten_struct_columns(
    df: DataFrame, sep: str = "_", max_depth: int = 10
) -> DataFrame:
    """Flatten all top-level (and nested) StructType columns.

    ``{"a": {"b": 1, "c": {"d": 2}}}`` → columns ``a_b``, ``a_c_d``.
    Equivalent of ``pandas.json_normalize`` + the ``.``→``_`` rename
    (`L:45,48`); arrays are left intact (explode is a separate,
    explicit operator — see :mod:`.operators.arrays`).

    Pure projection: Catalyst collapses it into the scan, so nested
    parquet columns are still pruned/pushed down.
    """
    cols: list[Column] = []

    def _walk(prefix_expr: str, prefix_name: str, dtype: T.DataType, depth: int):
        if isinstance(dtype, T.StructType) and depth < max_depth:
            for f in dtype.fields:
                _walk(
                    f"{prefix_expr}.`{f.name}`",
                    f"{prefix_name}{sep}{f.name}" if prefix_name else f.name,
                    f.dataType,
                    depth + 1,
                )
        else:
            cols.append(F.col(prefix_expr).alias(prefix_name))

    for field in df.schema.fields:
        _walk(f"`{field.name}`", field.name, field.dataType, 0)
    return df.select(*cols)


def select_existing(df: DataFrame, columns: list[str]) -> DataFrame:
    """Drift-tolerant projection (P2, `L:113`, `S:164`).

    Select the requested columns that actually exist, in request
    order; silently skip absent ones.  Keeps a pipeline alive when an
    upstream API adds/removes fields.
    """
    present = set(df.columns)
    keep = [c for c in columns if c in present]
    return df.select(*keep)


def select_or_null(
    df: DataFrame, columns: dict[str, T.DataType] | list[str]
) -> DataFrame:
    """Stricter drift policy: missing columns become typed NULLs.

    Guarantees a stable output contract (the sink schema never
    changes), unlike :func:`select_existing` which lets the schema
    shrink. ``columns`` maps name→type; a plain list defaults to
    string.
    """
    if isinstance(columns, list):
        columns = {c: T.StringType() for c in columns}
    present = set(df.columns)
    exprs = [
        F.col(c) if c in present else F.lit(None).cast(t).alias(c)
        for c, t in columns.items()
    ]
    return df.select(*exprs)


def dedupe_column_names(df: DataFrame) -> DataFrame:
    """Keep the first occurrence of duplicate column names (P10, `S:204`).

    Spark normally refuses ambiguous names at analysis time; after a
    join-with-suffix or raw JSON load duplicates can exist. Positional
    select keeps the first, like ``df.loc[:, ~df.columns.duplicated()]``.
    """
    seen: set[str] = set()
    keep_idx = []
    for i, c in enumerate(df.columns):
        if c not in seen:
            seen.add(c)
            keep_idx.append(i)
    return df.select(*[df[i] for i in keep_idx])


def vertical_split(
    df: DataFrame, left_cols: list[str], right_cols: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Split one frame into two disjoint column sets (N4, `L:170–179`)."""
    return df.select(*left_cols), df.select(*right_cols)
