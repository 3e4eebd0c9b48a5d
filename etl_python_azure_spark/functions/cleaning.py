"""String gates and all-null column drops (F3, P8).

References: string-length gate `L:116`; all-null column drop `L:253`.
fillna+cast (F9–F11, `L:176`, `S:61–63`) is a plain
``coalesce(...).cast("bigint")`` Column expression (see the
``null_fill_cast`` query).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def bounded_string_gate(col: Column | str, max_len: int = 50) -> Column:
    """Null→``""``; strings longer than *max_len* → ``""``; else keep.

    Vectorized restatement of the row-wise lambda at `L:116`
    (``apply(lambda x: '' if pd.isnull(x) else (x if len(x)<=50 else ''))``).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.when(c.isNull(), F.lit(""))
        .when(F.length(c) <= max_len, c)
        .otherwise(F.lit(""))
    )


def drop_all_null_columns(df: DataFrame) -> DataFrame:
    """Drop columns whose values are entirely NULL (P8, `L:253`).

    A dynamic-schema operation in a static-schema engine: needs one
    aggregation pass over the data (single job computing all
    non-null counts at once), then a metadata-only projection.

    Scale note: this is a full scan whose only purpose is schema
    discovery — fine in the reference's ≤100k-row world, discouraged
    on 100 TB paths (SURVEY §7.3). Prefer explicit schema contracts;
    keep this for drift-tolerant ingestion edges where payloads are
    small.
    """
    counts = df.agg(
        *[F.count(F.col(f"`{c}`")).alias(c) for c in df.columns]
    ).first()
    keep = [c for c in df.columns if counts[c] > 0]
    return df.select(*[F.col(f"`{c}`") for c in keep])


def profile_columns(df, cols):
    """Per-column profile — (column, n_rows, n_null, n_distinct) —
    computed in ONE aggregate pass over the data (no per-column
    jobs), then reshaped long with ``stack``. The standard
    data-quality sweep you run before trusting a new 100 TB source;
    all counters, so it's engine-exact.
    """
    from pyspark.sql import functions as F

    aggs = [F.count("*").alias("__n")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("bigint")).alias(f"__null_{c}")
        )
        aggs.append(F.countDistinct(c).alias(f"__dist_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __n, __null_{c}, __dist_{c}" for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args})"
        " AS (column_name, n_rows, n_null, n_distinct)"
    )
