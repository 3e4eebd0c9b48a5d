"""File ingestion with explicit schema contracts + operational helpers.

The reference defends against schema drift dynamically (intersect
desired columns with present ones, `L:113`, `S:164`). At 100 TB,
schema inference over files is both slow (an extra full scan) and
unstable — so file ingestion here always takes an explicit
``StructType`` contract, with a configurable policy for rows that
don't conform:

- ``permissive`` (default): malformed rows land with NULL fields and
  the raw line in ``_corrupt_record`` — the T5 "capture failures,
  keep going" posture, queryable instead of printed;
- ``dropmalformed``: silently drop bad rows;
- ``failfast``: abort on the first bad row (contract enforcement).

``sinks.files.compact_parquet`` addresses the operational flip
side: many small files (e.g. one per micro-batch) destroy scan
parallelism bookkeeping at scale; rewriting to fewer, larger files is
routine maintenance on any large table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CORRUPT_COL = "_corrupt_record"


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if CORRUPT_COL in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField(CORRUPT_COL, T.StringType())]
    )


def read_jsonl_contract(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """JSON-lines scan against an explicit contract (no inference).

    In PERMISSIVE mode the returned frame has an extra
    ``_corrupt_record`` column: NULL for conforming rows, the raw
    line otherwise — split on it to route bad rows to a quarantine
    sink instead of losing them.
    """
    s = _with_corrupt(schema) if mode.upper() == "PERMISSIVE" else schema
    return (
        spark.read.schema(s)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_csv_contract(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
    header: bool = True,
) -> DataFrame:
    """CSV scan against an explicit contract (no inference)."""
    s = _with_corrupt(schema) if mode.upper() == "PERMISSIVE" else schema
    return (
        spark.read.schema(s)
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .option("header", str(header).lower())
        .csv(path)
    )


def split_corrupt(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(clean rows without the corrupt column, quarantine rows).

    NB Spark refuses queries that reference ONLY the internal
    corrupt-record column (e.g. ``bad.count()`` — column pruning
    reduces the scan to ``_corrupt_record`` alone). Writing the
    quarantine rows out works as-is; to count them first, cache the
    parsed frame: ``df.cache()`` before splitting.
    """
    clean = df.filter(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    bad = df.filter(F.col(CORRUPT_COL).isNotNull())
    return clean, bad
