"""Output checks, run outside the timed span after every iteration.

Sinks are read back with pyarrow, not Spark, so a check adds no Spark
job to the traced counts. Row sets are compared through an
order-insensitive checksum: each row hashes to 64 bits (per-column
hashes folded in column-name order) and the checksum is their sum
modulo 2**64. Every mismatch raises :class:`CheckFailed`, which the
harness counts as a failed iteration.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds

from .stubs import LatinadExpected

_MIX = np.uint64(0x100000001B3)


class CheckFailed(AssertionError):
    """An output did not match what the inputs imply."""


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


# ---------------------------------------------------------------------------
# Order-insensitive table checksums
# ---------------------------------------------------------------------------


def _hash_chunk(arr: pa.Array) -> np.ndarray:
    if pa.types.is_dictionary(arr.type):
        return _hash_chunk(arr.dictionary)[arr.indices.to_numpy(zero_copy_only=False)]
    t = arr.type
    if pa.types.is_timestamp(t):
        arr = arr.cast(pa.timestamp("us")).cast(pa.int64())
    elif pa.types.is_boolean(t):
        arr = arr.cast(pa.int64())
    if pa.types.is_integer(arr.type):
        vals = arr.cast(pa.int64()).fill_null(-(2**63)).to_numpy()
    elif pa.types.is_floating(arr.type):
        vals = arr.cast(pa.float64()).fill_null(math.nan).to_numpy()
    else:
        vals = arr.cast(pa.string()).fill_null("\x00").to_numpy(zero_copy_only=False)
    return pd.util.hash_array(vals)


def _column_hash(col: pa.ChunkedArray) -> np.ndarray:
    if col.num_chunks == 0:
        return np.zeros(0, dtype=np.uint64)
    return np.concatenate([_hash_chunk(c) for c in col.chunks])


def checksum(table: pa.Table | pd.DataFrame) -> int:
    """Order-insensitive checksum of *table*'s rows (column order and
    physical int/timestamp widths do not matter; values do)."""
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    h = np.zeros(table.num_rows, dtype=np.uint64)
    for name in sorted(table.column_names):
        h = h * _MIX ^ _column_hash(table.column(name))
    return int(h.sum(dtype=np.uint64))


def read_sink(path: str, partition_col: str | None = None,
              dictionary: tuple[str, ...] = ()) -> pa.Table:
    """A parquet sink directory as one table (hive partition values
    read back as strings)."""
    part = (
        ds.partitioning(pa.schema([(partition_col, pa.string())]), flavor="hive")
        if partition_col else None
    )
    fmt = ds.ParquetFileFormat(read_options={"dictionary_columns": list(dictionary)})
    return ds.dataset(path, format=fmt, partitioning=part,
                      ignore_prefixes=["_", "."]).to_table()


def sink_files(root: str) -> tuple[int, int]:
    """(data files, bytes) under a sink root."""
    n = size = 0
    for d, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def _same_rows(got: pa.Table, want: pd.DataFrame, what: str) -> None:
    expect(sorted(got.column_names) == sorted(want.columns),
           f"{what}: columns {sorted(got.column_names)} != {sorted(want.columns)}")
    expect(got.num_rows == len(want),
           f"{what}: {got.num_rows} rows, expected {len(want)}")
    expect(checksum(got) == checksum(want), f"{what}: row checksum differs")


# ---------------------------------------------------------------------------
# Latinad
# ---------------------------------------------------------------------------


def check_latinad(root: str, failed_requests: int, want: LatinadExpected) -> int:
    """Check one Latinad load under *root*; returns rows landed."""
    displays = read_sink(f"{root}/display_info").num_rows
    contents = read_sink(f"{root}/contenido_display").num_rows
    expect(displays == want.displays, f"display_info: {displays} rows, expected {want.displays}")
    expect(contents == want.contents, f"contenido_display: {contents} rows, expected {want.contents}")
    expect(failed_requests == want.failed_requests,
           f"failed_requests: {failed_requests}, expected {want.failed_requests}")
    reports = read_sink(f"{root}/contenido_data", "Fecha", dictionary=("url",))
    _same_rows(reports, want.reports, "contenido_data")
    return displays + contents + reports.num_rows


# ---------------------------------------------------------------------------
# Analytics: results against the pinned answers of the DuckDB oracles
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        return ("f", "nan" if math.isnan(v) else repr(v))
    if isinstance(v, datetime):
        return ("ts", v.isoformat())
    if isinstance(v, date):
        return ("d", v.isoformat())
    return v


def result_hash(rows, columns: list[str]) -> str:
    """Order-insensitive digest of a query result: the multiset of its
    rows, columns in name order, cells normalized so that a Spark row
    and a DuckDB row with equal values hash alike."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    counts = Counter(tuple(_norm(r[i]) for i in order) for r in rows)
    items = sorted(repr(k) + "*" + str(n) for k, n in counts.items())
    cols = ",".join(sorted(columns))
    return hashlib.sha256((cols + "\n" + "\n".join(items)).encode()).hexdigest()


def oracle_pins(registry, names, data_dir: str) -> dict[str, dict]:
    """Row count and :func:`result_hash` of each query's registry
    DuckDB oracle over the parquet tables in *data_dir*."""
    import duckdb

    duck = duckdb.connect()
    try:
        duck.execute("SET enable_progress_bar = false")
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                duck.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data_dir}/{f}'")
        pins = {}
        for name in names:
            cur = duck.execute(registry[name].oracle)
            rows = cur.fetchall()
            pins[name] = {"rows": len(rows),
                          "hash": result_hash(rows, [d[0] for d in cur.description])}
        return pins
    finally:
        duck.close()


def load_pins(path: str) -> dict[str, dict]:
    with open(path) as fh:
        return json.load(fh)


def check_pin(name: str, rows, columns: list[str], pin: dict) -> None:
    """A Spark result against its oracle's pinned answer, value-exactly."""
    expect(len(rows) == pin["rows"], f"{name}: {len(rows)} rows, oracle has {pin['rows']}")
    expect(result_hash(rows, columns) == pin["hash"], f"{name}: values differ from the oracle")
