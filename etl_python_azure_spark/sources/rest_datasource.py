"""A Spark 4 streaming Python DataSource for paginated REST APIs.

Registers ``rest`` as a first-class ``spark.readStream.format(...)``
source: the offset is a record cursor into the paged API, each
micro-batch's cursor range splits into page-sized input partitions,
so page fetches run in parallel on executors and every batch is an
ordinary DataFrame — the incremental, DataSource-V2 form of the
reference's driver-side datatable pagination (S2, `L:77–126`), with
the option surface standing in for the reference's query-param
pushdown (S4: whatever predicates the API accepts ride in the URL
template). Batch reads of a paged API go through
:func:`.rest.paginated_fetch`, which owns the one pagination rule
(short-page and repeated-page stops).

Usage::

    spark.dataSource.register(RestDataSource)
    stream = (spark.readStream.format("rest")
              .schema("id long, name string")
              .option("url", "http://api/items?length={length}&start={start}")
              .option("page_size", "1000")
              .option("pages_per_batch", "10")
              .option("envelope_key", "data")
              .option("total_key", "recordsTotal")
              .load())

The transport is resolved by dotted path (``transport`` option) so
tests can inject fakes; default is the stdlib urllib transport.
Records are matched to the user schema field-by-field (missing keys
→ NULL — the drift-tolerant P2 policy at the source boundary).
"""

from __future__ import annotations

import importlib
import json
from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


def _resolve_transport(dotted: str | None, timeout: float):
    if not dotted:
        from .rest import urllib_transport

        return urllib_transport(timeout)
    mod, _, fn = dotted.rpartition(".")
    obj = getattr(importlib.import_module(mod), fn)
    # factory (no-arg or timeout-arg) or a ready transport callable
    try:
        return obj(timeout)  # type: ignore[call-arg]
    except TypeError:
        return obj


class RestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "rest"

    def streamReader(self, schema) -> "RestStreamReader":
        return RestStreamReader(schema, self.options)


# ---------------------------------------------------------------------------
# Streaming flavor — incremental REST ingestion with a record cursor.
# The reference re-runs its extracts on a timer (T1/T2, `L:24`,
# `S:25`); this is the same contract as a Structured Streaming
# source: the offset is an absolute record cursor into the ordered,
# paginated API (DataTables-style, which also serves a total record
# count — `L:98` iTotalRecords), so progress checkpoints with the
# query and a restart resumes exactly where the last commit left off.
# ---------------------------------------------------------------------------


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class RestStreamReader(DataSourceStreamReader):
    """Micro-batch reader over a paged REST API.

    - ``latestOffset`` makes ONE cheap probe GET (``length=1``) and
      reads the API's total record count (``total_key``); the
      advance per trigger is capped at ``pages_per_batch`` pages so
      a cold start backfills in bounded batches instead of one giant
      epoch.
    - ``partitions(start, end)`` splits the cursor range into
      page-sized ranges; executors fetch pages in parallel — the
      driver only ever plans offsets, it never carries data.
    - Replay of a committed ``[start, end)`` range re-fetches the
      same pages (S2's ordered-pagination caveat applies: the API
      must serve a stable order for exactly-once row delivery;
      otherwise ingestion is at-least-once and the watermarked
      dedup downstream absorbs it).
    """

    def __init__(self, schema, options):
        self.schema = schema
        self.url_template = options.get("url")
        if not self.url_template:
            raise ValueError("rest stream source requires option 'url'")
        self.page_size = int(options.get("page_size", "1000"))
        self.pages_per_batch = int(options.get("pages_per_batch", "10"))
        self.envelope_key = options.get("envelope_key")
        self.total_key = options.get("total_key", "recordsTotal")
        self.transport_path = options.get("transport")
        self.timeout = float(options.get("timeout", "600"))
        self.headers = json.loads(options.get("headers", "{}"))
        self._cursor: int | None = None  # last offset this reader returned

    def _probe_total(self) -> int:
        transport = _resolve_transport(self.transport_path, self.timeout)
        url = self.url_template.format(length=1, start=0)
        status, body = transport(url, self.headers)
        if not (200 <= status < 300):
            raise RuntimeError(f"probe GET {url} failed: status={status}")
        payload = json.loads(body)
        return int(payload[self.total_key])

    def initialOffset(self) -> dict:
        return {"cursor": 0}

    def latestOffset(self) -> dict:
        total = self._probe_total()
        if self._cursor is None:
            self._cursor = 0
        nxt = min(total, self._cursor + self.page_size * self.pages_per_batch)
        self._cursor = max(self._cursor, nxt)
        return {"cursor": self._cursor}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["cursor"], end["cursor"]
        # a restart may hand us a checkpointed start ahead of this
        # fresh instance's idea of progress — adopt it
        if self._cursor is None or self._cursor < hi:
            self._cursor = hi
        return [
            _RangePartition(s, min(s + self.page_size, hi))
            for s in range(lo, hi, self.page_size)
        ] or [_RangePartition(lo, lo)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        if partition.end <= partition.start:
            return
        transport = _resolve_transport(self.transport_path, self.timeout)
        url = self.url_template.format(
            length=partition.end - partition.start, start=partition.start
        )
        status, body = transport(url, self.headers)
        if not (200 <= status < 300):
            raise RuntimeError(f"GET {url} failed: status={status}")
        payload = json.loads(body)
        if self.envelope_key is not None:
            payload = payload.get(self.envelope_key, [])
        names = self.schema.fieldNames()
        for rec in payload:
            yield tuple(rec.get(n) for n in names)

    def commit(self, end: dict) -> None:
        pass  # progress lives in the query checkpoint
