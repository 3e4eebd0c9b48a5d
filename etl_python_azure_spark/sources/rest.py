"""REST → DataFrame ingestion.

Restates the reference's four source shapes (SURVEY §2.1):

- S1/S5 driver GET → table (:func:`fetch_json` + :func:`records_to_df`);
  auth headers, raise-for-status (`L:39–75`, `S:114–144`).
- S2 paginated/ordered fetch (:func:`paginated_fetch`) — the
  datatable ``length/start`` protocol (`L:77–126`).
- S3 **distributed fan-out** (:func:`distributed_fetch`) — the
  reference's asyncio gather of ≤11k report GETs (`L:129–164`)
  becomes ``mapInPandas`` over a requests DataFrame: each executor
  partition performs its slice of the HTTP calls, overlapping up to
  :data:`FETCH_IN_FLIGHT` of them on a thread pool, so at most
  partitions × :data:`FETCH_IN_FLIGHT` GETs are in flight and the
  transport must be thread-safe. Failures are captured per-row as
  (status, error) columns instead of aborting (T5 semantics,
  `L:158–162`). This is the piece that actually scales — the id set
  never lands on the driver.
- S4 query-param pushdown is just URL construction here (the
  "predicate" is encoded in the request column upstream).

Transports are injectable callables ``(url, headers) -> (status,
body)`` so pipelines are testable without a network; the default is
stdlib urllib.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..schema import flatten_struct_columns

Transport = Callable[[str, dict], tuple[int, str]]

#: GETs one :func:`distributed_fetch` task keeps in flight. On the
#: Latinad benchmark (300 GETs of 20 ms, ``local[4]`` on 4 vCPUs) the
#: fastest iteration took 3.8–4.0 s one GET at a time, 2.6–2.7 s at 4
#: and 8, 2.1–2.4 s at 16 and 2.3–2.5 s at 32 and 64: the gain levels
#: off at 16.
FETCH_IN_FLIGHT = 16


def urllib_transport(timeout: float = 600.0) -> Transport:
    """Default transport: stdlib urllib GET with the reference's
    600 s ceiling (`L:131`). Returns (status, body): a non-2xx reply
    keeps its HTTP status and body; failures below HTTP (refused
    connection, DNS, timeout) surface as status=-1 with the error text
    as body. Each call opens its own connection, so the transport is
    thread-safe."""

    def _get(url: str, headers: dict) -> tuple[int, str]:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, headers=headers or {})
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return resp.status, resp.read().decode("utf-8", "replace")
        except urllib.error.HTTPError as ex:  # 4xx/5xx: a reply, not a failure
            with ex:
                return ex.code, ex.read().decode("utf-8", "replace")
        except Exception as ex:  # noqa: BLE001 — per-request capture (T5)
            return -1, str(ex)

    return _get


def fetch_json(
    transport: Transport,
    url: str,
    headers: dict | None = None,
    envelope_key: str | None = None,
) -> list[dict]:
    """Driver-side GET → list of records (S1).

    *envelope_key* unwraps ``{"data": [...]}`` / ``{"report": [...]}``
    subtrees (N2, `L:95,135`). Raises on non-2xx like the reference's
    ``raise_for_status`` (`L:44`).
    """
    status, body = transport(url, headers or {})
    if not (200 <= status < 300):
        raise RuntimeError(f"GET {url} failed: status={status} body={body[:200]}")
    payload = json.loads(body)
    if envelope_key is not None:
        payload = payload[envelope_key]
    if isinstance(payload, dict):
        payload = [payload]
    return payload


def paginated_fetch(
    transport: Transport,
    url_template: str,
    headers: dict | None = None,
    page_size: int = 11000,
    max_pages: int = 1,
    envelope_key: str | None = None,
    id_key: str | None = None,
) -> list[dict]:
    """S2: ``length=&start=`` pagination (datatable protocol, `L:78`).

    The reference fetches one jumbo page (length=11000); *max_pages*
    generalizes it. Stops early on a short (ragged) last page, and
    defends against datatable servers that ignore ``start=`` past the
    end — a repeated page stops the walk instead of duplicating
    records forever.

    When the feed has row identity, pass *id_key*: the walk stops
    only when a page contributes NO unseen ids (precise — a feed
    whose consecutive pages legitimately hold identical-looking
    records keeps paginating). Without *id_key* the defense is a
    whole-page equality heuristic, which cannot distinguish a
    misbehaving server from a feed whose adjacent pages are
    genuinely identical; such feeds should provide *id_key*.
    """
    records: list[dict] = []
    prev: list[dict] | None = None
    seen: set = set()
    for page in range(max_pages):
        url = url_template.format(length=page_size, start=page * page_size)
        batch = fetch_json(transport, url, headers, envelope_key)
        if id_key is not None:
            fresh = [r for r in batch if r.get(id_key) not in seen]
            if page > 0 and not fresh:
                break  # nothing new — server ignored start=
            seen.update(r.get(id_key) for r in fresh)
            records.extend(fresh)
        else:
            if prev is not None and batch == prev:
                break  # server ignored start= — same page again
            records.extend(batch)
            prev = batch
        if len(batch) < page_size:
            break
    return records


def records_to_df(
    spark: SparkSession,
    records: list[dict],
    schema: T.StructType | str | None = None,
    flatten: bool = True,
) -> DataFrame:
    """JSON records → DataFrame (`pandas.json_normalize` analog, N1).

    The records already sit parsed in the driver (they came through
    one HTTP response, so they're bounded by definition) — the cheap
    path is local Arrow inference (``pa.Table.from_pylist`` →
    ``createDataFrame``): zero Spark jobs at plan time, and downstream
    actions replay a LocalRelation instead of re-parsing JSON on
    executors. Payloads Arrow can't type uniformly (mixed-type
    fields, all-null columns) fall back to ``spark.read.json``
    inference over a parallelized payload, which promotes to string
    the way the reference's pandas path does. An explicit *schema*
    also takes the read.json route (the 100 TB-safe mode for big
    payloads — but genuinely big fan-outs belong in
    :func:`distributed_fetch`, not here). Nested structs are
    flattened to ``a_b`` columns like the reference's ``.``→``_``
    rename.
    """
    if schema is None and records:
        df = _arrow_local_df(spark, records)
        if df is not None:
            return flatten_struct_columns(df) if flatten else df
    sc = spark.sparkContext
    rdd = sc.parallelize([json.dumps(r) for r in records] or [""])
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(rdd)
    return flatten_struct_columns(df) if flatten else df


def _arrow_local_df(spark: SparkSession, records: list[dict]) -> DataFrame | None:
    """Local no-job inference: list of dicts → Arrow table → DF.

    Returns None when Arrow inference would diverge from JSON
    inference (mixed types raise; all-null fields infer as Arrow
    ``null`` where read.json says string) — caller falls back.
    Columns are sorted alphabetically to match read.json's field
    ordering.
    """
    import pyarrow as pa

    def has_null_type(t: pa.DataType) -> bool:
        if pa.types.is_null(t):
            return True
        if pa.types.is_struct(t):
            return any(has_null_type(f.type) for f in t)
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return has_null_type(t.value_type)
        if pa.types.is_map(t):
            return has_null_type(t.key_type) or has_null_type(t.item_type)
        return False

    # from_pylist takes the column set from the FIRST row; ragged
    # payloads (drift) must contribute the UNION of keys, missing →
    # NULL, to match read.json's semantics
    keys: set[str] = set()
    for r in records:
        keys.update(r)
    normalized = [{k: r.get(k) for k in keys} for r in records]
    try:
        tbl = pa.Table.from_pylist(normalized)
    except (pa.ArrowInvalid, pa.ArrowTypeError, OverflowError):
        # includes ints beyond int64 — read.json widens, Arrow can't
        return None
    if any(has_null_type(f.type) for f in tbl.schema):
        return None
    df = spark.createDataFrame(tbl)
    return df.select(*sorted(df.columns))


def distributed_fetch(
    requests_df: DataFrame,
    transport: Transport,
    url_col: str = "url",
    headers: dict | None = None,
) -> DataFrame:
    """S3: one HTTP GET per row, executed on the executors.

    Input: a DataFrame with a URL column (plus any id columns to
    carry through). Output: input columns + ``status`` (int, -1 on
    transport error) + ``body`` (payload or error text). Per-row
    failure capture, the run never aborts (T5, `L:158–162`).

    Scale: each task sends its rows' GETs through one thread pool,
    :data:`FETCH_IN_FLIGHT` at a time, so ``repartition(n)`` bounds
    per-target concurrency at n × :data:`FETCH_IN_FLIGHT` GETs in
    flight. The transport is called from those threads and must be
    thread-safe; one that raises fails the task. Replaces the
    driver-side asyncio fan-out — requests never serialize through
    the driver.
    """
    in_schema = requests_df.schema
    out_schema = T.StructType(
        list(in_schema.fields)
        + [
            T.StructField("status", T.IntegerType()),
            T.StructField("body", T.StringType()),
        ]
    )
    hdrs = dict(headers or {})

    def run_partition(batches: Iterator) -> Iterator:
        with ThreadPoolExecutor(FETCH_IN_FLIGHT) as pool:
            for pdf in batches:
                # map yields in input order, so replies stay on their rows
                replies = list(pool.map(lambda u: transport(u, hdrs), pdf[url_col]))
                pdf = pdf.copy()
                pdf["status"] = [s for s, _ in replies]
                pdf["body"] = [b for _, b in replies]
                yield pdf

    return requests_df.mapInPandas(run_partition, schema=out_schema)


def parse_fetched_json(
    fetched: DataFrame,
    payload_schema: T.StructType | str,
    body_col: str = "body",
    envelope_key: str | None = None,
) -> DataFrame:
    """Typed explode of :func:`distributed_fetch` bodies.

    Rows with non-2xx status pass through the filter upstream; here
    the JSON body (optionally an envelope array under *envelope_key*)
    is parsed with an explicit schema and exploded to one row per
    record — all JVM-side (``from_json``), no Python.
    """
    from pyspark.sql import functions as F

    if isinstance(payload_schema, str):
        payload_schema = T.StructType.fromDDL(payload_schema)
    if envelope_key is not None:
        arr_schema = T.StructType(
            [T.StructField(envelope_key, T.ArrayType(payload_schema))]
        )
        parsed = fetched.withColumn(
            "__rec",
            F.explode(
                F.from_json(F.col(body_col), arr_schema)[envelope_key]
            ),
        )
    else:
        parsed = fetched.withColumn(
            "__rec", F.from_json(F.col(body_col), payload_schema)
        )
    keep = [c for c in fetched.columns if c != body_col]
    return parsed.select(*keep, "__rec.*")
