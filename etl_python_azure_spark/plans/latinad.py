"""The Latinad pipeline (SURVEY §3.1) as one lazy Spark DAG.

Reference flow (`L:33–260`): fetch display + content catalogs, fan
out ~11k report GETs, concat, reshape, left-join, full-refresh-load
3 tables hourly. Here every reshaping step is a Column expression on
a single DAG; the only actions are the sink writes — Catalyst plans
the whole pipeline at once (column pruning through the join, one
shuffle at the report aggregate, broadcast for the catalog join).

Boundary differences vs the reference, by design:

- the report fan-out runs on executors (:func:`..sources.rest
  .distributed_fetch`), not a driver asyncio loop (`L:142–164`);
  each task still overlaps its GETs on a bounded thread pool, as
  the reference's asyncio loop did;
- failures are (status, error) columns, the run continues (T5);
- the 27-day window load is a dynamic-partition overwrite
  (:func:`..sinks.files.ranged_overwrite`) instead of a ranged SQL
  DELETE + append (`L:217–219`).
"""

from __future__ import annotations

import datetime as _dt
from dataclasses import dataclass

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import bounded_string_gate, drop_all_null_columns, surrogate_key
from ..functions.keys import csv_id_list
from ..operators.joins import left_join
from ..schema import select_existing
from ..sinks.files import full_refresh, ranged_overwrite
from ..sources.rest import (
    Transport,
    distributed_fetch,
    fetch_json,
    paginated_fetch,
    parse_fetched_json,
    records_to_df,
)

# projection contracts (from the reference's column lists)
DISPLAY_COLS = [
    "id", "company_id", "name", "resolution_width", "resolution_height",
    "latitude", "longitude", "slots", "slot_length", "last_connection",
    "created_at", "updated_at", "price_per_day", "published", "country",
    "country_iso", "time_zone",
]  # subset of `L:51–66`
CONTENT_COLS = [
    "id", "name", "type", "width", "height", "length", "arch", "ready",
    "company_id", "created_at", "updated_at", "category", "count_displays",
]  # subset of `L:107–110`, post-rename file→arch (`L:104`)
REPORT_SCHEMA = (
    "display int, content int, child_content_id int, shows int, "
    "total_time bigint, date string, impacts int"
)  # `L:172`


@dataclass
class LatinadResult:
    displays: DataFrame
    contents: DataFrame
    reports: DataFrame
    failed_requests: DataFrame


def build_report_requests(
    spark: SparkSession,
    content_ids: DataFrame,
    display_csv: str,
    base_url: str,
    start: _dt.date,
    end: _dt.date,
) -> DataFrame:
    """One request row per content id (S3 fan-out input).

    The reference collects display ids to a CSV URL param (`L:149`)
    — bounded (≤11k); content ids stay distributed.
    """
    return content_ids.select(
        F.col("id").alias("content_id"),
        F.concat(
            F.lit(f"{base_url}/report?content="),
            F.col("id").cast("string"),
            F.lit(f"&displays={display_csv}&from={start}&to={end}&per_date=1"),
        ).alias("url"),
    )


def run_latinad(
    spark: SparkSession,
    transport: Transport,
    base_url: str,
    headers: dict | None = None,
    sink_root: str | None = None,
    window_start: _dt.date | None = None,
    window_end: _dt.date | None = None,
) -> LatinadResult:
    """Build (and optionally load) the three Latinad tables.

    Returns the lazy DataFrames; when *sink_root* is set, writes
    ``display_info`` + ``contenido_display`` (full refresh, K2) and
    ``contenido_data`` (window overwrite on Fecha, K3).
    """
    today = _dt.date.today()
    window_start = window_start or today - _dt.timedelta(days=25)  # `L:146`
    window_end = window_end or today + _dt.timedelta(days=2)  # `L:147`

    # S1: displays catalog ---------------------------------------------------
    display_recs = fetch_json(transport, f"{base_url}/displays", headers)
    displays = (
        records_to_df(spark, display_recs)  # N1 flatten + `.`→`_` (F1)
        .drop("audience_provider_id")  # P3 (`L:47`)
        .filter(F.col("id") != 40660)  # P4 (`L:49`)
    )
    displays = select_existing(displays, DISPLAY_COLS)  # P1/P2

    # S2: contents catalog (paginated, server-ordered) -----------------------
    content_recs = paginated_fetch(
        transport,
        f"{base_url}/contents?length={{length}}&start={{start}}&order=desc",
        headers,
        envelope_key="data",  # N2 (`L:95`)
    )
    contents = records_to_df(spark, content_recs)
    contents = select_existing(
        contents.withColumnRenamed("file", "arch"), CONTENT_COLS  # F2 (`L:104`)
    ).withColumn("arch", bounded_string_gate("arch", 50))  # F3 (`L:116`)

    # S3: distributed report fan-out -----------------------------------------
    display_csv = csv_id_list(displays, "id")  # F6, ≤11k
    requests = build_report_requests(
        spark, contents.select("id"), display_csv, base_url,
        window_start, window_end,
    )
    # Pin the raw responses: downstream there are SEVERAL actions over
    # this DAG (the P8 all-null scan + the sink write + any caller
    # action) and HTTP fan-out is neither free nor guaranteed
    # idempotent — each GET must happen once per run, not once per
    # action. MEMORY_AND_DISK is the in-memory analog of landing raw
    # responses in a staging area at cluster scale.
    fetched = distributed_fetch(requests, transport, headers=headers).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    failed = fetched.filter(F.col("status") != 200).select("content_id", "status", "body")
    reports_raw = parse_fetched_json(
        fetched.filter(F.col("status") == 200),
        REPORT_SCHEMA,
        envelope_key="report",  # N2 (`L:135`) — U1 union is implicit (one df)
    )

    # reshape (`L:170–186, 241–256`) ----------------------------------------
    reports = (
        reports_raw
        .withColumn("impacts", F.coalesce("impacts", F.lit(0)).cast("int"))  # F9
        .withColumnRenamed("date", "Fecha")  # F2 (`L:177`)
        .na.drop(how="any", subset=["display", "content"])  # P7 (`L:184`)
        .filter(F.col("Fecha") != "")  # P5 (`L:252`)
        .withColumn(
            "llave",
            surrogate_key("content", "display", "Fecha"),  # F5 (`L:251`)
        )
        .withColumn("total_time", F.col("total_time") / 100)  # F12 (`L:256`)
        .drop("content_id")
    )
    # J1: enrich detail with catalog meta (broadcast the small side)
    reports = left_join(
        reports,
        contents.select(
            F.col("id").alias("content"), F.col("name").alias("content_name")
        ),
        on="content",
        broadcast_right=True,
    )
    reports = drop_all_null_columns(reports)  # P8 (`L:253`)

    if sink_root:
        full_refresh(displays, f"{sink_root}/display_info")  # K2 (`L:195`)
        full_refresh(contents, f"{sink_root}/contenido_display")  # K2
        ranged_overwrite(
            reports, f"{sink_root}/contenido_data", "Fecha"
        )  # K3
    return LatinadResult(displays, contents, reports, failed)
