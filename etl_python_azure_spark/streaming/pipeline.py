"""Structured Streaming restatement of the reference's timer-driven
micro-batch model (T1–T5).

The reference re-runs batch pipelines on cron timers (`L:24`,
`S:25`) and absorbs late data by recomputing a 27-day window (T3).
Spark-first equivalents:

- a file-source stream with ``Trigger.AvailableNow`` IS the
  timer-driven rerun: each scheduler tick processes exactly the new
  files, with checkpointed exactly-once bookkeeping replacing the
  reference's at-least-once full refresh;
- watermarks + windowed aggregation absorb late events without
  recomputation (the T3 analog — `withWatermark(ts, "25 days")`);
- ``foreachBatch`` + :func:`..operators.joins.merge_upsert` gives
  the incremental CDC load (T4) on any sink.

These wrappers keep the same operator expressions as the batch
queries (sessionize/tumbling in :mod:`..operators.sessionize` use
``session_window``/``window``, valid in both modes).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter


def stream_parquet_dir(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream over a parquet directory (micro-batch
    ingestion; schema explicit — streaming sources don't infer)."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def windowed_stream_agg(
    stream: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    width: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts/sums — late events inside
    the watermark amend their window; older ones are dropped
    (bounded state — the 100 TB-safe version of T3's recompute)."""
    keys = key_cols or []
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), width).alias("w"), *keys)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            *keys,
            F.col("w.start").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def sessionized_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    key_cols: list[str] | None = None,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked session windows (merging state per key)."""
    keys = key_cols or []
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sw"), *keys)
        .agg(F.count("*").alias("n_events"))
        .select(
            *keys,
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )


def _upsert_epoch(
    batch: DataFrame,
    target_path: str,
    key: str,
    version_col: str,
    epoch_id: int,
) -> None:
    """One micro-batch of :func:`micro_batch_upsert` (module-level so
    replay semantics are directly testable).

    - EVERY batch is deduped to one row per key (max *version_col*)
      before the merge — two CDC events for one key inside a single
      micro-batch must collapse, or the keyed snapshot grows
      duplicate keys.
    - foreachBatch is at-least-once: a replayed epoch (``epoch_id <=``
      the manifest's last-applied version) is skipped, so the merge
      never double-applies.
    - the snapshot is a versioned dir + atomic manifest repoint
      (:func:`..sinks.files.snapshot_write`) — no rename window where
      readers see a missing table. NB the checkpoint and the target
      root are a unit: a fresh checkpoint restarts epoch numbering,
      so it needs a fresh target root.
    """
    from pyspark.sql import Window

    from ..operators.joins import merge_upsert
    from ..sinks.files import (
        prune_snapshots,
        snapshot_info,
        snapshot_write,
    )

    info = snapshot_info(target_path)
    if info is not None and epoch_id <= info["version"]:
        return  # at-least-once replay of an already-applied epoch
    w = Window.partitionBy(key).orderBy(F.desc(version_col))
    deduped = (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if info is None:
        out = deduped
    else:
        existing = batch.sparkSession.read.parquet(info["path"])
        out = merge_upsert(deduped, existing, key, version_col)
    snapshot_write(out, target_path, epoch_id)
    prune_snapshots(target_path)


def micro_batch_upsert(
    stream: DataFrame,
    target_path: str,
    key: str,
    version_col: str,
    checkpoint: str,
) -> DataStreamWriter:
    """T4 as a stream: each micro-batch MERGEs into a versioned
    parquet snapshot via ``foreachBatch`` (with a Delta/Iceberg sink
    this becomes ``MERGE INTO`` directly). Per-epoch dedup + replay
    guard + atomic manifest swap: see :func:`_upsert_epoch`. Read the
    result with :func:`..sinks.files.read_snapshot`.
    """

    def do_merge(batch: DataFrame, epoch_id: int) -> None:
        _upsert_epoch(batch, target_path, key, version_col, epoch_id)

    return (
        stream.writeStream.foreachBatch(do_merge)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower: str = "INTERVAL -30 MINUTES",
    upper: str = "INTERVAL 0 SECONDS",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join with a time-bound join condition:

        l.on = r.on AND r_ts + lower <= l_ts < r_ts + upper

    the streaming analog of :func:`..operators.range_join.band_join`
    (e.g. views within the 30 min before each purchase, as the
    events arrive). The interval bound is not just semantics — it is
    what lets Spark EVICT buffered state: with both sides
    watermarked and the join time-constrained, rows older than
    (watermark + band) are dropped from the state store, so state
    stays bounded on an unbounded stream. An unconstrained
    stream-stream equi-join would buffer forever.

    Column names must be disjoint apart from *on* (pre-alias like
    the batch operator).
    """
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        f"l.{on} = r.{on} "
        f"AND l.{left_ts} >= r.{right_ts} + {lower} "
        f"AND l.{left_ts} < r.{right_ts} + {upper}"
    )
    dup = [c for c in right.columns if c == on]
    out = l.join(r, cond, "inner")
    # keep one copy of the equi-key
    keep = [F.col(f"l.{c}") for c in left.columns] + [
        F.col(f"r.{c}") for c in right.columns if c != on
    ]
    return out.select(*keep) if dup else out


def deduped_stream(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """At-least-once ingest → effectively-once rows: drop re-deliveries
    of the same *keys* arriving within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key
    only until the watermark passes it — bounded state, unlike plain
    ``dropDuplicates`` on a stream (which retains every key forever).
    This is the streaming form of the reference's at-least-once
    retry posture (T5): replays inside the horizon deduplicate; the
    sink's CDC merge (T4) makes anything later idempotent anyway.
    """
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def maintained_rollup(
    stream: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    target_path: str,
    checkpoint: str,
) -> DataStreamWriter:
    """Incrementally-maintained rollup: each micro-batch is reduced
    to per-key DECIMAL partials and folded into the stored partial
    table (``merge_partial_aggregates``) — history is never re-read,
    and the decimal algebra keeps the maintained table EXACTLY equal
    to a from-scratch aggregate, with no float drift across
    arbitrarily many batches.

    The fold is pure ADDITION, so at-least-once foreachBatch replay
    would double-count a batch: each epoch's result is written as a
    versioned snapshot whose manifest records the epoch
    (:func:`..sinks.files.snapshot_write`), and a replayed
    ``epoch_id <=`` the manifest version is skipped
    (:func:`_fold_epoch`) — that is what makes the "EXACTLY equal"
    claim hold across failures, not just clean runs. Read the result
    with :func:`..sinks.files.read_snapshot`. The checkpoint and the
    target root are a unit: a fresh checkpoint restarts epoch
    numbering, so it needs a fresh target root.
    """

    def fold(batch: DataFrame, epoch_id: int) -> None:
        _fold_epoch(batch, target_path, keys, sum_cols, epoch_id)

    return (
        stream.writeStream.foreachBatch(fold)
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
    )


def _fold_epoch(
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    sum_cols: list[str],
    epoch_id: int,
) -> None:
    """One micro-batch of :func:`maintained_rollup` (module-level so
    replay idempotence is directly testable): skip already-applied
    epochs, else fold the batch's partials into the stored snapshot
    and repoint the manifest."""
    from ..operators.aggregates import (
        merge_partial_aggregates,
        partial_aggregate,
    )
    from ..sinks.files import prune_snapshots, snapshot_info, snapshot_write

    info = snapshot_info(target_path)
    if info is not None and epoch_id <= info["version"]:
        return  # replayed epoch: these partials are already folded in
    part = partial_aggregate(batch, keys, sum_cols)
    if info is not None:
        stored = batch.sparkSession.read.parquet(info["path"])
        out = merge_partial_aggregates([stored, part], keys)
    else:
        out = part
    snapshot_write(out, target_path, epoch_id)
    prune_snapshots(target_path)
