"""File/lakehouse sinks (parquet-first).

Restates the reference's load patterns on columnar storage:

- K2 full refresh (`eliminar_y_crear_tabla` + append, `L:203–229`,
  `S:229–245`) → ``mode("overwrite")``.
- K3 ranged delete + append of a date window (`L:217–219`) →
  **dynamic partition overwrite**: write the recomputed window into a
  date-partitioned table and only the touched partitions are
  replaced — a metadata-level operation, no delete scan. This is the
  100 TB-correct form of the reference's 27-day window refresh.
- K4 multi-table load (`S:247–282`) → per-table staging-dir swap.
  Spark has no cross-table transaction (SURVEY §7.2): each table is
  atomic (write to staging, then swap), the *set* is not; a
  ``_manifest`` marker records the load so readers can pin a
  consistent set. Weaker than the reference's single DB transaction
  — documented, by design.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame


def rebalanced(df: DataFrame, *cols: str) -> DataFrame:
    """AQE-rebalance *df* before a sink write (optimization guide §6:
    coalesce on write). Without it every upstream task emits one file
    per output partition — the Latinad window refresh wrote 832 files
    for 25k rows (32 tasks × 26 date dirs, r15 measurement). The
    REBALANCE hint is the scale-adaptive form: AQE coalesces small
    post-shuffle partitions to the advisory size AND splits skewed
    ones, so the same code yields one small file per date locally and
    ~advisory-sized files per date at 100 TB (a fixed ``coalesce(n)``
    could do neither). No-op (hint ignored, with a warning) when AQE
    is off. Row content is unchanged — only file layout."""
    return df.hint("rebalance", *cols) if cols else df.hint("rebalance")


def full_refresh(df: DataFrame, path: str, partition_by: list[str] | None = None):
    """K2: replace the whole table (files sized by AQE rebalance)."""
    w = rebalanced(df, *(partition_by or [])).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def ranged_overwrite(df: DataFrame, path: str, partition_col: str):
    """K3: replace only the partitions present in *df*.

    Requires the table to be partitioned by *partition_col* (e.g. a
    date). Uses ``partitionOverwriteMode=dynamic`` so untouched
    partitions survive — the sliding-window refresh (T3) becomes a
    partition-pruned overwrite instead of a ranged DELETE.

    The dynamic mode is a PER-WRITE option (not a session conf
    mutation): thread-safe under concurrent writers — a racing
    partitioned overwrite elsewhere in the session can no longer be
    silently flipped from replace-whole-table to dynamic (r14
    ADVICE). Rows are AQE-rebalanced by *partition_col* first so each
    touched partition gets contiguous, advisory-sized files instead
    of one shard per upstream task (guide §6).
    """
    (
        rebalanced(df, partition_col)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str] | str,
    n_buckets: int = 32,
    path: str | None = None,
    sort: bool = True,
):
    """Bucketed (and bucket-sorted) table write for co-located joins.

    Two tables bucketed on the same key with the same bucket count
    join with NO exchange (and with ``sort`` also no sort step) — the
    pre-shuffled layout that pays for itself the first time a big
    fact-fact join repeats. The 100 TB answer to "this join shuffles
    every run".
    """
    cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *cols)
    if sort:
        w = w.sortBy(*cols)
    if path:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def snapshot_write(df: DataFrame, root: str, version: int) -> str:
    """Versioned snapshot with an atomic manifest repoint.

    Writes *df* to ``{root}/v{version}`` (an immutable dir), then
    atomically replaces ``{root}/_current.json`` pointing at it. No
    rename-then-delete of the live path: concurrent readers that
    resolved the previous manifest keep a complete directory, a crash
    between steps leaves the old snapshot live, and the pattern maps
    onto object stores (immutable data prefix + single-object
    manifest PUT) where directory renames don't exist.

    Returns the version path.
    """
    os.makedirs(root, exist_ok=True)
    path = os.path.join(root, f"v{version}")
    df.write.mode("overwrite").parquet(path)
    tmp = os.path.join(root, "_current.json.tmp")
    with open(tmp, "w") as f:
        json.dump({"version": version, "path": path, "ts": time.time()}, f)
    os.replace(tmp, os.path.join(root, "_current.json"))
    return path


def snapshot_info(root: str) -> dict | None:
    """Manifest of the current snapshot under *root*, or None."""
    mpath = os.path.join(root, "_current.json")
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        return json.load(f)


def read_snapshot(spark, root: str) -> DataFrame | None:
    """The current snapshot as a DataFrame (manifest-resolved)."""
    info = snapshot_info(root)
    return spark.read.parquet(info["path"]) if info else None


def prune_snapshots(root: str, keep: int = 2) -> None:
    """Delete version dirs older than the newest *keep* (the current
    one plus grace copies for readers mid-resolve)."""
    info = snapshot_info(root)
    if info is None:
        return
    versions = sorted(
        int(d[1:])
        for d in os.listdir(root)
        if d.startswith("v") and d[1:].isdigit()
    )
    for v in versions[:-keep] if len(versions) > keep else []:
        if v != info["version"]:
            shutil.rmtree(os.path.join(root, f"v{v}"), ignore_errors=True)


def multi_table_load(tables: dict[str, DataFrame], root: str) -> str:
    """K4: load several tables "together" with per-table atomicity.

    Each df is written to ``{root}/_staging/{name}`` then swapped
    into ``{root}/{name}``; a ``_manifest.json`` (written last)
    records the completed set + load timestamp. Readers that resolve
    paths through the manifest see a consistent set; direct readers
    may observe tables from two loads — the documented weaker
    guarantee vs the reference's single SQL transaction (`S:256`).

    Returns the manifest path.
    """
    staging = os.path.join(root, "_staging")
    for name, df in tables.items():
        rebalanced(df).write.mode("overwrite").parquet(
            os.path.join(staging, name)
        )
    loaded = []
    for name in tables:
        final = os.path.join(root, name)
        tmp_old = final + "._old"
        if os.path.exists(final):
            os.rename(final, tmp_old)
        os.rename(os.path.join(staging, name), final)
        if os.path.exists(tmp_old):
            shutil.rmtree(tmp_old)
        loaded.append(name)
    manifest = {"tables": loaded, "ts": time.time()}
    mpath = os.path.join(root, "_manifest.json")
    with open(mpath, "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(staging, ignore_errors=True)
    return mpath


def compact_parquet(
    spark,
    src: str,
    root: str,
    version: int,
    target_rows_per_file: int = 1_000_000,
) -> str:
    """Small-files compaction: rewrite a parquet directory into
    ~``ceil(rows / target_rows_per_file)`` files as a NEW snapshot
    version under *root* (atomic manifest repoint, readers never see
    a half-compacted directory; the source stays untouched).

    The streaming/micro-batch sinks in this package (and any
    frequent-append pipeline) accrete small files that degrade scan
    parallelism bookkeeping at 100 TB — periodic compaction is the
    maintenance op every lakehouse schedules. Uses one count (cheap:
    parquet row-count metadata) plus a round-robin ``repartition``
    (full shuffle — the point is rewriting layout).
    """
    import math

    df = spark.read.parquet(src)
    n = df.count()
    files = max(1, math.ceil(n / target_rows_per_file))
    return snapshot_write(df.repartition(files), root, version)
