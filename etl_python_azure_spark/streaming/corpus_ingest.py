"""Streaming curated corpus ingestion: the continuous form of the
curation pipeline (`plans/curation.py`).

New document files land in a drop directory; each micro-batch runs
:func:`plans.curation.curate_increment` against the curated base —
quality gate, exact + incremental-LSH dedup vs the base, quota
headroom — and appends ONLY the admitted rows to the base corpus.
The base therefore stays deduplicated and quota-capped at all times.

Exactly-once admission WITHOUT a commit ledger: the pipeline is
idempotent BY CONSTRUCTION. A replayed micro-batch (crash between
the append and the checkpoint commit) re-runs `curate_increment`
against a base that already contains the batch's admitted rows, so
the exact-fingerprint anti-join rejects every one of them and the
replay appends nothing. Spark's append mode writes fresh uniquely
named part files, so there is no file-overwrite hazard either —
semantic dedup is the idempotence mechanism, the same property the
batch pipeline's re-run test pins.

Scale shape per micro-batch: with ``sidecar_dir`` set (the 100 TB
form, implemented in r12) ALL stages are delta-sized — the base's
fingerprint, LSH-band, and span-fingerprint probes read the
maintained :mod:`..plans.sidecars` tables appended at admission
time, and base text is only fetched for LSH confirmation candidates.
Without it, each batch re-projects those probes from the base
parquet (correct, but per-batch cost grows with the base). State
lives in the file-source checkpoint (processed-file offsets) and
the sidecar tables, not the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ]
)


def streaming_curated_ingest(
    spark: SparkSession,
    drop_dir: str,
    base_train_dir: str,
    checkpoint_dir: str,
    quota_per_source: int = 100_000,
    near_dup_threshold: float = 0.8,
    max_files_per_trigger: int | None = 1,
    span_window: int | None = None,
    sidecar_dir: str | None = None,
    compact_max_files: int | None = 64,
) -> StreamingQuery:
    """Start the ingest stream; returns the `StreamingQuery` (caller
    drives it with `awaitTermination`/`processAllAvailable` and
    `stop`). `availableNow` trigger: drains everything currently in
    *drop_dir* in micro-batches, then stops — the scheduled-backfill
    shape; swap the trigger for continuous tailing.

    *span_window* (opt-in) adds the cross-doc SPAN dedup tier to the
    admit fold — streaming admission then applies the batch v3 span
    rule per micro-batch (see ``curate_increment`` stage 4). The
    ``streaming_span_dedup_equiv`` and ``dedup_sidecar_equiv``
    registry queries call the same ``keep_first_copy`` and
    ``span_coverage`` operators as ``curate_increment``; they do not
    exercise its quality gate, LSH tier or quota.

    *sidecar_dir* (opt-in) maintains the :mod:`..plans.sidecars`
    fingerprint/band/span tables: each micro-batch probes the base
    through the sidecars instead of re-projecting it, and appends
    the admitted rows' projections after the base append (base
    first, sidecars second — a crash in between self-heals via
    ``sync_sidecars`` at the next batch's probe). This is the
    100 TB form: per-batch cost stays delta-sized instead of
    growing with the base. If the sidecars don't exist yet, the
    first batch bootstraps them from the base (one full projection,
    paid once). Crash repair AND the *compact_max_files* size-
    triggered compaction policy both run inside `curate_increment`
    at the top of every micro-batch — foreachBatch serializes
    batches, so that batch-top slot is exactly the between-batches
    window the compaction lock protocol requires; streaming and the
    nightly batch increment share one crash/compaction contract.
    """
    from ..plans.curation import curate_increment

    reader = spark.readStream.schema(DOC_SCHEMA).format("parquet")
    # None means NO per-trigger file cap (the file source's own
    # default), not a cap of 1 — only set the option when given.
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    stream = (
        reader
        # producers typically land each delivery as its own
        # subdirectory of part files; without this the file source
        # lists only the top level and silently sees no data
        .option("recursiveFileLookup", "true")
        .load(drop_dir)
    )

    def admit(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        admitted = curate_increment(
            sess,
            base_train_dir,
            batch,
            quota_per_source=quota_per_source,
            near_dup_threshold=near_dup_threshold,
            span_window=span_window,
            sidecar_dir=sidecar_dir,
            compact_max_files=compact_max_files,
        )
        if sidecar_dir is not None:
            # materialize the (delta-sized) admitted set once, so the
            # sidecar append below doesn't re-run the curation chain
            admitted = admitted.localCheckpoint()
        # append writes fresh uniquely-named part files; input listing
        # snapshots before the write, so reading the base inside the
        # same action is safe
        admitted.write.mode("append").parquet(base_train_dir)
        if sidecar_dir is not None:
            from ..plans.sidecars import append_sidecars

            # AFTER the base append (crash-ordering contract)
            append_sidecars(
                sess, admitted, sidecar_dir, span_window=span_window
            )
        sess.catalog.clearCache()  # release the stage persists

    return (
        stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
