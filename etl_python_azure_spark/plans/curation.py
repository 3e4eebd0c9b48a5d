"""End-to-end corpus-curation pipeline v2 — the full pre-training
data flow composed from the engine's operators, run as ONE Spark
job DAG:

    quality gate (Gopher rules)
      → exact dedup (md5 fingerprint, keep-min-id)
      → near-dedup (MinHash→LSH candidates, exact-Jaccard verify,
        greedy higher-id drop)
      → deterministic train/val/test hash split
      → split-leakage audit (exact-dup fps crossing splits — MUST
        be zero after the exact-dedup stage; surfaced as a metric,
        the pipeline's own correctness gate)
      → per-source quota cap on the train split
      → partitioned parquet write of the train corpus

Scale shape: every stage is a scan, hash aggregate, or banded
candidate join — the only corpus-wide shuffles are the fingerprint
window (exact dedup) and the LSH band join; text is shuffled once
for the dedup window, and the leakage audit moves only (fp, split)
pairs. This is the production composition the standalone registry
queries (`gopher_quality_report`, `exact_dedup`,
`minhash_dedup_pairs`, `split_leakage_report`, `quota_sample_sources`)
each verify in isolation against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..session import eager_checkpoint as _ckpt
from pyspark.sql import functions as F

from ..operators.dedup import (
    incremental_lsh_pairs,
    keep_first_copy,
    minhash_lsh_pairs,
    quality_keeper_drops,
    span_coverage,
    span_fingerprints,
)
from ..operators.sampling import hash_bucket, quota_sample
from ..operators.text import gopher_quality_flags
from ..session import load_tables
from ..sinks.files import rebalanced


def _near_dedup(keeper: str):
    """Validate *keeper* now, before any Spark job runs, and return
    the near-dedup step ``(exact, flags, threshold) -> near``: MinHash
    →LSH candidates verified by exact Jaccard, then drop one side of
    every confirmed pair. ``"min_id"`` drops the higher id (the
    classic keep-first greedy; dedup_clusters gives the transitive
    version); ``"quality"`` drops the LOWER-word-count side, ties to
    the lower id (RefinedWeb/FineWeb keep-the-better-copy, via
    :func:`..operators.dedup.quality_keeper_drops` on the Gopher
    gate's already-computed ``n_words``)."""
    if keeper not in ("min_id", "quality"):
        raise ValueError(f"unknown keeper policy: {keeper!r}")

    def near_dedup(
        exact: DataFrame, flags: DataFrame, threshold: float
    ) -> DataFrame:
        pairs = minhash_lsh_pairs(exact, "doc_id", "text", threshold=threshold)
        if keeper == "quality":
            drop = quality_keeper_drops(
                pairs, flags.select("doc_id", "n_words"), "doc_id", "n_words"
            )
        else:
            drop = pairs.select(F.col("id_b").alias("doc_id")).distinct()
        return exact.join(drop, "doc_id", "left_anti")

    return near_dedup


def _with_split(df: DataFrame) -> DataFrame:
    """Add the deterministic 90/5/5 train/val/test ``split`` column
    (hash of doc_id, so a doc's split never depends on its peers)."""
    b = hash_bucket("doc_id", 100)
    return df.withColumn(
        "split", F.when(b < 90, "train").when(b < 95, "val").otherwise("test")
    )


def _leaked_fps(tagged: DataFrame) -> DataFrame:
    """Split-leakage audit: content fingerprints present in more than
    one split (MUST be empty after exact dedup)."""
    ps = tagged.select(F.md5("text").alias("fp"), "split").distinct()
    return (
        ps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_splits"))
        .filter(F.col("n_splits") > 1)
    )


def _split_counts(tagged: DataFrame) -> dict[str, int]:
    """``n_train``/``n_val``/``n_test`` from ONE aggregation (their sum
    is the row count of *tagged* — no separate count action)."""
    n = {
        r["split"]: r["n"]
        for r in tagged.groupBy("split")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    return {f"n_{k}": n.get(k, 0) for k in ("train", "val", "test")}


def _write_train(spark: SparkSession, capped: DataFrame, sink_root: str) -> int:
    """Write the capped train rows to ``{sink_root}/train``, partitioned
    by source, and return the row count read back from the files."""
    out = os.path.join(sink_root, "train")
    # AQE-rebalance by the partition column before the sink (guide
    # §6): without it every upstream task emits one file per source
    # dir (~32x file inflation measured on the latinad sink, r15)
    rebalanced(capped, "source").write.mode("overwrite").partitionBy(
        "source"
    ).parquet(out)
    # read-back verifies the write; the pinned schema keeps the count
    # working when the funnel legitimately empties (strict gates /
    # tiny delta → partitionBy writes only _SUCCESS and schema
    # inference would fail)
    return spark.read.schema(capped.schema).parquet(out).count()


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    sink_root: str,
    quota_per_source: int = 100_000,
    near_dup_threshold: float = 0.8,
    keeper: str = "min_id",
) -> dict[str, int]:
    """Run the curation flow over ``{sf_dir}/documents.parquet`` and
    write the curated train split to ``{sink_root}/train``.

    *keeper* picks the near-dup survivor policy, ``"min_id"`` or
    ``"quality"`` (see :func:`_near_dedup`). Exact dups have
    identical text, hence identical quality — the keeper only matters
    at the near tier.

    Returns the stage-count metrics a pipeline run logs:
    (n_input, n_quality, n_exact, n_near, n_leaked_fps, n_train,
    n_val, n_test, n_train_capped).
    """
    near_dedup = _near_dedup(keeper)
    d = load_tables(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )

    flags = gopher_quality_flags(d, carry_cols=["source", "text"])
    kept = flags.filter(F.col("pass_all")).select(
        "doc_id", "source", "text"
    )

    # exact dedup: keep the min doc_id per content fingerprint
    exact = keep_first_copy(kept, F.md5("text"))
    # near-dedup feeds THREE consumers (pair gen reads it twice via
    # the LSH join, the anti-join reads it once) and sits above the
    # dedup window shuffle. localCheckpoint, NOT persist (r13, the
    # same fix r12 applied to curate_increment and the v3 frames):
    # all three consumers land in stages the scheduler can run
    # CONCURRENTLY inside the ONE train-write action, where a
    # lazily-cached frame gives zero compute dedup — each stage
    # re-ran the quality gate + dedup window. Eager checkpoint
    # materializes once, serially, and truncates lineage; blocks
    # free when the frame is GC'd at call end.
    exact = exact.transform(_ckpt)

    near = near_dedup(exact, flags, near_dup_threshold)

    # deterministic split + leakage audit (fp crossing splits).
    # `tagged` sits above the LSH candidate join — checkpoint it so
    # the split counts, the audit, and the train write don't re-run
    # the near-dedup (eager localCheckpoint, as above: the leakage
    # audit and the quota rank are concurrent consumers within the
    # write action, and the un-truncated LSH plan is what OOMed a
    # default-heap driver in the v3 chain before r12's fix).
    tagged = _with_split(near).transform(_ckpt)
    leaked = _leaked_fps(tagged)

    train = tagged.filter(F.col("split") == "train").drop("split")
    capped = quota_sample(train, "source", "doc_id", quota_per_source).drop(
        "rank_in_group"
    )

    n_train_capped = _write_train(spark, capped, sink_root)

    # the split counts sum to the post-near-dedup count — no separate
    # near.count() action
    split_counts = _split_counts(tagged)
    # n_input and n_quality come from ONE aggregation over the flags
    # frame (review catch: d.count() + kept.count() paid a separate
    # input scan plus a full re-run of the Gopher tokenization)
    in_q = flags.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum(F.col("pass_all").cast("long")).alias("n_q"),
    ).first()
    counts = {
        "n_input": in_q["n_in"],
        "n_quality": in_q["n_q"],
        "n_exact": exact.count(),
        "n_near": sum(split_counts.values()),
        "n_leaked_fps": leaked.count(),
        **split_counts,
        "n_train_capped": n_train_capped,
    }
    return counts


def bench_curation(spark: SparkSession, sf_dir: str, sink_root: str) -> int:
    """Bench entry: full curation flow; returns curated row count."""
    return curate_corpus(spark, sf_dir, sink_root)["n_train_capped"]


def curate_increment(
    spark: SparkSession,
    base_train_dir: str,
    delta: DataFrame,
    quota_per_source: int = 100_000,
    near_dup_threshold: float = 0.8,
    span_window: int | None = None,
    sidecar_dir: str | None = None,
    compact_max_files: int | None = 64,
) -> DataFrame:
    """The nightly form of :func:`curate_corpus`: admit a DELTA batch
    of new documents against an already-curated base — without
    re-pairing or re-writing the base.

    Stages, all delta-sized (the base contributes one fingerprint
    projection and its LSH band index, never a re-pair):

    1. Gopher quality gate on the delta.
    2. Exact dedup: within-delta :func:`keep_first_copy`, then an
       anti-join of delta fingerprints against base fingerprints.
    3. Near-dedup via :func:`incremental_lsh_pairs` — delta bands
       probe (base ∪ delta) bands; base×base is never recomputed. A
       delta doc near-duplicating EITHER a base doc or a surviving
       earlier delta doc is dropped (greedy keep-first by id).
    4. Span tier (opt-in, *span_window* not None): reject any delta
       doc at least half of whose span_window-token spans are
       covered by the BASE's span-fingerprint table or by a lower-id
       surviving delta doc (:func:`span_coverage` — the batch v3
       span rule, so streaming and batch converge at the span level
       too).
    5. Per-source quota re-check: delta rows only fill whatever
       headroom the base leaves under the cap (rank offset by the
       base's per-source counts).

    The registry fold queries (``streaming_span_dedup_equiv``,
    ``dedup_sidecar_equiv``, ``sidecar_compaction_equiv``) call the
    same two operators as stages 2 and 4, so their DuckDB oracles
    check this code; they do not exercise the quality gate, the LSH
    tier or the quota.

    *sidecar_dir* selects where the base-side probes come from:

    - ``None`` (default): fingerprints, LSH bands, and span
      fingerprints are RE-PROJECTED from the base parquet — correct
      at any scale, but each batch pays a full base text scan.
    - a :mod:`.sidecars` directory: every base probe is a narrow
      sidecar read (the 100 TB form — base text is only touched for
      LSH confirmation candidates, a collision-bounded semi-join).
      :func:`.sidecars.sync_sidecars` runs first, so a crash between
      a base append and its sidecar append self-heals here; the
      caller MUST append the admitted rows to the base FIRST and
      then :func:`.sidecars.append_sidecars` (the crash-ordering
      contract — `streaming_curated_ingest` does both). The
      ``dedup_sidecar_equiv`` registry query pins sidecar-probe ≡
      re-projection, and the crash replay is pytest-pinned.
      *compact_max_files* (default 64; None disables) makes sidecar
      compaction a batch-top POLICY: when any sidecar table has
      accumulated more data files than the threshold, the tables
      are compacted (distinct + probe-key sort) before this batch's
      probes — the ``sidecar_compaction_equiv`` registry query pins
      that a mid-fold compaction leaves admit decisions unchanged.

    Returns the admitted delta rows (doc_id, source, text) — the
    caller appends them to the base (`jdbc`/parquet append or the
    manifested staging swap, per sink). Append-only, idempotent per
    batch: re-running with the same delta admits the same rows.

    Batch equivalence (pinned by
    ``test_incremental_curation_equivalent_to_batch``):
    ``base_train ∪ admitted == curate_corpus(base ∪ delta)``'s train
    set whenever (a) delta ids exceed base ids — the nightly append
    shape, making the greedy drop-higher-id policy coincide with
    "delta loses to base", (b) the admitted ids hash to the train
    split, and (c) the quota doesn't bind. Outside (c) the policies
    deliberately DIVERGE on ties: the batch pipeline ranks all train
    rows by (md5(id), id) and may evict a base row in favor of a
    lower-hashing delta row, while the incremental path never evicts
    an already-admitted base row — delta rows only fill headroom.
    """
    base = spark.read.parquet(base_train_dir).select(
        "doc_id", "source", "text"
    )
    base_bands = None
    if sidecar_dir is not None:
        from .sidecars import (
            maybe_compact_sidecars,
            read_sidecar,
            sync_sidecars,
        )

        # crash repair first: a batch that died between the base
        # append and the sidecar append left the sidecars behind
        sync_sidecars(spark, base_train_dir, sidecar_dir,
                      span_window=span_window)
        # then the size-triggered compaction POLICY (after repair,
        # before any probe — exactly the between-batches window the
        # compaction lock requires): append-only maintenance
        # accumulates one small file set per batch, and the probe
        # joins degrade with listing/open cost until folded
        if compact_max_files is not None:
            maybe_compact_sidecars(
                spark, sidecar_dir, max_files_per_table=compact_max_files
            )
        base_fps = read_sidecar(spark, sidecar_dir, "fp").select(
            F.col("fp").alias("__fp")
        ).distinct()
        base_bands = read_sidecar(spark, sidecar_dir, "bands")
    else:
        base_fps = base.select(F.md5("text").alias("__fp")).distinct()

    kept = gopher_quality_flags(
        delta.select("doc_id", "source", "text"),
        carry_cols=["source", "text"],
    ).filter(F.col("pass_all")).select("doc_id", "source", "text")

    in_delta = keep_first_copy(kept, F.md5("text"))
    vs_base = in_delta.join(
        base_fps,
        F.md5(in_delta.text) == F.col("__fp"),
        "left_anti",
    # three consumers below (LSH shingles, pair drop, quota rank).
    # localCheckpoint, NOT persist: the consumers land in stages the
    # scheduler can run CONCURRENTLY inside the one admit action,
    # and a lazily-cached frame gave no cross-stage compute dedup
    # there — measured 85 s vs ~17 s for the whole admit at a
    # 4.8k-doc base (r12). Eager checkpoints materialize each
    # delta-sized stage once, serially, and truncate lineage;
    # blocks free when the frame is GC'd at batch end (the caller's
    # clearCache() stays harmless).
    ).transform(_ckpt)

    # collision-sized; referenced by BOTH drop branches below and,
    # through the survivors lineage, by every later tier
    pairs = incremental_lsh_pairs(
        base, vs_base, "doc_id", "text", threshold=near_dup_threshold,
        base_bands=base_bands,
    ).transform(_ckpt)
    # greedy keep-first: drop the delta side of every confirmed pair
    # (a pair's delta doc is the newer one whenever the other side is
    # base; for delta-delta pairs drop the higher id, same policy as
    # the batch pipeline)
    delta_ids = vs_base.select("doc_id")
    drop = (
        pairs.join(
            delta_ids.withColumnRenamed("doc_id", "id_b"), "id_b", "left_semi"
        ).select(F.col("id_b").alias("doc_id"))
        .unionByName(
            pairs.join(
                delta_ids.withColumnRenamed("doc_id", "id_a"),
                "id_a",
                "left_semi",
            )
            .join(
                delta_ids.withColumnRenamed("doc_id", "id_b"),
                "id_b",
                "left_anti",
            )
            .select(F.col("id_a").alias("doc_id"))
        )
        .distinct()
    )
    # delta-sized; consumed by the span probes AND the quota rank
    survivors = vs_base.join(drop, "doc_id", "left_anti").transform(_ckpt)

    if span_window is not None:
        ssp = span_fingerprints(survivors, "doc_id", "text", span_window)
        if sidecar_dir is not None:
            from .sidecars import read_sidecar

            base_sp = read_sidecar(spark, sidecar_dir, "spans").select(
                "sfp"
            ).distinct()
        else:
            base_sp = span_fingerprints(
                base, "doc_id", "text", span_window
            ).select("sfp").distinct()
        # a span is covered iff it sits in the base span state OR a
        # lower-id same-delta survivor shares it
        span_drop = (
            span_coverage(ssp, base_sp)
            .filter(F.col("duplicated"))
            .select("doc_id")
        )
        survivors = survivors.join(span_drop, "doc_id", "left_anti")

    # quota headroom: base counts per source offset the delta ranks
    base_counts = base.groupBy("source").agg(
        F.count(F.lit(1)).alias("__base_n")
    )
    ranked = quota_sample(
        survivors, "source", "doc_id", quota_per_source
    )
    admitted = (
        ranked.join(F.broadcast(base_counts), "source", "left")
        .filter(
            F.col("rank_in_group") + F.coalesce("__base_n", F.lit(0))
            <= quota_per_source
        )
        .select("doc_id", "source", "text")
    )
    return admitted


def curate_corpus_v3_frames(
    spark: SparkSession,
    sf_dir: str,
    url_expr=None,
    quota_per_source: int = 100_000,
    near_dup_threshold: float = 0.8,
    span_window: int = 8,
    dsir_buckets: int = 1024,
    keeper: str = "quality",
) -> dict[str, DataFrame]:
    """The v3 curation chain as LAZY stage frames — the shared plan
    behind :func:`curate_corpus_v3` (counts + write),
    ``curation_v3_counts_lite`` (counts only, no write) and
    ``curation_drop_attribution`` (first-drop-stage funnel). Stage
    semantics and scale shape are documented on
    :func:`curate_corpus_v3`.

    localCheckpoints the flags / exact / near / span / tagged frames
    (each feeds 2+ consumers) — EAGER: the chain materializes stage
    by stage during this call, each stage reading the previous
    stage's checkpoint. Two reasons over lazy persist (both r12,
    both measured): consumers run in concurrently scheduled stages
    where an unmaterialized cache dedupes nothing (the
    curate_increment 6× re-eval), and the un-truncated lineage
    compounds across stages into multi-megabyte logical plans whose
    ANALYSIS alone OOMed a default-heap driver session on the
    attribution query's join union (5.4 MB plan string; found by the
    vanilla-session oracle sweep). Checkpoint blocks free when the
    frames dict is garbage-collected; callers' clearCache() stays
    harmless.

    Returns frames keyed: ``input`` (pre-URL), ``url`` (URL-kept),
    ``flags`` (Gopher flags over the URL-kept set), ``quality``,
    ``exact``, ``near``, ``span``, ``dsir``, ``tagged`` (dsir + a
    ``split`` column), ``leaked`` (cross-split fps) and ``capped``
    (quota-capped train rows).
    """
    from ..operators.dedup import normalize_url
    from ..operators.sampling import dsir_importance_scores

    near_dedup = _near_dedup(keeper)
    d = load_tables(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    frames: dict[str, DataFrame] = {"input": d}

    # URL keep-one: min doc_id per canonical URL (the CCNet /
    # RefinedWeb first pass — one window keyed on the canonical URL)
    if url_expr is not None:
        d = keep_first_copy(d, normalize_url(url_expr))
    frames["url"] = d
    # persist the flags frame: it feeds the exact-dedup chain AND the
    # one-pass n_url/n_quality aggregate of the counts consumer
    flags = gopher_quality_flags(
        d, carry_cols=["source", "lang", "text"]
    ).transform(_ckpt)
    frames["flags"] = flags
    kept = flags.filter(F.col("pass_all")).select(
        "doc_id", "source", "lang", "text"
    )
    frames["quality"] = kept

    exact = keep_first_copy(kept, F.md5("text")).transform(_ckpt)
    frames["exact"] = exact

    near = near_dedup(exact, flags, near_dup_threshold).transform(_ckpt)
    frames["near"] = near

    # span dedup: a doc at least half of whose W-token spans are
    # covered by a lower-id doc (2·covered ≥ total, ties dropped) is
    # residual duplicated text the fuzzy tier missed (different
    # enough globally, same long spans locally)
    span_drop = (
        span_coverage(span_fingerprints(near, "doc_id", "text", span_window))
        .filter(F.col("duplicated"))
        .select("doc_id")
    )
    span_kept = near.join(span_drop, "doc_id", "left_anti").transform(_ckpt)
    frames["span"] = span_kept

    # DSIR gate: keep docs scoring more English-subcorpus-like than
    # pool-like (score > 0); model trained on the deduped corpus
    scores = dsir_importance_scores(
        span_kept,
        span_kept.filter(F.col("lang") == "en"),
        "doc_id",
        "text",
        buckets=dsir_buckets,
    )
    selected = span_kept.join(
        scores.filter(F.col("target_like") == 1).select("doc_id"),
        "doc_id",
    )
    frames["dsir"] = selected

    tagged = _with_split(selected).transform(_ckpt)
    frames["tagged"] = tagged
    frames["leaked"] = _leaked_fps(tagged)

    train = tagged.filter(F.col("split") == "train").drop("split")
    frames["capped"] = quota_sample(
        train, "source", "doc_id", quota_per_source
    ).drop("rank_in_group")
    return frames


def curate_corpus_v3_counts(
    spark: SparkSession, frames: dict[str, DataFrame]
) -> dict[str, int]:
    """The 11 write-free stage counts over :func:`…_v3_frames`
    output (everything in the v3 report except ``n_train_capped``,
    whose write-vs-count split the two report queries own)."""
    # ONE aggregation: flags input is the URL-kept set, so its row
    # count IS n_url; pass_all sums to n_quality
    uq = frames["flags"].agg(
        F.count(F.lit(1)).alias("n_u"),
        F.sum(F.col("pass_all").cast("long")).alias("n_q"),
    ).first()
    split_counts = _split_counts(frames["tagged"])
    return {
        "n_input": frames["input"].count(),
        "n_url": uq["n_u"],
        "n_quality": int(uq["n_q"]),
        "n_exact": frames["exact"].count(),
        "n_near": frames["near"].count(),
        "n_span": frames["span"].count(),
        "n_dsir": sum(split_counts.values()),
        "n_leaked_fps": frames["leaked"].count(),
        **split_counts,
    }


def curate_corpus_v3(
    spark: SparkSession,
    sf_dir: str,
    sink_root: str | None,
    url_expr=None,
    quota_per_source: int = 100_000,
    near_dup_threshold: float = 0.8,
    span_window: int = 8,
    dsir_buckets: int = 1024,
    keeper: str = "quality",
) -> dict[str, int]:
    """The round-9 curation composition in the RefinedWeb /
    MassiveText published stage order — every dedup tier the engine
    implements, chained as ONE Spark job DAG:

        URL keep-one dedup (canonical URL, min-id keeper)
          → quality gate (Gopher rules)
          → exact dedup (md5 fingerprint window)
          → fuzzy near-dedup (MinHash→LSH candidates, exact-Jaccard
            verify; survivor picked by *keeper*)
          → exact-substring span dedup (drop documents at least
            half of whose span_window-token spans are covered by a
            lower-id document — the doc-level form of Lee et al.
            span removal; integer 2·covered ≥ total compare, ties
            dropped, no float threshold)
          → DSIR selection gate (keep documents whose hashed-ngram
            importance score vs the English subcorpus is positive)
          → deterministic split + leakage audit + per-source quota
          → partitioned parquet write of the train corpus

    *url_expr* is the URL Column (production corpora carry one; the
    registry query injects the deterministic doc_id-derived URL the
    ``url_domain_dedup_health`` fixture uses). *keeper* switches the
    fuzzy tier's survivor policy exactly as in :func:`curate_corpus`
    — since r11 the DEFAULT is ``"quality"`` (drop the
    lower-word-count side, ties to the lower id: RefinedWeb/FineWeb
    keep the higher-quality member), with ``"min_id"`` the classic
    keep-first switch. *sink_root* of ``None`` skips the parquet
    write and counts the capped frame directly (the bench-facing
    lite form; the write path stays pinned by the e2e pytest and the
    full report query).

    Scale shape: the new stages add one hash-aggregate keyed on the
    canonical URL, one fingerprint-window pass (same shape as exact
    dedup), and the two bounded DSIR aggregates + broadcast model
    join — no new pair spaces, no corpus-sized broadcasts.

    Returns 12 stage counts: (n_input, n_url, n_quality, n_exact,
    n_near, n_span, n_dsir, n_leaked_fps, n_train, n_val, n_test,
    n_train_capped).
    """
    frames = curate_corpus_v3_frames(
        spark,
        sf_dir,
        url_expr=url_expr,
        quota_per_source=quota_per_source,
        near_dup_threshold=near_dup_threshold,
        span_window=span_window,
        dsir_buckets=dsir_buckets,
        keeper=keeper,
    )
    counts = curate_corpus_v3_counts(spark, frames)
    capped = frames["capped"]
    if sink_root is None:
        counts["n_train_capped"] = capped.count()
    else:
        counts["n_train_capped"] = _write_train(spark, capped, sink_root)
    return counts
