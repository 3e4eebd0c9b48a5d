"""Round-12 registry surface.

The r11-verdict queue, as first-class oracle-checked queries:

- ``dedup_sidecar_equiv`` — the maintained dedup SIDECAR tables
  (exact fingerprints + span fingerprints, appended at base-append
  time by ``plans.sidecars``) driving the exact+span streaming
  admit fold THROUGH REAL FILES: every per-batch base probe is a
  sidecar read, never a re-projection of the base corpus — the
  100 TB ingest shape the ``curate_increment`` docstrings promised.
  The oracle is the same unrolled fold as
  ``streaming_span_dedup_equiv`` (reprojection semantics), so a
  green row IS the sidecar-vs-reprojection equivalence proof. Its
  exact and span tiers are the ``keep_first_copy`` and
  ``span_coverage`` operators that ``curate_increment`` runs; the
  quality gate, the LSH tier and the quota are not exercised here.
- ``token_budget_equalized`` — budget-constrained selection through
  ``ranked_cumsum(equalize=True)``: the histogram-equalized bucket
  edges (one bounded ``approxQuantile`` collect) that keep every
  bucket ~1/64 of the corpus regardless of how the quality scores
  concentrate — the 100 TB-safe branch of the distributed rank,
  previously only pytest-covered. Positions are invariant to the
  bucketing, so the oracle is the same plain running-sum SQL as the
  uniform-grid twin (different budget fraction so the rows differ).

Determinism: all counts CAST AS BIGINT; the running-total compare
is exact BIGINT arithmetic; md5 fingerprints are identical in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import keep_first_copy, span_coverage, span_fingerprints
from ..session import load_tables
from . import register
from .round11 import _ssde_oracle
from .round11b import _QSCORE_SQL, _QWEIGHT_SQL, _quality_weighted

# --------------------------------------------------------------------------
# Sidecar-backed streaming dedup fold — the file-maintained form.
# --------------------------------------------------------------------------

_DSE_W = 8
# 3 batches (vs the reprojection twin's 4): the equivalence proof
# needs >= 2 state-probing batches; the fold's cost is fixed
# overhead per batch (3 writes + 2 lineage checkpoints + sidecar
# read-backs), so the trim buys ~25% off the driver-gate row
# without weakening what the shared oracle pins
_DSE_BATCHES = 3


def _sidecar_admit_fold(
    spark: SparkSession,
    sf_dir: str,
    batches: int,
    span_w: int,
    compact_after: frozenset[int] = frozenset(),
) -> DataFrame:
    """The exact+span streaming admit fold through MAINTAINED SIDECAR
    TABLES under a temp root — shared by ``dedup_sidecar_equiv`` and
    ``sidecar_compaction_equiv`` (which runs ``compact_sidecars``
    after the batches named in *compact_after*, proving the swap
    protocol preserves probe semantics mid-fold).

    Every fold step is ``localCheckpoint()``ed, so the returned
    union reads checkpoint blocks — NOT the temp parquet — and the
    temp root is removed before returning (no driver-side collect;
    the r12-verdict nit). ``tests/test_sidecars.py`` pins that the
    returned frame stays re-executable after the cleanup.
    """
    import shutil
    import tempfile

    from ..plans.sidecars import (
        append_sidecars,
        compact_sidecars,
        read_sidecar,
    )

    d = load_tables(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    fp = F.md5("text")
    root = tempfile.mkdtemp(prefix="sidecar_equiv_")
    base_dir = f"{root}/base"
    sc_dir = f"{root}/sidecars"
    try:
        out = None
        for k in range(batches):
            batch = d.filter(
                F.pmod("doc_id", F.lit(batches)) == k
            ).select("doc_id", "source", "text", fp.alias("fp"))
            survivors = keep_first_copy(batch, "fp")
            # exact tier: probe the fp SIDECAR (not the base text)
            state_fp = read_sidecar(spark, sc_dir, "fp")
            # checkpointed because BOTH the span projection below
            # and the admit chain consume it — without this the
            # window-dedup shuffle + fp anti-join re-executed once
            # per consumer (r14 persist audit)
            survivors = survivors.join(
                state_fp.select("fp"), "fp", "left_anti"
            ).localCheckpoint()
            # span tier: batch spans vs the span SIDECAR or a
            # lower-id same-batch exact survivor; a doc with no spans
            # has no coverage row (0 spans, kept)
            bsp = span_fingerprints(survivors, "doc_id", "text", span_w)
            state_sp = read_sidecar(spark, sc_dir, "spans").select(
                "sfp"
            ).distinct()
            adm = (
                survivors.join(
                    span_coverage(bsp, state_sp), "doc_id", "left"
                )
                .fillna({"n_spans": 0, "n_covered": 0, "duplicated": False})
                .filter(~F.col("duplicated"))
                .withColumn("batch_idx", F.lit(k).cast("long"))
                .localCheckpoint()
            )
            # base first, sidecars second (the crash ordering the
            # sync_sidecars repair assumes — see plans.sidecars)
            adm.select("doc_id", "source", "text").write.mode(
                "append"
            ).parquet(base_dir)
            append_sidecars(
                spark,
                adm.select("doc_id", "source", "text"),
                sc_dir,
                span_window=span_w,
            )
            if k in compact_after:
                # between batches, never concurrently with one — the
                # documented compaction window
                compact_sidecars(spark, sc_dir, files_per_table=1)
            rep = adm.select("doc_id", "batch_idx", "n_spans", "n_covered")
            out = rep if out is None else out.unionByName(rep)
        # every step above is checkpointed, so `out` reads checkpoint
        # blocks, not the temp parquet — return it directly (no
        # driver-side collect) and let the finally remove the files
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@register("dedup_sidecar_equiv", _ssde_oracle(_DSE_BATCHES, _DSE_W))
def dedup_sidecar_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`streaming_span_dedup_equiv`'s admit fold re-run through the
    MAINTAINED SIDECAR TABLES (`plans.sidecars`): the base corpus and
    its exact-fingerprint + span-fingerprint sidecars live as real
    parquet directories; each batch's state probes READ THE SIDECARS
    (never re-project fingerprints from base text), and admission
    appends base rows first, sidecar rows second — the crash-ordering
    the `sync_sidecars` repair path assumes. The oracle is the
    reprojection-semantics fold (shared with
    `streaming_span_dedup_equiv`), so a green row proves
    sidecar-probe ≡ base-reprojection — the "maintained sidecars are
    the 100 TB form" claim, demonstrated rather than documented.

    Scale shape per batch: all probes are delta × sidecar joins; the
    sidecar tables are append-only projections sized by admitted
    fingerprints/spans, and the base text is touched exactly once
    per document (at admission), never again.
    """
    return _sidecar_admit_fold(spark, sf_dir, _DSE_BATCHES, _DSE_W)


# --------------------------------------------------------------------------
# Histogram-equalized distributed rank (the 100 TB-safe branch).
# --------------------------------------------------------------------------

_TBE_NUM = 1
_TBE_DEN = 4  # budget = 1/4 of corpus tokens (the uniform twin uses 1/2)

_TBE_ORACLE = f"""
    WITH m AS (
      SELECT doc_id, source, {_QSCORE_SQL} AS score,
             {_QWEIGHT_SQL} AS w
      FROM documents
    ),
    r AS (
      SELECT *, SUM(w) OVER (
        ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING
      ) AS cw
      FROM m
    ),
    tot AS (
      SELECT CAST(FLOOR(SUM(w) * {_TBE_NUM}.0 / {_TBE_DEN}) AS BIGINT)
        AS budget FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(w) AS BIGINT) AS tokens_total,
           CAST(SUM(CASE WHEN cw <= budget THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_kept,
           CAST(SUM(CASE WHEN cw <= budget THEN w ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST(MAX(budget) AS BIGINT) AS budget_tokens
    FROM r, tot
    GROUP BY source
    """


@register("token_budget_equalized", _TBE_ORACLE)
def token_budget_equalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`token_budget_selection` through the HISTOGRAM-EQUALIZED
    branch of `operators.sampling.ranked_cumsum`: bucket edges come
    from one `approxQuantile` pass (a bounded, EAGER 63-value
    collect) instead of the uniform `floor(score·64)` grid, so every
    bucket holds ~1/64 of the corpus even when quality scores
    concentrate in a narrow band — on a skewed score distribution
    the uniform grid degrades to one giant bucket (a single-task
    window), which is exactly the failure the equalized edges
    prevent at 100 TB. Positions are invariant to the bucketing
    (bucket is monotone in score either way), so the oracle is the
    same plain running-sum SQL; budget = 1/4 of corpus tokens (the
    uniform twin keeps 1/2, so the two rows cannot be conflated).
    """
    from ..operators.sampling import ranked_cumsum

    m = _quality_weighted(spark, sf_dir)
    r = ranked_cumsum(
        m, "doc_id", "score", "w", carry_cols=["source"], equalize=True
    )
    tot = m.agg(
        F.floor(F.sum("w") * F.lit(float(_TBE_NUM) / _TBE_DEN))
        .cast("long")
        .alias("budget")
    )
    kept = F.col("cum_weight") <= F.col("budget")
    return (
        r.crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("w").cast("long").alias("tokens_total"),
            F.sum(kept.cast("long")).cast("long").alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("w")).otherwise(F.lit(0)))
            .cast("long")
            .alias("tokens_kept"),
            F.max("budget").cast("long").alias("budget_tokens"),
        )
    )
