"""Similarity search over embedding columns (BASELINE.json north-star).

- :func:`cosine_topk` — brute-force exact top-k: cross join +
  sequential-fold cosine + per-query window rank. The O(n·q)
  baseline and the verifier for approximate paths.
- :func:`cosine_rerank` — exact-cosine rerank of a (query, neighbor)
  candidate frame: the second stage of the two-stage tiers.
- :func:`lsh_buckets` — sign-LSH (random-hyperplane) bucketing with
  engine-reproducible pseudo-random hyperplanes derived from md5
  parity, so the bucketing is oracle-checkable in any SQL engine.
- :func:`lsh_topk` — top-k restricted to same-bucket candidates:
  the 100 TB path (bucket equi-join replaces the n×q cross join;
  probe multiple hash tables to trade recall for cost).

Float determinism: all dot products fold left-to-right over the
array (Spark ``aggregate`` HOF ≡ DuckDB ``list_reduce``), making
cosines bit-identical across engines — see
:mod:`.dedup` for the rationale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    _BLOCKS,
    _blocked,
    _normed,
    _np_cosines,
    _np_mats,
    _replicated,
    dot_expr,
    with_norm,
)

# ---------------------------------------------------------------------------
# The cosine top-k core
# ---------------------------------------------------------------------------
#
# Every top-k operator below is built from the same four pieces:
#
# - :func:`_side` — one normalized side of the search, (query_id,
#   __vq, __nq) or (neighbor_id, __vc, __nc). It drops vectors with a
#   zero or NULL norm (see :func:`.dedup._normed`), so every path
#   returns the rows it returns without them.
# - :func:`_cosine` — the fold-order cosine of a (query, neighbor) row.
# - :func:`_rank` — the per-query row_number window over (cosine
#   desc, neighbor_id asc), rank ≤ k.
# - :func:`_kernel_topk` — the numpy kernel: a pandas cogroup hands
#   each (probing queries × corpus tile) pair to numpy, which folds
#   the dot LEFT-TO-RIGHT OVER DIMENSIONS with vectorized elementwise
#   ops — the same IEEE operation sequence as the ``aggregate`` fold
#   and DuckDB's ``list_reduce``, so every cosine is bit-identical to
#   the JVM/oracle value (verified over the full sf0.1 pair space,
#   0/1 999 000 mismatches; pinned by
#   tests/test_blocked_cosine_kernel.py). The interpreted fold costs
#   ~5 µs per 64-dim dot; unrolling it into one Catalyst expression
#   measured 2.7× SLOWER (the generated method exceeds the JIT's
#   HugeMethodLimit), so corpus-scale pair spaces go to numpy.
#
# The path is picked from the input, never from a flag: an all-pairs
# self-search (``queries is corpus``) runs the kernel, any other call
# runs the JVM fold. Forced on all 18 registry queries that reach
# cosine_topk / ivf_topk (sf0.1, local[4], min of 3 after a warm
# pass, rows identical), the kernel won both self-searches
# (similar_user_activity 6.69 → 1.04 s, similar_user_activity_ann
# 2.60 → 1.05 s) and the JVM fold won the small query batches
# (ann_ivf_topk 0.68 vs 0.87 s, ann_ivf_recall 1.08 vs 1.42 s,
# mmr_ivf_topk 1.40 vs 1.61 s, ann_pq_rerank_recall 0.92 vs 1.03 s).
# The kernel helpers shared with ``embedding_cosine_pairs`` live in
# :mod:`.dedup` next to the fold-order rationale.

_SIDES = {"query_id": ("__vq", "__nq"), "neighbor_id": ("__vc", "__nc")}


def _side(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    role: str,
    *extra: str | Column,
) -> DataFrame:
    """One side of a cosine search: (*role*, *extra*, vector, norm),
    with *role* ``query_id`` (→ __vq, __nq) or ``neighbor_id``
    (→ __vc, __nc). Zero- and NULL-norm vectors are dropped."""
    vec, norm = _SIDES[role]
    return _normed(df, vec_col).select(
        F.col(id_col).alias(role),
        *extra,
        F.col(vec_col).alias(vec),
        F.col("__norm").alias(norm),
    )


def _cosine() -> Column:
    """The cosine of a row carrying both sides' vectors and norms."""
    return (
        dot_expr("__vq", "__vc") / (F.col("__nq") * F.col("__nc"))
    ).alias("cosine")


def _evaluated_once(cos: Column) -> Column:
    """*cos* as a one-row generator, for a cosine that a threshold
    filter reads. Catalyst pushes a filter on a plain alias into the
    join below (the alias inlined into the join condition), and the
    projection then folds the kept pairs a second time; a filter on a
    generated column stays above the ``Generate``, so the fold runs
    once per candidate pair."""
    return F.explode(F.array(cos))


def _rank(sims: DataFrame, k: int) -> DataFrame:
    """Each query's top-*k* rows under (cosine desc, neighbor_id
    asc), numbered 1..k in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return sims.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _kernel_topk(
    q: DataFrame, c: DataFrame, key: str, k: int
) -> DataFrame:
    """Per-(query, tile) top-*k* cosine partials from the numpy
    kernel: (query_id, neighbor_id, cosine).

    *q* is a query side and *c* a corpus side (:func:`_side`), both
    tagged with the tile column *key* (a corpus hash block, or an
    IVF cell). Each tile emits ≤ k rows per query, self-matches
    excluded — a superset of the global winners under the (cosine
    desc, id asc) total order — for :func:`_rank` to merge. The id
    fields keep the input id types, as on the JVM fold path."""

    def fn(qpdf, cpdf):
        import numpy as np
        import pandas as pd

        if len(qpdf) == 0 or len(cpdf) == 0:
            return pd.DataFrame(
                {"query_id": [], "neighbor_id": [], "cosine": []}
            )
        qids, qm, qn = _np_mats(qpdf, "query_id", "__vq", "__nq")
        cids, cm, cn = _np_mats(cpdf, "neighbor_id", "__vc", "__nc")
        cos = _np_cosines(qm, cm, qn, cn)
        # columns pre-ordered id-ascending, sort key -cosine with the
        # self entries pushed to +inf: ONE stable row-wise argsort
        # gives every query's (-cosine, id) order at once, and the
        # isfinite filter drops the self slots (a query with fewer
        # than k other candidates emits fewer rows)
        order_c = np.argsort(cids, kind="stable")
        cids_o = cids[order_c]
        cos_o = cos[:, order_c]
        keys = -cos_o
        keys[qids[:, None] == cids_o[None, :]] = np.inf
        kk = min(k, keys.shape[1])
        idx = np.argsort(keys, axis=1, kind="stable")[:, :kk]
        valid = np.isfinite(
            np.take_along_axis(keys, idx, axis=1)
        ).ravel()
        return pd.DataFrame(
            {
                "query_id": np.repeat(qids, kk)[valid],
                "neighbor_id": cids_o[idx].ravel()[valid],
                "cosine": np.take_along_axis(cos_o, idx, axis=1).ravel()[
                    valid
                ],
            }
        )

    q_t = q.schema["query_id"].dataType.simpleString()
    c_t = c.schema["neighbor_id"].dataType.simpleString()
    return (
        q.groupby(key)
        .cogroup(c.groupby(key))
        .applyInPandas(
            fn, f"query_id {q_t}, neighbor_id {c_t}, cosine double"
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-*k* neighbors (by cosine) for each query vector.

    Output: (query_id, neighbor_id, cosine, rank). Self-matches
    (equal ids) are excluded; rank ties break on neighbor_id.
    Vectors with a zero or NULL norm are left out on both sides.

    The path follows the input. An all-pairs self-search
    (``queries is corpus``) replicates the queries to each of the
    corpus's 8 hash blocks and runs the numpy kernel per block
    (similar_user_activity at sf0.1: 6.69 → 1.04 s). Any other call
    broadcasts the queries against the corpus and evaluates the JVM
    fold, which wins on small query batches. Both give bit-identical
    rows; the id columns keep the input id types.
    """
    q = _side(queries, id_col, vec_col, "query_id")
    c = _side(corpus, id_col, vec_col, "neighbor_id")
    if queries is corpus:
        sims = _kernel_topk(
            _replicated(q, _BLOCKS),
            _blocked(c, "neighbor_id", _BLOCKS),
            "__gb",
            k,
        )
    else:
        sims = (
            F.broadcast(q)
            .crossJoin(c)
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", _cosine())
        )
    return _rank(sims, k)


def cosine_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Rerank a (query_id, neighbor_id) candidate frame by exact
    cosine over *vec_col*: the second stage of every
    retrieve-then-rerank tier (LSH OR-amplification, Matryoshka,
    PQ). The candidates are joined id-keyed against the broadcast
    queries and the corpus, so only candidate pairs pay the fold.

    Output: (query_id, neighbor_id, cosine, rank), top-*k* per query,
    neighbor_id tiebreak. Zero- and NULL-norm vectors drop out.
    """
    q = _side(queries, id_col, vec_col, "query_id")
    c = _side(corpus, id_col, vec_col, "neighbor_id")
    sims = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", _cosine())
    )
    return _rank(sims, k)


def _plane_weights_expr(plane: int, dim: int) -> str:
    """±1 hyperplane weights as a SQL array expression.

    Weight for (plane p, dim d) = parity of the first hex char of
    md5('p<p>_<d>') → ±1. Pure engine-side hashing: reproducible in
    Spark and DuckDB without shipping literals. This is the
    REFERENCE form (the oracle SQL mirrors it); the Spark path
    precomputes the same parities in Python (:func:`_plane_weights`)
    because the md5s are constants Catalyst cannot fold inside a
    lambda — per-row they cost dim hash calls per plane per vector.
    """
    return (
        f"transform(sequence(1, {dim}), d -> "
        f"CAST((ascii(substring(md5(concat('p{plane}_', d)), 1, 1)) % 2) * 2 - 1"
        f" AS DOUBLE))"
    )


def _plane_weights(plane: int, dim: int) -> list[float]:
    """The SAME ±1 weights as :func:`_plane_weights_expr`, computed
    once at plan-build time: parity of the first hex char of
    md5('p<plane>_<d>') for d in 1..dim (python md5 ≡ engine md5)."""
    import hashlib

    return [
        float(
            (ord(hashlib.md5(f"p{plane}_{d}".encode()).hexdigest()[0]) % 2)
            * 2
            - 1
        )
        for d in range(1, dim + 1)
    ]


def plane_projection(plane: int = 0, dim: int = 64,
                     vec_col: str = "embedding"):
    """Column: the signed projection of *vec_col* onto pseudo-random
    hyperplane *plane* — the ONE definition of the deterministic
    embedding scorer that `quality_pr_curve` sweeps and
    `score_reliability_bins` calibrates (shared so the two can
    never diverge; review catch).

    r14: the ±1 weights ship as an array LITERAL (same md5-parity
    values, computed once in Python) instead of a per-row
    ``transform(sequence(...), d -> md5(...))`` rebuild — the fold's
    multiply/add sequence is unchanged, so projections stay
    bit-identical to the oracle's md5 form."""
    from pyspark.sql import functions as F

    ws = ", ".join(f"{w:.1f}D" for w in _plane_weights(plane, dim))
    return F.expr(
        f"aggregate(zip_with({vec_col}, array({ws}), "
        f"(x, w) -> CAST(x AS DOUBLE) * w), 0D, (acc, v) -> acc + v)"
    )


def lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 4,
    dim: int = 64,
    plane_offset: int = 0,
) -> DataFrame:
    """Assign each vector to a sign-LSH bucket (0 … 2^num_planes − 1).

    Bit *p* of the bucket = sign of the projection onto
    pseudo-random hyperplane *plane_offset + p*. Cosine-similar
    vectors land in the same bucket with high probability
    (hyperplane LSH), so candidate generation becomes an equi-join on
    ``bucket`` — no cross join. *plane_offset* selects an independent
    hash table (for multi-table OR-amplification).
    """
    bucket = None
    for p in range(num_planes):
        proj = plane_projection(plane_offset + p, dim, vec_col)
        bit = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return df.select(F.col(id_col), F.col(vec_col)).withColumn(
        "bucket", bucket.cast("bigint")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 2,
    num_tables: int = 3,
    dim: int = 64,
) -> DataFrame:
    """Distinct candidate pairs from *num_tables* independent LSH
    tables (OR-amplification): a pair is a candidate if ANY table
    buckets it together. Recall ≈ 1 − (1 − p^planes)^tables for
    same-bucket probability p — tune tables up for recall, planes up
    for precision/cost. Still pure equi-joins; no cross join.
    """
    cand = None
    for t in range(num_tables):
        b = lsh_buckets(
            df, id_col, vec_col, num_planes, dim, plane_offset=t * num_planes
        )
        a = b.select(F.col(id_col).alias("id_a"), "bucket")
        bb = b.select(F.col(id_col).alias("id_b"), "bucket")
        pairs = (
            a.join(bb, "bucket")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    return cand.distinct()


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-*k*: rank only same-bucket candidates.

    The scale path: the corpus is bucketed once (cacheable),
    queries probe their bucket via an equi-join. Recall is tunable
    with fewer planes (bigger buckets) or multiple tables.
    """
    cb = lsh_buckets(corpus, id_col, vec_col, num_planes, dim)
    qb = lsh_buckets(queries, id_col, vec_col, num_planes, dim)
    c = _side(cb, id_col, vec_col, "neighbor_id", "bucket")
    q = _side(qb, id_col, vec_col, "query_id", "bucket")
    sims = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine())
    )
    return _rank(sims, k)


def lsh_topk_multitable(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 3,
    num_tables: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-*k* with OR-amplification over *num_tables*
    independent LSH tables: a (query, neighbor) pair is a candidate if
    ANY table buckets them together, so recall ≈
    1 − (1 − p^planes)^tables while each table stays a pure bucket
    equi-join. The distinct over candidates keeps each pair's cosine
    computed once. This is the serving configuration (single-table
    :func:`lsh_topk` is the teaching form — see the measured curve in
    SCALING.md).
    """
    cand = None
    for t in range(num_tables):
        cb = lsh_buckets(
            corpus, id_col, vec_col, num_planes, dim, plane_offset=t * num_planes
        ).select(F.col(id_col).alias("neighbor_id"), "bucket")
        qb = lsh_buckets(
            queries, id_col, vec_col, num_planes, dim, plane_offset=t * num_planes
        ).select(F.col(id_col).alias("query_id"), "bucket")
        pairs = (
            F.broadcast(qb)
            .join(cb, "bucket")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id")
        )
        cand = pairs if cand is None else cand.unionByName(pairs)
    return cosine_rerank(cand.distinct(), corpus, queries, id_col, vec_col, k)


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN — the other classic scale path besides LSH
# --------------------------------------------------------------------------
def fixed_point_mean(value: Column, alias: str, scale: float = 1e10) -> Column:
    """Exact, order-independent mean of a float column: quantize
    each value to fixed-point (``floor(x·scale)`` — floor of a
    double is tie-free and bit-identical across engines, unlike
    float AVG whose partial-sum order varies and unlike decimal
    casts whose rounding mode can differ at exact ties), sum as
    DECIMAL (exact integers, map-side combined), then one double
    division. The shared arithmetic behind the k-means trainer and
    the label-centroid QA — change it in one place or the claimed
    trainer ≡ QA bit-reproducibility breaks."""
    q = F.floor(value.cast("double") * F.lit(scale))
    return (
        F.sum(q.cast("decimal(38,0)")).cast("double")
        / (F.count(F.lit(1)).cast("double") * F.lit(scale))
    ).alias(alias)


def ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
) -> DataFrame:
    """Deterministic coarse quantizer: the *num_centroids* lowest-id
    corpus vectors serve as cell centroids.

    Production systems fit these with KMeans on a sample; a fixed
    deterministic pick keeps the whole IVF pipeline oracle-checkable
    in plain SQL, and every piece downstream (assignment, probing,
    in-cell search) is identical either way.
    """
    return (
        _normed(corpus.select(id_col, vec_col), vec_col)
        .orderBy(F.asc(id_col))
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("__cvec"),
            F.col("__norm").alias("__cnorm"),
        )
    )


def _nearest_cells(
    with_norm_df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    n_cells: int,
) -> DataFrame:
    """Top-*n_cells* centroids per vector (by cosine, id tiebreak).

    The ``n_cells == 1`` path (every corpus assignment: Lloyd
    rounds, :func:`ivf_assign`, the SemDeDup bucketing) is a ONE-scan
    ``max_by`` aggregate over the broadcast cross join: the argmax
    key is the slim (cos, −centroid_id) struct and the row payload
    rides inside the max_by VALUE, so partial aggregation collapses
    to one row per vector per partition before anything shuffles —
    the window formulation instead sorted and shuffled all n×K
    cross-join rows with the embedding payload attached (measured
    23.6 s → 1.4 s for 20 k × 160 cells at 64 dims), a cost that
    grows with K and kills exactly the K ∝ n configuration that
    keeps clustered dedup linear. The assignment stage is
    COMPUTE-dense (K×dim flops/row), so when the input's partition
    count is below the cluster's parallelism (one small parquet
    file at bench SFs) the corpus is repartitioned first — on a
    real multi-file 100 TB table the scan already yields enough
    splits and the gate is a no-op. ``max_by`` over
    (cos, −centroid_id) picks the identical winner the window's
    ORDER BY cos DESC, centroid_id ASC does.
    """
    if n_cells == 1:
        src = with_norm_df
        target = src.sparkSession.sparkContext.defaultParallelism
        if src.rdd.getNumPartitions() < target:
            src = src.repartition(target)
        slim = src.crossJoin(F.broadcast(cents)).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__norm"),
            F.col("centroid_id"),
            (
                dot_expr(vec_col, "__cvec")
                / (F.col("__norm") * F.col("__cnorm"))
            ).alias("__ccos"),
        )
        return (
            slim.groupBy(id_col)
            .agg(
                F.expr(
                    f"max_by(struct({vec_col}, __norm, centroid_id),"
                    " struct(__ccos, -centroid_id))"
                ).alias("__b")
            )
            .select(
                id_col,
                F.col(f"__b.{vec_col}").alias(vec_col),
                F.col("__b.__norm").alias("__norm"),
                F.col("__b.centroid_id").alias("cell"),
            )
        )
    sims = with_norm_df.crossJoin(F.broadcast(cents)).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__norm"),
        F.col("centroid_id"),
        (
            dot_expr(vec_col, "__cvec") / (F.col("__norm") * F.col("__cnorm"))
        ).alias("__ccos"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("__ccos"), F.asc("centroid_id"))
    return (
        sims.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= n_cells)
        .select(id_col, vec_col, "__norm", F.col("centroid_id").alias("cell"))
    )


def kmeans_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 16,
    max_iter: int = 8,
    tol: float = 1e-6,
) -> DataFrame:
    """Spherical k-means coarse quantizer, trained with DataFrame ops.

    Lloyd iterations built for the cluster, not the driver: each round
    is ONE broadcast assign pass (:func:`_nearest_cells` — no corpus
    shuffle) plus ONE ``groupBy(cell)`` aggregate of the per-dimension
    means (``dim`` AVG columns, map-side combined, so the shuffle is
    C×dim partials per partition, not the vectors). Only the centroid
    table — C×dim floats, tiny by definition, exactly what MLlib's
    KMeans also driver-collects — round-trips through the driver,
    which truncates lineage between rounds for free.

    Deterministic: seeded from :func:`ivf_centroids` (lowest-id
    vectors), ties broken by cell id, so repeated runs — and the
    recall numbers derived from them — are stable. Empty cells keep
    their previous centroid. Stops early when the max squared
    centroid shift drops below *tol*.

    Returns a (centroid_id, __cvec, __cnorm) DataFrame, directly
    usable as the *centroids* argument of :func:`ivf_topk`.
    """
    import math

    spark = corpus.sparkSession
    # persisted: every Lloyd round re-reads the normalized corpus
    # twice (assignment + means); without this the whole scan+norm
    # lineage re-executes 2×max_iter times
    cn = _normed(corpus.select(id_col, vec_col), vec_col).persist()
    seed = (
        ivf_centroids(corpus, id_col, vec_col, num_centroids)
        .orderBy("centroid_id")
        .collect()
    )
    cents = [[float(x) for x in r["__cvec"]] for r in seed]
    dim = len(cents[0])

    def _cent_df(vecs: list[list[float]]) -> DataFrame:
        rows = [
            (cid, v, math.sqrt(sum(x * x for x in v)) or 1.0)
            for cid, v in enumerate(vecs)
        ]
        return spark.createDataFrame(
            rows, "centroid_id int, __cvec array<double>, __cnorm double"
        )

    # Exact centroid update via :func:`fixed_point_mean` —
    # quantization at 1e-10 is far below float32 input precision
    # (eps ≈ 1.2e-7), so the quantizer is unaffected; it buys a
    # bit-reproducible trainer that a SQL oracle can replay.
    try:
        for _ in range(max_iter):
            assigned = _nearest_cells(cn, _cent_df(cents), id_col, vec_col, 1)
            means = (
                assigned.groupBy("cell")
                .agg(
                    *[
                        fixed_point_mean(F.col(vec_col)[i], f"c{i}")
                        for i in range(dim)
                    ]
                )
                .collect()
            )
            new_cents = list(cents)
            for r in means:
                new_cents[r["cell"]] = [float(r[f"c{i}"]) for i in range(dim)]
            shift = max(
                sum((a - b) ** 2 for a, b in zip(old, new))
                for old, new in zip(cents, new_cents)
            )
            cents = new_cents
            if shift < tol:
                break
    finally:
        cn.unpersist()
    return _cent_df(cents)


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors to their nearest centroid's cell — the
    INCREMENTAL index-maintenance path: a new ingest batch is
    assigned against the FROZEN quantizer and appended to the
    inverted file (partitioned by ``cell``), with the existing
    corpus never re-read or re-shuffled. Retrain centroids only on
    drift, not per batch.

    Output: (neighbor_id, __vc, __nc, cell) — union-able with any
    previous :func:`ivf_assign` output and directly searchable by
    :func:`ivf_topk_from_index`. Zero- and NULL-norm vectors get no
    cell.
    """
    cn = _normed(df.select(id_col, vec_col), vec_col)
    return _nearest_cells(cn, centroids, id_col, vec_col, 1).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vc"),
        F.col("__norm").alias("__nc"),
        "cell",
    )


def _ivf_search(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    nprobe: int,
    kernel: bool,
) -> DataFrame:
    """Probe *nprobe* cells per query and rank exactly inside them:
    with *kernel*, each probed cell's (queries × members) tile goes
    through the numpy kernel; otherwise the probes broadcast against
    the index and the JVM fold ranks them."""
    qn = _normed(queries.select(id_col, vec_col), vec_col)
    probes = _nearest_cells(qn, centroids, id_col, vec_col, nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__vq"),
        F.col("__norm").alias("__nq"),
        "cell",
    )
    if kernel:
        sims = _kernel_topk(probes, index, "cell", k)
    else:
        sims = (
            F.broadcast(probes)
            .join(index, "cell")
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", _cosine())
        )
    return _rank(sims, k)


def ivf_topk_from_index(
    index: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 4,
) -> DataFrame:
    """Top-*k* search over a prebuilt inverted file (see
    :func:`ivf_assign`): probe nprobe cells per query, rank exactly
    inside the probed cells with the JVM fold. No corpus-side work
    beyond the cell equi-join. Zero- and NULL-norm queries are left
    out."""
    return _ivf_search(
        index, queries, centroids, id_col, vec_col, k, nprobe, kernel=False
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-*k* via an inverted file: each corpus vector is
    assigned to its nearest centroid's cell (one equi-key), each query
    probes its *nprobe* nearest cells, and exact ranking runs only
    over the probed cells' members — ~``nprobe/num_centroids`` of the
    corpus per query instead of all of it.

    Scale shape: assignment is a one-off O(n·C) pass whose result is
    a table partitioned/clustered by ``cell`` (write it out once,
    reuse across query batches); per-batch cost is an equi-join of
    (query, cell) probes against those cell partitions — no cross
    join, no shuffle of the corpus. Recall tunes with *nprobe* (and
    centroid quality); verify with the brute-force path like
    ``ann_lsh_recall`` does for LSH.

    Output: (query_id, neighbor_id, cosine, rank), self excluded.
    Vectors with a zero or NULL norm are left out: they are neither
    centroids, cell members nor queries.

    The in-cell ranking follows the input. An all-pairs self-search
    (``queries is corpus``) probes ~n²·nprobe/C pairs, so each probed
    cell's tile goes through the numpy kernel
    (similar_user_activity_ann at sf0.1: 2.60 → 1.05 s). Any other
    call broadcasts the probes against the index and evaluates the
    JVM fold, which wins on small query batches (ann_ivf_topk 0.68
    vs 0.87 s). Both give bit-identical rows.

    *centroids* swaps in a trained quantizer (e.g.
    :func:`kmeans_centroids`) for the deterministic default — the
    assignment / probe / in-cell machinery is identical either way.
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, num_centroids)
    )
    index = ivf_assign(corpus, cents, id_col, vec_col)
    return _ivf_search(
        index, queries, cents, id_col, vec_col, k, nprobe,
        kernel=queries is corpus,
    )


def standardize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Z-score each embedding dimension (x−mean)/std over the corpus
    — the transform half of feature standardization (fit = one
    posexplode hash-aggregate; see the ``embedding_dim_stats``
    query for the deterministic-moments variant).

    The per-dimension stats collapse to ONE row of two dim-length
    arrays, broadcast to every partition; the transform is a single
    ``zip_with`` projection. Zero-variance dimensions pass through
    unscaled (std treated as 1) instead of dividing by zero.
    """
    stats = (
        df.select(F.posexplode(vec_col).alias("pos", "__v"))
        .groupBy("pos")
        .agg(
            F.avg("__v").alias("__mean"),
            F.stddev_samp("__v").alias("__std"),
        )
        .select(
            F.struct("pos", "__mean", "__std").alias("__s"),
        )
        .agg(F.sort_array(F.collect_list("__s")).alias("__ss"))
        .select(
            F.expr("transform(__ss, s -> s.__mean)").alias("__means"),
            F.expr(
                "transform(__ss, s -> CASE WHEN s.__std IS NULL"
                " OR s.__std = 0.0 THEN 1.0 ELSE s.__std END)"
            ).alias("__stds"),
        )
    )
    return (
        df.crossJoin(F.broadcast(stats))
        .withColumn(
            vec_col,
            F.zip_with(
                F.zip_with(
                    F.col(vec_col).cast("array<double>"),
                    "__means",
                    lambda x, m: x - m,
                ),
                "__stds",
                lambda c, s: c / s,
            ),
        )
        .drop("__means", "__stds")
    )


def label_centroid_stats(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-label embedding QA: exact class centroids and the
    cohesion of each class around them — the health check run before
    trusting an embedding column for clustering/ANN/curation.

    Centroid means reuse the trainer's exact fixed-point
    accumulation (floor(x·1e10) integer sums → one double division,
    see :func:`kmeans_centroids`), so centroids — and every cosine
    derived from them — are bit-reproducible on any partitioning and
    replayable by a SQL oracle. Per-label mean cosine accumulates
    the same way (floor(cos·1e12)); min/max are order-free.

    Scale: one groupBy(label) over the corpus for the means (C×dim
    partials per partition via map-side combine), one broadcast join
    of the C-row centroid table back onto the corpus, one final
    groupBy(label). No driver-side loops, no collect.

    Output: (label, n_vecs, centroid_norm, mean_cos, min_cos,
    max_cos).
    """

    cent = df.groupBy(label_col).agg(
        *[
            fixed_point_mean(F.col(vec_col)[i], f"__c{i}")
            for i in range(dim)
        ]
    )
    cent = cent.select(
        label_col,
        F.array(*[F.col(f"__c{i}") for i in range(dim)]).alias("__cvec"),
    ).withColumn(
        "__cnorm",
        F.sqrt(
            F.expr(
                "aggregate(transform(__cvec, x -> x * x), 0D,"
                " (acc, v) -> acc + v)"
            )
        ),
    )
    e = with_norm(df.select(label_col, id_col, vec_col), vec_col)
    cos = (
        e.join(F.broadcast(cent), label_col)
        .select(
            label_col,
            "__cnorm",
            (
                dot_expr(vec_col, "__cvec")
                / (F.col("__norm") * F.col("__cnorm"))
            ).alias("__cos"),
        )
    )
    return cos.groupBy(label_col).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.max("__cnorm").alias("centroid_norm"),
        fixed_point_mean(F.col("__cos"), "mean_cos", scale=1e12),
        F.min("__cos").alias("min_cos"),
        F.max("__cos").alias("max_cos"),
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Exact fixed-point per-label centroids: (label, __cvec,
    __cnorm) — the shared first stage of `label_centroid_stats` and
    the label-noise scan, bit-reproducible at any partitioning."""
    cent = df.groupBy(label_col).agg(
        *[
            fixed_point_mean(F.col(vec_col)[i], f"__c{i}")
            for i in range(dim)
        ]
    )
    return cent.select(
        label_col,
        F.array(*[F.col(f"__c{i}") for i in range(dim)]).alias("__cvec"),
    ).withColumn(
        "__cnorm",
        F.sqrt(
            F.expr(
                "aggregate(transform(__cvec, x -> x * x), 0D,"
                " (acc, v) -> acc + v)"
            )
        ),
    )


def label_noise_candidates(
    df: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Label-noise scan: points whose nearest LABEL CENTROID (by
    cosine) is not their own label — the cheap first-pass mislabel /
    outlier detector run before trusting labels for training.

    One broadcast of the L-row centroid table against the corpus
    (L cosines per point, argmin via the same rank-1 window the IVF
    assign uses), no pairwise point joins. Output: (id, label,
    nearest_label, own_cos, nearest_cos) for the mismatches only —
    sized by noise, not the corpus.
    """
    cents = label_centroids(df, label_col, vec_col, dim)
    e = with_norm(df.select(id_col, label_col, vec_col), vec_col).select(
        id_col, F.col(label_col).alias("own_label"), vec_col,
        F.col("__norm").alias("__nrm"),
    )
    allcos = (
        e.crossJoin(
            F.broadcast(cents.withColumnRenamed(label_col, "cand_label"))
        )
        .select(
            id_col,
            "own_label",
            "cand_label",
            (
                dot_expr(vec_col, "__cvec")
                / (F.col("__nrm") * F.col("__cnorm"))
            ).alias("cs"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("cs"), F.asc("cand_label")
    )
    near = (
        allcos.withColumn("__rnk", F.row_number().over(w))
        .filter(F.col("__rnk") == 1)
        .select(
            id_col,
            "own_label",
            F.col("cand_label").alias("nearest_label"),
            F.col("cs").alias("nearest_cos"),
        )
    )
    own = allcos.filter(F.col("own_label") == F.col("cand_label")).select(
        id_col, F.col("cs").alias("own_cos")
    )
    return (
        near.join(own, id_col)
        .filter(F.col("nearest_label") != F.col("own_label"))
        .select(
            id_col,
            F.col("own_label").alias(label_col),
            "nearest_label",
            "own_cos",
            "nearest_cos",
        )
    )


def probe_buckets(bucket: Column, num_planes: int) -> Column:
    """The multi-probe lookup set for a bucket: itself plus its
    *num_planes* single-bit-flip neighbors. The ONE definition of
    the probe scheme — `multiprobe_lsh_topk` and the recall
    certificate (`queries/round4e.ann_multiprobe_recall`) both use
    it, so the certificate can never drift from the operator."""
    return F.array(
        bucket,
        *[bucket.bitwiseXOR(F.lit(1 << p)) for p in range(num_planes)],
    )


def multiprobe_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Multi-probe LSH top-*k*: besides its own bucket, each query
    probes the ``num_planes`` single-bit-flip neighbor buckets — the
    classic way to buy recall WITHOUT more hash tables (a vector
    near a hyperplane lands on either side with near-even odds, so
    flipping one sign bit recovers most misses) or more memory
    (one bucket table serves exact + probe lookups).

    Probe fan-out is an explode of 1 + num_planes bucket keys per
    query followed by the same equi-join as `lsh_topk`; each corpus
    vector lives in exactly one bucket, so candidates are naturally
    distinct. Output: (query_id, neighbor_id, cosine, rank).
    """
    cb = lsh_buckets(corpus, id_col, vec_col, num_planes, dim)
    c = _side(cb, id_col, vec_col, "neighbor_id", "bucket")
    qb = lsh_buckets(queries, id_col, vec_col, num_planes, dim)
    probes = probe_buckets(F.col("bucket"), num_planes)
    q = _side(
        qb, id_col, vec_col, "query_id", F.explode(probes).alias("bucket")
    )
    sims = (
        F.broadcast(q)
        .join(c, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", _cosine())
    )
    return _rank(sims, k)


def mmr_topk(
    corpus: DataFrame,
    query_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int = 10,
    k: int = 5,
    lam: float = 0.7,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: from the query's
    *n_candidates* nearest neighbors, greedily select *k* that
    balance relevance against redundancy::

        mmr(d) = λ·cos(q, d) − (1−λ)·max_{s ∈ selected} cos(d, s)

    — the standard diversity re-rank for retrieval-augmented
    pipelines (near-duplicate passages crowd out coverage when raw
    top-k feeds a context window).

    Scale shape: the expensive part is the candidate top-N (any ANN
    tier — brute-force cosine by default as the verifier; pass
    *candidates* as a (cid, rel) frame from an IVF/LSH/PQ search to
    swap in the sublinear tier without touching the greedy loop);
    the greedy loop then runs on a BOUNDED N×N candidate-similarity
    table (N=10 → 100 rows), localCheckpoint-ed once so the k
    driver-side rounds never re-touch the corpus. All scores are
    IEEE-exact compositions of
    index-ordered dot products (same both engines); ties break on
    ascending id, and λ/(1−λ) are passed as literals so both engines
    parse the identical double. Output: (rank, vec_id, relevance,
    mmr_score) for the k selections, rank 1..k (rank 1's mmr_score
    is its plain relevance).
    """
    q = corpus.filter(F.col(id_col) == query_id)
    if candidates is None:
        candidates = cosine_topk(
            corpus, q, id_col, vec_col, k=n_candidates
        ).select(
            F.col("neighbor_id").alias("cid"),
            F.col("cosine").alias("rel"),
        )
    cand = candidates.localCheckpoint(eager=True)  # bounded: N rows
    cvecs = with_norm(corpus.select(id_col, vec_col), vec_col).join(
        F.broadcast(cand.select(F.col("cid").alias(id_col))), id_col
    )
    a = cvecs.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("__va"),
        F.col("__norm").alias("__na"),
    )
    b = cvecs.select(
        F.col(id_col).alias("sid"),
        F.col(vec_col).alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    csims = (
        a.join(b, F.col("cid") != F.col("sid"))
        .select(
            "cid",
            "sid",
            (dot_expr("__va", "__vb") / (F.col("__na") * F.col("__nb"))).alias(
                "sim"
            ),
        )
        .localCheckpoint(eager=True)  # bounded: N·(N−1) rows
    )
    lam_c, one_minus = F.lit(lam), F.lit(round(1.0 - lam, 12))
    first = (
        cand.orderBy(F.desc("rel"), F.asc("cid"))
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            F.col("cid"),
            F.col("rel"),
            F.col("rel").alias("mmr_score"),
        )
    )
    selected = first.localCheckpoint(eager=True)
    for r in range(2, k + 1):
        rem = cand.join(
            selected.select(F.col("cid")), "cid", "left_anti"
        )
        pen = (
            csims.join(
                F.broadcast(selected.select(F.col("cid").alias("sid"))),
                "sid",
            )
            .groupBy("cid")
            .agg(F.max("sim").alias("max_sim"))
        )
        scored = rem.join(pen, "cid").select(
            "cid",
            "rel",
            (lam_c * F.col("rel") - one_minus * F.col("max_sim")).alias(
                "mmr_score"
            ),
        )
        pick = (
            scored.orderBy(F.desc("mmr_score"), F.asc("cid"))
            .limit(1)
            .select(F.lit(r).alias("rank"), "cid", "rel", "mmr_score")
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.select(
        "rank", F.col("cid").alias(id_col), F.col("rel").alias("relevance"),
        "mmr_score",
    )


def semdedup_pairs(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.46,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs: bucket every
    vector by a FROZEN coarse quantizer (:func:`ivf_assign` against
    *centroids*, typically :func:`kmeans_centroids` output), then run
    exact cosine only WITHIN a cell — near-duplicates land in the
    same cell with high probability, so the O(n²) verify collapses
    to Σ|cell|², the same candidate-restriction trick the MinHash
    tier plays for text (SemDeDup, Abbas et al. 2023).

    Scale contract: pick ``num_centroids ≈ √n`` when training the
    quantizer so expected cell size stays √n and the per-cell pair
    join stays subquadratic; the cell equi-join shuffles each vector
    ONCE (keyed by cell), never the pair space. Recall is bounded by
    cell purity — pairs split across cells are missed, exactly the
    tradeoff :func:`..operators.dedup.embedding_cosine_pairs` (the
    brute-force verifier) exists to audit on samples.

    Output: (id_a, id_b, cell, cosine), id_a < id_b,
    cosine ≥ *threshold*.
    """
    from .dedup import dot_expr

    asg = ivf_assign(corpus, centroids, id_col, vec_col)
    a = asg.select(
        F.col("neighbor_id").alias("id_a"),
        F.col("__vc").alias("__va"),
        F.col("__nc").alias("__na"),
        "cell",
    )
    b = asg.select(
        F.col("neighbor_id").alias("id_b"),
        F.col("__vc").alias("__vb"),
        F.col("__nc").alias("__nb"),
        "cell",
    )
    cos = dot_expr("__va", "__vb") / (F.col("__na") * F.col("__nb"))
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.col("cell").cast("long").alias("cell"),
            _evaluated_once(cos).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def hard_negative_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
) -> DataFrame:
    """Hard-negative mining for contrastive training (the standard
    in-batch-negatives upgrade: DPR / SimCSE lineage): for each
    query vector, the top-*k* most-similar vectors with a DIFFERENT
    label — maximally confusable negatives, the ones worth training
    against. Same exact-cosine kernel as :func:`cosine_topk`, plus
    the cross-label gate.

    Scale shape: queries broadcast against the corpus (mining runs
    per training batch — the query side is small by construction);
    the corpus side stays partitioned, per-partition top-k folds
    into the final k under the rank window. The label gate prunes
    BEFORE the dot product, so same-label pairs never pay the
    64-float fold. For corpus-× -corpus mining, swap the broadcast
    for the IVF tier (`ivf_topk`) exactly as `mmr_ivf_topk` does.

    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cosine, rank), rank ties broken on neighbor_id.
    """
    c = _side(
        corpus, id_col, vec_col, "neighbor_id",
        F.col(label_col).alias("neighbor_label"),
    )
    q = _side(
        queries, id_col, vec_col, "query_id",
        F.col(label_col).alias("query_label"),
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            _cosine(),
        )
    )
    return _rank(sims, k).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def hard_negative_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """:func:`hard_negative_topk`'s corpus-scale form: candidates
    come from the IVF tier (probe *nprobe* cells per query) instead
    of a full broadcast cross join, and the cross-label gate applies
    INSIDE the probed cells, before the rank window — so the top-k
    is "best k cross-label candidates among the probed cells", the
    approximation every production mining pass makes (recall tunes
    with nprobe, verifiable against the exact tier the same way
    ann_ivf_recall verifies ivf_topk).

    Scale shape: one frozen-quantizer assignment of the corpus
    (reusable across batches — see :func:`ivf_assign`), then a
    broadcast of the (query, cell) probes against the cell-
    partitioned inverted file. Corpus work per batch =
    ~nprobe/num_centroids of the rows; no corpus shuffle, no pair
    space outside the probed cells.

    Output: (query_id, query_label, neighbor_id, neighbor_label,
    cosine, rank).
    """
    cents = (
        centroids
        if centroids is not None
        else ivf_centroids(corpus, id_col, vec_col, num_centroids)
    )
    index = ivf_assign(corpus, cents, id_col, vec_col).join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("neighbor_label"),
        ),
        "neighbor_id",
    )
    qn = _normed(queries.select(id_col, vec_col), vec_col)
    # _nearest_cells projects (id, vec, norm, cell) — re-attach the
    # query label afterwards (query-side join, batch-sized)
    probes = (
        _nearest_cells(qn, cents, id_col, vec_col, nprobe)
        .select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("__vq"),
            F.col("__norm").alias("__nq"),
            "cell",
        )
        .join(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("query_label"),
            ),
            "query_id",
        )
    )
    sims = (
        F.broadcast(probes)
        .join(index, "cell")
        .filter(
            (F.col("neighbor_id") != F.col("query_id"))
            & (F.col("neighbor_label") != F.col("query_label"))
        )
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            _cosine(),
        )
    )
    return _rank(sims, k).select(
        "query_id",
        "query_label",
        "neighbor_id",
        "neighbor_label",
        "cosine",
        F.col("rank").cast("long").alias("rank"),
    )


def semantic_contamination(
    corpus: DataFrame,
    ref: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.46,
    num_planes: int = 4,
    dim: int = 64,
    exclude_self: bool = True,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    vector whose cosine against ANY reference (benchmark) vector
    reaches *threshold*. The n-gram span tier
    (``dedup.span_contamination``) catches verbatim inclusions; this
    catches paraphrases and translations that share no surface
    tokens — the contamination mode n-gram matching provably misses.

    *exclude_self* (default True) drops candidate pairs whose corpus
    and reference ids are EQUAL — correct when the reference is a
    subset of the corpus sharing its id space (the registered-query
    shape: a doc must not count as contaminating itself). When the
    reference is a genuinely separate table with an independent id
    space, a coincidental id collision would silently suppress a
    real match — pass ``exclude_self=False`` there (r11 ADVICE).

    Scale shape: candidates come from a sign-LSH bucket equi-join
    (:func:`lsh_buckets`), never a cross join; the REFERENCE side is
    broadcast — benchmark suites are a few hundred thousand rows at
    most, tiny next to a 100 TB corpus — so the corpus streams
    through map-side with zero shuffle before the per-vector
    aggregate. Sign-LSH recall at one table is the documented
    trade; raise *num_planes* tables via ``plane_offset`` OR-probing
    (the `ann_lsh_multitable_topk` pattern) when a contamination
    audit needs recall guarantees.

    Output: (id, n_matches, max_cosine, is_contaminated) — one row
    per corpus vector; clean vectors carry 0 / NULL / 0.
    """
    cb = lsh_buckets(corpus, id_col, vec_col, num_planes, dim)
    rb = lsh_buckets(ref, id_col, vec_col, num_planes, dim)
    c = with_norm(cb, vec_col).select(
        F.col(id_col),
        F.col("bucket"),
        F.col(vec_col).alias("__vc"),
        F.col("__norm").alias("__nc"),
    )
    r = with_norm(rb, vec_col).select(
        F.col(id_col).alias("__rid"),
        F.col("bucket"),
        F.col(vec_col).alias("__vr"),
        F.col("__norm").alias("__nr"),
    )
    cos = dot_expr("__vc", "__vr") / (F.col("__nc") * F.col("__nr"))
    joined = c.join(F.broadcast(r), "bucket")
    if exclude_self:
        joined = joined.filter(F.col(id_col) != F.col("__rid"))
    matches = (
        joined.select(F.col(id_col), _evaluated_once(cos).alias("__cos"))
        .filter(F.col("__cos") >= F.lit(threshold))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.max("__cos").alias("max_cosine"),
        )
    )
    return corpus.select(id_col).join(matches, id_col, "left").select(
        id_col,
        F.coalesce("n_matches", F.lit(0)).cast("long").alias("n_matches"),
        F.col("max_cosine"),
        (F.coalesce("n_matches", F.lit(0)) > 0)
        .cast("long")
        .alias("is_contaminated"),
    )


def truncated_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    trunc_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-*k* by cosine over the first *trunc_dim* dimensions
    only (prefix truncation, renormalized on the prefix): the
    retrieval half of a Matryoshka (MRL) evaluation — embeddings
    trained with nested objectives keep most of their ranking power
    in a short prefix, so the index can store ``trunc_dim/dim`` of
    the bytes and scan proportionally less. Same contract as
    :func:`cosine_topk` (self-matches excluded, neighbor_id
    tiebreak)."""
    trunc = F.slice(F.col(vec_col), 1, trunc_dim).alias("__t")
    return cosine_topk(
        corpus.select(id_col, trunc),
        queries.select(id_col, trunc),
        id_col,
        "__t",
        k,
    )


def matryoshka_ivf_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    trunc_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    rerank_k: int = 25,
    num_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """The Matryoshka PRODUCTION tier that
    :func:`truncated_cosine_topk` only evaluates: build the IVF
    index on the first *trunc_dim* dimensions (index bytes and
    probe cost shrink to trunc_dim/dim), retrieve *rerank_k*
    candidates per query by truncated cosine inside the probed
    cells, then rerank just those candidates with the FULL-dim
    cosine — the standard two-stage retrieve-then-rerank shape
    (coarse cheap recall, exact precision on a k-sized set).

    Scale shape: everything corpus-sized happens in the truncated
    space (assignment scan, cell equi-join); the full-dim vectors
    are touched only for rerank_k·|queries| candidate rows, joined
    id-keyed against the corpus (candidates are tiny — Spark
    broadcasts them). Recall is bounded by the truncated tier's
    candidate recall; raise *rerank_k*/*nprobe* or *trunc_dim*
    to trade cost for recall, using `matryoshka_recall_sweep` to
    pick the dim.

    Output: (query_id, neighbor_id, cosine, rank) — full-dim
    cosine, top-*k*, self excluded, neighbor_id tiebreak.
    """
    t = F.slice(F.col(vec_col), 1, trunc_dim)
    tc = corpus.select(F.col(id_col), t.alias("__tv"))
    tq = queries.select(F.col(id_col), t.alias("__tv"))
    cents = ivf_centroids(tc, id_col, "__tv", num_centroids)
    index = ivf_assign(tc, cents, id_col, "__tv")
    cand = ivf_topk_from_index(
        index, tq, cents, id_col, "__tv", k=rerank_k, nprobe=nprobe
    ).select("query_id", "neighbor_id")
    return cosine_rerank(cand, corpus, queries, id_col, vec_col, k)
