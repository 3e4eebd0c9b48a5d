"""Similarity-search queries over the `embeddings` table.

Brute-force exact top-k (the baseline + verifier) and the
LSH-bucketed approximate variant (the scale path), both
oracle-checked against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import cosine_topk, lsh_buckets, lsh_topk
from ..session import load_tables
from . import register

# DuckDB equivalents of the engine's fold-based cosine machinery
_NORM_CTE = """
  n AS (
    SELECT vec_id, embedding,
           sqrt(list_reduce(
             list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
             (acc, v) -> acc + v)) AS nrm
    FROM embeddings
  )
"""

_COS = """list_reduce(
             list_transform(range(1, 65),
               i -> CAST(q.embedding[i] AS DOUBLE)
                    * CAST(c.embedding[i] AS DOUBLE)),
             (acc, v) -> acc + v) / (q.nrm * c.nrm)"""

# bucket expression (must mirror operators.similarity._plane_weights_expr)
_BUCKET = """
    (CASE WHEN list_reduce(list_transform(range(1, 65),
        d -> CAST({e}[d] AS DOUBLE)
             * ((ascii(substr(md5('p0_' || CAST(d AS VARCHAR)), 1, 1)) % 2) * 2 - 1)),
        (acc, v) -> acc + v) > 0 THEN 1 ELSE 0 END
   + CASE WHEN list_reduce(list_transform(range(1, 65),
        d -> CAST({e}[d] AS DOUBLE)
             * ((ascii(substr(md5('p1_' || CAST(d AS VARCHAR)), 1, 1)) % 2) * 2 - 1)),
        (acc, v) -> acc + v) > 0 THEN 2 ELSE 0 END
   + CASE WHEN list_reduce(list_transform(range(1, 65),
        d -> CAST({e}[d] AS DOUBLE)
             * ((ascii(substr(md5('p2_' || CAST(d AS VARCHAR)), 1, 1)) % 2) * 2 - 1)),
        (acc, v) -> acc + v) > 0 THEN 4 ELSE 0 END
   + CASE WHEN list_reduce(list_transform(range(1, 65),
        d -> CAST({e}[d] AS DOUBLE)
             * ((ascii(substr(md5('p3_' || CAST(d AS VARCHAR)), 1, 1)) % 2) * 2 - 1)),
        (acc, v) -> acc + v) > 0 THEN 8 ELSE 0 END)
"""


@register(
    "ann_bruteforce_topk",
    f"""
    WITH {_NORM_CTE},
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM n q JOIN n c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_tables(spark, sf_dir, "embeddings")
    return cosine_topk(em, em.filter(F.col("vec_id") < 10), k=5)


@register(
    "lsh_bucket_assignments",
    f"""
    SELECT vec_id,
           CAST({_BUCKET.format(e='embedding')} AS BIGINT) AS bucket
    FROM embeddings
    """,
)
def lsh_bucket_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_tables(spark, sf_dir, "embeddings")
    return lsh_buckets(em).select("vec_id", "bucket")


@register(
    "ann_lsh_topk",
    f"""
    WITH {_NORM_CTE},
    b AS (
      SELECT vec_id,
             CAST({_BUCKET.format(e='embedding')} AS BIGINT) AS bucket
      FROM embeddings
    ),
    nb AS (SELECT n.*, b.bucket FROM n JOIN b USING (vec_id)),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM nb q JOIN nb c
        ON q.bucket = c.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_tables(spark, sf_dir, "embeddings")
    return lsh_topk(em, em.filter(F.col("vec_id") < 10), k=5)


# --------------------------------------------------------------------------
# recall@5 of the LSH path against brute-force ground truth — the
# self-evaluation every ANN deployment needs (tune num_planes until
# recall is acceptable, then ship the bucketed path)
# --------------------------------------------------------------------------
@register(
    "ann_lsh_recall",
    f"""
    WITH {_NORM_CTE},
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM n q JOIN n c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM sims
      ) WHERE rank <= 5
    ),
    b AS (
      SELECT vec_id,
             CAST({_BUCKET.format(e='embedding')} AS BIGINT) AS bucket
      FROM embeddings
    ),
    nb AS (SELECT n.*, b.bucket FROM n JOIN b USING (vec_id)),
    lsims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM nb q JOIN nb c
        ON q.bucket = c.bucket AND c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    lsh AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM lsims
      ) WHERE rank <= 5
    ),
    hits AS (
      SELECT bf.query_id, COUNT(lsh.neighbor_id) AS n_hits
      FROM bf LEFT JOIN lsh
        ON bf.query_id = lsh.query_id AND bf.neighbor_id = lsh.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT query_id, n_hits, n_hits / 5.0 AS recall_at_5 FROM hits
    """,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_tables(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10)
    bf = cosine_topk(em, q, k=5).select("query_id", "neighbor_id")
    lsh = lsh_topk(em, q, k=5).select(
        "query_id", F.col("neighbor_id").alias("lsh_neighbor")
    )
    hits = (
        bf.join(
            lsh,
            (bf.query_id == lsh.query_id)
            & (bf.neighbor_id == lsh.lsh_neighbor),
            "left",
        )
        .groupBy(bf.query_id)
        .agg(F.count("lsh_neighbor").alias("n_hits"))
    )
    return hits.select(
        "query_id", "n_hits", (F.col("n_hits") / 5.0).alias("recall_at_5")
    )


def _bucket_sql(e: str, planes: int, offset: int) -> str:
    """DuckDB sign-LSH bucket expression for a table at *offset*
    (mirrors ``operators.similarity._plane_weights_expr``)."""
    cases = "\n   + ".join(
        f"""CASE WHEN list_reduce(list_transform(range(1, 65),
        d -> CAST({e}[d] AS DOUBLE)
             * ((ascii(substr(md5('p{offset + p}_' || CAST(d AS VARCHAR)), 1, 1)) % 2) * 2 - 1)),
        (acc, v) -> acc + v) > 0 THEN {1 << p} ELSE 0 END"""
        for p in range(planes)
    )
    return "(" + cases + ")"


# --------------------------------------------------------------------------
# multi-table (OR-amplified) LSH — the serving configuration: union of
# same-bucket candidates over 2 independent 3-plane tables, distinct,
# exact rank once per surviving pair.
# --------------------------------------------------------------------------
@register(
    "ann_lsh_multitable_topk",
    f"""
    WITH {_NORM_CTE},
    b0 AS (
      SELECT vec_id,
             CAST({_bucket_sql('embedding', 3, 0)} AS BIGINT) AS bucket
      FROM embeddings
    ),
    b1 AS (
      SELECT vec_id,
             CAST({_bucket_sql('embedding', 3, 3)} AS BIGINT) AS bucket
      FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM b0 q JOIN b0 c ON q.bucket = c.bucket
        WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
        UNION ALL
        SELECT q.vec_id, c.vec_id
        FROM b1 q JOIN b1 c ON q.bucket = c.bucket
        WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
      )
    ),
    sims AS (
      SELECT cand.query_id, cand.neighbor_id, {_COS} AS cosine
      FROM cand
      JOIN n q ON q.vec_id = cand.query_id
      JOIN n c ON c.vec_id = cand.neighbor_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import lsh_topk_multitable

    em = load_tables(spark, sf_dir, "embeddings")
    return lsh_topk_multitable(
        em, em.filter(F.col("vec_id") < 10), k=5, num_planes=3, num_tables=2
    )


# --------------------------------------------------------------------------
# IVF ANN — inverted-file variant: corpus assigned to nearest-centroid
# cells (deterministic lowest-id centroids), queries probe their 4
# nearest of 16 cells, exact rank only within probed cells.
# --------------------------------------------------------------------------
@register(
    "ann_ivf_topk",
    f"""
    WITH {_NORM_CTE},
    cent AS (SELECT vec_id, embedding, nrm FROM n ORDER BY vec_id LIMIT 16),
    asg AS (
      SELECT id, cell FROM (
        SELECT q.vec_id AS id, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
      ) WHERE rnk = 1
    ),
    probe AS (
      SELECT qid, cell FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
        WHERE q.vec_id < 10
      ) WHERE rnk <= 4
    ),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cosine
      FROM probe p
      JOIN asg a ON a.cell = p.cell
      JOIN n q ON q.vec_id = p.qid
      JOIN n c ON c.vec_id = a.id
      WHERE c.vec_id != q.vec_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    em = load_tables(spark, sf_dir, "embeddings")
    return ivf_topk(
        em, em.filter(F.col("vec_id") < 10), k=5, num_centroids=16, nprobe=4
    )


# --------------------------------------------------------------------------
# recall@5 of the IVF path against brute force — same evaluation as
# ann_lsh_recall, for the inverted-file variant (tune nprobe /
# centroid count until recall is acceptable).
# --------------------------------------------------------------------------
_IVF_CANDIDATES = f"""
    cent AS (SELECT vec_id, embedding, nrm FROM n ORDER BY vec_id LIMIT 16),
    asg AS (
      SELECT id, cell FROM (
        SELECT q.vec_id AS id, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
      ) WHERE rnk = 1
    ),
    probe AS (
      SELECT qid, cell FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
        WHERE q.vec_id < 10
      ) WHERE rnk <= 4
    ),
    isims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cosine
      FROM probe p
      JOIN asg a ON a.cell = p.cell
      JOIN n q ON q.vec_id = p.qid
      JOIN n c ON c.vec_id = a.id
      WHERE c.vec_id != q.vec_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM isims
      ) WHERE rank <= 5
    )
"""


@register(
    "ann_ivf_recall",
    f"""
    WITH {_NORM_CTE},
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM n q JOIN n c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM sims
      ) WHERE rank <= 5
    ),
    {_IVF_CANDIDATES},
    hits AS (
      SELECT bf.query_id, COUNT(ivf.neighbor_id) AS n_hits
      FROM bf LEFT JOIN ivf
        ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT query_id, n_hits, n_hits / 5.0 AS recall_at_5 FROM hits
    """,
)
def ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk

    em = load_tables(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < 10)
    bf = cosine_topk(em, q, k=5).select("query_id", "neighbor_id")
    ivf = ivf_topk(em, q, k=5, num_centroids=16, nprobe=4).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    hits = (
        bf.join(
            ivf,
            (bf.query_id == ivf.query_id)
            & (bf.neighbor_id == ivf.ivf_neighbor),
            "left",
        )
        .groupBy(bf.query_id)
        .agg(F.count("ivf_neighbor").alias("n_hits"))
    )
    return hits.select(
        "query_id", "n_hits", (F.col("n_hits") / 5.0).alias("recall_at_5")
    )


def _lloyd_oracle_sql(
    rounds: int, num_centroids: int | str = 16, dim: int = 64
) -> str:
    """Unrolled spherical k-means Lloyd rounds as DuckDB CTEs.

    *num_centroids* may be an int OR a SQL scalar-subquery string
    (e.g. :data:`_SEMDEDUP_K_SQL`) — it lands in the seed CTE's
    ``LIMIT``, which DuckDB evaluates per-dataset, so one static
    oracle string replays a DATA-DEPENDENT cell count. Every other
    CTE is K-agnostic (the assignment cross-join and the per-cell
    means range over whatever c0 holds).

    Mirrors :func:`..operators.similarity.kmeans_centroids` with
    ``tol=0`` (fixed round count) bit-for-bit: seed = lowest-id
    vectors; assignment = cosine argmax with cell-id tiebreak
    (same fold order as the green ``_COS``); centroid update =
    exact fixed-point mean (``floor(x·1e10)`` integer sums, one
    double division — identical IEEE ops in both engines); empty
    cells keep their previous centroid; centroid norm = the same
    left fold + sqrt the Spark trainer computes (``or 1.0`` on a
    zero norm). The trainer being iterative no longer exempts it
    from the hash gate — the oracle replays every round.
    """
    d1 = dim + 1

    def norm(expr: str) -> str:
        s = (
            f"sqrt(list_reduce(list_transform({expr}, x -> x * x), "
            "(acc, v) -> acc + v))"
        )
        return f"(CASE WHEN {s} = 0 THEN 1.0 ELSE {s} END)"

    ctes = [
        f"""c0 AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY vec_id LIMIT {num_centroids})
    )""",
        f"cn0 AS (SELECT cid, cvec, {norm('cvec')} AS cnorm FROM c0)",
    ]
    cell_cos = (
        f"list_reduce(list_transform(range(1, {d1}), i -> "
        "CAST(v.embedding[i] AS DOUBLE) * c.cvec[i]), "
        "(acc, x) -> acc + x) / (v.nrm * c.cnorm)"
    )
    for r in range(1, rounds + 1):
        p = r - 1
        ctes += [
            f"""a{r} AS (
      SELECT vec_id, cell FROM (
        SELECT v.vec_id, c.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {cell_cos} DESC, c.cid ASC) AS rnk
        FROM n v CROSS JOIN cn{p} c
      ) WHERE rnk = 1
    )""",
            f"""m{r} AS (
      SELECT a.cell AS cid, d.i AS i,
             CAST(SUM(CAST(floor(CAST(v.embedding[d.i] AS DOUBLE) * 1e10)
                           AS BIGINT)) AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * 1e10) AS mu
      FROM a{r} a JOIN n v USING (vec_id)
           CROSS JOIN (SELECT UNNEST(range(1, {d1})) AS i) d
      GROUP BY a.cell, d.i
    )""",
            f"""g{r} AS (
      SELECT cid, list(mu ORDER BY i) AS cvec FROM m{r} GROUP BY cid
    )""",
            f"""c{r} AS (
      SELECT p.cid, COALESCE(g.cvec, p.cvec) AS cvec
      FROM cn{p} p LEFT JOIN g{r} g USING (cid)
    )""",
            f"cn{r} AS (SELECT cid, cvec, {norm('cvec')} AS cnorm FROM c{r})",
        ]
    return ",\n    ".join(ctes)


_KM_ROUNDS = 6
_KM_FINAL = f"cn{_KM_ROUNDS}"


def _SEMDEDUP_K(n: int) -> int:
    """SemDeDup cell count at the operator's scale contract
    (``semdedup_pairs`` docstring): K = max(16, ⌊√n⌋), so expected
    cell size stays ≈√n and the within-cell pair join stays
    subquadratic — the SemDeDup paper's K ∝ n configuration. The
    fixed-K=16 alternative measured superlinear at sf1 (exponent
    1.18 vs 0.40, SCALING.md round-6 rows). Must stay arithmetically
    identical to :data:`_SEMDEDUP_K_SQL` (double sqrt, floor,
    16 floor) — both engines derive K from the same corpus count,
    so the unrolled Lloyd oracle trains the same quantizer."""
    import math

    return max(16, int(math.floor(math.sqrt(float(n)))))


#: DuckDB twin of :func:`_SEMDEDUP_K`, as a scalar subquery usable in
#: the Lloyd seed CTE's LIMIT.
_SEMDEDUP_K_SQL = (
    "(SELECT GREATEST(16, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) "
    "AS BIGINT)) FROM embeddings)"
)

_KMEANS_RECALL_ORACLE = f"""
    WITH {_NORM_CTE},
    {_lloyd_oracle_sql(_KM_ROUNDS)},
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM n q JOIN n c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM sims
      ) WHERE rank <= 5
    ),
    asg AS (
      SELECT id, cell FROM (
        SELECT v.vec_id AS id, c.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_reduce(list_transform(range(1, 65), i ->
                     CAST(v.embedding[i] AS DOUBLE) * c.cvec[i]),
                     (acc, x) -> acc + x) / (v.nrm * c.cnorm) DESC,
                   c.cid ASC) AS rnk
        FROM n v CROSS JOIN {_KM_FINAL} c
      ) WHERE rnk = 1
    ),
    probe AS (
      SELECT qid, cell FROM (
        SELECT v.vec_id AS qid, c.cid AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY list_reduce(list_transform(range(1, 65), i ->
                     CAST(v.embedding[i] AS DOUBLE) * c.cvec[i]),
                     (acc, x) -> acc + x) / (v.nrm * c.cnorm) DESC,
                   c.cid ASC) AS rnk
        FROM n v CROSS JOIN {_KM_FINAL} c
        WHERE v.vec_id < 10
      ) WHERE rnk <= 4
    ),
    isims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {_COS} AS cosine
      FROM probe p
      JOIN asg a ON a.cell = p.cell
      JOIN n q ON q.vec_id = p.qid
      JOIN n c ON c.vec_id = a.id
      WHERE c.vec_id != q.vec_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM isims
      ) WHERE rank <= 5
    ),
    hits AS (
      SELECT bf.query_id, COUNT(ivf.neighbor_id) AS n_hits
      FROM bf LEFT JOIN ivf
        ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT query_id, n_hits, n_hits / 5.0 AS recall_at_5 FROM hits
    """


def _km_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once spherical k-means centroids (16 cells,
    ``_KM_ROUNDS`` rounds, ``tol=0``), localCheckpoint-ed: the first
    consumer in a process pays the Lloyd training (the path every
    consumer's oracle replays as unrolled SQL). The IVF recall
    fixture serves from this frozen 16-cell quantizer; the SemDeDup
    queries moved to :func:`_km_index_scaled` (K = max(16, ⌊√n⌋),
    the operator's scale contract) in round 9. See
    queries/_artifacts.py."""
    from ..operators.similarity import kmeans_centroids
    from ._artifacts import fit_once

    def build():
        em = load_tables(spark, sf_dir, "embeddings")
        return kmeans_centroids(
            em, num_centroids=16, max_iter=_KM_ROUNDS, tol=0.0
        ).localCheckpoint(eager=True)

    return fit_once(spark, sf_dir, "km_centroids", build)


def _km_index_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once quantizer at the SemDeDup scale contract:
    K = :func:`_SEMDEDUP_K`(corpus count) cells instead of the fixed
    16 the IVF recall fixture pins. The SemDeDup queries serve from
    this artifact so the REGISTERED (benched, driver-checked)
    configuration is the one whose cell join stays subquadratic at
    scale; its oracle replays the same training with the cell count
    derived in SQL (:data:`_SEMDEDUP_K_SQL`). The corpus count is
    the one extra action (a scalar aggregate, bounded)."""
    from ..operators.similarity import kmeans_centroids
    from ._artifacts import fit_once

    def build():
        em = load_tables(spark, sf_dir, "embeddings")
        k = _SEMDEDUP_K(em.count())
        return kmeans_centroids(
            em, num_centroids=k, max_iter=_KM_ROUNDS, tol=0.0
        ).localCheckpoint(eager=True)

    return fit_once(spark, sf_dir, "km_centroids_scaled", build)


@register("ann_ivf_kmeans_recall", _KMEANS_RECALL_ORACLE)
def ann_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of IVF probing with a TRAINED (spherical k-means)
    coarse quantizer instead of the deterministic lowest-id pick.

    The Lloyd loop is pinned to ``tol=0`` (exactly ``_KM_ROUNDS``
    rounds) and the trainer's centroid update is exact fixed-point
    arithmetic, so the oracle can replay the full training as
    unrolled SQL CTEs (:func:`_lloyd_oracle_sql`) — the one former
    ``oracle: None`` registry entry is now hash-checked end to end.
    """
    from ..operators.similarity import ivf_topk

    em = load_tables(spark, sf_dir, "embeddings")
    cents = _km_index(spark, sf_dir)
    q = em.filter(F.col("vec_id") < 10)
    bf = cosine_topk(em, q, k=5).select("query_id", "neighbor_id")
    ivf = ivf_topk(em, q, k=5, nprobe=4, centroids=cents).select(
        "query_id", F.col("neighbor_id").alias("ivf_neighbor")
    )
    hits = (
        bf.join(
            ivf,
            (bf.query_id == ivf.query_id)
            & (bf.neighbor_id == ivf.ivf_neighbor),
            "left",
        )
        .groupBy(bf.query_id)
        .agg(F.count("ivf_neighbor").alias("n_hits"))
    )
    return hits.select(
        "query_id", "n_hits", (F.col("n_hits") / 5.0).alias("recall_at_5")
    )


# --------------------------------------------------------------------------
# IVF-PQ companion: product-quantization ADC recall. The whole
# pipeline — unit-normalize, per-subspace Lloyd training, encoding,
# LUT-based asymmetric distances — replays in SQL because every
# mean is exact fixed-point and every ADC term is floor-quantized
# to an 1e-12 integer grid before summing (operators/pq.py).
# --------------------------------------------------------------------------
_PQ_M = 8
_PQ_KSUB = 16
_PQ_DSUB = 8
_PQ_ROUNDS = 3


def _pq_index(spark: SparkSession, sf_dir: str):
    """Train-once PQ index for *sf_dir*: (codebook, codes), both
    localCheckpoint-ed. The first PQ query in a process trains (3
    Lloyd rounds — the path every PQ oracle replays); later queries
    and the bench's timed loop reuse the frozen artifact, mirroring
    the train-once/search-many deployment (`pq_encode`'s frozen-book
    contract). See queries/_artifacts.py."""
    from ..operators.pq import normalize_vectors, pq_encode, pq_train
    from ._artifacts import fit_once

    def build():
        em = load_tables(spark, sf_dir, "embeddings")
        nv = normalize_vectors(em)
        book = pq_train(
            nv, m=_PQ_M, ksub=_PQ_KSUB, rounds=_PQ_ROUNDS
        ).localCheckpoint(eager=True)
        codes = pq_encode(
            nv, book, m=_PQ_M, dsub=_PQ_DSUB
        ).localCheckpoint(eager=True)
        return book, codes

    return fit_once(spark, sf_dir, "pq_index", build)


from ._artifacts import register_prewarm as _register_prewarm  # noqa: E402

_register_prewarm(
    "pq_index",
    _pq_index,
    consumers={
        "ann_pq_adc_recall", "ann_pq_rerank_recall", "ann_ivfpq_recall",
    },
)

_register_prewarm(
    "km_centroids",
    _km_index,
    consumers={"ann_ivf_kmeans_recall"},
)

_register_prewarm(
    "km_centroids_scaled",
    _km_index_scaled,
    consumers={
        "semdedup_cluster_pairs",
        "semdedup_recall_audit",
    },
)


def _pq_oracle_sql(
    m: int, ksub: int, dsub: int, rounds: int
) -> tuple[str, str]:
    d1 = dsub + 1
    mean = (
        "CAST(SUM(CAST(floor(CAST(s.sv[d.i] AS DOUBLE) * 1e10)"
        " AS BIGINT)) AS DOUBLE)"
        " / (CAST(COUNT(*) AS DOUBLE) * 1e10)"
    )
    l2 = (
        f"list_reduce(list_transform(range(1, {d1}), i -> "
        "(CAST(s.sv[i] AS DOUBLE) - c.cvec[i])"
        " * (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])), "
        "(acc, x) -> acc + x)"
    )
    ctes = [
        """nv AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS v
      FROM n
    )""",
        f"""sv AS (
      SELECT vec_id, s.sub,
             v[(s.sub * {dsub} + 1):(s.sub * {dsub} + {dsub})] AS sv
      FROM nv, UNNEST(range(0, {m})) AS s(sub)
    )""",
        f"""b0 AS (
      SELECT sub,
             CAST(ROW_NUMBER() OVER (PARTITION BY sub ORDER BY vec_id)
                  - 1 AS INT) AS code,
             sv AS cvec
      FROM sv WHERE vec_id IN (
        SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {ksub})
    )""",
    ]
    prev = "b0"
    for r in range(1, rounds + 1):
        ctes += [
            f"""pa{r} AS (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.sub
                 ORDER BY {l2} ASC, c.code ASC) AS rnk
        FROM sv s JOIN {prev} c USING (sub)
      ) WHERE rnk = 1
    )""",
            f"""pm{r} AS (
      SELECT a.sub, a.code, d.i AS i, {mean} AS mu
      FROM pa{r} a JOIN sv s USING (vec_id, sub)
           CROSS JOIN (SELECT UNNEST(range(1, {d1})) AS i) d
      GROUP BY a.sub, a.code, d.i
    )""",
            f"""pg{r} AS (
      SELECT sub, code, list(mu ORDER BY i) AS cvec
      FROM pm{r} GROUP BY sub, code
    )""",
            f"""b{r} AS (
      SELECT p.sub, p.code, COALESCE(g.cvec, p.cvec) AS cvec
      FROM {prev} p LEFT JOIN pg{r} g USING (sub, code)
    )""",
        ]
        prev = f"b{r}"
    return ",\n    ".join(ctes), prev


_PQ_CTES, _PQ_BOOK = _pq_oracle_sql(_PQ_M, _PQ_KSUB, _PQ_DSUB, _PQ_ROUNDS)

_PQ_RECALL_ORACLE = f"""
    WITH {_NORM_CTE},
    {_PQ_CTES},
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.sub
                 ORDER BY list_reduce(list_transform(range(1, {_PQ_DSUB + 1}),
                     i -> (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])
                          * (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])),
                     (acc, x) -> acc + x) ASC, c.code ASC) AS rnk
        FROM sv s JOIN {_PQ_BOOK} c USING (sub)
      ) WHERE rnk = 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, s.sub, c.code,
             CAST(floor(list_reduce(list_transform(range(1, {_PQ_DSUB + 1}),
                 i -> (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])
                      * (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])),
                 (acc, x) -> acc + x) * CAST(1e12 AS DOUBLE))
               AS BIGINT) AS dq
      FROM sv s JOIN {_PQ_BOOK} c USING (sub)
      WHERE s.vec_id < 10
    ),
    scored AS (
      SELECT l.query_id, cd.vec_id AS neighbor_id,
             (CAST(SUM(l.dq) AS DOUBLE) / CAST(1e12 AS DOUBLE)) AS adist
      FROM codes cd JOIN lut l USING (sub, code)
      WHERE cd.vec_id <> l.query_id
      GROUP BY l.query_id, cd.vec_id
    ),
    pq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
        ) AS rank FROM scored
      ) WHERE rank <= 5
    ),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM n q JOIN n c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM sims
      ) WHERE rank <= 5
    ),
    hits AS (
      SELECT bf.query_id, COUNT(pq.neighbor_id) AS n_hits
      FROM bf LEFT JOIN pq
        ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT query_id, CAST(n_hits AS BIGINT) AS n_hits,
           (CAST(n_hits AS DOUBLE) / CAST(5.0 AS DOUBLE)) AS recall_at_5
    FROM hits
    """


@register("ann_pq_adc_recall", _PQ_RECALL_ORACLE)
def ann_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of a pure-PQ ADC scan (m=8 subspaces × 16 codes over
    unit-normalized vectors) against brute-force cosine — the
    compressed-corpus search path that composes with IVF cells for
    the full IVF-PQ index. Training, encoding, and the quantized ADC
    are all replayed by the oracle as unrolled SQL; training runs
    once per process via the `_pq_index` frozen artifact."""
    from ..operators.pq import normalize_vectors, pq_adc_topk

    em = load_tables(spark, sf_dir, "embeddings")
    nv = normalize_vectors(em)
    book, codes = _pq_index(spark, sf_dir)
    q = nv.filter(F.col("vec_id") < 10)
    pq_top = pq_adc_topk(
        codes, book, q, m=_PQ_M, dsub=_PQ_DSUB, k=5
    ).select("query_id", F.col("neighbor_id").alias("pq_neighbor"))
    bf = cosine_topk(em, em.filter(F.col("vec_id") < 10), k=5).select(
        "query_id", "neighbor_id"
    )
    hits = (
        bf.join(
            pq_top,
            (bf.query_id == pq_top.query_id)
            & (bf.neighbor_id == pq_top.pq_neighbor),
            "left",
        )
        .groupBy(bf.query_id)
        .agg(F.count("pq_neighbor").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits").cast("double") / F.lit(5.0)).alias("recall_at_5"),
    )


# --------------------------------------------------------------------------
# The deployed PQ pattern: ADC top-50 candidates from the compressed
# codes, exact-cosine rerank to top-5 (recall 0.26 → 0.74 on this
# corpus). Compressed scan prunes, raw vectors are touched only for
# |candidates| rows per query.
# --------------------------------------------------------------------------
_PQ_RERANK_CAND = 50

_PQ_RERANK_ORACLE = _PQ_RECALL_ORACLE.replace(
    """    pq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
        ) AS rank FROM scored
      ) WHERE rank <= 5
    ),""",
    f"""    cand AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
        ) AS rank FROM scored
      ) WHERE rank <= {_PQ_RERANK_CAND}
    ),
    rr AS (
      SELECT ca.query_id, ca.neighbor_id,
             list_reduce(list_transform(range(1, 65),
               i -> CAST(q.embedding[i] AS DOUBLE)
                    * CAST(c.embedding[i] AS DOUBLE)),
             (acc, v) -> acc + v) / (q.nrm * c.nrm) AS cosine
      FROM cand ca JOIN n q ON q.vec_id = ca.query_id
      JOIN n c ON c.vec_id = ca.neighbor_id
    ),
    pq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank FROM rr
      ) WHERE rank <= 5
    ),""",
)
assert "cand AS" in _PQ_RERANK_ORACLE  # replace() must have matched


@register("ann_pq_rerank_recall", _PQ_RERANK_ORACLE)
def ann_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of PQ-ADC top-50 reranked by exact cosine — the
    standard compressed-index deployment (scan codes, rerank the
    short list with raw vectors). Same replayable pipeline as
    ``ann_pq_adc_recall`` plus one candidate join; training runs
    once per process via the `_pq_index` frozen artifact."""
    from ..operators.pq import normalize_vectors, pq_adc_topk
    from ..operators.similarity import cosine_rerank

    em = load_tables(spark, sf_dir, "embeddings")
    nv = normalize_vectors(em)
    book, codes = _pq_index(spark, sf_dir)
    cand = pq_adc_topk(
        codes, book, nv.filter(F.col("vec_id") < 10),
        m=_PQ_M, dsub=_PQ_DSUB, k=_PQ_RERANK_CAND,
    ).select("query_id", "neighbor_id")
    pq_top = cosine_rerank(cand, em, em, k=5).select(
        "query_id", F.col("neighbor_id").alias("pq_neighbor")
    )
    bf = cosine_topk(em, em.filter(F.col("vec_id") < 10), k=5).select(
        "query_id", "neighbor_id"
    )
    hits = (
        bf.join(
            pq_top,
            (bf.query_id == pq_top.query_id)
            & (bf.neighbor_id == pq_top.pq_neighbor),
            "left",
        )
        .groupBy(bf.query_id)
        .agg(F.count("pq_neighbor").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits").cast("double") / F.lit(5.0)).alias("recall_at_5"),
    )


# --------------------------------------------------------------------------
# The full IVF-PQ composition: coarse cells prune the corpus (probe
# 4 of 16), the PQ code table scores only the surviving cells via
# ADC, and n_candidates records the scan reduction. Recall is
# measured against exact brute force; every stage (coarse assign,
# PQ training, encoding, quantized ADC) replays in the oracle.
# --------------------------------------------------------------------------
_IVFPQ_ORACLE = f"""
    WITH {_NORM_CTE},
    {_PQ_CTES},
    codes AS (
      SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.vec_id, s.sub
                 ORDER BY list_reduce(list_transform(range(1, {_PQ_DSUB + 1}),
                     i -> (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])
                          * (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])),
                     (acc, x) -> acc + x) ASC, c.code ASC) AS rnk
        FROM sv s JOIN {_PQ_BOOK} c USING (sub)
      ) WHERE rnk = 1
    ),
    lut AS (
      SELECT s.vec_id AS query_id, s.sub, c.code,
             CAST(floor(list_reduce(list_transform(range(1, {_PQ_DSUB + 1}),
                 i -> (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])
                      * (CAST(s.sv[i] AS DOUBLE) - c.cvec[i])),
                 (acc, x) -> acc + x) * CAST(1e12 AS DOUBLE))
               AS BIGINT) AS dq
      FROM sv s JOIN {_PQ_BOOK} c USING (sub)
      WHERE s.vec_id < 10
    ),
    cent AS (SELECT vec_id, embedding, nrm FROM n ORDER BY vec_id LIMIT 16),
    asg AS (
      SELECT id, cell FROM (
        SELECT q.vec_id AS id, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
      ) WHERE rnk = 1
    ),
    probe AS (
      SELECT qid, cell FROM (
        SELECT q.vec_id AS qid, c.vec_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id ORDER BY {_COS} DESC, c.vec_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
        WHERE q.vec_id < 10
      ) WHERE rnk <= 4
    ),
    cand AS (
      SELECT p.qid AS query_id, a.id AS neighbor_id
      FROM probe p JOIN asg a ON a.cell = p.cell
      WHERE a.id <> p.qid
    ),
    scored AS (
      SELECT ca.query_id, ca.neighbor_id,
             (CAST(SUM(l.dq) AS DOUBLE) / CAST(1e12 AS DOUBLE)) AS adist
      FROM cand ca
      JOIN codes cd ON cd.vec_id = ca.neighbor_id
      JOIN lut l ON l.query_id = ca.query_id
                AND l.sub = cd.sub AND l.code = cd.code
      GROUP BY ca.query_id, ca.neighbor_id
    ),
    pq AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
        ) AS rank FROM scored
      ) WHERE rank <= 5
    ),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS} AS cosine
      FROM n q JOIN n c ON c.vec_id != q.vec_id
      WHERE q.vec_id < 10
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
        ) AS rank FROM sims
      ) WHERE rank <= 5
    ),
    ncand AS (
      SELECT query_id, COUNT(*) AS n_candidates FROM cand GROUP BY query_id
    ),
    hits AS (
      SELECT bf.query_id, COUNT(pq.neighbor_id) AS n_hits
      FROM bf LEFT JOIN pq
        ON bf.query_id = pq.query_id AND bf.neighbor_id = pq.neighbor_id
      GROUP BY bf.query_id
    )
    SELECT h.query_id, CAST(nc.n_candidates AS BIGINT) AS n_candidates,
           CAST(h.n_hits AS BIGINT) AS n_hits,
           (CAST(h.n_hits AS DOUBLE) / CAST(5.0 AS DOUBLE)) AS recall_at_5
    FROM hits h JOIN ncand nc ON nc.query_id = h.query_id
    """


@register("ann_ivfpq_recall", _IVFPQ_ORACLE)
def ann_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 and scan size of the composed IVF-PQ index: coarse
    cells prune to ~4/16 of the corpus (n_candidates), the PQ code
    table scores only those cells via quantized ADC. The 100 TB
    serving shape — cells partition the code table, a query reads 4
    partitions of 1-byte-per-subspace codes, raw vectors stay on
    cold storage for the final rerank (``ann_pq_rerank_recall``);
    training runs once per process via the `_pq_index` artifact."""
    from ..operators.dedup import with_norm
    from ..operators.pq import normalize_vectors
    from ..operators.similarity import _nearest_cells, ivf_assign, ivf_centroids
    from pyspark.sql import Window

    em = load_tables(spark, sf_dir, "embeddings")
    nv = normalize_vectors(em)
    book, codes = _pq_index(spark, sf_dir)
    cents = ivf_centroids(em, num_centroids=16)
    asg = ivf_assign(em, cents).select("neighbor_id", "cell")
    qraw = em.filter(F.col("vec_id") < 10)
    qn = with_norm(qraw.select("vec_id", "embedding"))
    probes = _nearest_cells(qn, cents, "vec_id", "embedding", 4).select(
        F.col("vec_id").alias("query_id"), "cell"
    )
    cand = (
        probes.join(asg, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
    )
    # ADC restricted to surviving cells
    from ..operators.pq import _subvectors, l2_expr

    qsv = _subvectors(
        nv.filter(F.col("vec_id") < 10), "vec_id", "embedding",
        _PQ_M, _PQ_DSUB,
    ).select(F.col("vec_id").alias("query_id"), "sub", "sv")
    lut = qsv.join(F.broadcast(book), "sub").select(
        "query_id",
        "sub",
        "code",
        F.floor(l2_expr("sv", "cvec") * F.lit(1e12))
        .cast("decimal(38,0)")
        .alias("__dq"),
    )
    scored = (
        cand.join(
            codes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
        )
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg((F.sum("__dq").cast("double") / F.lit(1e12)).alias("adist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    pq_top = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", F.col("neighbor_id").alias("pq_neighbor"))
    )
    bf = cosine_topk(em, qraw, k=5).select("query_id", "neighbor_id")
    ncand = cand.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    hits = (
        bf.join(
            pq_top,
            (bf.query_id == pq_top.query_id)
            & (bf.neighbor_id == pq_top.pq_neighbor),
            "left",
        )
        .groupBy(bf.query_id)
        .agg(F.count("pq_neighbor").alias("n_hits"))
    )
    return (
        hits.join(F.broadcast(ncand), "query_id")
        .select(
            "query_id",
            F.col("n_candidates").cast("long").alias("n_candidates"),
            F.col("n_hits").cast("long").alias("n_hits"),
            (F.col("n_hits").cast("double") / F.lit(5.0)).alias(
                "recall_at_5"
            ),
        )
    )
