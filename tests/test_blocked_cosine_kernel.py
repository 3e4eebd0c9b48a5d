"""The blocked Arrow/numpy cosine kernel (r14) must be BIT-identical
to the JVM ``aggregate``-fold forms it replaced: same IEEE operation
sequence (left-to-right over dimensions), same tie handling, any
block count. The top-k operators pick the kernel for an all-pairs
self-search (``queries is corpus``) and the JVM fold otherwise, so
each comparison reaches the JVM route through ``df.select("*")``."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_python_azure_spark.operators import dedup, similarity
from etl_python_azure_spark.operators.dedup import (
    dot_expr,
    embedding_cosine_pairs,
    with_norm,
)
from etl_python_azure_spark.operators.similarity import (
    _plane_weights,
    _plane_weights_expr,
    cosine_topk,
    hard_negative_topk,
    ivf_topk,
    lsh_topk,
    plane_projection,
)
from etl_python_azure_spark.session import load_tables

SF_DIR = "/root/testdata/sf0.001"


def _fold_pairs(df, id_col, vec_col, threshold):
    """The pre-r14 crossJoin + aggregate-fold reference form."""
    n = with_norm(df.select(id_col, vec_col), vec_col)
    a = n.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__norm").alias("__na"),
    )
    b = n.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__norm").alias("__nb"),
    )
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    cos = (dot_expr("__va", "__vb") / (F.col("__na") * F.col("__nb"))).alias(
        "cosine"
    )
    return pairs.select("id_a", "id_b", cos).filter(
        F.col("cosine") >= threshold
    )


def _as_strings(df):
    """Rows with the double rendered to string — catches any bit
    difference including -0.0 vs 0.0 and NaN."""
    cols = [
        F.col(c).cast("string").alias(c) for c in df.columns
    ]
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.mark.parametrize("blocks", [1, 3, 8])
def test_pairs_kernel_bit_identical(spark, monkeypatch, blocks):
    monkeypatch.setattr(dedup, "_BLOCKS", blocks)
    em = load_tables(spark, SF_DIR, "embeddings")
    got = embedding_cosine_pairs(em, threshold=0.46)
    want = _fold_pairs(em, "vec_id", "embedding", 0.46)
    assert _as_strings(got) == _as_strings(want)
    assert len(_as_strings(want)) > 0  # non-vacuous


def test_pairs_kernel_full_pairspace_bits(spark, monkeypatch):
    """No-threshold variant: EVERY pair's cosine must match bits."""
    monkeypatch.setattr(dedup, "_BLOCKS", 4)
    em = load_tables(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") < 60
    )
    got = embedding_cosine_pairs(em, threshold=-2.0)
    want = _fold_pairs(em, "vec_id", "embedding", -2.0)
    gs, ws = _as_strings(got), _as_strings(want)
    assert len(ws) == 60 * 59 // 2
    assert gs == ws


def _fold_topk(corpus, queries, id_col, vec_col, k):
    """The pre-r14 broadcast crossJoin + window reference form."""
    c = with_norm(corpus.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__vc"),
        F.col("__norm").alias("__nc"),
    )
    q = with_norm(queries.select(id_col, vec_col), vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__vq"),
        F.col("__norm").alias("__nq"),
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot_expr("__vq", "__vc") / (F.col("__nq") * F.col("__nc"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return sims.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _runs_kernel(df) -> bool:
    return "FlatMapCoGroupsInPandas" in df._jdf.queryExecution().toString()


@pytest.mark.parametrize("blocks", [1, 5])
def test_topk_kernel_bit_identical(spark, monkeypatch, blocks):
    monkeypatch.setattr(similarity, "_BLOCKS", blocks)
    em = load_tables(spark, SF_DIR, "embeddings")
    got = cosine_topk(em, em, k=3)
    jvm = cosine_topk(em, em.select("*"), k=3)
    assert _runs_kernel(got) and not _runs_kernel(jvm)
    want = _as_strings(_fold_topk(em, em, "vec_id", "embedding", 3))
    assert _as_strings(got) == want
    assert _as_strings(jvm) == want


@pytest.mark.parametrize("id_type", ["bigint", "int", "string"])
def test_topk_kernel_tie_break(spark, id_type):
    """Exact cosine ties must break on ascending neighbor_id in the
    blocked path too: duplicate vectors give cosine == 1.0 exactly.
    The numpy kernel (self-search cosine_topk and ivf_topk) must keep
    the input id type, as the JVM paths do."""
    conv = str if id_type == "string" else int
    rows = [
        (conv(1), [1.0, 0.0]),
        (conv(2), [1.0, 0.0]),
        (conv(3), [1.0, 0.0]),
        (conv(4), [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<float>"
    )
    got = cosine_topk(df, df, k=2)
    want = _fold_topk(df, df, "vec_id", "embedding", 2)
    jvm = cosine_topk(df, df.select("*"), k=2)
    assert got.schema == want.schema == jvm.schema
    assert _as_strings(got) == _as_strings(want) == _as_strings(jvm)
    top = {
        (str(r["query_id"]), r["rank"]): str(r["neighbor_id"])
        for r in got.collect()
    }
    assert top[("1", 1)] == "2" and top[("1", 2)] == "3"  # id-ascending ties
    ivf_np, ivf_jvm = (
        ivf_topk(df, q, k=2, num_centroids=2, nprobe=2)
        for q in (df, df.select("*"))
    )
    assert ivf_np.schema == ivf_jvm.schema
    assert _as_strings(ivf_np) == _as_strings(ivf_jvm)


def test_kernel_survives_count_pruning(spark):
    """count()-shaped consumers prune every output column; the
    self-cogroup must still ship full rows to the kernel (regression:
    identical column names on both sides left the function's right
    argument list referencing left attribute ids, and column pruning
    stripped the right child to its grouping key → KeyError)."""
    em = load_tables(spark, SF_DIR, "embeddings")
    n_pairs = embedding_cosine_pairs(em, threshold=-2.0).count()
    n = em.count()
    assert n_pairs == n * (n - 1) // 2
    assert cosine_topk(em, em, k=3).count() == n * 3


def test_plane_weight_literals_match_engine_md5(spark):
    """The Python-precomputed ±1 weights must equal the engine-side
    md5-parity reference expression for every plane the engine uses."""
    for plane in range(8):
        got = _plane_weights(plane, 64)
        want = spark.sql(
            f"SELECT {_plane_weights_expr(plane, 64)} AS w"
        ).first()["w"]
        assert got == list(want)


def test_plane_projection_bit_identical(spark):
    """Literal-weight projection ≡ md5-expression projection, bitwise."""
    em = load_tables(spark, SF_DIR, "embeddings")
    ref = F.expr(
        f"aggregate(zip_with(embedding, {_plane_weights_expr(2, 64)}, "
        f"(x, w) -> CAST(x AS DOUBLE) * w), 0D, (acc, v) -> acc + v)"
    )
    bad = (
        em.select(
            plane_projection(2, 64).cast("string").alias("a"),
            ref.cast("string").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .count()
    )
    assert bad == 0


def test_ivf_arrow_rank_bit_identical(spark):
    """The self-search ivf_topk (cell-cogroup numpy kernel) must equal
    the JVM fold path bitwise (same probes, same cosines, same tie
    order), and must survive count()-shaped column pruning."""
    em = load_tables(spark, SF_DIR, "embeddings")
    got = ivf_topk(em, em, k=3, num_centroids=8, nprobe=3)
    want = ivf_topk(em, em.select("*"), k=3, num_centroids=8, nprobe=3)
    assert _runs_kernel(got) and not _runs_kernel(want)
    assert _as_strings(got) == _as_strings(want)
    assert len(_as_strings(want)) > 0
    assert got.count() == want.count()


def test_zero_norm_vectors_are_left_out(spark):
    """A zero vector and a NULL vector have no cosine: every top-k
    route and the pairs kernel return exactly the rows they return
    without them (the JVM window would otherwise rank the NaN cosine
    first, and numpy last)."""
    base = load_tables(spark, SF_DIR, "embeddings").filter(
        F.col("vec_id") < 60
    )
    bad = spark.createDataFrame(
        [(-1, [0.0] * 64, 0), (1000, None, 1)],
        "vec_id bigint, embedding array<float>, label int",
    )
    dirty = base.unionByName(bad)
    cases = {
        "cosine_topk kernel": lambda d: cosine_topk(d, d, k=3),
        "cosine_topk jvm": lambda d: cosine_topk(d, d.select("*"), k=3),
        "ivf_topk kernel": lambda d: ivf_topk(
            d, d, k=3, num_centroids=4, nprobe=2
        ),
        "ivf_topk jvm": lambda d: ivf_topk(
            d, d.select("*"), k=3, num_centroids=4, nprobe=2
        ),
        "lsh_topk": lambda d: lsh_topk(d, d, k=3, num_planes=2),
        "hard_negative_topk": lambda d: hard_negative_topk(d, d, k=3),
        "embedding_cosine_pairs": lambda d: embedding_cosine_pairs(
            d, threshold=0.3
        ),
    }
    for name, run in cases.items():
        want = _as_strings(run(base))
        assert want, name  # non-vacuous
        assert _as_strings(run(dirty)) == want, name
