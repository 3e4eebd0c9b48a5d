"""Dedup operators: dedup_clusters on chain-shaped (deep) components
and convergence; the keep_first_copy and span_coverage rules on
hand-built frames."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_python_azure_spark.operators.dedup import (
    dedup_clusters,
    keep_first_copy,
    span_coverage,
)


def test_path_graph_deep_component(spark):
    # path 0-1-2-...-15: min-label propagation needs ~15 rounds (one
    # hop per round) — exercises lineage truncation across many rounds
    n = 16
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["cluster_rep"] for r in dedup_clusters(pairs, max_iter=30).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_two_components_and_star(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (10, 12), (10, 13)],
        "id_a long, id_b long",
    )
    got = {
        r["id"]: r["cluster_rep"] for r in dedup_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 13: 10}


def test_max_iter_caps_rounds(spark):
    # a long path with tiny max_iter still returns a full labeling
    # (possibly unconverged) — never raises, never loops forever
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a long, id_b long"
    )
    rows = dedup_clusters(pairs, max_iter=3).collect()
    assert len(rows) == 31


def test_keep_first_copy_keeps_min_id_with_columns(spark):
    df = spark.createDataFrame(
        [(3, "a", "x3"), (1, "a", "x1"), (5, "b", "x5"), (2, "b", "x2"),
         (4, "c", "x4")],
        "doc_id long, text string, payload string",
    )
    got = keep_first_copy(df, F.md5("text"))
    assert got.columns == df.columns
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, "a", "x1"), (2, "b", "x2"), (4, "c", "x4")
    ]


# doc 1 holds s1 and s2, each shared only with a higher id (2 and 5);
# doc 2 shares s1 with doc 1 (1 of 2 covered); doc 3 holds s4, which
# only the state holds; doc 5 shares s2 with doc 1 (1 of 2 covered);
# doc 6 has no spans.
_SPANS = [
    (1, "s1"), (1, "s2"), (2, "s1"), (2, "s3"),
    (3, "s4"), (3, "s5"), (3, "s6"), (5, "s2"), (5, "s7"),
]


def _coverage(spark, state=None):
    spans = spark.createDataFrame(_SPANS, "doc_id long, sfp string")
    if state is not None:
        state = spark.createDataFrame([(s,) for s in state], "sfp string")
    return {
        r["doc_id"]: (r["n_spans"], r["n_covered"], r["duplicated"])
        for r in span_coverage(spans, state).collect()
    }


def test_span_coverage_doc_without_spans_never_duplicated(spark):
    got = _coverage(spark, state=["s1", "s2", "s3"])
    assert 6 not in got  # no row: callers read it as 0 spans, kept
    assert all(n_spans > 0 for n_spans, _, _ in got.values())


def test_span_coverage_half_covered_is_duplicated(spark):
    got = _coverage(spark)
    assert got[2] == (2, 1, True)  # a tie drops
    assert got[5] == (2, 1, True)
    assert got[3] == (3, 0, False)


def test_span_coverage_state_counts_as_covered(spark):
    assert _coverage(spark)[3] == (3, 0, False)
    assert _coverage(spark, state=["s4"])[3] == (3, 1, False)
    assert _coverage(spark, state=["s4", "s5"])[3] == (3, 2, True)


def test_span_coverage_higher_id_holder_not_covered(spark):
    assert _coverage(spark)[1] == (2, 0, False)
