"""Round-3 query invariants: leakage-free splits, rolling-window
equivalence against a brute-force reference, passage accounting,
funnel monotonicity, transition-probability normalization."""

from __future__ import annotations

from collections import defaultdict
from datetime import timedelta

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_python_azure_spark.queries import registry
from etl_python_azure_spark.session import load_tables
from etl_python_azure_spark.streaming.stateful import _session_step

REG = registry()


def test_cluster_safe_splits_no_fingerprint_straddles(spark, sf_dir):
    """No exact-dup cluster may span two splits (the leakage property
    the query exists to guarantee) — checked on the per-doc
    assignment, not the aggregate output."""
    from etl_python_azure_spark.operators.sampling import hash_bucket
    from pyspark.sql import Window

    d = load_tables(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5("text"))
    r = d.select(
        F.md5("text").alias("fp"),
        F.min("doc_id").over(w).alias("rep_id"),
    )
    b = hash_bucket("rep_id")
    assigned = r.withColumn(
        "split",
        F.when(b < 80, "train").when(b < 90, "val").otherwise("test"),
    )
    spans = (
        assigned.groupBy("fp")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .count()
    )
    assert spans == 0


def test_rolling_7d_matches_bruteforce(spark, sf_dir):
    e = load_tables(spark, sf_dir, "events")
    rows = e.select("user_id", F.col("ts").cast("date").alias("day")).collect()
    by_day = defaultdict(set)
    for r in rows:
        by_day[r.day].add(r.user_id)
    expected = {}
    for day in by_day:
        users = set()
        for k in range(7):
            users |= by_day.get(day - timedelta(days=k), set())
        expected[day] = len(users)
    got = {
        r.report_day: r.wau
        for r in REG["rolling_7d_active_users"].builder(spark, sf_dir).collect()
    }
    assert got == expected


def test_passage_counts_partition_the_text(spark, sf_dir):
    """Non-overlapping 16-word passages must account for every word:
    n_passages == sum over docs of ceil(n_words / 16)."""
    d = load_tables(spark, sf_dir, "documents")
    exp = (
        d.select(
            "source",
            F.ceil(F.size(F.split("text", " ")) / 16).alias("n"),
        )
        .groupBy("source")
        .agg(F.sum("n").alias("n_passages"))
    )
    got = (
        REG["passage_dup_stats"]
        .builder(spark, sf_dir)
        .select("source", "n_passages")
    )
    assert {(r.source, r.n_passages) for r in exp.collect()} == {
        (r.source, r.n_passages) for r in got.collect()
    }


def test_session_funnel_monotone(spark, sf_dir):
    for r in REG["session_funnel"].builder(spark, sf_dir).collect():
        assert r.n_sessions >= r.n_view >= r.n_view_click >= r.n_full_funnel


def test_transition_probs_sum_to_one(spark, sf_dir):
    df = REG["event_transition_matrix"].builder(spark, sf_dir)
    sums = df.groupBy("prev_type").agg(F.sum("prob").alias("p")).collect()
    assert sums and all(abs(r.p - 1.0) < 1e-9 for r in sums)


def test_decile_profile_covers_all_users(spark, sf_dir):
    e = load_tables(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    prof = REG["decile_spend_profile"].builder(spark, sf_dir).collect()
    assert sum(r.n_users for r in prof) == n_users
    assert all(1 <= r.decile <= 10 for r in prof)


def test_incremental_dedup_only_delta_pairs(spark, sf_dir):
    """Incremental LSH must return ONLY delta-involving pairs (no
    base×base re-pairing), and an unrelated delta yields nothing."""
    from etl_python_azure_spark.operators.dedup import incremental_lsh_pairs

    d = load_tables(spark, sf_dir, "documents").select("doc_id", "text")
    delta = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    pairs = incremental_lsh_pairs(d, delta, "doc_id", "text").collect()
    assert pairs  # exact copies guarantee hits
    assert all(r.id_a >= 20000 or r.id_b >= 20000 for r in pairs)

    unrelated = spark.createDataFrame(
        [(99999, "entirely novel vocabulary zyx wvu tsr qpo nml kji")],
        "doc_id long, text string",
    )
    assert incremental_lsh_pairs(d, unrelated, "doc_id", "text").count() == 0


def pandas_sessions(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    gap_seconds: int = 1800,
) -> DataFrame:
    """Batch twin of ``stateful_sessions``: the same per-event
    session automaton (``_session_step``), run over a batch DataFrame
    with ``applyInPandas`` — the streaming operator's transition
    logic minus the state store. Output matches the streaming op:
    (key, session_start, session_end, n_events, total_value) with
    session_end = last event time.
    """
    out_schema = (
        f"{key_col} long, session_start timestamp, session_end timestamp, "
        "n_events long, total_value double"
    )
    gap_us = gap_seconds * 1_000_000

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(ts_col, kind="mergesort")
        key = pdf[key_col].iloc[0]
        state = (0, 0, 0, 0.0)
        out = []
        for ts, val in zip(pdf[ts_col], pdf[value_col]):
            ts_us = int(ts.value // 1_000)
            closed, state = _session_step(state, ts_us, float(val), gap_us)
            out.extend(closed)
        if state[2] > 0:
            out.append(state)
        return pd.DataFrame(
            {
                key_col: [key] * len(out),
                "session_start": [
                    pd.Timestamp(c[0], unit="us") for c in out
                ],
                "session_end": [pd.Timestamp(c[1], unit="us") for c in out],
                "n_events": [c[2] for c in out],
                "total_value": [c[3] for c in out],
            }
        )

    return df.groupBy(key_col).applyInPandas(fold, schema=out_schema)


def test_vectorized_sessions_match_automaton(spark, sf_dir):
    from etl_python_azure_spark.streaming.stateful import (
        pandas_sessions_vectorized,
    )

    e = load_tables(spark, sf_dir, "events").select("user_id", "ts", "value")
    a = pandas_sessions(e).collect()
    b = pandas_sessions_vectorized(e).collect()
    key = lambda r: (r.user_id, r.session_start, r.session_end)  # noqa: E731
    assert {key(r) for r in a} == {key(r) for r in b}
    assert len(a) == len(b)
    ca = {key(r): r.n_events for r in a}
    cb = {key(r): r.n_events for r in b}
    assert ca == cb
