"""Algebra of partial-aggregate maintenance: merge(parts) == direct."""

from __future__ import annotations

from etl_python_azure_spark.operators.aggregates import (
    finalize_avg,
    merge_partial_aggregates,
    partial_aggregate,
)
from etl_python_azure_spark.session import load_tables

SF = "/root/testdata/sf0.001"


def _snapshot(df):
    return {
        tuple(r[k] for k in ("o_orderstatus",)): (
            r["sum_o_totalprice"],
            r["min_o_totalprice"],
            r["max_o_totalprice"],
            r["n"],
        )
        for r in df.collect()
    }


def test_merge_of_splits_equals_direct(spark):
    o = load_tables(spark, SF, "orders")
    keys, sums = ["o_orderstatus"], ["o_totalprice"]
    direct = partial_aggregate(
        o, keys, sums, min_cols=sums, max_cols=sums
    )
    # split on an arbitrary predicate; thirds have disjoint rows
    parts = [
        partial_aggregate(
            o.filter(f"o_orderkey % 3 = {i}"),
            keys,
            sums,
            min_cols=sums,
            max_cols=sums,
        )
        for i in range(3)
    ]
    merged = merge_partial_aggregates(parts, keys)
    assert _snapshot(merged) == _snapshot(direct)


def test_merge_handles_keys_missing_from_some_parts(spark):
    o = load_tables(spark, SF, "orders")
    keys, sums = ["o_orderstatus"], ["o_totalprice"]
    # part A covers one status only; part B the rest
    a = partial_aggregate(
        o.filter("o_orderstatus = 'F'"), keys, sums, min_cols=sums, max_cols=sums
    )
    b = partial_aggregate(
        o.filter("o_orderstatus <> 'F'"), keys, sums, min_cols=sums, max_cols=sums
    )
    merged = merge_partial_aggregates([a, b], keys)
    direct = partial_aggregate(o, keys, sums, min_cols=sums, max_cols=sums)
    assert _snapshot(merged) == _snapshot(direct)


def test_finalize_avg_matches_builtin(spark):
    o = load_tables(spark, SF, "orders")
    p = partial_aggregate(o, ["o_orderstatus"], ["o_totalprice"])
    fin = {
        r.o_orderstatus: r.avg_price
        for r in finalize_avg(p, "sum_o_totalprice", "avg_price").collect()
    }
    direct = {
        r.o_orderstatus: r.a
        for r in o.groupBy("o_orderstatus")
        .agg({"o_totalprice": "avg"})
        .withColumnRenamed("avg(o_totalprice)", "a")
        .collect()
    }
    for k, v in direct.items():
        # decimal-exact sum / exact count vs double-accumulated avg
        assert abs(float(fin[k]) - v) < 1e-6


def test_streamed_rollup_equals_direct(spark, tmp_path):
    from etl_python_azure_spark.streaming.pipeline import (
        maintained_rollup,
        stream_parquet_dir,
    )

    src, ckpt, tgt = (
        str(tmp_path / p) for p in ("src", "ckpt", "rollup")
    )
    schema = "user_id long, ts timestamp, value double"
    e = load_tables(spark, SF, "events").select("user_id", "ts", "value")
    # two arrivals: first 60%, then the rest
    e.filter("user_id % 5 < 3").write.parquet(src)
    q = maintained_rollup(
        stream_parquet_dir(spark, src, schema),
        keys=["user_id"],
        sum_cols=["value"],
        target_path=tgt,
        checkpoint=ckpt,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    e.filter("user_id % 5 >= 3").write.mode("append").parquet(src)
    q = maintained_rollup(
        stream_parquet_dir(spark, src, schema),
        keys=["user_id"],
        sum_cols=["value"],
        target_path=tgt,
        checkpoint=ckpt,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    from etl_python_azure_spark.operators.aggregates import partial_aggregate

    direct = {
        r.user_id: (r.sum_value, r.n)
        for r in partial_aggregate(e, ["user_id"], ["value"]).collect()
    }
    from etl_python_azure_spark.sinks.files import read_snapshot

    maintained = {
        r.user_id: (r.sum_value, r.n)
        for r in read_snapshot(spark, tgt).collect()
    }
    assert maintained == direct  # decimal partials → exact, no drift


def test_fold_epoch_replay_is_idempotent(spark, tmp_path):
    # foreachBatch is at-least-once: re-delivering an epoch must not
    # double-fold (the fold is pure addition)
    from etl_python_azure_spark.sinks.files import read_snapshot
    from etl_python_azure_spark.streaming.pipeline import _fold_epoch

    tgt = str(tmp_path / "rollup")
    b0 = spark.createDataFrame([(1, 10.0), (2, 5.0)], "k long, v double")
    b1 = spark.createDataFrame([(1, 1.0)], "k long, v double")

    _fold_epoch(b0, tgt, ["k"], ["v"], epoch_id=0)
    _fold_epoch(b1, tgt, ["k"], ["v"], epoch_id=1)
    _fold_epoch(b1, tgt, ["k"], ["v"], epoch_id=1)  # replayed epoch
    _fold_epoch(b0, tgt, ["k"], ["v"], epoch_id=0)  # stale replay

    got = {r.k: (float(r.sum_v), r.n) for r in read_snapshot(spark, tgt).collect()}
    assert got == {1: (11.0, 2), 2: (5.0, 1)}


def test_sketch_fold_equals_direct_and_bounds_error(spark):
    from pyspark.sql import functions as F

    from etl_python_azure_spark.operators.aggregates import (
        distinct_sketch,
        finalize_distinct,
        merge_distinct_sketches,
    )

    li = load_tables(spark, SF, "lineitem")
    keys, dcol = ["l_returnflag"], "l_orderkey"

    direct = finalize_distinct(
        distinct_sketch(li, keys, dcol), dcol, "est"
    )
    batches = [li.filter(F.pmod("l_orderkey", F.lit(4)) == i) for i in range(4)]
    parts = [distinct_sketch(b, keys, dcol) for b in batches]
    merged = parts[0]
    for p in parts[1:]:
        merged = merge_distinct_sketches([merged, p], keys, dcol)
    folded = finalize_distinct(merged, dcol, "est")

    d = {r["l_returnflag"]: (r["est"], r["n"]) for r in direct.collect()}
    f = {r["l_returnflag"]: (r["est"], r["n"]) for r in folded.collect()}
    # counts are exact partials — identical; estimates may differ by
    # the union's HLL_4→HLL_8 target-type wobble, bounded below
    assert {k: n for k, (_, n) in d.items()} == {k: n for k, (_, n) in f.items()}

    exact = {
        r["l_returnflag"]: r["x"]
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct(dcol).alias("x"))
        .collect()
    }
    for k in exact:
        for est, _ in (d[k], f[k]):
            assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])
        assert abs(d[k][0] - f[k][0]) / exact[k] < 0.01  # fold ≈ direct
