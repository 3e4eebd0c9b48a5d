"""Event-table queries: filters (P5/P6), sessionization and
event-time windows (SURVEY §2.9 gap-fill), array ops (N3/A-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.arrays import array_head, positional_unnest
from ..operators.asof import asof_join
from ..operators.sessionize import sessionize, tumbling_window
from ..session import load_tables
from . import register


# --------------------------------------------------------------------------
# P5/P6 — non-empty-string + numeric predicates
# --------------------------------------------------------------------------
@register(
    "filter_events",
    """
    SELECT event_id, event_type, value FROM events
    WHERE event_type != '' AND value > 50
    """,
)
def filter_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")
    return e.filter((F.col("event_type") != "") & (F.col("value") > 50)).select(
        "event_id", "event_type", "value"
    )


# --------------------------------------------------------------------------
# Sessionization — gap-based sessions per user (session_window)
# Oracle: gaps-and-islands. NB `>=` on the gap: Spark sessions are
# end-exclusive, an event at exactly last_ts+gap starts a new one.
# --------------------------------------------------------------------------
@register(
    "sessionize_events",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
             ) AS sid
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")
    return sessionize(e, "ts", ["user_id"], gap="30 minutes")


# --------------------------------------------------------------------------
# Tumbling event-time window — hourly counts/sums per event type
# --------------------------------------------------------------------------
@register(
    "hourly_event_rollup",
    """
    SELECT event_type,
           date_trunc('hour', ts) AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def hourly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")
    return tumbling_window(
        e,
        "ts",
        ["event_type"],
        width="1 hour",
        aggs={
            "n_events": F.count("*"),
            "total_value": F.sum(
                F.col("value").cast("decimal(18,6)")
            ).cast("double"),
        },
    )


# --------------------------------------------------------------------------
# sliding event-time windows — 2h width, 1h slide (each event lands
# in two windows; oracle materializes both trunc-aligned starts)
# --------------------------------------------------------------------------
@register(
    "sliding_window_counts",
    """
    WITH starts AS (
      SELECT event_type, date_trunc('hour', ts) AS window_start FROM events
      UNION ALL
      SELECT event_type, date_trunc('hour', ts) - INTERVAL 1 HOUR FROM events
    )
    SELECT event_type, window_start, COUNT(*) AS n_events
    FROM starts GROUP BY 1, 2
    """,
)
def sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "2 hours", "1 hour").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# inter-event gaps — mean seconds between consecutive events per user
# (epoch-µs arithmetic: exact integers until the final division)
# --------------------------------------------------------------------------
@register(
    "avg_inter_event_gap",
    """
    WITH g AS (
      SELECT user_id,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             )) AS gap_us
      FROM events
    )
    SELECT user_id,
           COUNT(gap_us) AS n_gaps,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us,
           CAST(SUM(gap_us) AS DOUBLE)
             / (COUNT(gap_us) * CAST(1000000 AS DOUBLE)) AS avg_gap_sec
    FROM g WHERE gap_us IS NOT NULL GROUP BY user_id
    """,
)
def avg_inter_event_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    e = load_tables(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return g.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.sum("gap_us").alias("total_gap_us"),
        (F.sum("gap_us") / (F.count("gap_us") * F.lit(1000000.0))).alias(
            "avg_gap_sec"
        ),
    )


# --------------------------------------------------------------------------
# value histogram — fixed-width bins (exact: integer bin via floor)
# --------------------------------------------------------------------------
@register(
    "event_value_histogram",
    """
    SELECT event_type,
           CAST(FLOOR(value / 10) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
    """,
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.floor(F.col("value") / 10).cast("bigint").alias("bin"),
    ).agg(F.count("*").alias("n"))


# --------------------------------------------------------------------------
# array higher-order functions over embeddings
# --------------------------------------------------------------------------
@register(
    "embedding_array_stats",
    """
    SELECT vec_id,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           list_max(embedding) AS max_val,
           list_min(embedding) AS min_val
    FROM embeddings
    """,
)
def embedding_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_tables(spark, sf_dir, "embeddings")
    return em.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.array_max("embedding").alias("max_val"),
        F.array_min("embedding").alias("min_val"),
    )


# --------------------------------------------------------------------------
# conversion funnel — first view → first later click → first later
# purchase, per user; one summary row
# --------------------------------------------------------------------------
@register(
    "conversion_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.first_view
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.first_click
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked,
           (SELECT COUNT(*) FROM p) AS n_purchased
    """,
)
def conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")

    def first_after(etype: str, prev: DataFrame, prev_col: str, out: str):
        # rename the probe side to break self-join ambiguity
        probe = prev.select(
            F.col("user_id").alias("__uid"), F.col(prev_col).alias("__prev_ts")
        )
        j = e.filter(F.col("event_type") == etype).join(
            probe,
            (F.col("user_id") == F.col("__uid"))
            & (F.col("ts") > F.col("__prev_ts")),
        )
        return j.groupBy("user_id").agg(F.min("ts").alias(out))

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = first_after("click", v, "first_view", "first_click")
    p = first_after("purchase", c, "first_click", "first_purchase")
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased")))
    )


# --------------------------------------------------------------------------
# per-user conditional aggregation (FILTER-clause style)
# --------------------------------------------------------------------------
@register(
    "user_event_profile",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view') AS n_views,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                 THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
             AS purchase_value
    FROM events GROUP BY user_id
    """,
)
def user_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")

    def n_of(t):
        return F.count(F.when(F.col("event_type") == t, 1))

    return e.groupBy("user_id").agg(
        n_of("view").alias("n_views"),
        n_of("click").alias("n_clicks"),
        n_of("purchase").alias("n_purchases"),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.col("value").cast("decimal(18,6)"),
            )
        )
        .cast("double")
        .alias("purchase_value"),
    )


# --------------------------------------------------------------------------
# As-of join — last view value before each purchase, per user
# (right side deduped on (user, ts) for determinism)
# --------------------------------------------------------------------------
@register(
    "asof_last_view_before_purchase",
    """
    WITH v AS (
      SELECT user_id, ts, max(value) AS value
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    ),
    p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts,
           v.value AS asof_value, v.ts AS asof_vts
    FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts
    """,
)
def asof_last_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
        .select("user_id", F.col("ts").alias("vts"), "value")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        purchases, views, on="user_id", left_ts="ts", right_ts="vts"
    )


# --------------------------------------------------------------------------
# gap-filled daily activity — date spine × user, zero-filled counts
# (bounded to user_id < 20 to keep the spine product intentional)
# --------------------------------------------------------------------------
@register(
    "daily_activity_gapfill",
    """
    WITH bounds AS (
      SELECT CAST(MIN(ts) AS DATE) AS lo, CAST(MAX(ts) AS DATE) AS hi
      FROM events
    ),
    spine AS (
      SELECT u.user_id, CAST(gs.d AS DATE) AS day
      FROM (SELECT DISTINCT user_id FROM events WHERE user_id < 20) u,
           bounds,
           LATERAL (SELECT UNNEST(generate_series(bounds.lo, bounds.hi,
                                 INTERVAL 1 DAY)) AS d) gs
    ),
    daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events WHERE user_id < 20 GROUP BY 1, 2
    )
    SELECT s.user_id, s.day, COALESCE(d.n, 0) AS n_events
    FROM spine s LEFT JOIN daily d
      ON s.user_id = d.user_id AND s.day = d.day
    """,
)
def daily_activity_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_tables(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    all_e = load_tables(spark, sf_dir, "events")
    bounds = all_e.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    spine = (
        e.select("user_id")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    daily = (
        e.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id", "day", F.coalesce("n", F.lit(0)).alias("n_events")
        )
    )


# --------------------------------------------------------------------------
# N3/A-6 — positional array unnest + head slice on embeddings
# --------------------------------------------------------------------------
@register(
    "positional_unnest_embeddings",
    """
    SELECT vec_id,
           embedding[1] AS embedding_1,
           embedding[2] AS embedding_2,
           embedding[3] AS embedding_3,
           embedding[4] AS embedding_4,
           CAST(len(embedding[1:4]) AS BIGINT) AS head_len,
           CAST(0 AS DOUBLE) + embedding[1] + embedding[2]
             + embedding[3] + embedding[4] AS head_sum
    FROM embeddings
    """,
)
def positional_unnest_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N3/A-6 driver row. Registry rule: no array/map/struct output
    columns (the driver's pandas canonicalizer cannot hash them), so
    the ``embedding_head`` slice is proven through two scalar probes:
    its length and its left-to-right fold sum. The fold starts from a
    DOUBLE 0.0 on both engines, so each float element is promoted
    exactly and the additions occur in the same order — bit-exact.
    The raw-array form stays under pytest (tests/test_array_queries).
    """
    em = load_tables(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = positional_unnest(
        em, "embedding", 4, name_template="{array}_{i}", drop_source=False
    )
    head = array_head("embedding", 4)
    return out.select(
        "vec_id",
        "embedding_1",
        "embedding_2",
        "embedding_3",
        "embedding_4",
        F.size(head).cast("long").alias("head_len"),
        F.aggregate(head, F.lit(0.0), lambda a, x: a + x).alias("head_sum"),
    )


# --------------------------------------------------------------------------
# Range (band) join — views within the 30 min before each purchase,
# per user. Built on the bucketized range join (operators.range_join)
# so the θ-predicate becomes an equi-join on (user_id, time bucket)
# instead of a BroadcastNestedLoopJoin; the oracle states the raw
# θ-join directly.
# --------------------------------------------------------------------------
@register(
    "views_before_purchase_ranged",
    """
    SELECT v.user_id,
           v.event_id AS view_id,
           p.event_id AS purchase_id
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view'
     AND p.event_type = 'purchase'
     AND v.ts >= p.ts - INTERVAL 30 MINUTE
     AND v.ts < p.ts
    """,
)
def views_before_purchase_ranged(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.range_join import band_join

    e = load_tables(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"), "ts"
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("pts")
    )
    return band_join(
        views,
        purchases,
        left_ts="ts",
        right_ts="pts",
        lower="-INTERVAL 30 MINUTES",
        upper="INTERVAL 0 SECONDS",
        on=["user_id"],
    ).select("user_id", "view_id", "purchase_id")


# --------------------------------------------------------------------------
# Time-series similarity search: each user's 24-dim hour-of-day
# activity profile, then exact top-3 most-similar users by cosine.
# Profiles are integer counts (exact in double), the dot product
# folds left-to-right — bit-identical cross-engine, like the
# embedding queries.
# --------------------------------------------------------------------------

# the profile CTEs shared by the exact verifier and its IVF twin
_PROFILE_NORM_CTE = """
    cnt AS (
      SELECT user_id, hour(ts) AS h, count(*) AS c
      FROM events GROUP BY user_id, hour(ts)
    ),
    pairs AS (
      SELECT user_id, list(struct_pack(h := h, c := c)) AS ps
      FROM cnt GROUP BY user_id
    ),
    vec AS (
      SELECT user_id,
             list_transform(range(0, 24), hh ->
               CAST(coalesce(list_sum(list_transform(ps,
                 p -> CASE WHEN p.h = hh THEN p.c ELSE 0 END)), 0)
               AS DOUBLE)) AS profile
      FROM pairs
    ),
    n AS (
      SELECT user_id, profile,
             sqrt(list_reduce(list_transform(profile, x -> x * x),
                              (acc, v) -> acc + v)) AS nrm
      FROM vec
    )
"""

# 24-dim cosine between two aliased rows of `n` (left-to-right fold,
# same operation order as the engine's dot_expr — IEEE-exact)
_P_COS = (
    "list_reduce(list_transform(range(1, 25),"
    " i -> q.profile[i] * c.profile[i]),"
    " (acc, v) -> acc + v) / (q.nrm * c.nrm)"
)


@register(
    "similar_user_activity",
    f"""
    WITH {_PROFILE_NORM_CTE},
    sims AS (
      SELECT q.user_id AS query_id, c.user_id AS neighbor_id,
             {_P_COS} AS cosine
      FROM n q JOIN n c ON c.user_id != q.user_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)
def similar_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_topk
    from ..session import eager_checkpoint

    # checkpoint the shared profile frame (query AND corpus side of
    # the all-pairs search — without it the events aggregation runs
    # once per side)
    prof = _user_profiles(spark, sf_dir).transform(eager_checkpoint)
    return cosine_topk(prof, prof, id_col="user_id", vec_col="profile", k=3)


def _user_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-dim hour-of-day activity counts per user (exact doubles)."""
    e = load_tables(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", F.hour("ts").alias("h")).agg(
        F.count("*").alias("c")
    )
    return (
        cnt.groupBy("user_id")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("h", "c"))).alias("m")
        )
        .select(
            "user_id",
            F.expr(
                "transform(sequence(0, 23),"
                " h -> CAST(coalesce(try_element_at(m, h), 0) AS DOUBLE))"
            ).alias("profile"),
        )
    )


# --------------------------------------------------------------------------
# The IVF twin of similar_user_activity (r13 verdict item 3): the
# exact all-pairs form above is the labeled O(n²) verifier; this is
# the scale path — profiles assigned to 16 deterministic cells, each
# query probing its 4 nearest cells, exact ranking only within
# probed cells (~nprobe/C of the pair space). The profile table is
# events AGGREGATED per user, orders of magnitude smaller than the
# event log, so broadcasting the probe side stays cheap even when
# the raw events are 100 TB. Recall vs the exact twin is measured in
# SCALING.md the way ann_lsh_recall measures the LSH path.
# --------------------------------------------------------------------------
@register(
    "similar_user_activity_ann",
    f"""
    WITH {_PROFILE_NORM_CTE},
    cent AS (SELECT user_id, profile, nrm FROM n ORDER BY user_id LIMIT 16),
    asg AS (
      SELECT id, cell FROM (
        SELECT q.user_id AS id, c.user_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.user_id ORDER BY {_P_COS} DESC, c.user_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
      ) WHERE rnk = 1
    ),
    probe AS (
      SELECT qid, cell FROM (
        SELECT q.user_id AS qid, c.user_id AS cell,
               ROW_NUMBER() OVER (
                 PARTITION BY q.user_id ORDER BY {_P_COS} DESC, c.user_id
               ) AS rnk
        FROM n q CROSS JOIN cent c
      ) WHERE rnk <= 4
    ),
    sims AS (
      SELECT q.user_id AS query_id, c.user_id AS neighbor_id,
             {_P_COS} AS cosine
      FROM probe p
      JOIN asg a ON a.cell = p.cell
      JOIN n q ON q.user_id = p.qid
      JOIN n c ON c.user_id = a.id
      WHERE c.user_id != q.user_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
      ) AS rank
      FROM sims
    )
    SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 3
    """,
)
def similar_user_activity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk
    from ..session import eager_checkpoint

    # the profile table feeds THREE consumers inside ivf_topk
    # (centroid pick, corpus assignment, query probes) — checkpoint
    # it once so the events aggregation (the expensive part at
    # 100 TB) runs a single time (the engine's shared-frame rule);
    # the exact twin keeps its unchanged verifier plan
    prof = eager_checkpoint(_user_profiles(spark, sf_dir))
    return ivf_topk(
        prof,
        prof,
        id_col="user_id",
        vec_col="profile",
        k=3,
        num_centroids=16,
        nprobe=4,
    )
