"""Advanced relational operators: as-of join, pivot, correlated-style
subqueries, exact percentiles, histograms, and the batch twins of the
streaming operators.

Scale notes (100 TB):
* The as-of join is the classic timeseries primitive Spark lacks as a
  builtin. Implemented shuffle-once: union both sides tagged, one
  window over (user_id, ts) carries the last-seen left row forward —
  no range join explosion, state is one row per partition key.
* Pivot uses explicit pivot values (required for a deterministic
  schema, and avoids the extra distinct-scan job Spark otherwise runs).
* Exact percentiles use ``percentile`` (interpolating, matching
  DuckDB's ``quantile_cont``); the approx variants (q33) are the
  at-scale path and are checked rows-only since sketches differ.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.sketch import (
    Q62_M,
    Q62_NUM,
    Q62_SHIFT,
    cusum_fold,
    hll_cells,
    mg_truncate,
    with_zvalue,
)
from .tables import Tables
from .litdf import local_df

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q22_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    prior-or-same-time click (union + last-value-forward window).

    One shuffle on user_id; both the tagging and the carry-forward ride
    the same partitioning.
    """
    e = Tables(spark, sf_dir).events
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("side"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ev_ts"),
        F.col("event_id").alias("purchase_id"),
        F.lit(1).alias("side"),
    )
    unioned = clicks.withColumn("purchase_id", F.lit(None).cast("long")).unionByName(
        purchases.withColumn("click_id", F.lit(None).cast("long"))
    )
    # clicks sort before purchases at the same timestamp (side asc), so
    # "prior or same time" is well-defined and deterministic
    w = (
        Window.partitionBy("user_id")
        .orderBy("ev_ts", "side", F.coalesce("click_id", "purchase_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("last_click", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(
            "user_id",
            F.col("purchase_id"),
            F.col("last_click").alias("click_id"),
        )
        .orderBy("user_id", "purchase_id")
    )


def q23_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event counts, one column per event type."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .count()
        .na.fill(0, EVENT_TYPES)
        .orderBy("user_id")
    )


def q25_above_segment_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery pattern: customers whose total spend exceeds
    their market segment's average (decorrelated as agg + join)."""
    t = Tables(spark, sf_dir)
    spend = (
        t.orders.groupBy("o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
        .join(t.customer.select("c_custkey", "c_mktsegment"), F.col("o_custkey") == F.col("c_custkey"))
    )
    seg_avg = spend.groupBy("c_mktsegment").agg(F.avg("spend").alias("seg_avg"))
    return (
        spend.join(F.broadcast(seg_avg), "c_mktsegment")
        .filter(F.col("spend") > F.col("seg_avg"))
        .select("c_custkey", "c_mktsegment", F.round("spend", 2).alias("spend"))
        .orderBy("c_custkey")
    )


def q26_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolating percentiles per event type (matches
    DuckDB's quantile_cont)."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
        .orderBy("event_type")
    )


def q27_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram (bucket = floor(value/50))."""
    e = Tables(spark, sf_dir).events
    return (
        e.groupBy(F.floor(F.col("value") / 50).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("bucket")
    )


def q29_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate sketches (HLL distinct + approx percentile) — the
    100 TB path for q10/q26.

    Sketch internals differ per engine, so raw approx values can't
    hash-match an oracle. Instead the query emits the EXACT values plus
    tolerance booleans asserting the sketch landed inside its published
    error bound — the oracle emits the same exact values and literal
    1s, making the sketch surface fully gate-verifiable (HLL and
    approx_percentile are deterministic, order-independent functions of
    the data, so the booleans are stable across partitionings)."""
    t = Tables(spark, sf_dir)
    # exact distinct as its own two-phase agg (distinct pairs → count):
    # mixing countDistinct with non-distinct aggs forces an expand-based
    # plan that was 10× the cost of everything else in this query
    exact = (
        t.orders.select("o_orderpriority", "o_custkey")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    approx = t.orders.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # rsd 0.02 against the 10% assertion band = a >=5-sigma margin.
        # At rsd 0.05 the band was only 2 sigma, and the randomized
        # fuzzer (seed 6) caught a resampled dataset where one group's
        # estimate legitimately missed 10% — the tolerance boolean must
        # hold for ANY dataset, not just the canonical one.
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_hll"),
        F.expr("approx_percentile(o_totalprice, 0.5)").alias("_p50"),
        F.min("o_totalprice").alias("_lo"),
        F.max("o_totalprice").alias("_hi"),
    )
    agg = approx.join(F.broadcast(exact), "o_orderpriority")
    hll_err_ok = (
        F.abs(F.col("_hll") - F.col("n_customers")) / F.col("n_customers") <= 0.10
    )
    p50_bounded = (F.col("_p50") >= F.col("_lo")) & (F.col("_p50") <= F.col("_hi"))
    return agg.select(
        "o_orderpriority",
        "n_customers",
        "n_orders",
        hll_err_ok.cast("int").alias("hll_ok"),
        p50_bounded.cast("int").alias("p50_bounded"),
    ).orderBy("o_orderpriority")


ORACLE: dict[str, str] = {
    "q22_asof_join": """
        WITH tagged AS (
            SELECT user_id, ts AS ev_ts,
                   CASE WHEN event_type = 'click' THEN event_id END AS click_id,
                   CASE WHEN event_type = 'purchase' THEN event_id END AS purchase_id,
                   CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS side
            FROM events
            WHERE event_type IN ('click', 'purchase')
        ), carried AS (
            SELECT user_id, purchase_id, side,
                   last_value(click_id IGNORE NULLS) OVER (
                       PARTITION BY user_id
                       ORDER BY ev_ts, side, coalesce(click_id, purchase_id)
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
            FROM tagged
        )
        SELECT user_id, purchase_id, click_id
        FROM carried WHERE side = 1
        ORDER BY user_id, purchase_id
    """,
    "q23_pivot": """
        SELECT user_id,
               count(*) FILTER (event_type = 'click')    AS click,
               count(*) FILTER (event_type = 'error')    AS error,
               count(*) FILTER (event_type = 'purchase') AS purchase,
               count(*) FILTER (event_type = 'signup')   AS signup,
               count(*) FILTER (event_type = 'view')     AS view
        FROM events
        GROUP BY user_id
        ORDER BY user_id
    """,
    "q25_above_segment_avg": """
        WITH spend AS (
            SELECT o_custkey AS c_custkey, c_mktsegment, sum(o_totalprice) AS spend
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY o_custkey, c_mktsegment
        ), seg AS (
            SELECT c_mktsegment, avg(spend) AS seg_avg FROM spend GROUP BY c_mktsegment
        )
        SELECT c_custkey, spend.c_mktsegment, round(spend, 2) AS spend
        FROM spend JOIN seg ON spend.c_mktsegment = seg.c_mktsegment
        WHERE spend > seg_avg
        ORDER BY c_custkey
    """,
    "q26_percentiles": """
        SELECT event_type,
               round(quantile_cont(value, 0.5), 4)  AS p50,
               round(quantile_cont(value, 0.9), 4)  AS p90,
               round(quantile_cont(value, 0.99), 4) AS p99
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q27_histogram": """
        SELECT floor(value / 50)::BIGINT AS bucket, count(*) AS n
        FROM events
        GROUP BY 1
        ORDER BY 1
    """,
    "q29_approx_sketches": """
        SELECT o_orderpriority,
               count(DISTINCT o_custkey) AS n_customers,
               count(*)                  AS n_orders,
               1::INT                    AS hll_ok,
               1::INT                    AS p50_bounded
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
}

QUERIES = {
    "q22_asof_join": q22_asof_join,
    "q23_pivot": q23_pivot,
    "q25_above_segment_avg": q25_above_segment_avg,
    "q26_percentiles": q26_percentiles,
    "q27_histogram": q27_histogram,
    "q29_approx_sketches": q29_approx_sketches,
}


def q37_time_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-fill: a dense hourly series per event type
    (generated with sequence/explode — no data shuffle to build the
    spine) left-joined onto the hourly counts, empty buckets filled
    with 0 — the time_bucket_gapfill pattern for continuous dashboards.

    The spine is (types × hours): types come from a tiny distinct agg,
    the hour series is generated from the global min/max — both
    broadcast; the only real shuffle is the hourly count aggregate."""
    e = Tables(spark, sf_dir).events
    hourly = e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour")
    )
    types = e.select("event_type").distinct()
    spine = hours.crossJoin(F.broadcast(types))
    return (
        spine.join(hourly, ["hour", "event_type"], "left")
        .select(
            "hour",
            "event_type",
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
        .orderBy("hour", "event_type")
    )


ORACLE["q37_time_gapfill"] = """
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2
    ), hours AS (
        SELECT unnest(generate_series(date_trunc('hour', min(ts)),
                                      date_trunc('hour', max(ts)),
                                      INTERVAL 1 HOUR)) AS hour
        FROM events
    ), types AS (SELECT DISTINCT event_type FROM events)
    SELECT h.hour, t.event_type, coalesce(x.n_events, 0) AS n_events
    FROM hours h CROSS JOIN types t
    LEFT JOIN hourly x ON x.hour = h.hour AND x.event_type = t.event_type
    ORDER BY h.hour, t.event_type
"""

QUERIES["q37_time_gapfill"] = q37_time_gapfill


RANGE_WINDOW_MIN = 10  # look-ahead window (minutes) for the range join


def q38_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval range join: for every ``error`` event, count the same
    user's events (and purchases) in the following ``(ts, ts+10min]``
    window — the "what happened after the error" funnel query, and the
    second classic timeseries join shape next to q22's as-of join.

    Plan shape: Catalyst plans this as an EQUI-join on user_id with the
    range predicate applied as a join filter — per-user blocks are
    small, so the pair enumeration is bounded by per-user event counts,
    never a cross join. At 100 TB with hot users, pre-bucket both sides
    by (user_id, time_bucket) so a row only meets its own and the next
    bucket (bounded-band join), or let AQE skew-split the hot keys.
    """
    e = Tables(spark, sf_dir).events
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("uid"),
        F.col("ts").alias("err_ts"),
    )
    follow = e.select(
        F.col("user_id").alias("f_uid"),
        F.col("ts").alias("f_ts"),
        F.col("event_type").alias("f_type"),
    )
    cond = (
        (F.col("uid") == F.col("f_uid"))
        & (F.col("f_ts") > F.col("err_ts"))
        & (F.col("f_ts") <= F.col("err_ts") + F.expr(f"INTERVAL {RANGE_WINDOW_MIN} MINUTES"))
    )
    return (
        errors.join(follow, cond, "left")
        .groupBy("err_id", "uid")
        .agg(
            F.count("f_ts").alias("n_follow"),
            F.coalesce(
                F.sum((F.col("f_type") == "purchase").cast("int")), F.lit(0)
            ).cast("long").alias("n_purchase"),
        )
        .select(F.col("err_id").alias("event_id"), F.col("uid").alias("user_id"),
                "n_follow", "n_purchase")
        .orderBy("event_id")
    )


ORACLE["q38_range_join"] = f"""
    SELECT e.event_id,
           e.user_id,
           count(f.ts)                                              AS n_follow,
           coalesce(sum((f.event_type = 'purchase')::INT), 0)::BIGINT AS n_purchase
    FROM events e
    LEFT JOIN events f
      ON f.user_id = e.user_id
     AND f.ts > e.ts
     AND f.ts <= e.ts + INTERVAL {RANGE_WINDOW_MIN} MINUTE
    WHERE e.event_type = 'error'
    GROUP BY e.event_id, e.user_id
    ORDER BY e.event_id
"""

QUERIES["q38_range_join"] = q38_range_join


def q39_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt): per-returnflag totals of the four
    lineitem measures, melted from one row × four columns into four
    (metric, value) rows — the inverse of q23's pivot. Money/quantity
    values carry 2 exact decimals, so sums ride ``round(x·100)`` longs
    (order-independent, integer-exact at the gate).

    Scale: the aggregate reduces lineitem to |flags| rows BEFORE the
    melt, so the unpivot itself touches only the tiny result — never
    melt first (that would 4× the shuffle volume for the same answer).
    """
    li = Tables(spark, sf_dir).lineitem
    e2 = lambda c: F.sum(F.round(F.col(c) * 100).cast("long"))  # noqa: E731
    agg = li.groupBy("l_returnflag").agg(
        e2("l_quantity").alias("qty_e2"),
        e2("l_extendedprice").alias("price_e2"),
        e2("l_discount").alias("disc_e2"),
        e2("l_tax").alias("tax_e2"),
    )
    return agg.unpivot(
        ["l_returnflag"],
        ["qty_e2", "price_e2", "disc_e2", "tax_e2"],
        "metric",
        "total_e2",
    ).orderBy("l_returnflag", "metric")


ORACLE["q39_unpivot"] = """
    WITH agg AS (
        SELECT l_returnflag,
               sum(round(l_quantity      * 100)::BIGINT)::BIGINT AS qty_e2,
               sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS price_e2,
               sum(round(l_discount      * 100)::BIGINT)::BIGINT AS disc_e2,
               sum(round(l_tax           * 100)::BIGINT)::BIGINT AS tax_e2
        FROM lineitem
        GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, total_e2
    FROM (UNPIVOT agg ON qty_e2, price_e2, disc_e2, tax_e2
          INTO NAME metric VALUE total_e2)
    ORDER BY l_returnflag, metric
"""

QUERIES["q39_unpivot"] = q39_unpivot


def q40_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: users who viewed, then clicked AFTER
    the first view, then purchased AFTER that click — strictly ordered
    milestones, the canonical product-analytics sequence query.

    Plan shape: three stage aggregates, each a groupBy on user_id —
    every stage joins and aggregates on the SAME key, so Catalyst
    reuses one hash-partitioning across the chain (one logical shuffle
    of the events table, then key-local joins). The final counts are
    single-row global aggregates of tiny per-stage relations.
    """
    e = Tables(spark, sf_dir).events
    stage1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    stage2 = (
        e.filter(F.col("event_type") == "click")
        .join(stage1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    stage3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(stage2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        stage1.agg(F.count(F.lit(1)).alias("n_view"))
        .crossJoin(stage2.agg(F.count(F.lit(1)).alias("n_view_click")))
        .crossJoin(stage3.agg(F.count(F.lit(1)).alias("n_view_click_purchase")))
    )


ORACLE["q40_funnel"] = """
    WITH stage1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ), stage2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN stage1 USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > stage1.t1
        GROUP BY e.user_id
    ), stage3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN stage2 USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > stage2.t2
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM stage1) AS n_view,
           (SELECT count(*) FROM stage2) AS n_view_click,
           (SELECT count(*) FROM stage3) AS n_view_click_purchase
"""

QUERIES["q40_funnel"] = q40_funnel


def q41_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-activity day,
    counted on each subsequent active day offset — the
    day-N-retention triangle every growth dashboard is built on.

    Plan shape: one groupBy(user) for the cohort day, one distinct on
    (user, day), then a key-local join back on user_id and a
    low-cardinality aggregate on (cohort_day, offset). All three
    shuffles key on user_id or a tiny composite — no fact-level
    re-shuffle.
    """
    e = Tables(spark, sf_dir).events
    firsts = e.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    active = e.select("user_id", F.to_date("ts").alias("d")).distinct()
    return (
        active.join(firsts, "user_id")
        .select(
            "cohort_day",
            F.datediff(F.col("d"), F.col("cohort_day")).alias("offset_days"),
            "user_id",
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "offset_days")
    )


ORACLE["q41_retention"] = """
    WITH firsts AS (
        SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY user_id
    ), active AS (
        SELECT DISTINCT user_id, ts::DATE AS d FROM events
    )
    SELECT f.cohort_day,
           date_diff('day', f.cohort_day, a.d) AS offset_days,
           count(DISTINCT a.user_id)           AS n_users
    FROM active a JOIN firsts f USING (user_id)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""

QUERIES["q41_retention"] = q41_retention


def q42_time_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted aggregation (the hypertable ``time_weight`` shape):
    per (user, type) piecewise-linear integral of the value series over
    time — trapezoid area between consecutive observations — plus the
    covered duration, from which the true time-weighted average falls
    out as ``area / duration`` (irregular sampling means a plain avg
    over-weights bursts).

    Exactness: values carry 2 exact decimals and timestamps are
    microsecond longs, so each trapezoid is the exact long
    ``(round(100·v) + round(100·prev_v)) · Δt_µs`` (2× the scaled area)
    — summation order can't drift it. One lag window + one hash agg,
    both keyed on the same (user_id, event_type) partitioning.
    """
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id", "event_type").orderBy("ts")
    v100 = F.round(F.col("value") * 100).cast("long")
    base = e.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        v100.alias("v"),
    ).select(
        "user_id",
        "event_type",
        "ts_us",
        "v",
        F.lag("ts_us").over(
            Window.partitionBy("user_id", "event_type").orderBy("ts_us")
        ).alias("pts"),
        F.lag("v").over(
            Window.partitionBy("user_id", "event_type").orderBy("ts_us")
        ).alias("pv"),
    )
    seg = base.filter(F.col("pts").isNotNull()).select(
        "user_id",
        "event_type",
        ((F.col("v") + F.col("pv")) * (F.col("ts_us") - F.col("pts"))).alias("area2_e2"),
        (F.col("ts_us") - F.col("pts")).alias("dt_us"),
    )
    return (
        seg.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum("area2_e2").alias("area2_e2"),
            F.sum("dt_us").alias("dur_us"),
        )
        .orderBy("user_id", "event_type")
    )


ORACLE["q42_time_weighted"] = """
    WITH base AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS ts_us,
               round(value * 100)::BIGINT AS v,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type ORDER BY epoch_us(ts)) AS pts,
               lag(round(value * 100)::BIGINT) OVER (PARTITION BY user_id, event_type ORDER BY epoch_us(ts)) AS pv
        FROM events
    )
    SELECT user_id, event_type,
           count(*)                       AS n_segments,
           sum((v + pv) * (ts_us - pts))::BIGINT AS area2_e2,
           sum(ts_us - pts)::BIGINT       AS dur_us
    FROM base
    WHERE pts IS NOT NULL
    GROUP BY user_id, event_type
    ORDER BY user_id, event_type
"""

QUERIES["q42_time_weighted"] = q42_time_weighted


def q44_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event, the user's trailing 1-hour sum and
    count — a time-interval frame (peers included by VALUE distance, not
    row offset), the moving-window shape q15's ROWS frame can't express
    over irregular event times.

    Frame bounds ride whole epoch-seconds so the window semantics are
    identical across engines; the summed value is the 2-decimal fixed
    point long. One shuffle on user_id, then an ordered range scan per
    partition.
    """
    e = Tables(spark, sf_dir).events
    base = e.select(
        "event_id",
        "user_id",
        F.unix_seconds(F.col("ts")).alias("s"),
        F.round(F.col("value") * 100).cast("long").alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("s"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        F.sum("v").over(w).alias("sum_1h_e2"),
        F.count(F.lit(1)).over(w).alias("n_1h"),
    ).orderBy("event_id")


ORACLE["q44_range_frame"] = """
    WITH base AS (
        SELECT event_id, user_id,
               epoch_us(ts) // 1000000    AS s,
               round(value * 100)::BIGINT AS v
        FROM events
    )
    SELECT event_id, user_id,
           sum(v) OVER (PARTITION BY user_id ORDER BY s
                        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)::BIGINT AS sum_1h_e2,
           count(*) OVER (PARTITION BY user_id ORDER BY s
                          RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS n_1h
    FROM base
    ORDER BY event_id
"""

QUERIES["q44_range_frame"] = q44_range_frame


def q45_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence transition matrix: per-user lag over the ordered
    event stream, counted by (previous, next) event-type pair — the
    Markov-transition summary behind path analysis / next-action
    models. Deterministic order: (ts, event_id) breaks timestamp ties.

    Plan shape: one window sort keyed by user_id (the same partitioning
    every sessionize/funnel op uses), then a low-cardinality hash agg —
    at 100 TB the window shuffle is the only data movement and the
    result is |types|² rows.
    """
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


ORACLE["q45_transitions"] = """
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events
    )
    SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
    FROM seq
    WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    ORDER BY prev_type, next_type
"""

QUERIES["q45_transitions"] = q45_transitions


MAD_K = 3  # flag |x - median| > K * MAD


def q46_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly summary per event type: median / MAD (median
    absolute deviation) outlier counts — the heavy-tail-safe twin of
    the z-score detector (q32), which a single spike can blind.

    Exactness: values are exact 2-decimals, so everything rides scaled
    longs — ``med2`` = 2·median(value·100) and ``mad4`` = 4·MAD(value·100)
    are integers because an even-count median interpolates exactly one
    halving; the flag ``|x−med| > K·MAD`` becomes the integer
    cross-multiplication ``2·dev2 > K·mad4``. No float ever reaches the
    gate (the engines' interpolated medians agree bit-for-bit: (a+b)/2
    of sub-2^53 longs is exact IEEE).

    Plan shape: two grouped exact-median passes over (type, value)
    with broadcast joins back — the per-type stat tables are |types|
    rows. Exact distributed medians sort within groups; at 100 TB you
    would swap ``median`` for ``approx_percentile`` and keep the
    identical integer frame.
    """
    e = Tables(spark, sf_dir).events
    v = e.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("v2")
    )
    med = v.groupBy("event_type").agg(
        (F.expr("2 * median(v2)")).cast("long").alias("med2")
    )
    dev = v.join(F.broadcast(med), "event_type").withColumn(
        "dev2", F.abs(2 * F.col("v2") - F.col("med2"))
    )
    mad = dev.groupBy("event_type", "med2").agg(
        (F.expr("2 * median(dev2)")).cast("long").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad.select("event_type", "mad4")), "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((2 * F.col("dev2") > MAD_K * F.col("mad4")).cast("int")).alias(
                "n_outliers"
            ),
        )
        .select("event_type", "n", "med2", "mad4", "n_outliers")
        .orderBy("event_type")
    )


ORACLE["q46_mad_anomaly"] = f"""
    WITH v AS (
        SELECT event_type, round(value * 100)::BIGINT AS v2 FROM events
    ), med AS (
        SELECT event_type, (2 * quantile_cont(v2, 0.5))::BIGINT AS med2
        FROM v GROUP BY event_type
    ), dev AS (
        SELECT v.event_type, med2, abs(2 * v2 - med2) AS dev2
        FROM v JOIN med USING (event_type)
    ), mad AS (
        SELECT event_type, med2, (2 * quantile_cont(dev2, 0.5))::BIGINT AS mad4
        FROM dev GROUP BY event_type, med2
    )
    SELECT dev.event_type,
           count(*) AS n,
           any_value(dev.med2) AS med2,
           any_value(mad4)     AS mad4,
           sum((2 * dev2 > {MAD_K} * mad4)::INT)::BIGINT AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    ORDER BY dev.event_type
"""

QUERIES["q46_mad_anomaly"] = q46_mad_anomaly


# ---------------------------------------------------------------------------
# q47: OHLC downsampling (candlestick buckets)
# ---------------------------------------------------------------------------


def q47_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hour) open / high / low /
    close of ``value`` plus the tick count — the hypertable
    candlestick/downsample rollup (TimescaleDB ``candlestick_agg``,
    InfluxDB ``aggregateWindow``).

    Determinism: open/close pick the value at the min/max of the UNIQUE
    key (ts, event_id), via a lexicographic struct min/max — one hash
    aggregate with map-side partials, no window sort. Outputs are raw
    input doubles (selection, never arithmetic), so they hash exactly.

    Scale: single map-side-combinable aggregate keyed by (type, hour);
    at 100 TB this is the continuous-aggregate shape — each partition
    contributes one partial OHLC struct per bucket.
    """
    e = Tables(spark, sf_dir).events
    b = e.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
        F.struct("ts", F.col("event_id").alias("id"), F.col("value").alias("v")).alias("k"),
        "value",
    )
    return (
        b.groupBy("event_type", "hour")
        .agg(
            F.min("k")["v"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max("k")["v"].alias("close"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("event_type", "hour")
    )


ORACLE["q47_ohlc"] = """
    SELECT event_type,
           date_trunc('hour', ts) AS hour,
           min({'ts': ts, 'id': event_id, 'v': value}).v AS open,
           max(value) AS high,
           min(value) AS low,
           max({'ts': ts, 'id': event_id, 'v': value}).v AS close,
           count(*) AS n_ticks
    FROM events
    GROUP BY 1, 2
    ORDER BY event_type, hour
"""

QUERIES["q47_ohlc"] = q47_ohlc


# ---------------------------------------------------------------------------
# q48: linear-interpolation gap fill
# ---------------------------------------------------------------------------


def q48_interp_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill with LINEAR INTERPOLATION — the ``interpolate()``
    companion to q37's zero-fill: per event type, build the dense
    hourly spine between that type's own first and last bucket, carry
    the last observed bucket value forward/backward, and fill each
    missing bucket with the time-weighted blend of its neighbors.

    Exactness: bucket values are exact 2-decimal scaled longs
    (``round(value*100)``, the q32 playbook); the interpolated value

        (v0·(t1−t) + v1·(t−t0)) div (t1−t0)

    is one integral division of nonnegative longs (t in whole hours),
    so Spark ``div`` == DuckDB ``//`` and no float exists anywhere.
    The observed bucket value picks the LAST tick in the bucket by the
    unique (ts, event_id) key — deterministic on both engines.

    Scale: the aggregate is map-side combinable; the two neighbor
    carries are one window pass per type ordered by hour — the spine is
    |types|·|hours| rows, tiny next to the corpus. At 100 TB,
    range-partition the spine by (type, month) so window state stays
    bounded per task.
    """
    from pyspark.sql import Window

    e = Tables(spark, sf_dir).events
    obs = (
        e.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("hour"),
            F.struct(
                "ts",
                F.col("event_id").alias("id"),
                F.round(F.col("value") * 100).cast("long").alias("w"),
            ).alias("k"),
        )
        .groupBy("event_type", "hour")
        .agg(F.max("k")["w"].alias("w_e2"))
    )
    spine = (
        obs.groupBy("event_type")
        .agg(F.min("hour").alias("lo"), F.max("hour").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("interval 1 hour"))).alias("hour"),
        )
    )
    g = spine.join(obs, ["event_type", "hour"], "left").withColumn(
        "t", F.unix_timestamp("hour") / 3600
    ).withColumn("t", F.col("t").cast("long"))
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_t = F.when(F.col("w_e2").isNotNull(), F.col("t"))
    g = (
        g.withColumn("v0", F.last("w_e2", ignorenulls=True).over(back))
        .withColumn("t0", F.last(obs_t, ignorenulls=True).over(back))
        .withColumn("v1", F.first("w_e2", ignorenulls=True).over(fwd))
        .withColumn("t1", F.first(obs_t, ignorenulls=True).over(fwd))
    )
    filled = F.when(F.col("w_e2").isNotNull(), F.col("w_e2")).otherwise(
        F.expr("(v0 * (t1 - t) + v1 * (t - t0)) div (t1 - t0)")
    )
    return g.select(
        "event_type",
        "hour",
        filled.alias("value_e2"),
        F.col("w_e2").isNull().cast("int").alias("interpolated"),
    ).orderBy("event_type", "hour")


ORACLE["q48_interp_gapfill"] = """
    WITH obs AS (
        SELECT event_type,
               date_trunc('hour', ts) AS hour,
               max({'ts': ts, 'id': event_id,
                    'w': round(value * 100)::BIGINT}).w AS w_e2
        FROM events GROUP BY 1, 2
    ), spine AS (
        SELECT event_type,
               unnest(generate_series(min(hour), max(hour),
                                      INTERVAL 1 HOUR)) AS hour
        FROM obs GROUP BY event_type
    ), g AS (
        SELECT s.event_type, s.hour, obs.w_e2,
               (epoch(s.hour)::BIGINT // 3600) AS t
        FROM spine s LEFT JOIN obs USING (event_type, hour)
    ), n AS (
        SELECT *,
               last_value(w_e2 IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v0,
               last_value(CASE WHEN w_e2 IS NOT NULL THEN t END IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS t0,
               first_value(w_e2 IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v1,
               first_value(CASE WHEN w_e2 IS NOT NULL THEN t END IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY hour
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS t1
        FROM g
    )
    SELECT event_type, hour,
           CASE WHEN w_e2 IS NOT NULL THEN w_e2
                ELSE (v0 * (t1 - t) + v1 * (t - t0)) // (t1 - t0) END AS value_e2,
           (w_e2 IS NULL)::INT AS interpolated
    FROM n
    ORDER BY event_type, hour
"""

QUERIES["q48_interp_gapfill"] = q48_interp_gapfill


# ---------------------------------------------------------------------------
# q49: Z-order layout index (multi-dimensional data skipping)
# ---------------------------------------------------------------------------

ZORDER_BITS = 8  # bits per dimension after range normalization
ZORDER_BUCKET_SHIFT = 10  # keep top 6 of the 16 Z bits -> 64 buckets


def q49_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton curve) layout index — the multi-dimensional
    data-skipping story (Delta OPTIMIZE ZORDER BY / Iceberg sort
    orders): normalize user_id and event time each onto an 8-bit
    range-relative bucket, interleave their bits into a 16-bit
    Z-value, split the Z range into 64 buckets, and emit each bucket's
    row count and per-dimension min/max envelope. Because the curve
    preserves locality in BOTH dimensions, every bucket's envelope is
    tight on user_id AND ts at once — a point/range predicate on either
    column prunes most buckets, which a single-column sort cannot do.

    Exactness: normalization is integral division against the observed
    global bounds (a 1-row broadcast aggregate; all operands
    nonnegative so Spark ``div`` == DuckDB ``//``), the Z-value is pure
    bit arithmetic, and min/max carry raw input values.

    Scale: this query is the index audit; the writer twin
    (``lake.zorder_lake``) range-partitions on the same Z-value and
    sorts within partitions so parquet footer min/max match these
    envelopes. One map + one combinable aggregate — no shuffle beyond
    the range partitioner the write needs anyway.
    """
    e = Tables(spark, sf_dir).events
    bounds = e.agg(
        F.min("user_id").alias("min_u"),
        F.max("user_id").alias("max_u"),
        F.min(F.unix_timestamp("ts").cast("long")).alias("min_s"),
        F.max(F.unix_timestamp("ts").cast("long")).alias("max_s"),
    )
    z = with_zvalue(
        e.select("user_id", "ts", F.unix_timestamp("ts").cast("long").alias("s"))
        .join(F.broadcast(bounds)),
        "user_id", "s", ("min_u", "max_u", "min_s", "max_s"), ZORDER_BITS, "z",
    )
    return (
        z.groupBy(F.shiftright("z", ZORDER_BUCKET_SHIFT).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
        )
        .orderBy("z_bucket")
    )


ORACLE["q49_zorder_index"] = f"""
    WITH bounds AS (
        SELECT min(user_id) AS min_u, max(user_id) AS max_u,
               min(floor(epoch(ts))::BIGINT) AS min_s, max(floor(epoch(ts))::BIGINT) AS max_s
        FROM events
    ), nz AS (
        SELECT user_id, ts,
               ({1 << ZORDER_BITS} * (user_id - min_u)) // (max_u - min_u + 1) AS ux,
               ({1 << ZORDER_BITS} * (floor(epoch(ts))::BIGINT - min_s)) // (max_s - min_s + 1) AS tx
        FROM events CROSS JOIN bounds
    ), z AS (
        SELECT user_id, ts,
               list_sum([ (((ux >> i) & 1) << (2*i + 1))
                        + (((tx >> i) & 1) << (2*i))
                          for i in generate_series(0, {ZORDER_BITS - 1}) ]) AS z
        FROM nz
    )
    SELECT (z >> {ZORDER_BUCKET_SHIFT})::BIGINT AS z_bucket,
           count(*)      AS n_rows,
           min(user_id)  AS min_user,
           max(user_id)  AS max_user,
           min(ts)       AS min_ts,
           max(ts)       AS max_ts
    FROM z
    GROUP BY 1
    ORDER BY z_bucket
"""

QUERIES["q49_zorder_index"] = q49_zorder_index


# ---------------------------------------------------------------------------
# q50: SCD Type-2 dimension build (validity intervals from a changelog)
# ---------------------------------------------------------------------------


def q50_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (Type 2) build: collapse each user's
    event stream into validity intervals — one row per state CHANGE
    with ``valid_from`` / ``valid_to`` / ``is_current`` — the
    changelog→dimension-table transform every warehouse maintains (and
    the batch twin of a CDC merge). State here is the event type; on
    real data it is whatever attribute set the dimension tracks.

    Deterministic: the stream orders by the unique (ts, event_id) key;
    change rows keep their own ts, ``valid_to`` is the next change's
    ts (NULL while current). All outputs are carried input values —
    nothing computed, nothing float.

    Scale: two window passes over the same (user_id → ts) sort — one
    shuffle total, since both windows share partitioning and ordering.
    At 100 TB, partition the changelog by user bucket and this runs
    per-bucket; the output dimension is a fraction of the changelog
    (runs collapse).
    """
    from pyspark.sql.window import Window as W_

    e = Tables(spark, sf_dir).events
    w = W_.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
    )
    w2 = W_.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.withColumn("valid_to", F.lead("ts").over(w2))
        .select(
            "user_id",
            F.col("event_type").alias("state"),
            F.col("ts").alias("valid_from"),
            "valid_to",
            F.col("valid_to").isNull().cast("int").alias("is_current"),
        )
        .orderBy("user_id", "valid_from", "state")
    )


ORACLE["q50_scd2_intervals"] = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ), changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id,
           event_type AS state,
           ts AS valid_from,
           lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)::INT
               AS is_current
    FROM changes
    ORDER BY user_id, valid_from, state
"""

QUERIES["q50_scd2_intervals"] = q50_scd2_intervals


# ---------------------------------------------------------------------------
# q53: hopping (sliding) window aggregate
# ---------------------------------------------------------------------------

HOP_WIDTH_S = 3600  # window width: 1 hour
HOP_SLIDE_S = 900  # slide: 15 minutes -> every event lands in 4 windows


def q53_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregate: 1-hour windows sliding every 15
    minutes per event type — the overlapping-window shape dashboards
    and rate-limiters use (Spark ``F.window(ts, width, slide)``; the
    streaming twin is the same expression under a watermark).

    Width/slide = 4, so the window explode is a fixed 4× row fanout
    BEFORE the aggregate — Spark's built-in window() generates the
    assignments map-side and the only shuffle is the final combinable
    aggregate keyed by (window, type). Sums ride scaled longs (the q32
    playbook), counts are exact.
    """
    e = Tables(spark, sf_dir).events
    w = F.window("ts", f"{HOP_WIDTH_S} seconds", f"{HOP_SLIDE_S} seconds")
    return (
        e.select(
            "event_type",
            w.alias("win"),
            F.round(F.col("value") * 100).cast("long").alias("w2"),
        )
        .groupBy(F.col("win.start").alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w2").alias("sum_e2"),
        )
        .orderBy("window_start", "event_type")
    )


ORACLE["q53_hopping_window"] = f"""
    WITH assigned AS (
        SELECT event_type,
               TIMESTAMP '1970-01-01'
                 + ((floor(epoch(ts))::BIGINT // {HOP_SLIDE_S} - k.k) * {HOP_SLIDE_S})
                   * INTERVAL 1 SECOND AS window_start,
               round(value * 100)::BIGINT AS w2
        FROM events
        CROSS JOIN (SELECT unnest(generate_series(0,
                        {HOP_WIDTH_S // HOP_SLIDE_S - 1})) AS k) k
    )
    SELECT window_start, event_type,
           count(*)        AS n_events,
           sum(w2)::BIGINT AS sum_e2
    FROM assigned
    GROUP BY 1, 2
    ORDER BY window_start, event_type
"""

QUERIES["q53_hopping_window"] = q53_hopping_window


# ---------------------------------------------------------------------------
# q56: bitmap-index distinct aggregation
# ---------------------------------------------------------------------------


def q56_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-user counts per event type via 64-bit word
    bitmaps — the roaring-bitmap-style pattern that replaces
    ``count(distinct)``'s full key shuffle at scale.

    Each user id maps to (word = id >> 6, bit = 1 << (id & 63)); the
    per-(type, word) ``bit_or`` is map-side combinable and ASSOCIATIVE,
    so partial bitmaps merge across partitions/days/files without
    re-expansion — unlike count(distinct), whose map side must ship
    every distinct key. The final popcount sum touches only
    |types| x |user_space|/64 rows. The same word bitmaps would land in
    a segment index (the reference keeps no such index; its per-row
    sink can't: SURVEY.md section 2.6 gap table).
    """
    e = Tables(spark, sf_dir).events
    words = e.select(
        "event_type",
        F.shiftright(F.col("user_id"), 6).alias("word_idx"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT))").alias("bit"),
    )
    bitmaps = words.groupBy("event_type", "word_idx").agg(
        F.bit_or("bit").alias("bits"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        bitmaps.groupBy("event_type")
        .agg(
            F.sum(F.bit_count("bits")).cast("long").alias("n_users"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .orderBy("event_type")
    )


ORACLE["q56_bitmap_distinct"] = """
    SELECT event_type,
           count(DISTINCT user_id)::BIGINT AS n_users,
           count(*)::BIGINT                AS n_events
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""

QUERIES["q56_bitmap_distinct"] = q56_bitmap_distinct


# ---------------------------------------------------------------------------
# q57: bloom-filter semi-join pruning (runtime-filter pattern)
# ---------------------------------------------------------------------------

BLOOM_M = 1 << 14  # filter bits (words = M/64)
BLOOM_K = 3  # probes per key


def q57_bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join pruning with exact false-positive
    accounting — the runtime-filter pattern that replaces shuffling a
    100 TB fact side for a selective semi join: the build side's keys
    compress into an M-bit filter (BLOOM_M/8 bytes — broadcastable at
    any scale), the fact side tests membership map-side, and only
    bloom-passing rows continue to the exact join.

    The filter is the q56 word-bitmap machinery loaded with BLOOM_K
    affine rehashes per key (portable h64/affine, so DuckDB builds the
    bit-identical filter and the FP accounting is value-exact). Output
    per returnflag: rows, bloom-passed rows, true-semi-join rows, and
    the false positives the exact join must still discard — the
    cost/benefit number a planner needs before injecting the filter.

    Plan shape — the actual runtime-filter mechanics: the built filter
    is BLOOM_M/256 words max (a few KB), so it leaves the cluster as a
    LITERAL map expression compiled into the fact-side scan (exactly
    how Spark's InjectRuntimeFilter ships its bloom subquery result).
    The bloom test is therefore pure map-side compute on the fact rows
    — no distinct, no probe-side shuffle, no join for the test itself;
    the only joins left are the broadcast truth join (for the FP
    accounting this audit emits) and the final combinable aggregate.
    """
    from ..functions.hashing import MINHASH_COEFFS, affine, h64

    t = Tables(spark, sf_dir)
    build_keys = t.orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    coeffs = MINHASH_COEFFS[:BLOOM_K]

    def probe_idx(key_col):
        return [affine(h64(key_col), a, b) % BLOOM_M for (a, b) in coeffs]

    words = (
        build_keys.select(
            F.explode(F.array(*probe_idx(F.col("k")))).alias("idx")
        )
        .select(
            # 32-bit words: DuckDB's << raises on 1<<63 (negative
            # BIGINT), so both engines pack bits into the low half
            F.shiftright("idx", 5).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(idx % 32 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
    )
    # ship the filter as a literal: a dense word array indexed by
    # word id (k-sized driver collect, like the centroid codebooks /
    # t19 merge table). An ARRAY literal gives O(1) element_at per
    # probe — a map literal would linear-scan its entries per lookup.
    wmap = {r["word"]: r["bits"] for r in words.collect()}
    # ONE parsed array literal instead of BLOOM_M/32 = 512 py4j lit()
    # round trips (r12, guide §7.3) — the analyzed tree is identical
    bloom = F.expr(
        "array(" + ", ".join(f"{wmap.get(w, 0)}L" for w in range(BLOOM_M // 32)) + ")"
    )

    def bloom_test(hash_col):
        # probes share ONE md5 per row (the projected hash column);
        # each probe is then two integer ops + an O(1) array index
        cond = None
        for a, b in coeffs:
            idx = affine(hash_col, a, b) % BLOOM_M
            word = F.shiftright(idx, 5)
            # 1 << (idx % 32) with a COLUMN shift amount: pyspark's
            # shiftleft only takes a literal, so use 2^n (exact in
            # double for n <= 31) and cast back
            bit = F.pow(F.lit(2.0), (idx % 32).cast("double")).cast("long")
            hit = (
                F.element_at(bloom, (word + 1).cast("int")).bitwiseAND(bit) != 0
            )
            cond = hit if cond is None else cond & hit
        return cond

    li = t.lineitem.select("l_orderkey", "l_returnflag")
    true_keys = build_keys.select(F.col("k").alias("l_orderkey")).withColumn(
        "true_pass", F.lit(1)
    )
    flagged = (
        li.withColumn("_h", h64(F.col("l_orderkey")))
        .withColumn("bloom_pass", bloom_test(F.col("_h")).cast("int"))
        .join(F.broadcast(true_keys), "l_orderkey", "left")
        .withColumn("true_pass", F.coalesce("true_pass", F.lit(0)))
    )
    return (
        flagged.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("bloom_pass").cast("long").alias("n_bloom_pass"),
            F.sum("true_pass").cast("long").alias("n_true_pass"),
            (F.sum("bloom_pass") - F.sum("true_pass")).cast("long").alias("n_false_pos"),
        )
        .orderBy("l_returnflag")
    )


def _q57_oracle() -> str:
    from ..functions.hashing import MINHASH_COEFFS, affine_sql, h64_sql

    coeffs = MINHASH_COEFFS[:BLOOM_K]

    def probes_sql(expr: str) -> str:
        return ", ".join(
            f"({affine_sql(h64_sql(expr), a, b)} % {BLOOM_M})" for (a, b) in coeffs
        )

    return f"""
    WITH build_keys AS (
        SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
    ), bprobe AS (
        SELECT unnest([{probes_sql("k::VARCHAR")}]) AS idx FROM build_keys
    ), words AS (
        SELECT idx // 32 AS word, bit_or(1::BIGINT << (idx % 32)::INT) AS bits
        FROM bprobe GROUP BY 1
    ), pkeys AS (
        SELECT DISTINCT l_orderkey AS pk FROM lineitem
    ), pprobe AS (
        SELECT pk, unnest([{probes_sql("pk::VARCHAR")}]) AS idx FROM pkeys
    ), key_pass AS (
        SELECT p.pk,
               (sum(CASE WHEN (coalesce(w.bits, 0) & (1::BIGINT << (p.idx % 32)::INT)) <> 0
                         THEN 1 ELSE 0 END) = {BLOOM_K})::INT AS bloom_pass
        FROM pprobe p
        LEFT JOIN words w ON w.word = p.idx // 32
        GROUP BY p.pk
    ), key_flags AS (
        SELECT kp.pk, kp.bloom_pass,
               CASE WHEN bk.k IS NULL THEN 0 ELSE 1 END AS true_pass
        FROM key_pass kp LEFT JOIN build_keys bk ON bk.k = kp.pk
    )
    SELECT li.l_returnflag,
           count(*)::BIGINT                                AS n_rows,
           sum(kf.bloom_pass)::BIGINT                      AS n_bloom_pass,
           sum(kf.true_pass)::BIGINT                       AS n_true_pass,
           (sum(kf.bloom_pass) - sum(kf.true_pass))::BIGINT AS n_false_pos
    FROM lineitem li JOIN key_flags kf ON kf.pk = li.l_orderkey
    GROUP BY li.l_returnflag
    ORDER BY li.l_returnflag
    """


ORACLE["q57_bloom_semi_prune"] = _q57_oracle()
QUERIES["q57_bloom_semi_prune"] = q57_bloom_semi_prune


# ---------------------------------------------------------------------------
# q58: table-diff reconciliation (CDC sink audit)
# ---------------------------------------------------------------------------

DIFF_MOD = 100  # deterministic divergence classes for the derived replica


def q58_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation diff between a source table and its replica —
    the audit every CDC/upsert sink (K6) runs to prove the target
    converged: full outer join on the key, rows classified as match /
    changed / missing_in_replica / extra_in_replica, counts per class.

    The "replica" here is derived deterministically from orders so
    both engines build the identical divergence: keys with
    h64(key) % 100 == 1 are dropped (replica lost a delete), == 2 are
    dropped from the SOURCE view (replica has a row the source
    re-deleted), == 0 get a price bump (stale update). At 100 TB the
    same plan reconciles a lake table against its upstream: one
    key-partitioned full outer join with map-side struct equality —
    no row ships twice, and per-class counts are combinable partials.
    """
    from ..functions.hashing import h64

    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    bucket = h64(F.col("o_orderkey")) % DIFF_MOD
    source = o.withColumn("_b", bucket).filter(F.col("_b") != 2)
    replica = (
        o.withColumn("_b", bucket)
        .filter(F.col("_b") != 1)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("_b") == 0, F.round(F.col("o_totalprice") + F.lit(1.0), 2)
            ).otherwise(F.col("o_totalprice")),
        )
    )
    s = source.select(
        F.col("o_orderkey").alias("k"),
        F.struct("o_totalprice", "o_orderpriority").alias("sv"),
    )
    r = replica.select(
        F.col("o_orderkey").alias("k"),
        F.struct("o_totalprice", "o_orderpriority").alias("rv"),
    )
    diff_class = (
        F.when(F.col("rv").isNull(), "missing_in_replica")
        .when(F.col("sv").isNull(), "extra_in_replica")
        .when(F.col("sv") == F.col("rv"), "match")
        .otherwise("changed")
    )
    return (
        s.join(r, "k", "full_outer")
        .select(diff_class.alias("diff_class"))
        .groupBy("diff_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .orderBy("diff_class")
    )


def _q58_oracle() -> str:
    from ..functions.hashing import h64_sql

    b = f"({h64_sql('o_orderkey::VARCHAR')} % {DIFF_MOD})"
    return f"""
    WITH o AS (
        SELECT o_orderkey, o_totalprice, o_orderpriority, {b} AS b
        FROM orders
    ), source AS (
        SELECT o_orderkey AS k, o_totalprice, o_orderpriority
        FROM o WHERE b <> 2
    ), replica AS (
        SELECT o_orderkey AS k,
               CASE WHEN b = 0 THEN round(o_totalprice + 1.0, 2)
                    ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM o WHERE b <> 1
    ), joined AS (
        SELECT CASE
                 WHEN r.k IS NULL THEN 'missing_in_replica'
                 WHEN s.k IS NULL THEN 'extra_in_replica'
                 WHEN s.o_totalprice = r.o_totalprice
                      AND s.o_orderpriority = r.o_orderpriority THEN 'match'
                 ELSE 'changed'
               END AS diff_class
        FROM source s
        FULL OUTER JOIN replica r ON r.k = s.k
    )
    SELECT diff_class, count(*)::BIGINT AS n_keys
    FROM joined
    GROUP BY diff_class
    ORDER BY diff_class
    """


ORACLE["q58_table_diff"] = _q58_oracle()
QUERIES["q58_table_diff"] = q58_table_diff


# ---------------------------------------------------------------------------
# q59: recursive CTE — event-type reachability (graph traversal in SQL)
# ---------------------------------------------------------------------------

Q59_MAX_DEPTH = 25  # safety bound; actual depth is log2(n_customers)


def q59_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive-query capability (Spark 4.1 ``WITH RECURSIVE``,
    SPARK-24497): BFS down an org-chart-style hierarchy — parent of
    customer k is k DIV 2 (an implicit binary tree rooted at key 1,
    the standard heap encoding) — emitting per-level node counts and
    key ranges. At sf0.01 the tree is ~11 levels deep, so the
    recursion genuinely iterates; the per-level profile is the
    "reporting rollup over an employee hierarchy" shape.

    Scale: each iteration equi-joins the frontier against customer on
    the parent key; total work is O(n log n) with frontier sizes
    doubling then halting — the depth bound is log2(n), so even a
    100 TB key space recurses ~40 times, and every iteration is a
    plain shuffled equi-join Catalyst plans like any other (AQE can
    broadcast early small frontiers).

    Reference parity: no recursive/graph surface exists in the
    reference (SURVEY §2.6 gap table); extension machinery.
    """
    c = Tables(spark, sf_dir).customer.select("c_custkey")
    c.createOrReplaceTempView("q59_customer")
    return spark.sql(
        f"""
        WITH RECURSIVE tree(k, depth) AS (
            SELECT CAST(1 AS BIGINT), 0
            UNION ALL
            SELECT c.c_custkey, t.depth + 1
            FROM q59_customer c JOIN tree t ON c.c_custkey DIV 2 = t.k
            WHERE c.c_custkey > 1 AND t.depth < {Q59_MAX_DEPTH}
        )
        SELECT CAST(depth AS BIGINT) AS depth,
               COUNT(*) AS n_nodes,
               MIN(k) AS min_key,
               MAX(k) AS max_key
        FROM tree
        GROUP BY depth
        ORDER BY depth
        """
    )


ORACLE["q59_recursive_hierarchy"] = f"""
    WITH RECURSIVE tree(k, depth) AS (
        SELECT 1::BIGINT, 0
        UNION ALL
        SELECT c.c_custkey, t.depth + 1
        FROM customer c JOIN tree t ON c.c_custkey // 2 = t.k
        WHERE c.c_custkey > 1 AND t.depth < {Q59_MAX_DEPTH}
    )
    SELECT depth::BIGINT AS depth,
           count(*)::BIGINT AS n_nodes,
           min(k)::BIGINT AS min_key,
           max(k)::BIGINT AS max_key
    FROM tree
    GROUP BY depth
    ORDER BY depth
"""

QUERIES["q59_recursive_hierarchy"] = q59_recursive_hierarchy


# ---------------------------------------------------------------------------
# q60: deterministic stratified sampling + AQP error accounting
# ---------------------------------------------------------------------------

Q60_RATE_PCT = 2  # per-stratum sampling rate, percent
Q60_MOD = 100


def q60_sample_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate query processing by deterministic stratified
    sampling: per l_returnflag stratum, keep rows whose portable
    60-bit key hash lands in the first Q60_RATE_PCT residues, scale
    the sampled sum back up, and report estimate vs exact with a
    basis-point error — the sample-then-correct loop every 100 TB
    exploration workflow runs before paying for the full scan.

    Hash-based (not rand()) so the sample is reproducible across
    engines, retries, and partitionings — a property rand()-sampling
    loses under speculative execution. l_quantity is integer-valued,
    so the double sums are exact and engine-order-independent; the
    error ratio is floor-scaled (q36 pattern) to stay boundary-proof.

    Plan: one scan computes BOTH branches (conditional aggregation on
    the hash residue) — the sample costs no second pass.
    """
    from ..functions.hashing import h64

    li = Tables(spark, sf_dir).lineitem.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity"
    )
    key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    in_sample = (h64(key) % Q60_MOD) < Q60_RATE_PCT
    scale = Q60_MOD / Q60_RATE_PCT
    est = F.sum(F.when(in_sample, F.col("l_quantity")).otherwise(F.lit(0.0))) * scale
    exact = F.sum("l_quantity")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(in_sample.cast("long")).alias("n_sampled"),
            F.count(F.lit(1)).alias("n_rows"),
            est.alias("est_sum_qty"),
            exact.alias("exact_sum_qty"),
            (
                F.floor((est - exact) / exact * 10000 + 0.5) / 10000.0
            ).alias("rel_err"),
        )
        .orderBy("l_returnflag")
    )


def _q60_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR")
    return f"""
    SELECT l_returnflag,
           sum(((({h}) % {Q60_MOD}) < {Q60_RATE_PCT})::INT)::BIGINT AS n_sampled,
           count(*)::BIGINT AS n_rows,
           sum(CASE WHEN (({h}) % {Q60_MOD}) < {Q60_RATE_PCT}
                    THEN l_quantity ELSE 0.0 END) * {Q60_MOD / Q60_RATE_PCT} AS est_sum_qty,
           sum(l_quantity) AS exact_sum_qty,
           floor((sum(CASE WHEN (({h}) % {Q60_MOD}) < {Q60_RATE_PCT}
                           THEN l_quantity ELSE 0.0 END) * {Q60_MOD / Q60_RATE_PCT}
                  - sum(l_quantity)) / sum(l_quantity) * 10000 + 0.5) / 10000.0 AS rel_err
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """


ORACLE["q60_sample_estimate"] = _q60_oracle()
QUERIES["q60_sample_estimate"] = q60_sample_estimate


# ---------------------------------------------------------------------------
# q61: fixed-point PageRank — iterative graph analytics as shuffled joins
# ---------------------------------------------------------------------------

from .graph import (  # noqa: E402 — q61's oracle mirrors the core's constants
    PR_BASE as Q61_BASE,
    PR_DAMP_DEN as Q61_DAMP_DEN,
    PR_DAMP_NUM as Q61_DAMP_NUM,
    PR_UNIT as Q61_UNIT,
)

Q61_ITERS = 3
Q61_TOPK = 20


def q61_pagerank(spark: SparkSession, sf_dir: str, iters: int = Q61_ITERS) -> DataFrame:
    """PageRank over the customer↔supplier trade graph (edge c—s iff c
    bought from s), run for a fixed number of power iterations as the
    classic Pregel-as-joins pattern: each round equi-joins the rank
    vector against the degree-annotated edge list and hash-aggregates
    contributions on the destination.

    **Fixed-point arithmetic** (BIGINT micro-ranks, integer DIV) keeps
    every iteration exact and summation-order-independent, so the
    DuckDB oracle matches bit-for-bit — float PageRank would drift by
    an ulp per reduction order. All magnitudes stay < 2^60 even at
    10^9 nodes.

    Scale: the edge list (with out-degree attached) is built once and
    cached; each iteration shuffles edge-sized contributions on dst and
    node-sized ranks on node — the same partitioning every round, so
    at scale the exchange reuses co-partitioned state (GraphX/Pregel's
    operating model, expressed in DataFrames so AQE still plans each
    round). Lineage grows linearly in iterations; for 20+ rounds at
    real scale, localCheckpoint() every ~5 rounds truncates it (noted
    in SCALE.md; K=3 here keeps the oracle CTE chain readable).

    Reference parity: no graph surface in the reference (SURVEY §2.6
    gap table) — extension machinery. Core: ``graph.pagerank_ranks``
    (property-tested against a brute-force python PageRank on random
    graphs in tests/test_graph_properties.py).
    """
    from .graph import pagerank_ranks

    t = Tables(spark, sf_dir)
    pairs = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    ranks = pagerank_ranks(edges, iters)
    return (
        ranks.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node DIV 2").alias("node_key"),
            F.col("pr").alias("rank_micro"),
        )
        .orderBy(F.desc("rank_micro"), "node_type", "node_key")
        .limit(Q61_TOPK)
    )


def _q61_oracle() -> str:
    head = """
    WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    r0 AS (SELECT node, {unit}::BIGINT AS pr FROM nodes)""".format(unit=Q61_UNIT)
    body = ""
    for i in range(1, Q61_ITERS + 1):
        body += """,
    c{i} AS (
        SELECT e.dst AS node, sum(r.pr // d.outdeg)::BIGINT AS contrib
        FROM edges e JOIN deg d ON e.src = d.src JOIN r{p} r ON e.src = r.node
        GROUP BY e.dst
    ),
    r{i} AS (
        SELECT n.node,
               ({base} + ({dn} * coalesce(c.contrib, 0)) // {dd})::BIGINT AS pr
        FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
    )""".format(i=i, p=i - 1, base=Q61_BASE, dn=Q61_DAMP_NUM, dd=Q61_DAMP_DEN)
    return head + body + """
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           (node // 2)::BIGINT AS node_key,
           pr::BIGINT AS rank_micro
    FROM r{k}
    ORDER BY rank_micro DESC, node_type, node_key
    LIMIT {topk}
    """.format(k=Q61_ITERS, topk=Q61_TOPK)


ORACLE["q61_pagerank"] = _q61_oracle()
QUERIES["q61_pagerank"] = q61_pagerank


# ---------------------------------------------------------------------------
# q62: hand-rolled HyperLogLog — mergeable distinct-count registers
# ---------------------------------------------------------------------------

def q62_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count built from first principles on the
    portable ``h64`` hash: bucket = low 6 bits, rho = leading-zero
    rank of the remaining 54 bits, registers = per-bucket max(rho) —
    the *mergeable* sketch shape (register-wise max) that lets 1000
    executors each sketch their partitions and combine in one
    64-row reduce, and lets daily sketches roll up to monthly without
    rescanning (unlike exact countDistinct, whose shuffle is
    value-cardinality-sized).

    Exactness strategy: the register table is integer-exact, the
    inverse-power sum is computed as BIGINT ``1 << (55 - m_j)`` (every
    term exact), and the single float division NUM / S uses an inlined
    literal numerator — bit-identical in Spark and DuckDB, so the
    sketch ESTIMATE itself is value-hash-verified, not just bounded.

    vs q29 (approx_count_distinct): that is Spark's built-in HLL++,
    correct but opaque — this exposes the register algebra the
    streaming maintainer (streaming/sketches.py) and any cross-system
    exchange format need. Raw estimate only (no small-range linear
    counting branch: n ≈ 25 m here, far above the 2.5 m cutover;
    documented contract).
    """
    o = Tables(spark, sf_dir).orders.select("o_custkey")
    from ..functions.hashing import h64

    bucket, w, rho = hll_cells(F.col("h"))
    d = o.select(h64(F.col("o_custkey")).alias("h")).select(bucket, w)
    regs = d.groupBy("bucket").agg(F.max(rho).alias("m_j"))
    summary = regs.agg(
        F.count(F.lit(1)).alias("nonzero_registers"),
        F.sum(F.expr(f"shiftleft(1L, {Q62_SHIFT} - m_j)")).alias("sum_pow"),
    )
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_distinct"))
    est = F.lit(float(Q62_NUM)) / F.col("sum_pow")
    return summary.crossJoin(exact).select(
        F.lit(Q62_M).cast("long").alias("m"),
        "nonzero_registers",
        "sum_pow",
        est.alias("est_distinct"),
        "exact_distinct",
        (
            F.floor((est - F.col("exact_distinct")) / F.col("exact_distinct") * 10000 + F.lit(0.5))
            / 10000.0
        ).alias("rel_err"),
    )


def _q62_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("o_custkey::VARCHAR")
    return f"""
    WITH d AS (
        SELECT ({h}) % {Q62_M} AS bucket, ({h}) // {Q62_M} AS w
        FROM orders
    ),
    regs AS (
        SELECT bucket,
               max(CASE WHEN w = 0 THEN {Q62_SHIFT}
                        ELSE {Q62_SHIFT} - length(bin(w)) END)::BIGINT AS m_j
        FROM d GROUP BY bucket
    ),
    s AS (
        SELECT count(*)::BIGINT AS nonzero_registers,
               sum(1::BIGINT << ({Q62_SHIFT} - m_j))::BIGINT AS sum_pow
        FROM regs
    ),
    e AS (SELECT count(DISTINCT o_custkey)::BIGINT AS exact_distinct FROM orders)
    SELECT {Q62_M}::BIGINT AS m,
           nonzero_registers,
           sum_pow,
           {Q62_NUM} / sum_pow AS est_distinct,
           exact_distinct,
           floor(({Q62_NUM} / sum_pow - exact_distinct) / exact_distinct * 10000 + 0.5)
               / 10000.0 AS rel_err
    FROM s, e
    """


ORACLE["q62_hll_distinct"] = _q62_oracle()
QUERIES["q62_hll_distinct"] = q62_hll_distinct


# ---------------------------------------------------------------------------
# q63: triangle counting — degree-ordered compact-forward on joins
# ---------------------------------------------------------------------------

Q63_QTY_MIN = 45    # co-purchase graph restricted to high-quantity lines
from .graph import TRI_ORD_BASE as Q63_ORD_BASE  # noqa: E402 — oracle mirrors the core


def q63_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph (parts appearing in the same order, restricted
    to ``l_quantity >= 45`` lines — predicate pushed to the scan).

    **Degree-ordered compact-forward** (Latapy 2008 / Schank-Wagner):
    orient every edge from its (degree, id)-smaller endpoint, then
    count wedges only between the two HIGHER endpoints of a shared
    low vertex and close them with an oriented-edge equi-join. Each
    triangle is counted exactly once from its minimum vertex, and the
    wedge-join fan-out is bounded by out-degree ≤ O(sqrt(m)) instead
    of max raw degree — the difference between m^1.5 and m·d_max
    work on a skewed 100 TB graph. All joins are hash equi-joins on
    node ids; no cartesian anywhere.

    Integer-exact output: counts are BIGINT; the clustering
    coefficient is floor-scaled basis points via integer division
    (3·T·10⁴ DIV paths₂), so no float ever forms. Core:
    ``graph.triangle_stats`` (property-tested against brute-force
    triangle enumeration on random graphs).
    """
    from .graph import triangle_stats

    li = (
        Tables(spark, sf_dir)
        .lineitem.filter(F.col("l_quantity") >= Q63_QTY_MIN)
        .select("l_orderkey", "l_partkey")
    )
    a, b = li.alias("a"), li.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    return triangle_stats(edges)


ORACLE["q63_triangle_count"] = f"""
    WITH li AS (
        SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= {Q63_QTY_MIN}
    ),
    edges AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM li a JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    und AS (
        SELECT u, v FROM edges UNION ALL SELECT v AS u, u AS v FROM edges
    ),
    deg AS (SELECT u, count(*)::BIGINT AS deg FROM und GROUP BY u),
    ordv AS (SELECT u AS node, deg * {Q63_ORD_BASE} + u AS ordk FROM deg),
    ej AS (
        SELECT CASE WHEN ou.ordk < ov.ordk THEN e.u ELSE e.v END AS src,
               CASE WHEN ou.ordk < ov.ordk THEN e.v ELSE e.u END AS dst,
               greatest(ou.ordk, ov.ordk) AS ord_dst
        FROM edges e
        JOIN ordv ou ON e.u = ou.node
        JOIN ordv ov ON e.v = ov.node
    ),
    wedges AS (
        SELECT e1.dst AS wv, e2.dst AS ww
        FROM ej e1 JOIN ej e2
          ON e1.src = e2.src AND e1.ord_dst < e2.ord_dst
    ),
    tri AS (
        SELECT count(*)::BIGINT AS n_triangles
        FROM wedges w JOIN ej e ON w.wv = e.src AND w.ww = e.dst
    ),
    counts AS (SELECT count(*)::BIGINT AS n_edges FROM edges),
    nn AS (
        SELECT count(*)::BIGINT AS n_nodes,
               sum(deg * (deg - 1) // 2)::BIGINT AS n_paths2
        FROM deg
    )
    SELECT n_nodes, n_edges, n_paths2, n_triangles,
           (CASE WHEN n_paths2 = 0 THEN 0
                 ELSE 3 * n_triangles * 10000 // n_paths2 END)::BIGINT AS clustering_bp
    FROM nn, counts, tri
"""

QUERIES["q63_triangle_count"] = q63_triangle_count


# ---------------------------------------------------------------------------
# q64: data profiling — per-column stats in ONE pass, unpivoted
# ---------------------------------------------------------------------------

# doubles are excluded on purpose: their VARCHAR rendering is
# engine-specific ('1.0' vs '1'), which would break the value hash for
# zero analytic benefit — the profiler contract covers integral,
# string, and temporal columns
Q64_COLS = (
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "timestamp"),
)


def q64_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiler: per-column null count, exact distinct count,
    and min/max — the first query every ingestion pipeline runs on a
    new 100 TB drop to decide partitioning keys, null policies, and
    dictionary-encoding candidates.

    Plan: TWO cheap passes instead of one multi-distinct pass —
    Catalyst plans N simultaneous countDistincts via Expand (an N+1×
    row replication carrying every profiled column through the
    shuffle; measured 13.9 s at sf0.1, the worst plan in the bench).
    Pass 1 computes rows/nulls/typed-min/max in a single non-distinct
    wide aggregation (map-side partial, one scalar row out, no
    Expand). Pass 2 computes ALL distinct counts at once by exploding
    each row to (col_id, value_string) pairs and two-level
    aggregating — the shuffle carries 8-byte hashes of short pair
    strings, partial-aggregated map-side, and one extra column scan
    beats an 8× whole-row replication by ~7× (2.0 s warm). min/max stay
    TYPED from pass 1 (string min of an integer column would be
    lexicographic and wrong). At extreme cardinality swap the exact
    pair-distinct for approx_count_distinct or q62's registers.

    Timestamps are rendered via an explicit format string — engine
    default casts disagree on fractional seconds.
    """
    li = Tables(spark, sf_dir).lineitem
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, typ in Q64_COLS:
        aggs.append(F.sum(F.isnull(c).cast("long")).alias(f"nn_{c}"))
        if typ == "timestamp":
            aggs.append(F.date_format(F.min(c), "yyyy-MM-dd HH:mm:ss").alias(f"mn_{c}"))
            aggs.append(F.date_format(F.max(c), "yyyy-MM-dd HH:mm:ss").alias(f"mx_{c}"))
        else:
            aggs.append(F.min(c).cast("string").alias(f"mn_{c}"))
            aggs.append(F.max(c).cast("string").alias(f"mx_{c}"))
    wide = li.agg(*aggs)

    pair_cols = []
    for c, typ in Q64_COLS:
        # distinct counting needs an INJECTIVE rendering, not a pretty
        # one: micros-precision format — whole-second truncation would
        # conflate sub-second-distinct timestamps the oracle's raw
        # count(DISTINCT) keeps apart
        v = (
            F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            if typ == "timestamp"
            else F.col(c).cast("string")
        )
        pair_cols.append(F.struct(F.lit(c).alias("col_name"), v.alias("v")))
    nd = (
        li.select(F.explode(F.array(*pair_cols)).alias("p"))
        .filter(F.col("p.v").isNotNull())
        .select("p.col_name", "p.v")
        .distinct()
        .groupBy("col_name")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )

    stack_args = ", ".join(f"'{c}', nn_{c}, mn_{c}, mx_{c}" for c, _ in Q64_COLS)
    stacked = wide.select(
        F.expr(
            f"stack({len(Q64_COLS)}, {stack_args}) AS (col_name, n_nulls, min_val, max_val)"
        ),
        "n_rows",
    )
    return (
        # LEFT join: an all-NULL column has no pass-2 row but must still
        # profile (n_distinct = 0) — an inner join would silently drop
        # exactly the null-policy case the profiler exists to surface
        stacked.join(F.broadcast(nd), "col_name", "left")
        .select(
            "col_name",
            "n_rows",
            "n_nulls",
            F.coalesce("n_distinct", F.lit(0)).alias("n_distinct"),
            "min_val",
            "max_val",
        )
        .orderBy("col_name")
    )


def _q64_oracle() -> str:
    parts = []
    for c, typ in Q64_COLS:
        if typ == "timestamp":
            mn = f"strftime(min({c}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = f"min({c})::VARCHAR"
            mx = f"max({c})::VARCHAR"
        parts.append(
            f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
               sum(({c} IS NULL)::INT)::BIGINT AS n_nulls,
               count(DISTINCT {c})::BIGINT AS n_distinct,
               {mn} AS min_val, {mx} AS max_val
            FROM lineitem"""
        )
    return " UNION ALL ".join(parts) + " ORDER BY col_name"


ORACLE["q64_column_profile"] = _q64_oracle()
QUERIES["q64_column_profile"] = q64_column_profile


# ---------------------------------------------------------------------------
# q66: sequence-pattern matching (batch CEP — MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------

# journeys encode each event as its type's initial (c,e,p,s,v — all
# distinct), ordered by (ts, event_id); patterns are plain regexes that
# both Java regex and RE2 interpret identically (no lookaround)
Q66_PATTERNS = ("^s", "ee", "v.*c.*p")


def q66_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing in batch: compress each user's event
    history to an ordered type-initial string ("vvcep…") and match
    behavioural regex patterns against it — subsequence funnels
    (view→click→purchase), prefix conditions (signup-first), and
    run-length motifs (consecutive errors). The MATCH_RECOGNIZE shape,
    expressed with machinery Spark already has: one per-user
    aggregation + JVM regex, no state machine UDF.

    Deterministic journey order: events sort by (ts, event_id) — the
    id tie-break makes the string reproducible under any partitioning,
    so the DuckDB oracle (string_agg ORDER BY) matches exactly.

    Scale: ONE shuffle on user_id builds all journeys
    (map-side-combinable collect into bounded per-user arrays); the
    pattern sweep is a broadcast of P pattern literals over the
    user-sized journey table — adding patterns costs zero extra
    shuffles. Journey length is bounded by per-user activity; a
    pathological hot user is a salting candidate (layout.py), and at
    100 TB the journey table is the thing you persist — pattern
    queries then never touch raw events.
    """
    e = Tables(spark, sf_dir).events
    j = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"),
                F.col("event_id"),
                F.substring("event_type", 1, 1).alias("i"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")), lambda x: x["i"]), ""
            ).alias("journey")
        )
    )
    pats = local_df(spark, [(p,) for p in Q66_PATTERNS], "pattern string")
    return (
        j.crossJoin(F.broadcast(pats))
        .groupBy("pattern")
        .agg(
            F.sum(F.expr("CAST(journey RLIKE pattern AS LONG)")).alias("n_matched"),
            F.count(F.lit(1)).alias("n_users"),
        )
        .orderBy("pattern")
    )


ORACLE["q66_sequence_pattern"] = f"""
    WITH j AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS journey
        FROM events GROUP BY user_id
    ),
    p AS (SELECT unnest([{", ".join(f"'{p}'" for p in Q66_PATTERNS)}]) AS pattern)
    SELECT pattern,
           sum(regexp_matches(journey, pattern)::INT)::BIGINT AS n_matched,
           count(*)::BIGINT AS n_users
    FROM j CROSS JOIN p
    GROUP BY pattern
    ORDER BY pattern
"""

QUERIES["q66_sequence_pattern"] = q66_sequence_pattern


# ---------------------------------------------------------------------------
# q67: weighted (importance) sampling + Horvitz-Thompson estimation
# ---------------------------------------------------------------------------

Q67_MOD = 5000
Q67_P_PER_UNIT = 2   # inclusion prob = l_quantity * 2 / 5000


def q67_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling: rows sample with probability PROPORTIONAL
    TO SIZE (l_quantity), and the Horvitz-Thompson estimator
    (Σ vᵢ/pᵢ over the sample) unbiasedly recovers population totals —
    the variance-optimal upgrade of q60's uniform sampling when row
    contributions are skewed, which is exactly the 100 TB case (a few
    giant documents/orders dominate any total).

    Deterministic PPS membership: row i samples iff
    h64(key) % 5000 < 2·wᵢ — a pure function of the row, so the
    sample is identical across engines, retries, and partitionings
    (q60's auditability property, extended to weighted designs).
    Output: per returnflag, sample size, HT estimate of total
    revenue, exact total, error (round-at-the-end, q01's float
    pattern).
    """
    from ..functions.hashing import h64

    li = Tables(spark, sf_dir).lineitem.select(
        "l_returnflag", "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    key = F.concat_ws("|", F.col("l_orderkey"), F.col("l_linenumber"))
    w = F.col("l_quantity").cast("long")
    in_sample = (h64(key) % Q67_MOD) < (w * Q67_P_PER_UNIT)
    # HT term: v / p = v * MOD / min(2w, MOD). The divisor clamps at
    # probability 1: a row with 2w >= MOD is ALWAYS sampled (h % MOD
    # < MOD unconditionally), so its true inclusion probability is 1
    # and an unclamped divisor would under-weight it (v·MOD/2w < v),
    # silently biasing the estimate. Latent under TPC-H's quantity cap
    # of 50, but this is a reusable weighted-sampling design — clamp
    # mirrored in the oracle.
    p_num = F.least(w * Q67_P_PER_UNIT, F.lit(Q67_MOD))
    ht = F.when(
        in_sample, F.col("l_extendedprice") * Q67_MOD / p_num
    ).otherwise(F.lit(0.0))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.sum(in_sample.cast("long")).alias("n_sampled"),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.sum(ht), 2).alias("ht_est_revenue"),
            F.round(F.sum("l_extendedprice"), 2).alias("exact_revenue"),
            F.floor(
                (F.sum(ht) - F.sum("l_extendedprice"))
                / F.sum("l_extendedprice")
                * 10000
                + F.lit(0.5)
            ).alias("err_bp"),
        )
        .orderBy("l_returnflag")
    )


def _q67_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("l_orderkey::VARCHAR || '|' || l_linenumber::VARCHAR")
    w = "l_quantity::BIGINT"
    ht = (
        f"CASE WHEN ({h}) % {Q67_MOD} < {w} * {Q67_P_PER_UNIT} "
        f"THEN l_extendedprice * {Q67_MOD}"
        f" / least({w} * {Q67_P_PER_UNIT}, {Q67_MOD}) ELSE 0.0 END"
    )
    return f"""
    SELECT l_returnflag,
           sum((({h}) % {Q67_MOD} < {w} * {Q67_P_PER_UNIT})::INT)::BIGINT AS n_sampled,
           count(*)::BIGINT AS n_rows,
           round(sum({ht}), 2) AS ht_est_revenue,
           round(sum(l_extendedprice), 2) AS exact_revenue,
           floor((sum({ht}) - sum(l_extendedprice)) / sum(l_extendedprice) * 10000
                 + 0.5)::BIGINT AS err_bp
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """


ORACLE["q67_weighted_sample"] = _q67_oracle()
QUERIES["q67_weighted_sample"] = q67_weighted_sample


# ---------------------------------------------------------------------------
# q68: weighted median / weighted quantiles (cumulative-weight selection)
# ---------------------------------------------------------------------------


from .drill import SINGLE_TASK_SORT_MAX_ROWS

Q68_WINDOW_MAX_ROWS = SINGLE_TASK_SORT_MAX_ROWS  # shared gate (drill.py)


def _q68_window_path(li: DataFrame) -> DataFrame:
    """Small-input strategy: the classic per-flag cumulative-weight
    window (one shuffle, one in-task sort per flag)."""
    win = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("l_returnflag")
    cum = (
        li.withColumn("cum_w", F.sum("w").over(win))
        .withColumn("tot_w", F.sum("w").over(tot))
        .filter(F.col("cum_w") * 2 >= F.col("tot_w"))
    )
    pick = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        cum.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median_price"),
            "cum_w",
            "tot_w",
        )
        .orderBy("l_returnflag")
    )


def q68_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price below which half the QUANTITY (not
    half the rows) sits, per returnflag — the inventory-weighted
    distribution cut no built-in computes. Pure SELECTION, no float
    summation. Bit-deterministic on any engine, so the plain
    windowed-cumsum SQL oracle matches exactly.

    Scale (round-7 rework): the historical plan was
    ``sum(w) OVER (PARTITION BY l_returnflag ORDER BY price, key)`` —
    with THREE flag values that is a third of the corpus sorting in a
    single task, the q84 straggler class hidden behind a
    low-cardinality partition key (the unpartitioned-window tripwire
    cannot see it). The strategy is cardinality-gated like d13's sort:
    below Q68_WINDOW_MAX_ROWS the per-flag window runs — a third of a
    SMALL input in one task beats paying drill-round job latency —
    and above it ``drill.weighted_value_at`` finds the exact crossing
    PRICE and the weight strictly below it in ~3 fully-parallel
    counting rounds (raw-price pushdown twin included), after which
    the cumulative window runs only over the rows AT that single
    price value (the tie slice — a pushed-down equality filter),
    ordered by the same (orderkey, linenumber) tiebreak. Both paths
    are exact and row-identical (tests force the drill path and
    assert equality; prices are exact 2-decimal money so the cents
    mapping is order-isomorphic); the emitted price is read back from
    the rows, so the output carries the original parquet double.
    """
    from .drill import weighted_value_at

    li = Tables(spark, sf_dir).lineitem.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("w"),
        "l_extendedprice",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    # ONE probe aggregation serves the cardinality gate, the targets,
    # AND the drill's initial brackets (min/max cents per flag) — the
    # drill never pays its own bounds job
    counts = li.groupBy("l_returnflag").agg(
        F.sum("w").alias("tw"),
        F.count(F.lit(1)).alias("nrows"),
        F.min("cents").alias("mn"),
        F.max("cents").alias("mx"),
    ).collect()
    totals = {r["l_returnflag"]: r["tw"] for r in counts}
    if sum(r["nrows"] for r in counts) <= Q68_WINDOW_MAX_ROWS:
        return _q68_window_path(li)
    targets = {g: (tw + 1) // 2 for g, tw in totals.items()}
    sel = weighted_value_at(
        li, "l_returnflag", "cents", "w", targets,
        raw_col="l_extendedprice", raw_scale=100,
        brackets={(r["l_returnflag"], "_"): (r["mn"], r["mx"] + 1, 0)
                  for r in counts},
    )
    picked = local_df(
        spark,
        [
            (g, v, below, targets[g], totals[g])
            for g, (v, below) in sel.items()
        ],
        "l_returnflag string, cents long, below long, target long, tw long",
    )
    tie_slice = li.join(F.broadcast(picked), ["l_returnflag", "cents"])
    wslice = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    pick = Window.partitionBy("l_returnflag").orderBy("l_orderkey", "l_linenumber")
    return (
        tie_slice.withColumn("cum_w", F.col("below") + F.sum("w").over(wslice))
        .filter(F.col("cum_w") >= F.col("target"))
        .withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median_price"),
            "cum_w",
            F.col("tw").alias("tot_w"),
        )
        .orderBy("l_returnflag")
    )


ORACLE["q68_weighted_median"] = """
    WITH cum AS (
        SELECT l_returnflag, l_extendedprice,
               sum(l_quantity::BIGINT) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS cum_w,
               sum(l_quantity::BIGINT) OVER (PARTITION BY l_returnflag) AS tot_w,
               row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS rn0,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    hit AS (
        SELECT *, row_number() OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS rn
        FROM cum WHERE cum_w * 2 >= tot_w
    )
    SELECT l_returnflag,
           l_extendedprice AS weighted_median_price,
           cum_w::BIGINT AS cum_w, tot_w::BIGINT AS tot_w
    FROM hit WHERE rn = 1
    ORDER BY l_returnflag
"""

QUERIES["q68_weighted_median"] = q68_weighted_median


# ---------------------------------------------------------------------------
# q69: seasonal-baseline anomaly detection (selection-based, no float sums)
# ---------------------------------------------------------------------------

Q69_K = 3  # MAD multiplier


def q69_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: the baseline for an event
    is the MEDIAN of its own (event_type, hour-of-day) seasonal cell,
    and a point is anomalous when it deviates from its cell baseline
    by more than K× the cell's MAD — q46's robust-statistics machinery
    made seasonal, which is what real telemetry needs (3 AM traffic is
    not 3 PM traffic).

    Determinism: baseline and MAD are SELECTION-based (percentile),
    never float sums, so every intermediate is bit-identical across
    engines and the threshold comparison cannot flip on a summation
    ulp (the q46 design rule).

    Scale: seasonal cells are a tiny dimension (|types|×24) computed
    in one corpus shuffle and broadcast back; flagging is then a
    map-side filter — the join carries 3 doubles per cell, not data.
    """
    e = Tables(spark, sf_dir).events.select(
        "event_type", F.hour("ts").alias("hod"), "value", "event_id"
    )
    cells = e.groupBy("event_type", "hod").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(cells), ["event_type", "hod"]).withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    # dev feeds BOTH the MAD aggregate and the flagging join —
    # checkpoint so the corpus scan + cell join run once, not twice
    dev = dev.localCheckpoint(eager=False)
    mads = dev.groupBy("event_type", "hod").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mads), ["event_type", "hod"]).withColumn(
        "is_anom", (F.col("adev") > Q69_K * F.col("mad")).cast("long")
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_anom").alias("n_anomalies"),
            F.expr("sum(is_anom) * 10000 DIV count(*)").alias("anom_rate_bp"),
        )
        .orderBy("event_type")
    )


ORACLE["q69_seasonal_anomaly"] = f"""
    WITH e AS (
        SELECT event_type, extract(hour FROM ts)::INT AS hod, value, event_id
        FROM events
    ),
    cells AS (
        SELECT event_type, hod, quantile_cont(value, 0.5) AS med
        FROM e GROUP BY event_type, hod
    ),
    dev AS (
        SELECT e.event_type, e.hod, e.value, abs(e.value - c.med) AS adev
        FROM e JOIN cells c USING (event_type, hod)
    ),
    mads AS (
        SELECT event_type, hod, quantile_cont(adev, 0.5) AS mad
        FROM dev GROUP BY event_type, hod
    )
    SELECT d.event_type,
           count(*)::BIGINT AS n_events,
           sum((d.adev > {Q69_K} * m.mad)::INT)::BIGINT AS n_anomalies,
           (sum((d.adev > {Q69_K} * m.mad)::INT) * 10000 // count(*))::BIGINT AS anom_rate_bp
    FROM dev d JOIN mads m USING (event_type, hod)
    GROUP BY d.event_type
    ORDER BY d.event_type
"""

QUERIES["q69_seasonal_anomaly"] = q69_seasonal_anomaly


# ---------------------------------------------------------------------------
# q70: Gram / covariance matrix of the embedding corpus (PCA prep)
# ---------------------------------------------------------------------------

Q70_SCALE = 1_000_000  # fixed-point quantization of per-row products


def q70_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix Xᵀ X of the embedding corpus (upper
    triangle) — the d×d sufficient statistic behind PCA/whitening,
    which is how SemDeDup-style pipelines decorrelate embeddings
    before cosine pruning (d11's preprocessing step).

    Outer-product PARTIAL aggregation, Arrow-vectorized: each
    partition's mapInPandas worker accumulates a d×d int64 grid with
    numpy (einsum outer products, quantized per row-pair, summed
    locally), emitting ≤ d(d+1)/2 partial rows per partition — so
    shuffle volume is d² × partitions no matter how many rows (n=10⁹
    shuffles the same 2080 cells as n=500), and the per-row work is
    BLAS-shaped instead of a d²-struct explode (the explode variant
    measured 3.2 s at sf0.1; these vectorized partials run it in
    0.6 s). Per-row products are QUANTIZED to BIGINT sixth-decimal
    fixed point before summation: the sum is exact and
    reduction-order-independent — cross-engine reproducible where a
    double Gram would drift by partitioning (float32 widens to double
    exactly; one IEEE multiply per pair is deterministic, and numpy's
    float64 multiply/floor are the same IEEE ops the JVM and DuckDB
    perform).

    At 100 TB the result (d² longs) broadcasts back for the projection
    pass; the quantization error is bounded by n·5e-7 per cell and is
    the price of a mergeable-exact statistic.
    """
    import pandas as pd

    e = Tables(spark, sf_dir).embeddings.select("embedding")

    def partial_gram(batches):
        import numpy as np

        iu, ju = None, None
        acc = None
        cnt = 0
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            if acc is None:
                d = x.shape[1]
                iu, ju = np.triu_indices(d)
                acc = np.zeros(len(iu), dtype=np.int64)
            # chunk rows so the n×d×d intermediate stays small
            for lo in range(0, len(x), 256):
                xc = x[lo : lo + 256]
                outer = np.einsum("ni,nj->nij", xc, xc)[:, iu, ju]
                acc += np.floor(outer * Q70_SCALE + 0.5).astype(np.int64).sum(axis=0)
            cnt += len(x)
        if acc is None:
            return
        yield pd.DataFrame(
            {"i": iu.astype("int64"), "j": ju.astype("int64"), "q": acc, "n": cnt}
        )

    partials = e.mapInPandas(partial_gram, "i long, j long, q long, n long")
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("q").alias("gram_q6"), F.sum("n").alias("n_rows"))
        .orderBy("i", "j")
    )


ORACLE["q70_gram_matrix"] = f"""
    WITH u AS (
        SELECT vec_id,
               unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS idx
        FROM embeddings
    ),
    pairs AS (
        SELECT a.idx - 1 AS i, b.idx - 1 AS j,
               floor(CAST(a.x AS DOUBLE) * CAST(b.x AS DOUBLE) * {Q70_SCALE} + 0.5)::BIGINT AS q
        FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.idx >= a.idx
    )
    SELECT i::BIGINT AS i, j::BIGINT AS j,
           sum(q)::BIGINT AS gram_q6,
           count(*)::BIGINT AS n_rows
    FROM pairs
    GROUP BY i, j
    ORDER BY i, j
"""

QUERIES["q70_gram_matrix"] = q70_gram_matrix


# ---------------------------------------------------------------------------
# q71: time travel / bitemporal snapshot diff over SCD2 intervals
# ---------------------------------------------------------------------------

Q71_T1 = "2024-01-10 00:00:00"
Q71_T2 = "2024-01-20 00:00:00"


def q71_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the q50 SCD2 dimension: reconstruct every user's
    state AS OF two snapshot instants from the validity intervals
    alone and emit the T1→T2 transition matrix (appeared / unchanged /
    changed classes fall out of the matrix) — the lakehouse
    "SELECT … TIMESTAMP AS OF" capability, answered WITHOUT replaying
    the changelog, plus the drift report auditors ask of any two
    snapshots.

    An as-of lookup is a pure interval filter
    (valid_from ≤ T < valid_to∨∞): no window, no replay — that is the
    entire point of maintaining SCD2. The two snapshot filters scan
    the same dimension once each and join on the entity key.

    Scale: the dimension is a fraction of the changelog (runs
    collapse, q50); each snapshot filter prunes further. The join is
    entity-keyed and co-partitioned with the dimension's natural
    layout. At 100 TB the same query serves any T without new state —
    vs streaming state stores that can only answer "now".
    """
    dim = q50_scd2_intervals(spark, sf_dir)
    dim = dim.localCheckpoint(eager=False)  # two snapshot scans + build

    def snapshot(t: str, alias: str) -> DataFrame:
        return dim.filter(
            (F.col("valid_from") <= F.lit(t).cast("timestamp"))
            & (
                F.col("valid_to").isNull()
                | (F.col("valid_to") > F.lit(t).cast("timestamp"))
            )
        ).select("user_id", F.col("state").alias(alias))

    s1 = snapshot(Q71_T1, "state_t1")
    s2 = snapshot(Q71_T2, "state_t2")
    return (
        s1.join(s2, "user_id", "full_outer")
        .groupBy(
            F.coalesce("state_t1", F.lit("<absent>")).alias("state_t1"),
            F.coalesce("state_t2", F.lit("<absent>")).alias("state_t2"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("state_t1", "state_t2")
    )


ORACLE["q71_time_travel"] = f"""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        FROM events
    ),
    changes AS (
        SELECT user_id, event_type AS state, ts AS valid_from, event_id
        FROM ordered WHERE prev IS NULL OR prev <> event_type
    ),
    dim AS (
        SELECT user_id, state, valid_from,
               lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, event_id) AS valid_to
        FROM changes
    ),
    s1 AS (
        SELECT user_id, state AS state_t1 FROM dim
        WHERE valid_from <= TIMESTAMP '{Q71_T1}'
          AND (valid_to IS NULL OR valid_to > TIMESTAMP '{Q71_T1}')
    ),
    s2 AS (
        SELECT user_id, state AS state_t2 FROM dim
        WHERE valid_from <= TIMESTAMP '{Q71_T2}'
          AND (valid_to IS NULL OR valid_to > TIMESTAMP '{Q71_T2}')
    )
    SELECT coalesce(state_t1, '<absent>') AS state_t1,
           coalesce(state_t2, '<absent>') AS state_t2,
           count(*)::BIGINT AS n_users
    FROM s1 FULL OUTER JOIN s2 USING (user_id)
    GROUP BY 1, 2
    ORDER BY state_t1, state_t2
"""

QUERIES["q71_time_travel"] = q71_time_travel


# ---------------------------------------------------------------------------
# q72: shuffle-key skew profiler (pre-flight partition diagnostics)
# ---------------------------------------------------------------------------

Q72_NPART = 32


def q72_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight skew diagnosis for candidate shuffle keys: simulate
    the hash partitioner (pmod(h64(key), N)) and report each key's
    partition-occupancy profile — max/min partition, the largest
    partition's share, and the skew ratio (max ÷ ideal) in basis
    points. This is the question you answer BEFORE a 100 TB shuffle:
    q72 on `event_type` shows a 5-value key concentrating ~2000‰ of
    rows in one partition (→ salt it, layout.salted_agg), while
    `user_id` hashes near-uniform (→ shuffle as-is). Pairs with
    introspect.assert_scale_safe: that gates the PLAN, this gates the
    DATA.

    One scan per candidate key, all-integer output (DIV arithmetic) —
    engine-exact. The profiler itself is skew-immune: it aggregates
    the 8-byte partition id, never the key payload.
    """
    from ..functions.hashing import h64

    e = Tables(spark, sf_dir).events

    def profile(key_col: str) -> DataFrame:
        part = F.pmod(h64(F.col(key_col)), F.lit(Q72_NPART))
        per = e.groupBy(part.alias("p")).agg(F.count(F.lit(1)).alias("c"))
        return per.agg(
            F.lit(key_col).alias("key_name"),
            F.count(F.lit(1)).alias("n_occupied"),
            F.sum("c").alias("total_rows"),
            F.max("c").alias("max_part"),
            F.min("c").alias("min_part"),
            F.expr("max(c) * 10000 DIV sum(c)").alias("max_share_bp"),
            F.expr(f"max(c) * 10000 * {Q72_NPART} DIV sum(c)").alias("skew_ratio_bp"),
        )

    return profile("event_type").unionAll(profile("user_id")).orderBy("key_name")


def _q72_oracle() -> str:
    from ..functions.hashing import h64_sql

    def one(key: str, cast: str) -> str:
        h = h64_sql(f"{key}::{cast}")
        return f"""
        SELECT '{key}' AS key_name,
               count(*)::BIGINT AS n_occupied,
               sum(c)::BIGINT AS total_rows,
               max(c)::BIGINT AS max_part,
               min(c)::BIGINT AS min_part,
               (max(c) * 10000 // sum(c))::BIGINT AS max_share_bp,
               (max(c) * 10000 * {Q72_NPART} // sum(c))::BIGINT AS skew_ratio_bp
        FROM (
            SELECT (({h}) % {Q72_NPART} + {Q72_NPART}) % {Q72_NPART} AS p,
                   count(*)::BIGINT AS c
            FROM events GROUP BY 1
        )"""

    return (
        one("event_type", "VARCHAR")
        + " UNION ALL "
        + one("user_id", "VARCHAR")
        + " ORDER BY key_name"
    )


ORACLE["q72_skew_profile"] = _q72_oracle()
QUERIES["q72_skew_profile"] = q72_skew_profile


# ---------------------------------------------------------------------------
# q73: clamped running balance — inherently-sequential state, applyInPandas
# ---------------------------------------------------------------------------

Q73_DRAW = 50.0  # per-event draw; balance = clamp(bal + value - DRAW, 0)


def q73_clamped_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamped (reset-at-zero) running balance per user — inventory /
    credit semantics: ``bal ← max(0, bal + value − 50)`` over the
    user's (ts, event_id)-ordered events, counting the resets — the
    showcase for the custom-stateful (sequential-recurrence) tier of
    the operator hierarchy.

    Honesty note on expressibility: the ONE-sided clamp does have a
    prefix-sum closed form (the reflected-walk identity
    ``S_i = C_i − min(0, min_{j≤i} C_j)``), so a pure-window plan
    exists in exact arithmetic. The sequential tier is used anyway,
    deliberately: (a) it generalizes to the TWO-sided clamp
    (bounded inventory ``min(cap, max(0, ·))``) where no such
    decomposition exists, and (b) bit-exactness — the closed form
    reassociates the float additions, while the sequential replay
    performs the identical IEEE op sequence as the oracle's RECURSIVE
    CTE (same ops, same order, same bits — the hash match depends on
    it).

    Execution shape: NOT per-group applyInPandas (10k single-group
    Arrow round-trips measured 5.6 s at sf0.1) but ONE ``mapInPandas``
    pass over hash-partitioned, (user, ts, event_id)-sorted
    partitions — groups are contiguous, state carries across Arrow
    batch boundaries, and the whole partition is a single python/numpy
    sweep (0.9 s). Same shuffle count, ~6× less Arrow overhead.

    Scale: one shuffle on user_id + per-partition sort; state is O(1)
    per group and one emit row per user. The 100 TB posture is q50's:
    bucket the changelog by key so the sort is per-bucket.
    """
    import pandas as pd

    # NULL deltas are SKIPPED (the sum()/avg() null convention): a
    # missing amount must neither poison the balance (the oracle's
    # recursive CTE NULLs the reset count) nor silently count as a
    # reset (the kernel's NaN comparisons) — null-mode fuzz catch,
    # round 9. Users with only NULL events drop out on both engines.
    e = (
        Tables(spark, sf_dir)
        .events.select("user_id", "ts", "event_id", "value")
        .filter(F.col("value").isNotNull())
    )

    def run(batches):
        cur = None
        bal = 0.0
        resets = 0
        n = 0
        out = {"user_id": [], "final_balance": [], "n_resets": [], "n_events": []}

        def emit():
            out["user_id"].append(cur)
            out["final_balance"].append(bal)
            out["n_resets"].append(resets)
            out["n_events"].append(n)

        for pdf in batches:
            for uid, v in zip(
                pdf["user_id"].to_numpy(), pdf["value"].to_numpy()
            ):
                if uid != cur:
                    if cur is not None:
                        emit()
                    cur, bal, resets, n = uid, 0.0, 0, 0
                nxt = bal + (v - Q73_DRAW)
                if nxt < 0.0:
                    bal = 0.0
                    resets += 1
                else:
                    bal = nxt
                n += 1
        if cur is not None:
            emit()
        yield pd.DataFrame(out)

    return (
        e.repartition("user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(
            run, "user_id long, final_balance double, n_resets long, n_events long"
        )
        .orderBy("user_id")
    )


ORACLE["q73_clamped_running_sum"] = f"""
    WITH RECURSIVE seq AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
        WHERE value IS NOT NULL
    ),
    nev AS (SELECT user_id, max(rn) AS n_events FROM seq GROUP BY user_id),
    bal(user_id, rn, bal, resets) AS (
        SELECT user_id, rn,
               CASE WHEN 0 + (value - {Q73_DRAW}) < 0 THEN 0
                    ELSE 0 + (value - {Q73_DRAW}) END,
               (0 + (value - {Q73_DRAW}) < 0)::BIGINT
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.rn,
               CASE WHEN b.bal + (s.value - {Q73_DRAW}) < 0 THEN 0
                    ELSE b.bal + (s.value - {Q73_DRAW}) END,
               b.resets + (b.bal + (s.value - {Q73_DRAW}) < 0)::BIGINT
        FROM bal b JOIN seq s ON s.user_id = b.user_id AND s.rn = b.rn + 1
    )
    SELECT b.user_id,
           b.bal AS final_balance,
           b.resets AS n_resets,
           n.n_events::BIGINT AS n_events
    FROM bal b JOIN nev n ON b.user_id = n.user_id AND b.rn = n.n_events
    ORDER BY b.user_id
"""

QUERIES["q73_clamped_running_sum"] = q73_clamped_running_sum


# ---------------------------------------------------------------------------
# q76: join-size profiling from per-key count profiles (planner stats)
# ---------------------------------------------------------------------------


def q76_join_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality profiling WITHOUT executing the join — the
    planner pre-flight that completes the introspection trio: q72
    profiles shuffle-key skew (data side), introspect.plan_stats
    audits the compiled plan (plan side), and this computes, for each
    candidate join, its EXACT output cardinality and per-key skew from
    per-key count profiles alone:

        |A ⋈ B on k| = Σ_k cnt_A(k) · cnt_B(k)

    Cost model (the whole point): two map-side-combinable key-count
    aggregations + one key-cardinality-sized join of the count tables —
    O(|keys|) state instead of O(|join output|) work, so you learn a
    join would explode (or which key dominates its output) for the
    price of two scans. At 100 TB this is how you budget the shuffle
    before committing to it; the max-key share tells you whether to
    salt (q72's remedy) before the first real run.

    All outputs are exact BIGINT (products and sums of counts): the
    "estimate" is exact because count-by-key is a lossless profile —
    swap the count tables for KMV/theta sketches (q54/q65 machinery)
    when even the key profile is too large, trading exactness for
    state, same query shape.
    """
    t = Tables(spark, sf_dir)

    def profile(name: str, left: DataFrame, lk: str, right: DataFrame, rk: str) -> DataFrame:
        la = left.groupBy(F.col(lk).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
        rb = right.groupBy(F.col(rk).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
        per_key = la.join(rb, "k").select(
            "k", (F.col("ca") * F.col("cb")).alias("rows_k")
        )
        return per_key.agg(
            F.lit(name).alias("join_name"),
            F.coalesce(F.sum("rows_k"), F.lit(0)).alias("est_rows"),
            F.coalesce(F.max("rows_k"), F.lit(0)).alias("max_key_rows"),
            F.count(F.lit(1)).alias("n_match_keys"),
            F.coalesce(
                F.expr("max(rows_k) * 10000 div sum(rows_k)"), F.lit(0)
            ).alias("max_key_share_bp"),
        )

    outs = [
        profile("customer_orders", t.customer, "c_custkey", t.orders, "o_custkey"),
        profile("orders_lineitem", t.orders, "o_orderkey", t.lineitem, "l_orderkey"),
        profile("part_lineitem", t.part, "p_partkey", t.lineitem, "l_partkey"),
        profile("supplier_lineitem", t.supplier, "s_suppkey", t.lineitem, "l_suppkey"),
    ]
    res = outs[0]
    for d in outs[1:]:
        res = res.unionByName(d)
    # a join with ZERO matching keys profiles as est_rows=0 from an
    # empty per-key frame; drop it like the oracle's GROUP BY does
    # (the absence of the row IS the "this join produces nothing"
    # signal)
    return res.filter(F.col("n_match_keys") > 0).orderBy("join_name")


ORACLE["q76_join_size_profile"] = """
    WITH prof AS (
        SELECT 'customer_orders' AS join_name, a.k, a.ca * b.cb AS rows_k
        FROM (SELECT c_custkey AS k, count(*) AS ca FROM customer GROUP BY 1) a
        JOIN (SELECT o_custkey AS k, count(*) AS cb FROM orders GROUP BY 1) b USING (k)
        UNION ALL
        SELECT 'orders_lineitem', a.k, a.ca * b.cb
        FROM (SELECT o_orderkey AS k, count(*) AS ca FROM orders GROUP BY 1) a
        JOIN (SELECT l_orderkey AS k, count(*) AS cb FROM lineitem GROUP BY 1) b USING (k)
        UNION ALL
        SELECT 'part_lineitem', a.k, a.ca * b.cb
        FROM (SELECT p_partkey AS k, count(*) AS ca FROM part GROUP BY 1) a
        JOIN (SELECT l_partkey AS k, count(*) AS cb FROM lineitem GROUP BY 1) b USING (k)
        UNION ALL
        SELECT 'supplier_lineitem', a.k, a.ca * b.cb
        FROM (SELECT s_suppkey AS k, count(*) AS ca FROM supplier GROUP BY 1) a
        JOIN (SELECT l_suppkey AS k, count(*) AS cb FROM lineitem GROUP BY 1) b USING (k)
    )
    SELECT join_name,
           sum(rows_k)::BIGINT AS est_rows,
           max(rows_k)::BIGINT AS max_key_rows,
           count(*)::BIGINT AS n_match_keys,
           (max(rows_k) * 10000 // sum(rows_k))::BIGINT AS max_key_share_bp
    FROM prof
    GROUP BY join_name
    ORDER BY join_name
"""
QUERIES["q76_join_size_profile"] = q76_join_size_profile


# ---------------------------------------------------------------------------
# q77: bitmap-index serving (conjunctive predicate counts from bitmaps)
# ---------------------------------------------------------------------------


def q77_bitmap_index_serve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index SERVING: build one 64-bit-word bitmap per value of
    each low-cardinality column (order status, order priority, keyed by
    o_orderkey bit position), then answer every conjunctive count
    ``status = x AND priority = y`` by word-aligned ``AND`` + popcount
    — the base table is scanned once per indexed column at BUILD time
    and never again at QUERY time (the classic OLAP bitmap index;
    q56 builds distinct-count bitmaps, this one serves predicates).

    The DuckDB oracle computes the DIRECT ``GROUP BY status, priority``
    counts, so the hash match IS the proof that index-serving equals
    scanning — same design as q75's rewrite proof.

    Scale: an indexed column's bitmap is |values| × keyspace/64 words,
    built with one map-side-combinable ``bit_or``; a conjunctive query
    is a word-aligned equi-join of two value-slices — cost scales with
    bitmap words, not base rows, and ANDing more predicates adds joins
    of the same shape, which is why warehouses keep these as secondary
    indexes. Id contract (q56's): bit keys are NON-NEGATIVE int64.
    """
    o = Tables(spark, sf_dir).orders

    def bitmaps(col: str) -> DataFrame:
        return (
            o.select(
                F.col(col).alias("v"),
                F.shiftright(F.col("o_orderkey"), 6).alias("word_idx"),
                F.expr(
                    "shiftleft(CAST(1 AS BIGINT), CAST(o_orderkey % 64 AS INT))"
                ).alias("bit"),
            )
            .groupBy("v", "word_idx")
            .agg(F.bit_or("bit").alias("bits"))
        )

    bs = bitmaps("o_orderstatus").withColumnsRenamed(
        {"v": "o_orderstatus", "bits": "bits_s"}
    )
    bp = bitmaps("o_orderpriority").withColumnsRenamed(
        {"v": "o_orderpriority", "bits": "bits_p"}
    )
    return (
        bs.join(bp, "word_idx")
        .select(
            "o_orderstatus",
            "o_orderpriority",
            F.bit_count(F.col("bits_s").bitwiseAND(F.col("bits_p"))).alias("pc"),
        )
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.sum("pc").cast("long").alias("n_orders"))
        .filter(F.col("n_orders") > 0)
        .orderBy("o_orderstatus", "o_orderpriority")
    )


ORACLE["q77_bitmap_index_serve"] = """
    SELECT o_orderstatus, o_orderpriority, count(*)::BIGINT AS n_orders
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY o_orderstatus, o_orderpriority
"""
QUERIES["q77_bitmap_index_serve"] = q77_bitmap_index_serve


# ---------------------------------------------------------------------------
# q78: point-in-time temporal enrichment against the SCD2 dimension
# ---------------------------------------------------------------------------


def q78_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time-correct enrichment: each event is joined to the
    state its user held ONE HOUR BEFORE the event, looked up from
    q50's SCD2 validity intervals (``valid_from ≤ t < valid_to∨∞``) —
    the temporal-join discipline that prevents feature leakage in
    training pipelines (a feature computed "as of" serving time must
    not see later state; Feathr/Tecton call this a point-in-time
    join). The lag makes the lookup non-trivial: events in the head
    hour of a user's history have NO valid state and surface as
    ``<none>`` — exactly the rows a naive (leaky) join would silently
    enrich with FUTURE state.

    Emits the (state_1h_ago × current event_type) contingency matrix:
    the drift signal between held state and current activity.

    Scale: equi-join on user_id with an interval filter; per-user
    fan-in is the user's CHANGE count (runs collapse in the SCD2
    build, q50), so the join multiplicity is dim-bounded, not
    event-bounded. Intervals partition time, so ≤ 1 dim row survives
    per event — the join cannot explode. Same 100 TB posture as q50:
    bucket both sides by user.
    """
    dim = q50_scd2_intervals(spark, sf_dir).localCheckpoint(eager=False)
    e = Tables(spark, sf_dir).events.select(
        "user_id", "event_type", (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("t")
    )
    joined = e.join(
        dim,
        (e["user_id"] == dim["user_id"])
        & (dim["valid_from"] <= e["t"])
        & (dim["valid_to"].isNull() | (e["t"] < dim["valid_to"])),
        "left",
    )
    return (
        joined.groupBy(
            F.coalesce(dim["state"], F.lit("<none>")).alias("state_1h_ago"),
            e["event_type"].alias("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("state_1h_ago", "event_type")
    )


ORACLE["q78_temporal_enrich"] = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM events
    ), changes AS (
        SELECT user_id, event_type, ts, event_id
        FROM ordered
        WHERE prev IS NULL OR prev <> event_type
    ), dim AS (
        SELECT user_id,
               event_type AS state,
               ts AS valid_from,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS valid_to
        FROM changes
    ), e AS (
        SELECT user_id, event_type, ts - INTERVAL 1 HOUR AS t FROM events
    )
    SELECT coalesce(d.state, '<none>') AS state_1h_ago,
           e.event_type,
           count(*)::BIGINT AS n_events
    FROM e
    LEFT JOIN dim d
      ON e.user_id = d.user_id
     AND d.valid_from <= e.t
     AND (d.valid_to IS NULL OR e.t < d.valid_to)
    GROUP BY 1, 2
    ORDER BY 1, 2
"""
QUERIES["q78_temporal_enrich"] = q78_temporal_enrich


# ---------------------------------------------------------------------------
# q79: multi-touch attribution (first/last-touch credit per conversion)
# ---------------------------------------------------------------------------

Q79_TOUCHES = ("click", "view")
Q79_CONVERSION = "purchase"


def q79_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing attribution: every conversion (purchase) credits the
    FIRST and the LAST touchpoint (click/view) that preceded it in the
    user's (ts, event_id)-ordered stream — the two bookend models of
    the attribution family (q40's funnel counts journeys; this assigns
    per-conversion credit). Conversions with no prior touch credit
    ``<none>`` — surfaced, not dropped, because untracked-channel
    volume is the number attribution consumers argue about.

    One window pass computes both models: running FIRST (ignorenulls
    first_value over unbounded preceding) and running LAST (ignorenulls
    last_value up to current row) of the touch type, read at
    conversion rows. Deterministic: the stream orders by the unique
    (ts, event_id) key; outputs are integer counts.

    Scale: single shuffle on user_id shared by both window frames
    (same partitioning + ordering); conversions filter AFTER the
    windows read their carried values, then a touch-cardinality-sized
    aggregate. No self-join of events to events — the naive
    per-conversion lookback join is quadratic in dense streams.
    """
    from pyspark.sql.window import Window as W_

    e = Tables(spark, sf_dir).events.select("user_id", "event_type", "ts", "event_id")
    touch = F.when(
        F.col("event_type").isin(*Q79_TOUCHES), F.col("event_type")
    )
    w = (
        W_.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W_.unboundedPreceding, -1)
    )
    marked = e.select(
        "user_id",
        "event_type",
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
    )
    conv = marked.filter(F.col("event_type") == Q79_CONVERSION)
    out = conv.select(
        F.lit("first_touch").alias("model"),
        F.coalesce("first_touch", F.lit("<none>")).alias("touch_type"),
    ).unionAll(
        conv.select(
            F.lit("last_touch").alias("model"),
            F.coalesce("last_touch", F.lit("<none>")).alias("touch_type"),
        )
    )
    return (
        out.groupBy("model", "touch_type")
        .agg(F.count(F.lit(1)).alias("n_conversions"))
        .orderBy("model", "touch_type")
    )


_q79_touches = ", ".join(f"'{t}'" for t in Q79_TOUCHES)
ORACLE["q79_attribution"] = f"""
    WITH marked AS (
        SELECT user_id, event_type,
               first_value(CASE WHEN event_type IN ({_q79_touches})
                                THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS first_touch,
               last_value(CASE WHEN event_type IN ({_q79_touches})
                               THEN event_type END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS last_touch
        FROM events
    ),
    conv AS (SELECT * FROM marked WHERE event_type = '{Q79_CONVERSION}'),
    credited AS (
        SELECT 'first_touch' AS model,
               coalesce(first_touch, '<none>') AS touch_type
        FROM conv
        UNION ALL
        SELECT 'last_touch', coalesce(last_touch, '<none>') FROM conv
    )
    SELECT model, touch_type, count(*)::BIGINT AS n_conversions
    FROM credited
    GROUP BY model, touch_type
    ORDER BY model, touch_type
"""
QUERIES["q79_attribution"] = q79_attribution


# ---------------------------------------------------------------------------
# q80: double exponential smoothing forecast (Holt's linear trend)
# ---------------------------------------------------------------------------

Q80_HORIZON = 7  # days ahead to forecast


def q80_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend forecast per event type: daily value totals
    smoothed by the classic recurrences (α = β = 1/2)

        level_t = α·y_t + (1−α)(level_{t−1} + trend_{t−1})
        trend_t = β(level_t − level_{t−1}) + (1−β)·trend_{t−1}

    and a 7-day-ahead projection ``level + h·trend`` — the
    second member of the forecasting family (q06 fits one global
    linear regression; Holt adapts level AND slope recursively, which
    is what short-horizon ops dashboards actually run).

    The recurrence is order-dependent state (the sequential tier, like
    q73): computed in ONE mapInPandas sweep over type-partitioned,
    day-sorted daily aggregates. α = β = 1/2 are exact binary
    fractions and the daily inputs are integer cents, so every
    intermediate is an exact dyadic double on both engines; the DuckDB
    oracle replays the identical recurrence as a RECURSIVE CTE —
    bit-equal, no tolerance.

    Scale: the heavy work is the per-(type, day) aggregation — one
    map-side-combinable shuffle over the corpus; the smoothing pass
    runs over |types|·|days| rows (dashboard-sized, thousands at
    most). Series state is O(1); horizon extension is arithmetic.
    """
    import pandas as pd

    e = Tables(spark, sf_dir).events
    daily = (
        e.groupBy(
            "event_type", F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y_c"))
    )

    def smooth(batches):
        cur = None
        level = trend = 0.0
        first = True
        n = 0
        out = {"event_type": [], "n_days": [], "level_c": [], "trend_c": [],
               "forecast_c": []}

        def emit():
            out["event_type"].append(cur)
            out["n_days"].append(n)
            out["level_c"].append(level)
            out["trend_c"].append(trend)
            out["forecast_c"].append(level + Q80_HORIZON * trend)

        for pdf in batches:
            for et, y in zip(pdf["event_type"].to_numpy(), pdf["y_c"].to_numpy()):
                if et != cur:
                    if cur is not None:
                        emit()
                    cur, level, trend, first, n = et, 0.0, 0.0, True, 0
                y = float(y)
                if first:
                    level, trend, first = y, 0.0, False
                else:
                    prev = level
                    level = 0.5 * y + 0.5 * (level + trend)
                    trend = 0.5 * (level - prev) + 0.5 * trend
                n += 1
        if cur is not None:
            emit()
        yield pd.DataFrame(out)

    return (
        daily.repartition("event_type")
        .sortWithinPartitions("event_type", "day")
        .mapInPandas(
            smooth,
            "event_type string, n_days long, level_c double, trend_c double,"
            " forecast_c double",
        )
        .orderBy("event_type")
    )


ORACLE["q80_holt_forecast"] = f"""
    WITH RECURSIVE daily AS (
        SELECT event_type, date_trunc('day', ts) AS day,
               sum(round(value * 100)::BIGINT) AS y_c
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT event_type, y_c,
               row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        FROM daily
    ),
    nd AS (SELECT event_type, max(rn) AS n_days FROM seq GROUP BY 1),
    hw(event_type, rn, level_c, trend_c) AS (
        SELECT event_type, rn, y_c::DOUBLE, 0.0::DOUBLE
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.event_type, s.rn,
               0.5 * s.y_c + 0.5 * (h.level_c + h.trend_c),
               0.5 * ((0.5 * s.y_c + 0.5 * (h.level_c + h.trend_c))
                      - h.level_c) + 0.5 * h.trend_c
        FROM hw h JOIN seq s
          ON s.event_type = h.event_type AND s.rn = h.rn + 1
    )
    SELECT h.event_type,
           n.n_days::BIGINT AS n_days,
           h.level_c, h.trend_c,
           h.level_c + {Q80_HORIZON} * h.trend_c AS forecast_c
    FROM hw h JOIN nd n ON h.event_type = n.event_type AND h.rn = n.n_days
    ORDER BY h.event_type
"""
QUERIES["q80_holt_forecast"] = q80_holt_forecast


# ---------------------------------------------------------------------------
# q81: funnel time-to-convert (stage-gap latency distribution)
# ---------------------------------------------------------------------------


def q81_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel LATENCY: for users who complete q40's strictly-ordered
    view→click→purchase funnel, the distribution of the stage gaps
    (first view→first later click, that click→first later purchase,
    and end-to-end) — q40 answers "how many convert", this answers
    "how long it takes", the product-analytics pair.

    Gaps are exact integer SECONDS (epoch arithmetic); the median /
    p90 are interpolating percentiles over those integers (q26's
    cross-engine contract: Spark ``percentile`` == DuckDB
    ``quantile_cont``, identical interpolation arithmetic on exact
    inputs, boundary-rounded at 4 decimals).

    Scale: q40's own plan shape — three stage aggregates chained on
    user_id so one hash-partitioning serves the whole funnel; the gap
    relation is converting-users-sized, and the final percentile
    aggregate is 3 rows out.
    """
    e = Tables(spark, sf_dir).events
    s1 = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"), F.first("t1").alias("t1"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("t3"),
            F.first("t1").alias("t1"),
            F.first("t2").alias("t2"),
        )
    )
    # exact micros difference floor-divided to seconds — unix_timestamp
    # truncates EACH timestamp first, which disagrees with the oracle's
    # fractional epoch subtraction on sub-second timestamps
    sec = lambda a, b: F.expr(  # noqa: E731
        f"(unix_micros({b}) - unix_micros({a})) div 1000000"
    )
    gaps = s3.select(
        sec("t1", "t2").alias("view_to_click"),
        sec("t2", "t3").alias("click_to_purchase"),
        sec("t1", "t3").alias("view_to_purchase"),
    )
    stacked = gaps.select(
        F.expr(
            "stack(3,"
            " '1_view_to_click', view_to_click,"
            " '2_click_to_purchase', click_to_purchase,"
            " '3_view_to_purchase', view_to_purchase)"
            " AS (stage_gap, gap_s)"
        )
    )
    return (
        stacked.groupBy("stage_gap")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.expr("percentile(CAST(gap_s AS DOUBLE), 0.5)"), 4).alias("median_s"),
            F.round(F.expr("percentile(CAST(gap_s AS DOUBLE), 0.9)"), 4).alias("p90_s"),
            F.min("gap_s").alias("min_s"),
            F.max("gap_s").alias("max_s"),
        )
        .orderBy("stage_gap")
    )


ORACLE["q81_time_to_convert"] = """
    WITH s1 AS (
        SELECT user_id, min(ts) AS t1 FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2, any_value(s1.t1) AS t1
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3,
               any_value(s2.t1) AS t1, any_value(s2.t2) AS t2
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id
    ),
    gaps AS (
        SELECT ((epoch_us(t2) - epoch_us(t1)) // 1000000)::BIGINT AS view_to_click,
               ((epoch_us(t3) - epoch_us(t2)) // 1000000)::BIGINT AS click_to_purchase,
               ((epoch_us(t3) - epoch_us(t1)) // 1000000)::BIGINT AS view_to_purchase
        FROM s3
    ),
    stacked AS (
        SELECT '1_view_to_click' AS stage_gap, view_to_click AS gap_s FROM gaps
        UNION ALL
        SELECT '2_click_to_purchase', click_to_purchase FROM gaps
        UNION ALL
        SELECT '3_view_to_purchase', view_to_purchase FROM gaps
    )
    SELECT stage_gap,
           count(*)::BIGINT AS n_users,
           round(quantile_cont(gap_s::DOUBLE, 0.5), 4) AS median_s,
           round(quantile_cont(gap_s::DOUBLE, 0.9), 4) AS p90_s,
           min(gap_s)::BIGINT AS min_s,
           max(gap_s)::BIGINT AS max_s
    FROM stacked
    GROUP BY stage_gap
    ORDER BY stage_gap
"""
QUERIES["q81_time_to_convert"] = q81_time_to_convert


# ---------------------------------------------------------------------------
# q82: market-basket pair mining (association rules: support / lift)
# ---------------------------------------------------------------------------

Q82_TOP = 20


def q82_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent item-PAIR mining over order baskets: for every pair of
    parts bought in the same order, support (co-occurrence count) and
    integer-scaled LIFT — the association-rule primitive behind
    "frequently bought together".

    The pair generation is a SELF-JOIN ON THE BASKET KEY with
    ``p1 < p2`` — output is Σ k_i·(k_i−1)/2 over basket sizes, bounded
    by the small per-order item count, never a corpus cross join (the
    naive item×item matrix is |parts|² and DOA at scale). Item
    supports are one count-by-key aggregate joined back BROADCAST
    (part-cardinality-sized).

    Lift is emitted in integer basis points
    ``n_pair·n_orders·10⁴ div (n_a·n_b)`` — counts only, exact
    cross-engine (a float lift would drift in the division). Top-K by
    (support, pair) is total-ordered and TakeOrdered-planned.
    """
    li = Tables(spark, sf_dir).lineitem
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    supp = items.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    return (
        pairs.join(F.broadcast(supp.withColumnsRenamed({"pk": "pa", "n_item": "n_a"})), "pa")
        .join(F.broadcast(supp.withColumnsRenamed({"pk": "pb", "n_item": "n_b"})), "pb")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "pa",
            "pb",
            "n_pair",
            F.expr("n_pair * n_orders * 10000 div (n_a * n_b)").alias("lift_bp"),
        )
        .orderBy(F.desc("n_pair"), "pa", "pb")
        .limit(Q82_TOP)
    )


ORACLE["q82_basket_pairs"] = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM items),
    supp AS (SELECT pk, count(*)::BIGINT AS n_item FROM items GROUP BY pk),
    pairs AS (
        SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS n_pair
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
    )
    SELECT pa, pb, n_pair,
           (n_pair * n_orders.n_orders * 10000
              // (sa.n_item * sb.n_item))::BIGINT AS lift_bp
    FROM pairs
    JOIN supp sa ON pairs.pa = sa.pk
    JOIN supp sb ON pairs.pb = sb.pk
    CROSS JOIN n_orders
    ORDER BY n_pair DESC, pa, pb
    LIMIT {Q82_TOP}
"""
QUERIES["q82_basket_pairs"] = q82_basket_pairs


# ---------------------------------------------------------------------------
# q83: multi-source BFS hop distances (iterative frontier traversal)
# ---------------------------------------------------------------------------

Q83_HOPS = 3
Q83_SEED_MAX = 2  # suppliers s_suppkey <= 2 seed the walk (present at every SF)


def q83_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the customer↔supplier trade graph (q61's
    edge relation): minimum hop distance from the seed suppliers
    (s_suppkey ≤ 2) out to 3 hops, aggregated per (hops, node_type).

    The traversal family's third member after q61 (fixed power
    iterations) and q59 (recursive hierarchy): BFS state is
    FRONTIER-sized, not graph-sized — each round joins only the
    just-settled frontier against edges and anti-joins settled nodes,
    so round cost tracks the expanding wave, with an early exit when a
    frontier empties (graph.bfs_hops; per-round localCheckpoint cuts
    lineage, the q61 truncation rule at every-iteration cadence).

    Exactness: hop counts are integers and min-hop is reduction-order
    independent, so the level-by-level CTE oracle matches exactly.

    Reference parity: no graph surface in the reference (SURVEY §2.6
    gap table) — extension machinery.
    """
    from .graph import bfs_hops

    t = Tables(spark, sf_dir)
    pairs = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    seeds = (
        t.supplier.filter(F.col("s_suppkey") <= Q83_SEED_MAX)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .distinct()
    )
    # early_exit=False: Q83_HOPS is the query's semantics (<=3-hop
    # reach), so the bounded loop compiles into ONE action — no
    # per-round driver sync (r12; see graph.bfs_hops)
    dist = bfs_hops(edges, seeds, Q83_HOPS, early_exit=False)
    return (
        dist.groupBy(
            "hops",
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.expr("min(node DIV 2)").alias("min_key"),
            F.expr("max(node DIV 2)").alias("max_key"),
        )
        .orderBy("hops", "node_type")
    )


def _q83_oracle() -> str:
    head = f"""
    WITH pairs AS (
        SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
    ),
    seeds AS (
        SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
        WHERE s_suppkey <= {Q83_SEED_MAX}
    ),
    d0 AS (SELECT node, 0 AS hops FROM seeds),
    f0 AS (SELECT node FROM d0)"""
    body = ""
    for i in range(1, Q83_HOPS + 1):
        body += f""",
    f{i} AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN f{i - 1} f ON e.src = f.node
        WHERE NOT EXISTS (SELECT 1 FROM d{i - 1} d WHERE d.node = e.dst)
    ),
    d{i} AS (
        SELECT node, hops FROM d{i - 1}
        UNION ALL
        SELECT node, {i} AS hops FROM f{i}
    )"""
    return head + body + f"""
    SELECT hops::BIGINT AS hops,
           CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
           count(*)::BIGINT AS n_nodes,
           min(node // 2)::BIGINT AS min_key,
           max(node // 2)::BIGINT AS max_key
    FROM d{Q83_HOPS}
    GROUP BY 1, 2
    ORDER BY hops, node_type
    """


ORACLE["q83_bfs_hops"] = _q83_oracle()
QUERIES["q83_bfs_hops"] = q83_bfs_hops


# ---------------------------------------------------------------------------
# q92: bounded-round weighted shortest path (Bellman-Ford as joins)
# ---------------------------------------------------------------------------

Q92_ROUNDS = 4
Q92_SEED_MAX = 2  # suppliers s_suppkey <= 2 seed the search (q83's seed rule)


def q92_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path over the customer↔supplier trade graph:
    edge weight = the pair's best (minimum) order-to-ship latency in
    days (shipdate − orderdate, clamped ≥ 1), distance = minimum
    total latency from the seed suppliers over paths of ≤ Q92_ROUNDS
    relationship hops. Completes the traversal family (q59 recursion,
    q61 power iteration, q83 unweighted BFS) with the weighted member
    — VERDICT_r06 "next" item #8.

    graph.sssp_bounded: Bellman-Ford with frontier pruning — each
    round relaxes only edges out of just-improved nodes (candidate
    min per dst, strict-improvement join), per-round checkpoint,
    early exit on convergence. Pruned rounds equal full relaxation
    rounds by induction, so the unrolled ≤K-edge relaxation CTE
    oracle matches exactly (BIGINT distances, order-independent min).

    Reference parity: no graph surface in the reference (SURVEY §2.6
    gap table) — extension machinery.

    Output: per node_type — nodes reached, min/max/total distance.
    """
    from .graph import sssp_bounded

    t = Tables(spark, sf_dir)
    pairs = (
        t.lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            t.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(
            F.min(F.greatest(F.lit(1), F.datediff("l_shipdate", "o_orderdate")))
            .cast("long")
            .alias("w")
        )
    )
    edges = pairs.select(
        F.col("c").alias("src"), F.col("s").alias("dst"), "w"
    ).unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"), "w"))
    seeds = (
        t.supplier.filter(F.col("s_suppkey") <= Q92_SEED_MAX)
        .select((F.col("s_suppkey") * 2 + 1).alias("node"))
        .distinct()
    )
    # early_exit=False: Q92_ROUNDS is the query's semantics (<=4-hop
    # latency paths) — one action, no per-round sync (r12)
    dist = sssp_bounded(edges, seeds, Q92_ROUNDS, early_exit=False)
    return (
        dist.groupBy(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("dist").alias("min_dist"),
            F.max("dist").alias("max_dist"),
            F.sum("dist").alias("sum_dist"),
        )
        .orderBy("node_type")
    )


def _q92_oracle() -> str:
    head = f"""
    WITH pairs AS (
        SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
               min(greatest(1, date_diff('day', o_orderdate, l_shipdate)))::BIGINT AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT c AS src, s AS dst, w FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst, w FROM pairs
    ),
    d0 AS (
        SELECT DISTINCT s_suppkey * 2 + 1 AS node, 0::BIGINT AS dist
        FROM supplier WHERE s_suppkey <= {Q92_SEED_MAX}
    )"""
    body = ""
    for i in range(1, Q92_ROUNDS + 1):
        body += f""",
    d{i} AS (
        SELECT node, min(dist)::BIGINT AS dist FROM (
            SELECT node, dist FROM d{i - 1}
            UNION ALL
            SELECT e.dst AS node, d.dist + e.w AS dist
            FROM edges e JOIN d{i - 1} d ON e.src = d.node
        ) GROUP BY node
    )"""
    return head + body + f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           count(*)::BIGINT AS n_nodes,
           min(dist)::BIGINT AS min_dist,
           max(dist)::BIGINT AS max_dist,
           sum(dist)::BIGINT AS sum_dist
    FROM d{Q92_ROUNDS}
    GROUP BY 1
    ORDER BY node_type
    """


ORACLE["q92_weighted_sssp"] = _q92_oracle()
QUERIES["q92_weighted_sssp"] = q92_weighted_sssp


# ---------------------------------------------------------------------------
# q84: mergeable digit-bucket histogram → quantile estimates + exact audit
# ---------------------------------------------------------------------------

Q84_QS = (50, 90, 99)


def q84_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a MERGEABLE fixed-bucket histogram —
    the streaming/distributed-rollup alternative to sorting: bucket
    o_totalprice cents by (decimal-digit-count, leading digit), a
    deterministic log-scale grid of ≤ 9·19 buckets whose per-partition
    counts merge by plain addition (1000 executors each histogram
    their shard; daily histograms roll up to monthly without rescans —
    the q62-HLL argument, applied to quantiles).

    Estimate for quantile q: the LOWER BOUND of the first bucket whose
    cumulative count reaches ceil(q·n/100). The audit column compares
    against the EXACT rank-based quantile (smallest value with rank ≥
    target) and reports signed error in basis points. The exact value
    is found WITHOUT a global sort: a radix drill-down — the cum
    histogram brackets each target rank inside one leading-digit
    bucket, then each round splits the active integer range into
    ≤1000 equal sub-ranges, counts rows per sub-range (map-side-
    combinable hash agg over a range filter, fully parallel), and
    descends into the sub-range holding the residual rank. Ranges
    shrink 1000× per round (~3 rounds for 8-digit cents), and each
    round's predicate carries a conservative RAW-price twin of the
    integer range so the parquet scan prunes row groups by min/max
    stats; at 100 TB this is a handful of stat-pruned column scans
    instead of the single-partition straggler a corpus-wide
    row_number sort becomes.
    All arithmetic integer: bucket bounds come from STRING surgery
    (first digit ++ zeros), not float log10, so both engines bucket
    identically at power-of-ten edges.

    Output: one row per q ∈ (50, 90, 99).
    """
    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # p rides along so drill rounds can carry a PARQUET-PUSHABLE
    # double-range filter next to the exact integer one (a predicate
    # on the computed v never reaches the scan; one on the raw column
    # prunes row groups by min/max stats)
    o = (
        t.orders.select(F.col("o_totalprice").alias("p"), cents.alias("v"))
        .filter(F.col("v") > 0)
    )
    lb = F.expr(
        "CAST(concat(substring(CAST(v AS STRING), 1, 1),"
        " repeat('0', length(CAST(v AS STRING)) - 1)) AS BIGINT)"
    )
    hist = o.groupBy(lb.alias("bucket_lb")).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("bucket_lb").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("n").over(w)).localCheckpoint(eager=False)
    # the checkpointed ≤171-row bucket frame IS the driver-side state
    # for both the estimate and the drill-down bracket — an `o.count()`
    # here would rescan the table just to recompute Σn
    buckets = sorted(cum.collect(), key=lambda r: r["bucket_lb"])
    if not buckets:
        # degenerate: zero positive amounts — the oracle's est join
        # also matches nothing, so the result is zero rows (degenerate-
        # mode fuzz catch, round 10: buckets[-1] crashed the driver)
        return local_df(
            spark, [], "q long, est_cents long, exact_cents long, err_bp long"
        )
    total = buckets[-1]["cum"]

    targets = local_df(
        spark, [(q, (q * total + 99) // 100) for q in Q84_QS], "q long, target long"
    )
    est = (
        targets.join(cum, F.col("cum") >= F.col("target"))
        .groupBy("q", "target")
        .agg(F.min("bucket_lb").alias("est_cents"))
    )
    # exact audit via the shared radix-drill primitive (analytics.drill
    # — the same state machine q68's weighted median uses, with unit
    # weights and the histogram's leading-digit buckets as initial
    # brackets so the bounds job is skipped). Selection semantics match
    # row_number's rn == target exactly (the target-th smallest row's
    # value, duplicates of v included); the raw o_totalprice column
    # rides along so each round's range filter has a parquet-pushable
    # twin (row-group stat pruning on the un-derived column).
    from .drill import weighted_value_at

    brackets: dict[tuple[int, int], tuple[int, int, int]] = {}
    for q in Q84_QS:
        target, prev = (q * total + 99) // 100, 0
        for row in buckets:
            if row["cum"] >= target:
                lo = row["bucket_lb"]
                width = lo // int(str(lo)[0])  # bucket = [d·10^k, (d+1)·10^k)
                brackets[(1, q)] = (lo, lo + width, prev)
                break
            prev = row["cum"]
    sel = weighted_value_at(
        o.withColumn("g1", F.lit(1)).withColumn("one", F.lit(1).cast("long")),
        "g1",
        "v",
        "one",
        {1: {q: (q * total + 99) // 100 for q in Q84_QS}},
        raw_col="p",
        raw_scale=100,
        brackets=brackets,
    )
    exact = local_df(
        spark, [(q, sel[(1, q)][0]) for q in Q84_QS], "q long, exact_cents long"
    )
    return (
        est.join(exact, "q")
        .select(
            "q",
            "est_cents",
            "exact_cents",
            F.expr(
                "(est_cents - exact_cents) * 10000 DIV exact_cents"
            ).alias("err_bp"),
        )
        .orderBy("q")
    )


ORACLE["q84_histogram_quantiles"] = f"""
    WITH o AS (
        SELECT round(o_totalprice * 100)::BIGINT AS v FROM orders
        WHERE round(o_totalprice * 100)::BIGINT > 0
    ),
    hist AS (
        SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) ||
                    repeat('0', length(CAST(v AS VARCHAR)) - 1) AS BIGINT)
                   AS bucket_lb,
               count(*)::BIGINT AS n
        FROM o GROUP BY 1
    ),
    cum AS (
        SELECT bucket_lb, n,
               sum(n) OVER (ORDER BY bucket_lb
                            ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        FROM hist
    ),
    targets AS (
        SELECT q, (q * (SELECT count(*) FROM o) + 99) // 100 AS target
        FROM (VALUES {', '.join(f'({q})' for q in Q84_QS)}) t(q)
    ),
    est AS (
        SELECT q, target, min(bucket_lb)::BIGINT AS est_cents
        FROM targets JOIN cum ON cum >= target
        GROUP BY q, target
    ),
    ranked AS (
        SELECT v, row_number() OVER (ORDER BY v) AS rn FROM o
    ),
    exact AS (
        SELECT q, v AS exact_cents FROM targets JOIN ranked ON rn = target
    )
    SELECT est.q::BIGINT AS q, est_cents, exact_cents,
           ((est_cents - exact_cents) * 10000 // exact_cents)::BIGINT AS err_bp
    FROM est JOIN exact ON est.q = exact.q
    ORDER BY q
"""
QUERIES["q84_histogram_quantiles"] = q84_histogram_quantiles


# ---------------------------------------------------------------------------
# q85: CDC MERGE (insert/update/delete) as a full-outer-join plan
# ---------------------------------------------------------------------------

Q85_MOD = 10  # h64(key) % 10 classifies rows: 0 delete, 1-2 update, 3 insert-src


def q85_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE INTO semantics (Delta/Iceberg row-level merge)
    expressed as ONE full-outer equi-join over the snapshot and a CDC
    delta — the batch twin of the streaming sink's upsert (K6) and the
    complement of q71's time travel: given a snapshot S and a delta D
    of (key, action ∈ I/U/D, payload),

        WHEN MATCHED AND D.action = 'D' THEN DELETE
        WHEN MATCHED AND D.action = 'U' THEN UPDATE
        WHEN NOT MATCHED AND D.action = 'I' THEN INSERT

    The delta is DERIVED deterministically from the snapshot itself
    (h64(key) % 10: 0 → delete, 1-2 → update price +10%, 3 → insert a
    shifted-key clone), so both engines build byte-identical inputs —
    the operator under test is the merge plan, not a random generator.

    Scale: one shuffle on the merge key (AQE-skew-splittable); the
    delta side is CDC-sized, so at 100 TB the join broadcasts or
    bucket-colocates with the snapshot's layout. Money stays integer
    cents; the +10% update is integer (cents * 110 DIV 100).

    Output: post-merge per-status rowcount + revenue plus the applied
    action counts folded in as audit columns.
    """
    from ..functions.hashing import h64

    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    snap = t.orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
    )
    cls = (h64(F.col("key").cast("string")) % Q85_MOD).alias("cls")
    base = snap.select("key", "status", "cents", cls).localCheckpoint(eager=False)
    max_key = base.agg(F.max("key").alias("mx"))
    delta = (
        base.filter(F.col("cls") == 0)
        .select("key", F.lit("D").alias("action"),
                F.lit(None).cast("string").alias("d_status"),
                F.lit(None).cast("long").alias("d_cents"))
        .unionAll(
            base.filter(F.col("cls").isin(1, 2)).select(
                "key", F.lit("U").alias("action"),
                F.lit("U").alias("d_status"),
                F.expr("cents * 110 DIV 100").alias("d_cents"),
            )
        )
        .unionAll(
            base.filter(F.col("cls") == 3)
            .crossJoin(F.broadcast(max_key))
            .select(
                (F.col("key") + F.col("mx")).alias("key"),
                F.lit("I").alias("action"),
                F.lit("I").alias("d_status"),
                F.expr("cents DIV 2").alias("d_cents"),
            )
        )
    )
    merged = (
        snap.join(delta, "key", "full_outer")
        .filter(
            # WHEN MATCHED AND action='D' → row removed
            ~(F.col("action").eqNullSafe("D"))
        )
        .select(
            "key",
            F.when(F.col("action") == "U", F.col("d_status"))
            .when(F.col("action").eqNullSafe("I") & F.col("status").isNull(),
                  F.col("d_status"))
            .otherwise(F.col("status"))
            .alias("status"),
            F.when(F.col("action") == "U", F.col("d_cents"))
            .when(F.col("action").eqNullSafe("I") & F.col("cents").isNull(),
                  F.col("d_cents"))
            .otherwise(F.col("cents"))
            .alias("cents"),
        )
    )
    return (
        merged.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("status")
    )


def _q85_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("key::VARCHAR")
    return f"""
    WITH snap AS (
        SELECT o_orderkey AS key, o_orderstatus AS status,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM orders
    ),
    base AS (SELECT key, status, cents, ({h}) % {Q85_MOD} AS cls FROM snap),
    mx AS (SELECT max(key) AS mx FROM base),
    delta AS (
        SELECT key, 'D' AS action, NULL::VARCHAR AS d_status, NULL::BIGINT AS d_cents
        FROM base WHERE cls = 0
        UNION ALL
        SELECT key, 'U', 'U', cents * 110 // 100 FROM base WHERE cls IN (1, 2)
        UNION ALL
        SELECT key + mx.mx, 'I', 'I', cents // 2 FROM base CROSS JOIN mx WHERE cls = 3
    ),
    merged AS (
        SELECT coalesce(s.key, d.key) AS key,
               CASE WHEN d.action = 'U' THEN d.d_status
                    WHEN d.action = 'I' AND s.key IS NULL THEN d.d_status
                    ELSE s.status END AS status,
               CASE WHEN d.action = 'U' THEN d.d_cents
                    WHEN d.action = 'I' AND s.key IS NULL THEN d.d_cents
                    ELSE s.cents END AS cents,
               d.action
        FROM snap s FULL OUTER JOIN delta d ON s.key = d.key
    )
    SELECT status, count(*)::BIGINT AS n_rows, sum(cents)::BIGINT AS revenue_cents
    FROM merged
    WHERE action IS DISTINCT FROM 'D'
    GROUP BY status
    ORDER BY status
    """


ORACLE["q85_merge_upsert"] = _q85_oracle()
QUERIES["q85_merge_upsert"] = q85_merge_upsert


# ---------------------------------------------------------------------------
# q86: skyline (Pareto frontier) query
# ---------------------------------------------------------------------------


def q86_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline: the Pareto-optimal orders minimizing BOTH
    (o_totalprice, o_orderdate) — no other order is ≤ in both
    dimensions and < in one. Dominance queries are their own operator
    class (no groupBy/join expresses them); the classic naive plan is
    the O(n²) NOT-EXISTS self-join.

    Plan: ONE window over the (price, date)-sorted DISTINCT point set.
    After sorting, every point ordered before p has price ≤ p.price —
    and dominates p iff its date ≤ p.date (ties collapse into the
    distinct grid first, so the equal-price case is strict in date by
    construction). Hence p survives iff
    min(date) OVER (preceding rows) > p.date: the sort-filter-skyline
    (SFS) sweep as a window expression, O(n log n), no self-join.

    Scale: the distinct grid is grouped FIRST (map-side combinable) —
    the window sees distinct (price, date) points, not rows — and the
    standard SAMPLE PRUNE runs ahead of the sweep: the skyline of a
    hash-defined 1/Q86_SAMPLE_MOD sample of the grid is broadcast, and
    every grid point strictly dominated by a sample-skyline point is
    filtered out BEFORE the global sort. Removing dominated points
    never changes the skyline (dominance is transitive), so the plan
    stays exact; for independent dims the survivor set is near the
    final skyline's E ≈ ln(n) size, so the corpus-wide sweep runs over
    a trivially small input. The sample rate is NOT a knob: the mod is
    derived from the grid's actual row count (one cheap count over the
    already-checkpointed grid) so the sample sweep's single-partition
    input stays under Q86_SAMPLE_TARGET_ROWS at ANY corpus size — the
    prune is exact at every rate, so the derivation only moves cost.

    Output: the skyline points (price cents, date, multiplicity),
    cheapest first — E[size] ≈ ln(n) for independent dims.
    """
    t = Tables(spark, sf_dir)
    # the grid feeds BOTH the sample branch and the main sweep;
    # Catalyst plans common subtrees twice (no DataFrame-level CTE
    # reuse), so checkpoint the one corpus-shuffle agg rather than
    # paying it twice. The checkpoint hides the agg from the shuffle-
    # budget harness, so its un-checkpointed shape is pinned separately
    # (tests/test_plans.py::test_checkpointed_aggregates_keep_plan_shape).
    pts = _q86_grid(t).localCheckpoint(eager=False)
    pruned = skyline_sample_prune(pts, "price_cents", "order_date")
    return skyline_min2d(pruned, "price_cents", "order_date").orderBy("price_cents")


# Bound on the sample sweep's single-partition input: the sample mod is
# DERIVED (never hand-tuned) so E[sample rows] = n_grid / mod stays
# under this at any corpus size. 2^16 rows sort in-memory in one task
# in milliseconds; the derivation replaces round-7's fixed mod=64 knob
# (VERDICT_r07 "What's wrong" #1).
Q86_SAMPLE_TARGET_ROWS = 65_536


def _skyline_sample_mod(n_grid: int) -> int:
    """Smallest power-of-two mod ≥ 64 with n_grid/mod ≤ the target.

    Power-of-two stepping keeps the mod stable under small grid-count
    drift (a ±1% count change never flips the sample), and the 64
    floor preserves round-7's behaviour on small grids."""
    mod = 64
    while n_grid > mod * Q86_SAMPLE_TARGET_ROWS:
        mod *= 2
    return mod


def skyline_sample_prune(
    pts: DataFrame, x: str, y: str, n_grid: int | None = None
) -> DataFrame:
    """Exactness-preserving skyline prefilter: drop every point
    STRICTLY dominated by a member of the sample skyline (h64-defined
    deterministic 1-in-mod sample of the grid, so reruns and both
    engines would sample identically; the mod derives from the grid
    count via _skyline_sample_mod — pass ``n_grid`` when the caller
    already knows it, else one count job runs here, cheap when ``pts``
    is checkpointed). The anti-join broadcasts the sample skyline
    (E-size ≈ ln(sample)) and compares JVM-side — a
    BroadcastNestedLoopJoin whose build side is a handful of rows.
    Sample-skyline points are grid points themselves, and strict
    dominance is irreflexive, so no survivor of the TRUE skyline is
    ever dropped."""
    from ..functions.hashing import h64

    mod = _skyline_sample_mod(pts.count() if n_grid is None else n_grid)
    sample = pts.filter(
        h64(F.concat_ws("|", F.col(x).cast("string"), F.col(y).cast("string")))
        % mod
        == 0
    )
    sky_s = skyline_min2d(sample, x, y).select(
        F.col(x).alias("_sx"), F.col(y).alias("_sy")
    )
    dominated = (
        (F.col("_sx") <= F.col(x))
        & (F.col("_sy") <= F.col(y))
        & ((F.col("_sx") < F.col(x)) | (F.col("_sy") < F.col(y)))
    )
    return pts.join(F.broadcast(sky_s), dominated, "left_anti")


def _q86_grid(t: Tables) -> DataFrame:
    """q86's distinct (price, date) grid aggregate, UN-checkpointed —
    factored out so the plan harness can pin its shape (one map-side-
    combinable hash agg) even though q86 itself checkpoints it."""
    return (
        t.orders.select(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
            F.col("o_orderdate").alias("order_date"),
        )
        .groupBy("price_cents", "order_date")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def skyline_min2d(pts: DataFrame, x: str, y: str) -> DataFrame:
    """SFS sweep core over a DISTINCT (x, y) point grid (minimize
    both): a point survives iff min(y) over the (x, y)-sorted
    preceding rows exceeds its y. Separated from q86 so the sweep is
    independently property-tested against brute-force dominance
    (tests/test_analytics.py) — the oracle alone could not catch a
    bug mirrored into both engines' SQL."""
    w = Window.orderBy(x, y).rowsBetween(Window.unboundedPreceding, -1)
    return (
        pts.withColumn("_bp", F.min(y).over(w))
        .filter(F.col("_bp").isNull() | (F.col("_bp") > F.col(y)))
        .drop("_bp")
    )


ORACLE["q86_skyline"] = """
    WITH pts AS (
        SELECT round(o_totalprice * 100)::BIGINT AS price_cents,
               o_orderdate AS order_date,
               count(*)::BIGINT AS n_orders
        FROM orders
        GROUP BY 1, 2
    ),
    swept AS (
        SELECT price_cents, order_date, n_orders,
               min(order_date) OVER (ORDER BY price_cents, order_date
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS best_prev
        FROM pts
    )
    SELECT price_cents, order_date, n_orders
    FROM swept
    WHERE best_prev IS NULL OR best_prev > order_date
    ORDER BY price_cents
"""
QUERIES["q86_skyline"] = q86_skyline


# ---------------------------------------------------------------------------
# q87: chi-square independence test over a contingency table
# ---------------------------------------------------------------------------


def q87_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test for o_orderstatus ×
    o_orderpriority: Χ² = Σ (O−E)²/E over the contingency table with
    E = row_total·col_total/n — the categorical-association member of
    the statistics family (q31 covers numeric correlation, q43
    regression; this is the test a data-quality pipeline runs on
    label×source grids to catch drift).

    Cross-engine float exactness uses the ordered-fold pattern (q80's
    recurrence discipline): marginals are integer window sums over the
    cell grid, each cell's (O−E)²/E term is computed with an identical
    op sequence, and the final reduction folds the terms in (status,
    priority) order via a sorted-list aggregate — never a
    partition-order-dependent float sum. The grid is |statuses| ×
    |priorities| (~15 cells) after a map-side-combinable count, so the
    fold is driver-row-sized at any corpus scale.

    Output: ONE row — n, grid dims, degrees of freedom, chi2 (6 dp).
    """
    t = Tables(spark, sf_dir)
    seen = t.orders.groupBy(
        F.col("o_orderstatus").alias("s"), F.col("o_orderpriority").alias("p")
    ).agg(F.count(F.lit(1)).alias("o"))
    # COMPLETE the grid: a (status, priority) combination absent from
    # the data still contributes (0−E)²/E = E to the statistic (E > 0
    # whenever both levels occur elsewhere) — dropping empty cells
    # understates Χ² exactly in the drift case this test exists for.
    grid = seen.select("s").distinct().crossJoin(seen.select("p").distinct())
    cells = grid.join(seen, ["s", "p"], "left").select(
        "s", "p", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    ws = Window.partitionBy("s")
    wp = Window.partitionBy("p")
    wn = Window.partitionBy()
    g = cells.select(
        "s",
        "p",
        "o",
        F.sum("o").over(ws).alias("r"),
        F.sum("o").over(wp).alias("c"),
        F.sum("o").over(wn).alias("n"),
    )
    term = F.expr("pow(o - (r * c) / n, 2) / ((r * c) / n)")
    folded = g.select(F.struct("s", "p", term.alias("t"), "n").alias("cell")).agg(
        F.aggregate(
            F.array_sort(F.collect_list("cell")),
            F.lit(0.0),
            lambda acc, x: acc + x["t"],
        ).alias("chi2"),
        F.count(F.lit(1)).alias("n_cells"),
        F.count_distinct(F.col("cell.s")).alias("n_rows_dim"),
        F.count_distinct(F.col("cell.p")).alias("n_cols_dim"),
        F.max(F.col("cell.n")).alias("n"),
    )
    return folded.select(
        "n",
        "n_cells",
        F.expr("(n_rows_dim - 1) * (n_cols_dim - 1)").alias("dof"),
        # n_cells guard: over an empty table the statistic is
        # undefined — the fold's 0.0 seed must not masquerade as a
        # real chi2 of 0 (the oracle's list_sum over an empty list is
        # NULL; degenerate-mode fuzz catch, round 10)
        F.when(F.col("n_cells") > 0, F.round("chi2", 6)).alias("chi2"),
    )


ORACLE["q87_chi_square"] = """
    WITH seen AS (
        SELECT o_orderstatus AS s, o_orderpriority AS p, count(*)::BIGINT AS o
        FROM orders GROUP BY 1, 2
    ),
    cells AS (
        SELECT rs.s, cs.p, coalesce(seen.o, 0)::BIGINT AS o
        FROM (SELECT DISTINCT s FROM seen) rs
        CROSS JOIN (SELECT DISTINCT p FROM seen) cs
        LEFT JOIN seen ON seen.s = rs.s AND seen.p = cs.p
    ),
    g AS (
        SELECT s, p, o,
               sum(o) OVER (PARTITION BY s)::BIGINT AS r,
               sum(o) OVER (PARTITION BY p)::BIGINT AS c,
               sum(o) OVER ()::BIGINT AS n
        FROM cells
    ),
    terms AS (
        SELECT s, p, n,
               pow(o - (r * c) / n, 2) / ((r * c) / n) AS t
        FROM g
    ),
    folded AS (
        SELECT list_sum(list(t ORDER BY s, p)) AS chi2,
               count(*)::BIGINT AS n_cells,
               count(DISTINCT s)::BIGINT AS n_rows_dim,
               count(DISTINCT p)::BIGINT AS n_cols_dim,
               max(n)::BIGINT AS n
        FROM terms
    )
    SELECT n, n_cells,
           ((n_rows_dim - 1) * (n_cols_dim - 1))::BIGINT AS dof,
           round(chi2, 6) AS chi2
    FROM folded
"""
QUERIES["q87_chi_square"] = q87_chi_square


# ---------------------------------------------------------------------------
# q88: sketch rollup — daily HLL registers merged to monthly, vs direct
# ---------------------------------------------------------------------------


def q88_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The mergeable-sketch ROLLUP pattern q62 argues for, actually
    executed: per-day HLL registers over events.user_id are merged
    register-wise (max) into monthly sketches, next to a direct
    monthly sketch built from the raw rows — the registers_match
    column PROVES the merge is lossless (max is associative), which is
    the property that lets a 100 TB pipeline keep 64-row daily sketch
    tables and answer any coarser distinct-count without rescanning
    raw data.

    All register arithmetic is integer (q62's first-principles HLL on
    the portable h64); the single float division per month uses the
    inlined literal numerator, so estimates hash-match cross-engine.

    Output: one row per month — register count, merged estimate,
    exact distinct, registers_match (always true: the test is that
    BOTH engines agree it is).
    """
    e = Tables(spark, sf_dir).events
    bucket, w, rho = hll_cells(_q62_h64_user())
    d = e.select(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
        bucket,
        "user_id",
        w,
    )
    daily = d.groupBy("month", "day", "bucket").agg(F.max(rho).alias("m_j"))
    merged = daily.groupBy("month", "bucket").agg(F.max("m_j").alias("m_j"))
    direct = d.groupBy("month", "bucket").agg(F.max(rho).alias("m_j_direct"))
    regs = merged.join(direct, ["month", "bucket"])
    per_month = regs.groupBy("month").agg(
        F.count(F.lit(1)).alias("nonzero_registers"),
        F.sum(F.expr(f"shiftleft(1L, {Q62_SHIFT} - m_j)")).alias("sum_pow"),
        F.min((F.col("m_j") == F.col("m_j_direct")).cast("int")).alias("regs_eq"),
    )
    exact = d.groupBy("month").agg(F.countDistinct("user_id").alias("exact_distinct"))
    est = F.lit(float(Q62_NUM)) / F.col("sum_pow")
    return (
        per_month.join(exact, "month")
        .select(
            "month",
            "nonzero_registers",
            "sum_pow",
            est.alias("est_distinct"),
            "exact_distinct",
            (F.col("regs_eq") == 1).alias("registers_match"),
        )
        .orderBy("month")
    )


def _q62_h64_user():
    from ..functions.hashing import h64

    return h64(F.col("user_id").cast("string"))


def _q88_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("user_id::VARCHAR")
    return f"""
    WITH d AS (
        SELECT date_trunc('month', ts)::DATE AS month,
               date_trunc('day', ts)::DATE AS day,
               ({h}) % {Q62_M} AS bucket,
               ({h}) // {Q62_M} AS w,
               user_id
        FROM events
    ),
    rows_rho AS (
        SELECT month, day, bucket, user_id,
               CASE WHEN w = 0 THEN {Q62_SHIFT}
                    ELSE {Q62_SHIFT} - length(bin(w)) END AS rho
        FROM d
    ),
    daily AS (
        SELECT month, day, bucket, max(rho)::BIGINT AS m_j
        FROM rows_rho GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT month, bucket, max(m_j)::BIGINT AS m_j FROM daily GROUP BY 1, 2
    ),
    direct AS (
        SELECT month, bucket, max(rho)::BIGINT AS m_j_direct
        FROM rows_rho GROUP BY 1, 2
    ),
    per_month AS (
        SELECT m.month,
               count(*)::BIGINT AS nonzero_registers,
               sum(1::BIGINT << ({Q62_SHIFT} - m.m_j))::BIGINT AS sum_pow,
               min((m.m_j = x.m_j_direct)::INT) AS regs_eq
        FROM merged m JOIN direct x ON m.month = x.month AND m.bucket = x.bucket
        GROUP BY m.month
    ),
    exact AS (
        SELECT month, count(DISTINCT user_id)::BIGINT AS exact_distinct
        FROM d GROUP BY month
    )
    SELECT p.month, nonzero_registers, sum_pow,
           {Q62_NUM} / sum_pow AS est_distinct,
           exact_distinct,
           regs_eq = 1 AS registers_match
    FROM per_month p JOIN exact e ON p.month = e.month
    ORDER BY p.month
    """


ORACLE["q88_hll_rollup"] = _q88_oracle()
QUERIES["q88_hll_rollup"] = q88_hll_rollup


# ---------------------------------------------------------------------------
# q89: bitemporal AS OF (transaction time × valid time)
# ---------------------------------------------------------------------------

Q89_TX_ASOF = "1996-01-01"     # transaction-time cut: what did we KNOW then
Q89_VALID_ASOF = "1995-09-01"  # valid-time cut: what was TRUE then
Q89_MOD = 4


def q89_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal AS OF query — the two-axis time travel that q71
    (transaction-time only) and q50/q78 (valid-time only) each cover
    half of: reconstruct what the system BELIEVED on Q89_TX_ASOF about
    what was TRUE on Q89_VALID_ASOF.

    The version history is DERIVED deterministically from orders
    (h64(key) % 4: 0 → a retroactive price correction recorded 30 days
    after the order, 1 → a scheduled future price change recorded at
    +10 days effective +60 days), so both engines audit the identical
    ledger and the operator under test is the resolution plan:

    1. transaction axis — per (key, valid_from), the LATEST version
       recorded on or before the tx cut wins (later recordings
       supersede);
    2. valid axis — per key, among surviving versions the latest
       valid_from on or before the valid cut applies.

    Both resolutions are one row_number window each on the same key
    partitioning (one shuffle, reused); money stays integer cents.

    Output: per-status rowcount + believed revenue.
    """
    from ..functions.hashing import h64

    t = Tables(spark, sf_dir)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    base = t.orders.select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        F.col("o_orderdate").alias("odate"),
        cents.alias("cents"),
        (h64(F.col("o_orderkey").cast("string")) % Q89_MOD).alias("cls"),
    )
    v0 = base.select(
        "key", "status", F.col("odate").alias("valid_from"),
        F.col("odate").alias("tx_from"), "cents",
    )
    v_corr = base.filter(F.col("cls") == 0).select(
        "key", "status", F.col("odate").alias("valid_from"),
        F.date_add("odate", 30).alias("tx_from"),
        F.expr("cents * 105 DIV 100").alias("cents"),
    )
    v_sched = base.filter(F.col("cls") == 1).select(
        "key", "status", F.date_add("odate", 60).alias("valid_from"),
        F.date_add("odate", 10).alias("tx_from"),
        F.expr("cents * 90 DIV 100").alias("cents"),
    )
    ledger = v0.unionAll(v_corr).unionAll(v_sched)
    # pre-partition on key: hashpartitioning(key) satisfies BOTH
    # windows' clustering ((key, valid_from) is a subset-cluster), so
    # the ledger shuffles ONCE — without this the two windows compile
    # to two separate hash exchanges (review-verified: 3 -> 2)
    known = ledger.filter(
        F.col("tx_from") <= F.lit(Q89_TX_ASOF)
    ).repartition("key")
    w_tx = Window.partitionBy("key", "valid_from").orderBy(F.desc("tx_from"))
    latest_known = known.withColumn("rn", F.row_number().over(w_tx)).filter(
        F.col("rn") == 1
    )
    applicable = latest_known.filter(F.col("valid_from") <= F.lit(Q89_VALID_ASOF))
    w_v = Window.partitionBy("key").orderBy(F.desc("valid_from"))
    current = applicable.withColumn("rn2", F.row_number().over(w_v)).filter(
        F.col("rn2") == 1
    )
    return (
        current.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("believed_revenue_cents"),
        )
        .orderBy("status")
    )


def _q89_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("o_orderkey::VARCHAR")
    return f"""
    WITH base AS (
        SELECT o_orderkey AS key, o_orderstatus AS status,
               o_orderdate AS odate,
               round(o_totalprice * 100)::BIGINT AS cents,
               ({h}) % {Q89_MOD} AS cls
        FROM orders
    ),
    ledger AS (
        SELECT key, status, odate AS valid_from, odate AS tx_from, cents
        FROM base
        UNION ALL
        SELECT key, status, odate, odate + INTERVAL 30 DAY,
               cents * 105 // 100
        FROM base WHERE cls = 0
        UNION ALL
        SELECT key, status, odate + INTERVAL 60 DAY,
               odate + INTERVAL 10 DAY, cents * 90 // 100
        FROM base WHERE cls = 1
    ),
    known AS (
        SELECT *, row_number() OVER (PARTITION BY key, valid_from
                                     ORDER BY tx_from DESC) AS rn
        FROM ledger WHERE tx_from <= DATE '{Q89_TX_ASOF}'
    ),
    applicable AS (
        SELECT *, row_number() OVER (PARTITION BY key
                                     ORDER BY valid_from DESC) AS rn2
        FROM known
        WHERE rn = 1 AND valid_from <= DATE '{Q89_VALID_ASOF}'
    )
    SELECT status, count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS believed_revenue_cents
    FROM applicable WHERE rn2 = 1
    GROUP BY status ORDER BY status
    """


ORACLE["q89_bitemporal_asof"] = _q89_oracle()
QUERIES["q89_bitemporal_asof"] = q89_bitemporal_asof


# ---------------------------------------------------------------------------
# q90: CUSUM change detection (sequential-state tier)
# ---------------------------------------------------------------------------

Q90_SLACK_DIV = 20   # slack k = mean/20 (half the shift we want to catch)
Q90_H_DIV = 1        # alarm threshold H = mean/1 (one average MONTH of excess)


def _q90_monthly(t: Tables) -> DataFrame:
    """q90's monthly revenue series aggregate, UN-checkpointed — see
    _q86_grid for why this is a separate function."""
    return t.orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month")
    ).agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("x"))


def q90_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM change-point detection over the MONTHLY order
    revenue series: S_t = max(0, S_{t-1} + (x_t − μ − k)), alarm and
    restart when S_t > H — the sequential-state member of the anomaly
    family (q32 z-score and q69 seasonal residuals are memoryless;
    CUSUM accumulates evidence, which is what catches small sustained
    shifts).

    ALL integer arithmetic (cents; μ, k, H are floor-divided
    constants), so the recurrence is bit-exact and the recursive-CTE
    oracle hash-matches — no float tolerance, unlike textbook CUSUM.

    Scale: the corpus pass is the per-month revenue aggregation
    (map-side combinable); the sweep runs over the dashboard-sized
    monthly series (~84 points, SF-independent) with O(1) state
    (q73/q80's execution shape — one mapInPandas pass over the
    date-sorted series). Two passes by design: μ must exist before
    the sweep.

    Output: ONE row — series length, μ, k, H, alarm count, max and
    final CUSUM.
    """
    import pandas as pd

    t = Tables(spark, sf_dir)
    # localCheckpoint, not persist(): the ~84-row series is consumed
    # twice (parameter pass + sweep), and a persist() would leave a
    # cache entry per invocation that nothing can unpersist once the
    # caller owns the returned frame. The checkpoint hides the agg from
    # the shuffle-budget harness; its shape is pinned via _q90_monthly
    # in test_plans.py.
    monthly = _q90_monthly(t).localCheckpoint(eager=False)
    g = monthly.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("tot")
    ).collect()[0]
    if not g["n"]:
        # degenerate: no months at all — zero rows, same as the
        # oracle's empty recursive sweep (int(None) would crash the
        # driver)
        return local_df(
            spark,
            [],
            "n_periods long, mean_cents long, slack_cents long, "
            "threshold_cents long, n_alarms long, max_cusum long, "
            "final_cusum long",
        )
    n_periods, mean = int(g["n"]), int(g["tot"]) // int(g["n"])
    k = mean // Q90_SLACK_DIV
    hh = mean // Q90_H_DIV

    def run(batches):
        s = mx = alarms = 0
        seen = False
        for pdf in batches:
            seen = seen or len(pdf) > 0
            s, mx, alarms = cusum_fold(pdf["x"].to_numpy(), s, mx, alarms, mean, k, hh)
        if not seen:  # guard: an empty partition must not emit a row
            return
        yield pd.DataFrame(
            {
                "n_periods": [n_periods],
                "mean_cents": [mean],
                "slack_cents": [k],
                "threshold_cents": [hh],
                "n_alarms": [alarms],
                "max_cusum": [mx],
                "final_cusum": [s],
            }
        )

    return (
        monthly.repartition(1)
        .sortWithinPartitions("month")
        .mapInPandas(
            run,
            "n_periods long, mean_cents long, slack_cents long, "
            "threshold_cents long, n_alarms long, max_cusum long, "
            "final_cusum long",
        )
    )


ORACLE["q90_cusum"] = f"""
    WITH RECURSIVE monthly AS (
        SELECT date_trunc('month', o_orderdate)::DATE AS month,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS x
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT month, x, row_number() OVER (ORDER BY month) AS rn FROM monthly
    ),
    params AS (
        SELECT count(*)::BIGINT AS n,
               (sum(x) // count(*))::BIGINT AS mean,
               ((sum(x) // count(*)) // {Q90_SLACK_DIV})::BIGINT AS k,
               ((sum(x) // count(*)) // {Q90_H_DIV})::BIGINT AS hh
        FROM monthly
    ),
    cs(rn, s, mx, alarms) AS (
        SELECT seq.rn,
               CASE WHEN greatest(0, seq.x - p.mean - p.k) > p.hh THEN 0
                    ELSE greatest(0, seq.x - p.mean - p.k) END,
               greatest(0, seq.x - p.mean - p.k),
               (greatest(0, seq.x - p.mean - p.k) > p.hh)::BIGINT
        FROM seq, params p WHERE seq.rn = 1
        UNION ALL
        SELECT s2.rn,
               CASE WHEN greatest(0, c.s + (s2.x - p.mean - p.k)) > p.hh THEN 0
                    ELSE greatest(0, c.s + (s2.x - p.mean - p.k)) END,
               greatest(c.mx, greatest(0, c.s + (s2.x - p.mean - p.k))),
               c.alarms +
                   (greatest(0, c.s + (s2.x - p.mean - p.k)) > p.hh)::BIGINT
        FROM cs c JOIN seq s2 ON s2.rn = c.rn + 1, params p
    ),
    last AS (SELECT * FROM cs ORDER BY rn DESC LIMIT 1)
    SELECT p.n AS n_periods, p.mean AS mean_cents, p.k AS slack_cents,
           p.hh AS threshold_cents,
           last.alarms::BIGINT AS n_alarms,
           last.mx::BIGINT AS max_cusum,
           last.s::BIGINT AS final_cusum
    FROM last, params p
"""
QUERIES["q90_cusum"] = q90_cusum


# ---------------------------------------------------------------------------
# q91: exact proration — largest-remainder (Hamilton) allocation
# ---------------------------------------------------------------------------

Q91_BUDGET_CENTS = 1_000_000_00  # allocate a fixed $1M budget (in cents)


def q91_proration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact budget proration across groups with largest-remainder
    (Hamilton) rounding: allocate Q91_BUDGET proportionally to each
    nation's revenue such that the shares are integers and SUM EXACTLY
    to the budget — the allocation op every financial pipeline needs
    (naive floor() leaks cents; naive round() over- or under-shoots).

    Integer algebra end-to-end: weights are first QUANTIZED to ~ppb
    (w' = w DIV max(1, W DIV 10⁹)) so B·w' stays far inside int64 at
    ANY corpus scale — raw cents weights would overflow B·w around
    nation-revenue ~9·10¹⁰ (Spark non-ANSI would wrap silently,
    DuckDB would raise; the quantization makes both engines exact and
    identical). Then base_i = B·w'_i DIV W', remainder_i = B·w'_i MOD
    W', and the leftover L = B − Σ base (0 ≤ L < n_groups) goes one
    unit each to the L largest remainders (ties by nation key — total
    order, deterministic). One window ranks remainders; everything
    before it is a map-side-combinable aggregate, so the allocation
    step runs on a |groups|-sized relation at any corpus scale. The
    invariant Σ alloc = B is emitted as a column both engines must
    agree is exact.
    """
    t = Tables(spark, sf_dir)
    rev = (
        t.orders.join(
            t.customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("w")
        )
    )
    tot = rev.agg(F.sum("w").alias("tw"))
    b = F.lit(Q91_BUDGET_CENTS)
    wq = rev.crossJoin(F.broadcast(tot)).select(
        "nation",
        "w",
        F.expr(f"w DIV greatest(1L, tw DIV {10**9})").alias("wq"),
    )
    wall = Window.partitionBy()
    scored = wq.select(
        "nation",
        "w",
        "wq",
        F.greatest(F.sum("wq").over(wall), F.lit(1)).alias("twq"),
    ).select(
        "nation",
        "w",
        F.expr(f"{Q91_BUDGET_CENTS} * wq DIV twq").alias("base"),
        F.expr(f"{Q91_BUDGET_CENTS} * wq % twq").alias("rem"),
    )
    wnd = Window.orderBy(F.desc("rem"), "nation")
    leftover = F.lit(Q91_BUDGET_CENTS) - F.sum("base").over(
        Window.partitionBy()
    )
    alloc = scored.select(
        "nation",
        "w",
        "base",
        "rem",
        F.row_number().over(wnd).alias("rr"),
        leftover.alias("lo"),
    ).select(
        "nation",
        "w",
        (F.col("base") + (F.col("rr") <= F.col("lo")).cast("long")).alias(
            "alloc_cents"
        ),
    )
    chk = alloc.agg(F.sum("alloc_cents").alias("s")).select(
        (F.col("s") == b).alias("sums_exact")
    )
    return (
        alloc.crossJoin(F.broadcast(chk))
        .select("nation", "w", "alloc_cents", "sums_exact")
        .orderBy("nation")
    )


ORACLE["q91_proration"] = f"""
    WITH rev AS (
        SELECT c_nationkey AS nation,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS w
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
    ),
    tot AS (SELECT sum(w)::BIGINT AS tw FROM rev),
    wq AS (
        SELECT nation, w,
               (w // greatest(1, tw // {10**9}))::BIGINT AS wq
        FROM rev, tot
    ),
    scored AS (
        SELECT nation, w,
               ({Q91_BUDGET_CENTS} * wq // twq)::BIGINT AS base,
               ({Q91_BUDGET_CENTS} * wq % twq)::BIGINT AS rem
        FROM (SELECT *, greatest(sum(wq) OVER (), 1)::BIGINT AS twq FROM wq)
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, nation) AS rr,
               {Q91_BUDGET_CENTS} - sum(base) OVER () AS lo
        FROM scored
    ),
    alloc AS (
        SELECT nation, w,
               (base + (rr <= lo)::INT)::BIGINT AS alloc_cents
        FROM ranked
    ),
    chk AS (
        SELECT sum(alloc_cents) = {Q91_BUDGET_CENTS} AS sums_exact FROM alloc
    )
    SELECT nation, w, alloc_cents, sums_exact
    FROM alloc, chk
    ORDER BY nation
"""
QUERIES["q91_proration"] = q91_proration


# ---------------------------------------------------------------------------
# q93: exact heavy hitters — Misra-Gries candidates + exact verify pass
# ---------------------------------------------------------------------------

Q93_K = 200  # frequency threshold: count * K > total tokens


def _q93_pass2(toks: DataFrame, cands: DataFrame) -> DataFrame:
    """q93's exact counting pass, UN-checkpointed (see _q86_grid):
    left broadcast join marks candidates, conditional groupBy folds
    non-candidates into one NULL bucket — exact per-candidate counts
    AND the total token count from one scan."""
    marked = toks.join(
        F.broadcast(cands.withColumn("is_cand", F.lit(1))), "w", "left"
    )
    return marked.groupBy(
        F.when(F.col("is_cand") == 1, F.col("w")).alias("k")
    ).agg(F.count(F.lit(1)).alias("cnt"))


def q93_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT frequent items (tokens with count > n/Q93_K over the
    documents token stream) without ever shuffling the full vocabulary
    — the deterministic-guarantee counterpart to q51's count-min and
    the standard two-pass heavy-hitters plan:

    pass 1 (bounded state): each partition builds a Misra-Gries
    summary of at most K counters — vectorized as a pandas
    value_counts truncated by subtracting the (K+1)-th largest count
    (the batch form of MG decrement; Agarwal et al., mergeable
    summaries). An item absent from EVERY partition summary has
    per-partition counts ≤ n_i/(K+1), hence global count ≤ n/(K+1) <
    n/K — so the union of summaries (≤ K·partitions rows, driver-tiny)
    is a PROVEN candidate superset.

    pass 2 (exact): candidate tokens broadcast; one scan counts them
    exactly (map-side hash semi join, agg over ≤ K·partitions keys)
    and filters count·K > n. The result is EXACT — pass-1 estimates
    never surface, so no MG internals leak into the oracle compare.

    At 100 TB: vocabulary-sized groupBys (t09's shape) shuffle
    billions of keys; this plan shuffles K·partitions candidate rows
    plus one broadcast. The two passes are the price of exactness.

    Output: token, exact count, ppm share; count-desc, token asc.
    """
    import pandas as pd

    d = Tables(spark, sf_dir).documents.select("text")

    def mg_summaries(batches):
        counts = None
        for pdf in batches:
            toks = pdf["text"].dropna().str.split(" ").explode()
            if len(toks) == 0:
                continue
            vc = toks.value_counts()
            counts = vc if counts is None else counts.add(vc, fill_value=0)
            # truncating after EVERY Arrow-batch merge (not once at
            # partition end) bounds executor state at K counters
            # regardless of partition vocabulary — the mergeable-MG
            # error bound sums to ≤ n_partition/(K+1) either way
            counts, _ = mg_truncate(counts, Q93_K)
        if counts is None:
            return
        yield pd.DataFrame({"w": counts.index.astype(str)})

    cands = (
        d.mapInPandas(mg_summaries, "w string").distinct().localCheckpoint(eager=False)
    )
    # ONE corpus scan for pass 2: a left broadcast join marks candidate
    # tokens, and a conditional groupBy folds every non-candidate into
    # a single NULL bucket — so the same aggregation yields the exact
    # per-candidate counts AND (as the bucket sum) the total n, instead
    # of planning the tokenize-explode subtree twice (Catalyst has no
    # DataFrame-level CTE reuse). The ≤ K·partitions+1-row result is
    # checkpointed so the total and the filter don't re-run the scan.
    toks = d.select(F.explode(F.split("text", " ")).alias("w"))
    per_key = _q93_pass2(toks, cands).localCheckpoint(eager=False)
    total = per_key.agg(F.sum("cnt").alias("n"))
    return (
        per_key.filter(F.col("k").isNotNull())
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * Q93_K > F.col("n"))
        .select(
            F.col("k").alias("token"),
            "cnt",
            F.expr("cnt * 1000000 DIV n").alias("ppm"),
        )
        .orderBy(F.desc("cnt"), "token")
    )


ORACLE["q93_heavy_hitters"] = f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
        WHERE text IS NOT NULL
    ),
    tot AS (SELECT count(*)::BIGINT AS n FROM toks)
    SELECT w AS token,
           count(*)::BIGINT AS cnt,
           (count(*) * 1000000 // any_value(n))::BIGINT AS ppm
    FROM toks, tot
    GROUP BY w
    HAVING count(*) * {Q93_K} > any_value(n)
    ORDER BY cnt DESC, token
"""
QUERIES["q93_heavy_hitters"] = q93_heavy_hitters


# ---------------------------------------------------------------------------
# q94: trailing-window distinct via register-merged HLL sketches
# ---------------------------------------------------------------------------

Q94_WINDOW_DAYS = 7  # trailing window: day d covers [d-6, d]


def q94_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct users per day (the "weekly active users
    by day" series) computed from DAILY HLL sketches merged
    register-wise across the window — the sliding-window member of the
    q62/q88 mergeable-sketch family. COUNT(DISTINCT) cannot slide:
    each day's window re-scans raw data because distinct sets don't
    subtract. Mergeable registers make the series cheap: keep 64
    BIGINTs per day and any window is a register-max over ≤7 rows of
    the day×bucket grid.

    Plan: one raw scan builds daily registers (map-side-combinable
    max); the trailing merge joins the day-grid spine against the
    daily grid on a 7-day range (broadcast spine — grid-sized, fanout
    ≤ 7) and re-maxes. The exact_distinct audit column re-scans the
    distinct (day, user) pairs through the same spine join — the
    column a 100 TB pipeline drops, kept here because the oracle
    hash-checks the estimate AGAINST the truth it approximates.

    Output: one row per day — nonzero registers, sketch estimate,
    exact trailing distinct, signed error in basis points.
    """
    e = Tables(spark, sf_dir).events
    bucket, w, rho = hll_cells(_q62_h64_user())
    d = e.select(
        F.date_trunc("day", "ts").cast("date").alias("day"), bucket, "user_id", w
    )
    daily = (
        d.groupBy("day", "bucket")
        .agg(F.max(rho).alias("m_j"))
        .localCheckpoint(eager=False)
    )
    spine = daily.select("day").distinct()
    in_window = (F.col("r_day") <= F.col("day")) & (
        F.col("r_day") >= F.date_sub(F.col("day"), Q94_WINDOW_DAYS - 1)
    )
    merged = (
        daily.withColumnRenamed("day", "r_day")
        .join(F.broadcast(spine), in_window)
        .groupBy("day", "bucket")
        .agg(F.max("m_j").alias("m_j"))
    )
    per_day = merged.groupBy("day").agg(
        F.count(F.lit(1)).alias("nonzero_registers"),
        F.sum(F.expr(f"shiftleft(1L, {Q62_SHIFT} - m_j)")).alias("sum_pow"),
    )
    exact = (
        d.select(F.col("day").alias("r_day"), "user_id")
        .distinct()
        .join(F.broadcast(spine), in_window)
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    est = F.lit(float(Q62_NUM)) / F.col("sum_pow")
    return (
        per_day.join(exact, "day")
        .select(
            "day",
            "nonzero_registers",
            est.alias("est_distinct"),
            "exact_distinct",
            # floor() in BOTH engines: DuckDB's ::BIGINT on DOUBLE
            # rounds while Spark's CAST truncates — the q84-class
            # cross-engine trap, defused explicitly
            F.expr(
                f"(CAST(floor({Q62_NUM} / sum_pow) AS BIGINT) - exact_distinct)"
                " * 10000 DIV exact_distinct"
            ).alias("err_bp"),
        )
        .orderBy("day")
    )


def _q94_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("user_id::VARCHAR")
    return f"""
    WITH d AS (
        SELECT date_trunc('day', ts)::DATE AS day,
               ({h}) % {Q62_M} AS bucket,
               ({h}) // {Q62_M} AS w,
               user_id
        FROM events
    ),
    rows_rho AS (
        SELECT day, bucket, user_id,
               CASE WHEN w = 0 THEN {Q62_SHIFT}
                    ELSE {Q62_SHIFT} - length(bin(w)) END AS rho
        FROM d
    ),
    daily AS (
        SELECT day, bucket, max(rho)::BIGINT AS m_j
        FROM rows_rho GROUP BY 1, 2
    ),
    spine AS (SELECT DISTINCT day FROM daily),
    merged AS (
        SELECT s.day, r.bucket, max(r.m_j)::BIGINT AS m_j
        FROM daily r JOIN spine s
          ON r.day <= s.day AND r.day >= s.day - {Q94_WINDOW_DAYS - 1}
        GROUP BY 1, 2
    ),
    per_day AS (
        SELECT day,
               count(*)::BIGINT AS nonzero_registers,
               sum(1::BIGINT << ({Q62_SHIFT} - m_j))::BIGINT AS sum_pow
        FROM merged GROUP BY day
    ),
    exact AS (
        SELECT s.day, count(DISTINCT r.user_id)::BIGINT AS exact_distinct
        FROM (SELECT DISTINCT day, user_id FROM d) r JOIN spine s
          ON r.day <= s.day AND r.day >= s.day - {Q94_WINDOW_DAYS - 1}
        GROUP BY s.day
    )
    SELECT p.day, nonzero_registers,
           {Q62_NUM} / sum_pow AS est_distinct,
           exact_distinct,
           (floor({Q62_NUM} / sum_pow)::BIGINT - exact_distinct) * 10000
               // exact_distinct AS err_bp
    FROM per_day p JOIN exact USING (day)
    ORDER BY day
    """


ORACLE["q94_sliding_distinct"] = _q94_oracle()
QUERIES["q94_sliding_distinct"] = q94_sliding_distinct


# ---------------------------------------------------------------------------
# q95: two-level digest reconciliation — the 100 TB scale path for q58
# ---------------------------------------------------------------------------

Q95_NB = 64  # digest buckets; at scale this is the table's partition column
# divergence is injected ONLY into these buckets (secondary-hash row picks),
# so the drill stage provably touches 3/64 of the data:
Q95_CHANGED_B, Q95_MISSING_B, Q95_EXTRA_B = 5, 9, 13


def _q95_sides(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Source/replica pair with deterministic divergence confined to 3 of
    the 64 digest buckets (bump / replica-missing / replica-extra row sets
    chosen by a secondary hash, so both engines derive byte-identical
    tables)."""
    from ..functions.hashing import h64

    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderpriority",
    )
    o = o.withColumn("bucket", h64(F.col("o_orderkey")) % Q95_NB).withColumn(
        "_h2",
        h64(F.concat(F.col("o_orderkey").cast("string"), F.lit("#div"))) % 5,
    )
    source = o.filter(
        ~((F.col("bucket") == Q95_EXTRA_B) & (F.col("_h2") == 0))
    ).drop("_h2")
    replica = (
        o.filter(~((F.col("bucket") == Q95_MISSING_B) & (F.col("_h2") == 0)))
        .withColumn(
            "cents",
            F.when(
                (F.col("bucket") == Q95_CHANGED_B) & (F.col("_h2") == 0),
                F.col("cents") + 100,
            ).otherwise(F.col("cents")),
        )
        .drop("_h2")
    )
    return source, replica


def _q95_digests(side: DataFrame, prefix: str) -> DataFrame:
    """Per-bucket (row count, XOR-of-row-hash) digest. XOR is the right
    combiner: order-independent, overflow-free (no HUGEINT promotion),
    and map-side combinable — the whole table collapses to Q95_NB rows
    of partial state per executor before any shuffle."""
    from ..functions.hashing import h64

    rh = h64(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("cents").cast("string"),
            F.col("o_orderpriority"),
        )
    )
    return side.withColumn("_rh", rh).groupBy("bucket").agg(
        F.count(F.lit(1)).alias(f"{prefix}_n"),
        F.expr("bit_xor(_rh)").alias(f"{prefix}_x"),
    )


def q95_digest_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level digest reconciliation between a source table and its
    replica — how q58's full-table diff survives 100 TB. Comparing two
    lake tables row-by-row costs a full-table key-shuffle full outer
    join on BOTH sides; but replicas diverge sparsely, so first compare
    per-bucket digests (count + XOR of a row hash: map-side-combinable,
    Q95_NB rows per side cross the wire), then drill the row-level
    classification ONLY into buckets whose digests disagree.

    Here 3 of 64 buckets carry injected divergence (price bump /
    replica-missing / replica-extra), so the drill's full outer join
    touches ~4.7% of rows. At scale `bucket` is the table's physical
    partition column: the level-1 aggregate reads each partition once
    with no shuffle beyond 64 partial-state rows, and the drill's
    semi-join against the 64-row differing-bucket set prunes untouched
    partitions at the metadata level (broadcast the bucket list; the
    scan never opens clean files). A digest can collide (XOR of 60-bit
    hashes), silently skipping a bucket — at p ~= 2^-60 per bucket; the
    production mitigation is a second independent hash, the same knob
    every Merkle-sync protocol exposes.

    Output: (bucket, diff_class, n_keys) for every differing bucket —
    the drill also re-proves the match rows inside those buckets.
    """
    source, replica = _q95_sides(spark, sf_dir)
    sd = _q95_digests(source, "s")
    rd = _q95_digests(replica, "r")
    diffb = (
        sd.join(rd, "bucket", "full_outer")
        .filter(
            ~(
                F.col("s_n").eqNullSafe(F.col("r_n"))
                & F.col("s_x").eqNullSafe(F.col("r_x"))
            )
        )
        .select("bucket")
    )
    s2 = source.join(F.broadcast(diffb), "bucket", "semi").select(
        F.col("bucket").alias("sb"),
        F.col("o_orderkey").alias("k"),
        F.struct("cents", "o_orderpriority").alias("sv"),
    )
    r2 = replica.join(F.broadcast(diffb), "bucket", "semi").select(
        F.col("bucket").alias("rb"),
        F.col("o_orderkey").alias("k"),
        F.struct("cents", "o_orderpriority").alias("rv"),
    )
    diff_class = (
        F.when(F.col("rv").isNull(), "missing_in_replica")
        .when(F.col("sv").isNull(), "extra_in_replica")
        .when(F.col("sv") == F.col("rv"), "match")
        .otherwise("changed")
    )
    return (
        s2.join(r2, "k", "full_outer")
        .select(
            F.coalesce("sb", "rb").alias("bucket"), diff_class.alias("diff_class")
        )
        .groupBy("bucket", "diff_class")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .orderBy("bucket", "diff_class")
    )


def _q95_oracle() -> str:
    from ..functions.hashing import h64_sql

    rh = h64_sql("o_orderkey::VARCHAR || '|' || cents::VARCHAR || '|' || o_orderpriority")
    return f"""
    WITH o AS (
        SELECT o_orderkey,
               round(o_totalprice * 100)::BIGINT AS cents,
               o_orderpriority,
               ({h64_sql('o_orderkey::VARCHAR')} % {Q95_NB}) AS bucket,
               ({h64_sql("o_orderkey::VARCHAR || '#div'")} % 5) AS h2
        FROM orders
    ), source AS (
        SELECT o_orderkey, cents, o_orderpriority, bucket FROM o
        WHERE NOT (bucket = {Q95_EXTRA_B} AND h2 = 0)
    ), replica AS (
        SELECT o_orderkey,
               CASE WHEN bucket = {Q95_CHANGED_B} AND h2 = 0
                    THEN cents + 100 ELSE cents END AS cents,
               o_orderpriority, bucket
        FROM o WHERE NOT (bucket = {Q95_MISSING_B} AND h2 = 0)
    ), sd AS (
        SELECT bucket, count(*)::BIGINT AS n, bit_xor({rh})::BIGINT AS x
        FROM source GROUP BY bucket
    ), rd AS (
        SELECT bucket, count(*)::BIGINT AS n, bit_xor({rh})::BIGINT AS x
        FROM replica GROUP BY bucket
    ), diffb AS (
        SELECT coalesce(sd.bucket, rd.bucket) AS bucket
        FROM sd FULL OUTER JOIN rd ON sd.bucket = rd.bucket
        WHERE sd.n IS DISTINCT FROM rd.n OR sd.x IS DISTINCT FROM rd.x
    ), s2 AS (
        SELECT * FROM source WHERE bucket IN (SELECT bucket FROM diffb)
    ), r2 AS (
        SELECT * FROM replica WHERE bucket IN (SELECT bucket FROM diffb)
    ), j AS (
        SELECT coalesce(s2.bucket, r2.bucket) AS bucket,
               CASE WHEN r2.o_orderkey IS NULL THEN 'missing_in_replica'
                    WHEN s2.o_orderkey IS NULL THEN 'extra_in_replica'
                    WHEN s2.cents = r2.cents
                         AND s2.o_orderpriority = r2.o_orderpriority THEN 'match'
                    ELSE 'changed'
               END AS diff_class
        FROM s2 FULL OUTER JOIN r2 ON s2.o_orderkey = r2.o_orderkey
    )
    SELECT bucket, diff_class, count(*)::BIGINT AS n_keys
    FROM j GROUP BY 1, 2 ORDER BY 1, 2
    """


ORACLE["q95_digest_diff"] = _q95_oracle()
QUERIES["q95_digest_diff"] = q95_digest_diff


# ---------------------------------------------------------------------------
# q96: small-file compaction planner (the lake-maintenance OPTIMIZE step)
# ---------------------------------------------------------------------------


def pack_first_fit(files: DataFrame) -> DataFrame:
    """First-fit bin packing of (month, day, n_rows, target) file rows
    into contiguous per-month bins: a new bin starts when adding the
    next file (day order) would push the fill past ``target``; an
    oversize file occupies a bin alone. Sequential only WITHIN a month,
    so months pack in parallel — one hash partition per month, carry
    state resets at each group boundary and rides across Arrow batch
    boundaries (the q73 one-pass mapInPandas shape). Bin ids restart at
    1 per month. Separated from q96 so the sweep is property-tested
    against a brute-force packer (tests/test_analytics.py)."""
    import pandas as pd

    def pack(batches):
        cur = None
        bin_id = 0
        fill = 0
        out = {"month": [], "day": [], "n_rows": [], "bin_id": []}
        for pdf in batches:
            for m, d, n, t in zip(
                pdf["month"], pdf["day"], pdf["n_rows"], pdf["target"]
            ):
                if m != cur:
                    cur, bin_id, fill = m, 1, n
                elif fill + n > t:
                    bin_id += 1
                    fill = n
                else:
                    fill += n
                out["month"].append(m)
                out["day"].append(d)
                out["n_rows"].append(int(n))
                out["bin_id"].append(bin_id)
        yield pd.DataFrame(out)

    return (
        files.repartition("month")
        .sortWithinPartitions("month", "day")
        .mapInPandas(pack, "month date, day date, n_rows long, bin_id long")
    )


def q96_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-packing compaction plan for a small-files table — the
    maintenance pass (Iceberg/Delta ``OPTIMIZE`` analog) every 100 TB
    lake needs: greedily pack per-day files into target-sized rewrite
    bins WITHIN their month partition, first-fit in day order so each
    bin is a contiguous day range (rewritten bins stay range-prunable
    on the sort key).

    The "file listing" here is derived from lineitem (one row per
    (month, ship day) with its row count); the greedy rule starts a
    new bin when adding the next file would exceed the target, and an
    oversize file gets a bin of its own. The target is data-derived
    (7× the mean file size, ``greatest(1, sum*7 DIV count)``) so the
    plan is scale-free and integer-exact in both engines.

    Scale shape: the only corpus-sized work is the map-side-combinable
    file-stats aggregate (at 100 TB you'd read the real file manifest
    — metadata-sized — instead). Packing is inherently sequential but
    only WITHIN a month (≤31 files), so the sweep hash-partitions by
    month and runs every month in parallel — the q73 one-pass
    mapInPandas shape with carry reset at each group boundary, not a
    global sort. Output: one row per planned bin with its day range.
    """
    li = Tables(spark, sf_dir).lineitem
    files = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("month"),
        F.col("l_shipdate").cast("date").alias("day"),
    ).agg(F.count(F.lit(1)).alias("n_rows"))
    totals = files.agg(
        F.expr("greatest(1L, sum(n_rows) * 7 DIV count(1))").alias("target")
    )
    assigned = pack_first_fit(files.crossJoin(F.broadcast(totals)))
    return (
        assigned.groupBy("month", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").alias("bin_rows"),
            F.min("day").alias("first_day"),
            F.max("day").alias("last_day"),
        )
        .orderBy("month", "bin_id")
    )


ORACLE["q96_compaction_plan"] = """
    WITH RECURSIVE files AS (
        SELECT date_trunc('month', l_shipdate)::DATE AS month,
               l_shipdate::DATE AS day,
               count(*)::BIGINT AS n_rows
        FROM lineitem GROUP BY 1, 2
    ),
    t AS (
        SELECT greatest(1, (sum(n_rows) * 7) // count(*))::BIGINT AS target
        FROM files
    ),
    seq AS (
        SELECT *,
               row_number() OVER (PARTITION BY month ORDER BY day)::BIGINT AS i
        FROM files
    ),
    rec AS (
        SELECT month, day, n_rows, i, 1::BIGINT AS bin_id, n_rows AS fill
        FROM seq WHERE i = 1
        UNION ALL
        SELECT s.month, s.day, s.n_rows, s.i,
               CASE WHEN r.fill + s.n_rows > t.target
                    THEN r.bin_id + 1 ELSE r.bin_id END,
               CASE WHEN r.fill + s.n_rows > t.target
                    THEN s.n_rows ELSE r.fill + s.n_rows END
        FROM rec r JOIN seq s ON s.month = r.month AND s.i = r.i + 1, t
    )
    SELECT month, bin_id,
           count(*)::BIGINT AS n_files,
           sum(n_rows)::BIGINT AS bin_rows,
           min(day) AS first_day,
           max(day) AS last_day
    FROM rec GROUP BY 1, 2 ORDER BY 1, 2
"""
QUERIES["q96_compaction_plan"] = q96_compaction_plan


# ---------------------------------------------------------------------------
# q97: zone-map skip profile — quantifying data-skipping per layout
# ---------------------------------------------------------------------------

Q97_FILES = 64  # simulated files per layout
Q97_EPOCH = "1990-01-01"  # date->int origin (before every o_orderdate)


def q97_zone_map_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max footer stats) skip profile: how many of a
    table's files three physical layouts let a scan SKIP for the same
    predicates — the measurement behind every lake layout decision
    (parquet row-group pruning / Iceberg metrics / Delta data
    skipping), and the audit that justifies q49's z-order writer and
    q96's contiguous compaction bins.

    Layouts, each splitting orders into 64 equal-width files:
    * ``ingest``      — files by o_orderkey range (arrival order);
    * ``sorted_cust`` — files by o_custkey range (single-column sort);
    * ``zorder``      — files by Morton-interleaved (custkey, orderdate)
                        buckets (q49's curve on this table's dims).
    Every file carries its zone map: min/max of custkey AND orderdate
    (as days since 1990-01-01 — integer-exact in both engines).

    Predicates (bounds-derived, so the profile is scale-free):
    a customer point lookup, a ~30-day date window, and a combined
    customer-range + date-window. A file is READ iff the predicate
    interval intersects its zone envelope — the exact test a scan's
    file-pruning phase runs against footer stats.

    Expected shape (and why the layouts exist): ingest skips nothing
    on either dim (random envelopes span everything), the custkey sort
    skips ~all files for customer predicates but none for dates, the
    Z-curve skips MOST files on BOTH dims at once — the multi-dim
    locality single-column sorts cannot give.

    Scale: one corpus scan computes all three file assignments in the
    same projection (a stack() unpivot triples only the grid input,
    not the scan); zone maps are a map-side-combinable min/max agg to
    192 rows; the predicate evaluation is a broadcast cross of 192
    zones x 3 predicates. Output: 9 rows of (layout, predicate,
    files_total, files_read, rows_read, skip_bp).
    """
    nb = Q97_FILES
    o = Tables(spark, sf_dir).orders
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_custkey").alias("c"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.to_date(F.lit(Q97_EPOCH))
        )
        .cast("long")
        .alias("d"),
    )
    bounds = base.agg(
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.min("c").alias("min_c"),
        F.max("c").alias("max_c"),
        F.min("d").alias("min_d"),
        F.max("d").alias("max_d"),
    )
    rows = with_zvalue(
        base.join(F.broadcast(bounds))
        .withColumn("f_ingest", F.expr(f"({nb} * (k - min_k)) div (max_k - min_k + 1)"))
        .withColumn("f_sorted", F.expr(f"({nb} * (c - min_c)) div (max_c - min_c + 1)")),
        "c", "d", ("min_c", "max_c", "min_d", "max_d"), ZORDER_BITS, "z",
    ).withColumn("f_zorder", F.expr(f"z div {1 << ZORDER_BUCKET_SHIFT}"))
    stacked = rows.select(
        "c",
        "d",
        F.expr(
            "stack(3, 'ingest', f_ingest, 'sorted_cust', f_sorted,"
            " 'zorder', f_zorder) as (layout, file_id)"
        ),
    )
    zones = stacked.groupBy("layout", "file_id").agg(
        F.min("c").alias("zmin_c"),
        F.max("c").alias("zmax_c"),
        F.min("d").alias("zmin_d"),
        F.max("d").alias("zmax_d"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    span_c = "(max_c - min_c + 1)"
    span_d = "(max_d - min_d + 1)"
    preds = bounds.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("p1_cust_point").alias("pred"),
                    F.expr("(min_c + max_c) div 2").alias("c_lo"),
                    F.expr("(min_c + max_c) div 2").alias("c_hi"),
                    F.lit(None).cast("long").alias("d_lo"),
                    F.lit(None).cast("long").alias("d_hi"),
                ),
                F.struct(
                    F.lit("p2_date_month").alias("pred"),
                    F.lit(None).cast("long").alias("c_lo"),
                    F.lit(None).cast("long").alias("c_hi"),
                    F.expr(f"min_d + {span_d} * 2 div 5").alias("d_lo"),
                    F.expr(f"min_d + {span_d} * 2 div 5 + 29").alias("d_hi"),
                ),
                F.struct(
                    F.lit("p3_cust_range_date").alias("pred"),
                    F.expr(f"min_c + {span_c} div 4").alias("c_lo"),
                    F.expr(f"min_c + {span_c} div 2").alias("c_hi"),
                    F.expr(f"min_d + {span_d} * 2 div 5").alias("d_lo"),
                    F.expr(f"min_d + {span_d} * 2 div 5 + 29").alias("d_hi"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    hit = (
        F.col("c_lo").isNull()
        | ((F.col("zmax_c") >= F.col("c_lo")) & (F.col("zmin_c") <= F.col("c_hi")))
    ) & (
        F.col("d_lo").isNull()
        | ((F.col("zmax_d") >= F.col("d_lo")) & (F.col("zmin_d") <= F.col("d_hi")))
    )
    return (
        zones.crossJoin(F.broadcast(preds))
        .withColumn("hit", hit.cast("long"))
        .groupBy("layout", "pred")
        .agg(
            F.count(F.lit(1)).alias("files_total"),
            F.sum("hit").alias("files_read"),
            F.sum(F.col("hit") * F.col("n_rows")).alias("rows_read"),
        )
        .withColumn(
            "skip_bp",
            F.expr("(files_total - files_read) * 10000 div files_total"),
        )
        .orderBy("layout", "pred")
    )


ORACLE["q97_zone_map_skip"] = f"""
    WITH base AS (
        SELECT o_orderkey AS k, o_custkey AS c,
               date_diff('day', DATE '{Q97_EPOCH}', o_orderdate::DATE)::BIGINT AS d
        FROM orders
    ), bounds AS (
        SELECT min(k) AS min_k, max(k) AS max_k,
               min(c) AS min_c, max(c) AS max_c,
               min(d) AS min_d, max(d) AS max_d
        FROM base
    ), rows_f AS (
        SELECT c, d,
               ({Q97_FILES} * (k - min_k)) // (max_k - min_k + 1) AS f_ingest,
               ({Q97_FILES} * (c - min_c)) // (max_c - min_c + 1) AS f_sorted,
               ({1 << ZORDER_BITS} * (c - min_c)) // (max_c - min_c + 1) AS cx,
               ({1 << ZORDER_BITS} * (d - min_d)) // (max_d - min_d + 1) AS dx
        FROM base CROSS JOIN bounds
    ), rows_z AS (
        SELECT c, d, f_ingest, f_sorted,
               list_sum([ (((cx >> i) & 1) << (2*i + 1))
                        + (((dx >> i) & 1) << (2*i))
                          for i in generate_series(0, {ZORDER_BITS - 1}) ])
                   // {1 << ZORDER_BUCKET_SHIFT} AS f_zorder
        FROM rows_f
    ), stacked AS (
        SELECT 'ingest' AS layout, f_ingest AS file_id, c, d FROM rows_z
        UNION ALL
        SELECT 'sorted_cust', f_sorted, c, d FROM rows_z
        UNION ALL
        SELECT 'zorder', f_zorder, c, d FROM rows_z
    ), zones AS (
        SELECT layout, file_id,
               min(c) AS zmin_c, max(c) AS zmax_c,
               min(d) AS zmin_d, max(d) AS zmax_d,
               count(*)::BIGINT AS n_rows
        FROM stacked GROUP BY 1, 2
    ), preds AS (
        SELECT 'p1_cust_point' AS pred,
               (min_c + max_c) // 2 AS c_lo, (min_c + max_c) // 2 AS c_hi,
               NULL::BIGINT AS d_lo, NULL::BIGINT AS d_hi
        FROM bounds
        UNION ALL
        SELECT 'p2_date_month', NULL, NULL,
               min_d + (max_d - min_d + 1) * 2 // 5,
               min_d + (max_d - min_d + 1) * 2 // 5 + 29
        FROM bounds
        UNION ALL
        SELECT 'p3_cust_range_date',
               min_c + (max_c - min_c + 1) // 4,
               min_c + (max_c - min_c + 1) // 2,
               min_d + (max_d - min_d + 1) * 2 // 5,
               min_d + (max_d - min_d + 1) * 2 // 5 + 29
        FROM bounds
    ), ev AS (
        SELECT layout, pred, n_rows,
               (CASE WHEN (c_lo IS NULL OR (zmax_c >= c_lo AND zmin_c <= c_hi))
                      AND (d_lo IS NULL OR (zmax_d >= d_lo AND zmin_d <= d_hi))
                     THEN 1 ELSE 0 END)::BIGINT AS hit
        FROM zones CROSS JOIN preds
    )
    SELECT layout, pred,
           count(*)::BIGINT AS files_total,
           sum(hit)::BIGINT AS files_read,
           sum(hit * n_rows)::BIGINT AS rows_read,
           ((count(*) - sum(hit)) * 10000 // count(*))::BIGINT AS skip_bp
    FROM ev GROUP BY 1, 2 ORDER BY 1, 2
"""
QUERIES["q97_zone_map_skip"] = q97_zone_map_skip


# ---------------------------------------------------------------------------
# q98: frequent triple mining (Apriori candidate pruning)
# ---------------------------------------------------------------------------

Q98_MIN_SUPPORT = 2
Q98_TOP = 100


def apriori_triples(items: DataFrame, min_support: int) -> DataFrame:
    """Frequent item-TRIPLE mining with Apriori pruning over baskets
    ``items(ok, pk)``: a triple can only be frequent if all three of
    its item-pairs are (support is anti-monotone), so candidates are
    generated FROM the frequent-pair list and counted candidate-first
    — the corpus never materializes within-basket triples.

    Why this is the 100 TB shape: per-basket triple expansion is
    Σ k_i·(k_i−1)·(k_i−2)/6 — two extra orders of magnitude over the
    pair expansion q82 already bounds — and almost all of it is
    support-1 noise. Apriori inverts the direction of work:

    1. L2 = pairs with support ≥ s (q82's bounded self-join + count);
    2. candidates = L2 ⋈ L2 on the shared first item (pa; pb < pc),
       pruned by requiring the THIRD sub-pair (pb, pc) ∈ L2 — a join
       among frequent-pair rows only, never touching baskets;
    3. counting walks FROM the candidate list into baskets: anchor on
       pa occurrences, then two (ok, pk) equi-joins probe pb and pc —
       cost is Σ_cand occurrences(pa), not the basket-triple blowup.
       The candidate table is tiny by construction (broadcast).

    One corpus distribution serves everything: callers hand ``items``
    pre-partitioned by basket key (``repartition("ok")``), and because
    HashPartitioning(ok) satisfies every downstream clustering here —
    the (ok, pk) dedupe, the pair self-join on ok, and both probe
    joins on (ok, pk) — the corpus crosses the wire ONCE; the
    broadcast anchor join preserves the partitioning, so the probe
    side never re-shuffles either.

    Output carries ``close_bp = n_tri·10⁴ div min-subpair-support``:
    of the baskets holding the triple's RAREST pair, how many hold
    all three — the association-strength completion rate, integer
    basis points so it is exact cross-engine.
    """
    pairs = (
        items.select(F.col("ok"), F.col("pk").alias("pa"))
        .join(items.select(F.col("ok"), F.col("pk").alias("pb")), "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # L2 is referenced three times by candidate generation; without a
    # cut, Catalyst inlines the WHOLE pair-count pipeline (corpus
    # self-join included) once per reference. localCheckpoint runs it
    # once and gives the candidate joins real (small) sizes to plan
    # with; support-filtered L2 is the canonical bounded Apriori
    # intermediate, so materializing it is safe at any corpus scale.
    l2 = pairs.filter(F.col("n") >= min_support).localCheckpoint(eager=False)
    cand = (
        l2.select(F.col("pa"), F.col("pb"), F.col("n").alias("n_ab"))
        .join(
            l2.select(
                F.col("pa"), F.col("pb").alias("pc"), F.col("n").alias("n_ac")
            ),
            "pa",
        )
        .filter(F.col("pb") < F.col("pc"))
        .join(
            l2.select(
                F.col("pa").alias("pb"),
                F.col("pb").alias("pc"),
                F.col("n").alias("n_bc"),
            ),
            ["pb", "pc"],
        )
        .select(
            "pa",
            "pb",
            "pc",
            F.least("n_ab", "n_ac", "n_bc").alias("n_weakest"),
        )
    )
    anchored = items.join(F.broadcast(cand), items["pk"] == cand["pa"]).select(
        "ok", "pa", "pb", "pc", "n_weakest"
    )
    probed = anchored.join(
        items.select("ok", F.col("pk").alias("pb")), ["ok", "pb"]
    ).join(items.select("ok", F.col("pk").alias("pc")), ["ok", "pc"])
    return (
        probed.groupBy("pa", "pb", "pc", "n_weakest")
        .agg(F.count(F.lit(1)).alias("n_tri"))
        .filter(F.col("n_tri") >= min_support)
        .select(
            "pa",
            "pb",
            "pc",
            "n_tri",
            F.expr("n_tri * 10000 div n_weakest").alias("close_bp"),
        )
    )


def q98_basket_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent triples over order baskets — q82's pair mining raised
    one itemset level with Apriori pruning (see ``apriori_triples``
    for the candidate-first counting shape). Top-K total-ordered by
    (support desc, triple)."""
    li = Tables(spark, sf_dir).lineitem
    items = (
        li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .repartition("ok")
        .dropDuplicates(["ok", "pk"])
    )
    return (
        apriori_triples(items, Q98_MIN_SUPPORT)
        .orderBy(F.desc("n_tri"), "pa", "pb", "pc")
        .limit(Q98_TOP)
    )


ORACLE["q98_basket_triples"] = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ), pairs AS (
        SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS n
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
    ), l2 AS (SELECT * FROM pairs WHERE n >= {Q98_MIN_SUPPORT}),
    cand AS (
        SELECT x.pa, x.pb, y.pb AS pc,
               least(x.n, y.n, z.n) AS n_weakest
        FROM l2 x
        JOIN l2 y ON x.pa = y.pa AND x.pb < y.pb
        JOIN l2 z ON z.pa = x.pb AND z.pb = y.pb
    ), tri AS (
        SELECT c.pa, c.pb, c.pc, c.n_weakest, count(*)::BIGINT AS n_tri
        FROM cand c
        JOIN items a ON a.pk = c.pa
        JOIN items b ON b.ok = a.ok AND b.pk = c.pb
        JOIN items d ON d.ok = a.ok AND d.pk = c.pc
        GROUP BY 1, 2, 3, 4
    )
    SELECT pa, pb, pc, n_tri,
           (n_tri * 10000 // n_weakest)::BIGINT AS close_bp
    FROM tri WHERE n_tri >= {Q98_MIN_SUPPORT}
    ORDER BY n_tri DESC, pa, pb, pc
    LIMIT {Q98_TOP}
"""
QUERIES["q98_basket_triples"] = q98_basket_triples


# ---------------------------------------------------------------------------
# q99: functional-dependency audit (single-scan data profiling)
# ---------------------------------------------------------------------------

# (name, determinant expr, dependent expr) over orders ⋈ customer ⋈ nation.
# A deliberate mix: key-based FDs that must hold, the dimensional FDs the
# snowflake schema promises, and plausible-but-false pairs a profiler must
# refute with evidence, not schema faith.
Q99_CANDIDATES = (
    ("custkey_to_name", "o_custkey", "c_name"),
    ("custkey_to_segment", "o_custkey", "c_mktsegment"),
    ("nationkey_to_nname", "c_nationkey", "n_name"),
    ("nname_to_regionkey", "n_name", "n_regionkey"),
    ("nationkey_to_segment", "c_nationkey", "c_mktsegment"),
    ("orderdate_to_priority", "o_orderdate", "o_orderpriority"),
    ("custkey_to_nationkey", "o_custkey", "c_nationkey"),
)


def q99_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate det→dep pair,
    does every determinant value map to exactly ONE dependent value —
    and if not, how broken is it (violating keys; excess distinct
    pairs beyond one-per-key)? The schema-inference / data-contract
    profiling primitive: key FDs prove join safety, dimensional FDs
    prove a denormalized column is safe to drop, refuted FDs catch
    silent upstream corruption (q74's constraint audit generalized
    from declared rules to discovered structure).

    Single-scan shape: ONE pass over orders⋈customer⋈nation evaluates
    every candidate — ``stack`` unpivots (fd, det, dep) typed-to-string
    triples, a distinct-then-count two-level aggregate collapses them,
    and the final per-fd rollup is |candidates| rows. The distinct on
    (fd, det, dep) is map-side combinable and bounded by candidate
    count × column cardinality, NOT candidate count × corpus rows —
    repeated pairs die in the partial aggregate before the shuffle.
    Strings only pass through count-distincts (never compared across
    engines), so casting is cross-engine safe by construction.

    Output: fd, n_keys (distinct determinants), viol_keys
    (determinants with ≥2 dependents), excess_pairs (Σ extra distinct
    dependents beyond one-per-key — the minimum row-repair count), and
    holds (0/1). All integers, exact.
    """
    t = Tables(spark, sf_dir)
    wide = t.orders.join(
        t.customer, t.orders["o_custkey"] == t.customer["c_custkey"]
    ).join(F.broadcast(t.nation), F.col("c_nationkey") == F.col("n_nationkey"))
    stack_args = ", ".join(
        f"'{name}', cast({det} as string), cast({dep} as string)"
        for name, det, dep in Q99_CANDIDATES
    )
    triples = wide.select(
        F.expr(
            f"stack({len(Q99_CANDIDATES)}, {stack_args}) as (fd, det, dep)"
        )
    ).distinct()
    per_key = triples.groupBy("fd", "det").agg(
        F.count(F.lit(1)).alias("n_dep")
    )
    return (
        per_key.groupBy("fd")
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum((F.col("n_dep") > 1).cast("long")).alias("viol_keys"),
            F.sum(F.col("n_dep") - 1).alias("excess_pairs"),
            F.max(F.col("n_dep")).alias("max_dep"),
        )
        .select(
            "fd",
            "n_keys",
            "viol_keys",
            "excess_pairs",
            (F.col("max_dep") == 1).cast("long").alias("holds"),
        )
        .orderBy("fd")
    )


ORACLE["q99_fd_audit"] = (
    """
    WITH wide AS (
        SELECT * FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ), triples AS (
"""
    + "\n        UNION\n".join(
        f"        SELECT '{name}' AS fd, {det}::VARCHAR AS det,"
        f" {dep}::VARCHAR AS dep FROM wide"
        for name, det, dep in Q99_CANDIDATES
    )
    + """
    ), per_key AS (
        SELECT fd, det, count(*)::BIGINT AS n_dep
        FROM triples GROUP BY 1, 2
    )
    SELECT fd, count(*)::BIGINT AS n_keys,
           sum(CASE WHEN n_dep > 1 THEN 1 ELSE 0 END)::BIGINT AS viol_keys,
           sum(n_dep - 1)::BIGINT AS excess_pairs,
           (CASE WHEN max(n_dep) = 1 THEN 1 ELSE 0 END)::BIGINT AS holds
    FROM per_key GROUP BY fd ORDER BY fd
"""
)
QUERIES["q99_fd_audit"] = q99_fd_audit


# ---------------------------------------------------------------------------
# q100: deterministic quota sampling (per-stratum cap)
# ---------------------------------------------------------------------------

Q100_QUOTA = 5  # max documents kept per (lang, source) stratum


def q100_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota sampling: keep at most K documents per
    (lang, source), selected by a deterministic portable hash order —
    the "cap every domain/language at K docs" rebalancing step that
    precedes most large-scale training-data mixes (t13 measures the
    mixture; this op enforces one).

    Hash-ordered selection (h64(doc_id), doc_id ascending) instead of
    rand(): the kept set is a pure function of the data, so it is
    identical across engines, retries, speculative re-executions, and
    partition counts (q60's auditability rule), and it is a uniform
    random sample within each stratum because h64 is
    content-independent of any document property.

    Scale: the ONLY corpus movement is one shuffle on the stratum key;
    the rank filter is a literal ``<= K`` on a row_number, which Spark
    plans as WindowGroupLimit — each map task pre-prunes to its local
    top-K per stratum BEFORE the exchange, so the shuffle carries
    O(strata × K) rows per task, not the corpus. No global sort: the
    final orderBy is the driver-facing presentation of an
    already-quota-sized result.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents.select("doc_id", "lang", "source")
    w = Window.partitionBy("lang", "source").orderBy(
        h64(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("smp_rank", F.row_number().over(w))
        .filter(F.col("smp_rank") <= Q100_QUOTA)
        .orderBy("lang", "source", "smp_rank")
    )


def _q100_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("doc_id::VARCHAR")
    return f"""
    SELECT doc_id, lang, source, smp_rank
    FROM (
        SELECT doc_id, lang, source,
               row_number() OVER (
                   PARTITION BY lang, source
                   ORDER BY ({h}) ASC, doc_id ASC
               )::BIGINT AS smp_rank
        FROM documents
    )
    WHERE smp_rank <= {Q100_QUOTA}
    ORDER BY lang, source, smp_rank
    """


ORACLE["q100_quota_sample"] = _q100_oracle()
QUERIES["q100_quota_sample"] = q100_quota_sample


# ---------------------------------------------------------------------------
# q101: salted join (hot-key skew mitigation, result-identical)
# ---------------------------------------------------------------------------

Q101_SALTS = 8


def q101_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per market segment through a SALTED fact⋈dim join: the
    fact side's join key is widened with a deterministic salt
    (h64(o_orderkey) mod S) and the dimension side is replicated S
    ways, so ONE hot customer key spreads over S reducers instead of
    one straggler task. The result is provably identical to the plain
    join — the oracle IS the unsalted SQL — because salting only
    re-partitions pair formation, never changes which pairs exist.

    When to reach for this instead of AQE's skew-join split: AQE
    handles skewed SORT-MERGE joins after a shuffle materializes, but
    (a) streaming joins and applyInPandas co-groups never get an AQE
    re-plan, (b) a skewed GROUPING key on top of the join (here the
    per-customer pair lists) still lands one key in one task, and
    (c) salting composes with bucketed layouts where AQE's split
    can't re-bucket. The salt is a pure row function (no rand()):
    retries and speculative tasks salt identically, so exactly-once
    accounting survives re-execution (q60's auditability rule).

    The merge hint pins the shuffle path the technique exists for —
    with broadcast the demo would be vacuous (a broadcast join has no
    reduce-side hot key). Money is floor-scaled to cents before the
    sum (q01's float rule) so the aggregate is integer-exact
    cross-engine.
    """
    from ..functions.hashing import h64

    t = Tables(spark, sf_dir)
    fact = t.orders.select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        (h64(F.col("o_orderkey")) % Q101_SALTS).cast("int").alias("salt"),
    )
    dim = (
        t.customer.select("c_custkey", "c_mktsegment")
        .withColumn(
            "salt", F.explode(F.array(*[F.lit(i) for i in range(Q101_SALTS)]))
        )
        .withColumn("salt", F.col("salt").cast("int"))
    )
    joined = fact.join(
        dim.hint("merge"),
        (fact["o_custkey"] == dim["c_custkey"]) & (fact["salt"] == dim["salt"]),
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE["q101_salted_join"] = """
    SELECT c_mktsegment,
           count(*)::BIGINT AS n_orders,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""
QUERIES["q101_salted_join"] = q101_salted_join


# ---------------------------------------------------------------------------
# q105: deterministic synchronous label propagation (community detection)
# ---------------------------------------------------------------------------

Q105_ROUNDS = 4
Q105_MIN_WEIGHT = 2  # trade pairs with >= 2 line items form the community graph


def _q105_pairs(t: Tables) -> DataFrame:
    """The weighted customer↔supplier trade-pair relation (q105/q123
    SHARE this — Spark-side twin of the `pairs` CTE both oracles build
    via _q105_label_cte, factored in the round-8 review so the two
    operators can never silently score different graphs).
    UN-checkpointed; shape pinned in
    test_plans::test_checkpointed_aggregates_keep_plan_shape."""
    return (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= Q105_MIN_WEIGHT)
        .select("c", "s")
    )


def _q105_edges(pairs: DataFrame) -> DataFrame:
    """Symmetrized LPA edge list + SELF-LOOP votes: on a bipartite
    graph the pure neighbour vote oscillates in lockstep (every
    customer adopts a supplier label and vice versa each round,
    collapsing to the two bipartition classes); a node voting for its
    own current label is the standard damping that lets genuine dense
    groups crystallize."""
    return (
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .unionAll(
            pairs.select(F.col("c").alias("src"), F.col("c").alias("dst")).distinct()
        )
        .unionAll(
            pairs.select(F.col("s").alias("src"), F.col("s").alias("dst")).distinct()
        )
    )


def q105_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by deterministic synchronous label
    propagation over the customer↔supplier trade graph (q61/q83's edge
    relation, trade pairs with ≥ 2 line items): labels init to node
    id, each of the 4 bounded rounds relabels every node with the most
    frequent label among its neighbours AND itself (the self-vote
    breaks the bipartite lockstep oscillation; ties → smallest), then communities are summarized as a size histogram —
    (community size, how many communities of that size, customer /
    supplier member mass). Completes the graph family's partitioning
    member (q61 ranks, q63 closure, q83/q92 traversal, d17 exact
    connectivity): LPA finds DENSE groups, not mere connectivity.

    graph.label_propagation: each round is one equi-join + two hash
    aggregates, no windows/sorts; state is the (node, label) table.
    Integer counts + lexicographic tie-break make the sync schedule
    fully deterministic, so the unrolled per-round SQL oracle matches
    value-for-value (the textbook random-order async LPA could not be
    oracle-checked at all).

    Reference parity: no graph surface in the reference (SURVEY §2.6
    gap table) — extension machinery.
    """
    from .graph import label_propagation

    t = Tables(spark, sf_dir)
    pairs = _q105_pairs(t)
    edges = _q105_edges(pairs)
    labels = label_propagation(edges, Q105_ROUNDS)
    comms = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum((F.col("node") % 2 == 0).cast("long")).alias("n_cust"),
        F.sum((F.col("node") % 2 == 1).cast("long")).alias("n_supp"),
    )
    return (
        comms.groupBy(F.col("sz").alias("community_size"))
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum("n_cust").alias("n_customers"),
            F.sum("n_supp").alias("n_suppliers"),
        )
        .orderBy("community_size")
    )


def _q105_label_cte() -> str:
    """The WITH fragment building q105's deterministic LPA labels
    (pairs / edges / lp0..lpN CTEs) — shared verbatim by q105's own
    oracle and q123's modularity oracle so both engines score the
    IDENTICAL partition."""
    head = f"""
    WITH pairs AS (
        SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2 HAVING count(*) >= {Q105_MIN_WEIGHT}
    ),
    edges AS (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL
        SELECT s AS src, c AS dst FROM pairs
        UNION ALL
        SELECT DISTINCT c, c FROM pairs
        UNION ALL
        SELECT DISTINCT s, s FROM pairs
    ),
    lp0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    body = ""
    for i in range(1, Q105_ROUNDS + 1):
        body += f""",
    lp{i} AS (
        SELECT node, label FROM (
            SELECT e.dst AS node, l.label, count(*) AS cnt,
                   row_number() OVER (
                       PARTITION BY e.dst
                       ORDER BY count(*) DESC, l.label
                   ) AS rn
            FROM edges e JOIN lp{i - 1} l ON l.node = e.src
            GROUP BY e.dst, l.label
        ) WHERE rn = 1
    )"""
    return head + body


def _q105_oracle() -> str:
    return _q105_label_cte() + f""",
    comms AS (
        SELECT label, count(*) AS sz,
               sum((node % 2 = 0)::INT) AS n_cust,
               sum((node % 2 = 1)::INT) AS n_supp
        FROM lp{Q105_ROUNDS}
        GROUP BY label
    )
    SELECT sz::BIGINT AS community_size,
           count(*)::BIGINT AS n_communities,
           sum(n_cust)::BIGINT AS n_customers,
           sum(n_supp)::BIGINT AS n_suppliers
    FROM comms
    GROUP BY sz
    ORDER BY community_size
    """


ORACLE["q105_label_prop"] = _q105_oracle()
QUERIES["q105_label_prop"] = q105_label_prop


def q123_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition QUALITY for q105's communities: Newman modularity
    Q = Σ_c [e_c/m − (d_c/2m)²] over the undirected trade-pair graph
    (VERDICT_r07 #8) — the scalar that says whether the label
    propagation found real structure (Q > 0) or noise. Completes the
    graph family's evaluate member: q105 partitions, q123 scores the
    partition.

    Exactness: every piece is an exact BIGINT — m (edge count),
    intra-community edge count, Σ_c d_c² (degree-mass squares; see
    tests/test_oracle_audit.py for the int64 magnitude rationale) —
    and the single float is ONE division of two exact int64s
    (num = 4·m·e_in − Σd_c², den = 4·m²), identically rounded on
    both engines.

    Scale: labels come from the same bounded-round LPA as q105
    (per-round equi-join + hash aggs, no windows); scoring is two
    label joins on the edge list + combinable aggregates — no
    pairwise work, no sort, no collect.
    """
    from .graph import label_propagation

    t = Tables(spark, sf_dir)
    # pairs feeds edges (4 refs) + the intra join + the degree table —
    # checkpoint the one corpus join+agg instead of re-planning it
    # seven times (round-8 review; un-checkpointed shape pinned in
    # test_checkpointed_aggregates_keep_plan_shape)
    pairs = _q105_pairs(t).localCheckpoint(eager=False)
    edges = _q105_edges(pairs)
    # the label table feeds three joins — materialize LPA once
    labels = label_propagation(edges, Q105_ROUNDS).localCheckpoint(eager=False)
    lc = labels.select(F.col("node").alias("c"), F.col("label").alias("lbl_c"))
    ls = labels.select(F.col("node").alias("s"), F.col("label").alias("lbl_s"))
    intra = (
        pairs.join(lc, "c")
        .join(ls, "s")
        .agg(
            F.count(F.lit(1)).alias("m_edges"),
            F.sum((F.col("lbl_c") == F.col("lbl_s")).cast("long")).alias(
                "intra_edges"
            ),
        )
    )
    deg = (
        pairs.select(F.col("c").alias("node"))
        .unionAll(pairs.select(F.col("s").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    dmass = (
        deg.join(labels, "node")
        .groupBy("label")
        .agg(F.sum("deg").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_communities"),
            F.sum(F.col("d") * F.col("d")).alias("degree_sq_sum"),
        )
    )
    return intra.crossJoin(dmass).select(
        "n_communities",
        "m_edges",
        "intra_edges",
        "degree_sq_sum",
        (
            (
                4 * F.col("m_edges") * F.col("intra_edges")
                - F.col("degree_sq_sum")
            ).cast("double")
            / (4 * F.col("m_edges") * F.col("m_edges")).cast("double")
        ).alias("modularity"),
    )


ORACLE["q123_modularity"] = _q105_label_cte() + f""",
    deg AS (
        SELECT node, count(*)::BIGINT AS deg
        FROM (SELECT c AS node FROM pairs UNION ALL SELECT s FROM pairs)
        GROUP BY node
    ),
    dmass AS (
        SELECT l.label, sum(d.deg)::BIGINT AS dm
        FROM deg d JOIN lp{Q105_ROUNDS} l ON l.node = d.node
        GROUP BY l.label
    ),
    dstat AS (
        SELECT count(*)::BIGINT AS n_communities,
               sum(dm * dm)::BIGINT AS degree_sq_sum
        FROM dmass
    ),
    istat AS (
        SELECT count(*)::BIGINT AS m_edges,
               sum((lc.label = ls.label)::INT)::BIGINT AS intra_edges
        FROM pairs p
        JOIN lp{Q105_ROUNDS} lc ON lc.node = p.c
        JOIN lp{Q105_ROUNDS} ls ON ls.node = p.s
    )
    SELECT n_communities, m_edges, intra_edges, degree_sq_sum,
           (4 * m_edges * intra_edges - degree_sq_sum)::DOUBLE
               / (4 * m_edges * m_edges)::DOUBLE AS modularity
    FROM istat CROSS JOIN dstat
    """
QUERIES["q123_modularity"] = q123_modularity


# ---------------------------------------------------------------------------
# q106: incremental aggregate maintenance (IVM) with group-local recompute
# ---------------------------------------------------------------------------

Q106_CUTOFF = "1996-01-01"   # base = orders before, delta inserts = after
Q106_DELETE_MOD = 7          # base rows with h64(orderkey) % 7 == 0 are deleted


def q106_ivm_maintain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a per-customer order aggregate:
    a pre-aggregated STATE (orders before the cutoff) is maintained
    under a delta batch of INSERTS (orders after the cutoff) and
    DELETES (a deterministic h64 slice of the base) — without
    re-scanning unaffected groups. The Materialize / Delta Live
    contract, as a batch operator:

    * count/sum are self-maintainable: state ⊕ delta combine by
      addition (full-outer join + coalesce);
    * max is insert-only maintainable: greatest(state, delta);
    * a DELETE breaks max (and generally any non-invertible agg), so
      delete-AFFECTED groups — and only those — recompute from their
      surviving rows (left-semi join on the affected-key set confines
      the rescan; at 100 TB that semi join partition-prunes when the
      base is clustered by group key).

    Output per customer: maintained n_orders / revenue_cents /
    max_cents + the recomputed flag, provably equal to a full
    recompute of (base − deletes + inserts) — which is exactly what
    the oracle computes, so the gate itself is the IVM correctness
    proof. Money in floor-scaled cents (q01's float rule).
    """
    from ..functions.hashing import h64

    o = Tables(spark, sf_dir).orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
    )
    base = o.filter(F.col("o_orderdate") < Q106_CUTOFF)
    inserts = o.filter(F.col("o_orderdate") >= Q106_CUTOFF)
    deletes = base.filter(h64(F.col("o_orderkey")) % Q106_DELETE_MOD == 0)

    def _agg(df):
        return df.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
            F.max("cents").alias("max_cents"),
        )

    state = _agg(base)
    delta = _agg(inserts)
    affected = deletes.select("o_custkey").distinct().localCheckpoint(eager=False)
    combined = (
        state.join(delta, "o_custkey", "full_outer")
        .join(affected, "o_custkey", "left_anti")
        .select(
            "o_custkey",
            (
                F.coalesce(state["n_orders"], F.lit(0))
                + F.coalesce(delta["n_orders"], F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(state["revenue_cents"], F.lit(0))
                + F.coalesce(delta["revenue_cents"], F.lit(0))
            ).alias("revenue_cents"),
            F.greatest(
                F.coalesce(state["max_cents"], F.lit(-1)),
                F.coalesce(delta["max_cents"], F.lit(-1)),
            ).alias("max_cents"),
            F.lit(0).alias("recomputed"),
        )
    )
    survivors = base.join(
        deletes.select("o_orderkey"), "o_orderkey", "left_anti"
    ).unionByName(inserts)
    recomputed = _agg(
        survivors.join(affected, "o_custkey", "left_semi")
    ).withColumn("recomputed", F.lit(1))
    return combined.unionByName(recomputed).orderBy("o_custkey")


def _q106_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("o_orderkey::VARCHAR")
    return f"""
    WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderdate,
               floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
        FROM orders
    ),
    deletes AS (
        SELECT o_orderkey, o_custkey FROM o
        WHERE o_orderdate < '{Q106_CUTOFF}' AND ({h}) % {Q106_DELETE_MOD} = 0
    ),
    final AS (
        SELECT * FROM o
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM deletes)
    )
    SELECT o_custkey,
           count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS revenue_cents,
           max(cents)::BIGINT AS max_cents,
           (o_custkey IN (SELECT o_custkey FROM deletes))::BIGINT AS recomputed
    FROM final
    GROUP BY o_custkey
    ORDER BY o_custkey
    """


ORACLE["q106_ivm_maintain"] = _q106_oracle()
QUERIES["q106_ivm_maintain"] = q106_ivm_maintain


# ---------------------------------------------------------------------------
# q107: single changepoint per series (binary segmentation, exact)
# ---------------------------------------------------------------------------


def q107_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint detection: for each market segment's monthly revenue
    series, the split month that minimizes total within-segment SSE —
    one exact binary-segmentation step (the primitive that, recursed,
    gives the classic multiple-changepoint detector; the single step is
    where all the machinery lives).

    Minimizing SSE(left)+SSE(right) == maximizing the explained-sum
    g(k) = S1²/n1 + S2²/n2 (total sum of squares is split-invariant),
    so the sweep needs only PREFIX SUMS of the monthly series — no
    per-split rescans: O(n) per series, not O(n²). All series values
    are integer cents; prefix sums are exact BIGINT running sums over
    the month-ordered frame; only the final g(k) arithmetic is double
    (fixed operand order → bit-identical cross-engine), reported as a
    SCALE-INVARIANT relative gain (ppm of S²/n — the raw cents² gain
    is quadratic in data volume and overflows BIGINT at sf0.1+) with
    integer left/right means.

    Plan shape at 100 TB: the heavy pass is the (segment, month)
    revenue aggregate — map-side combinable, shuffle bounded by
    |segments| × |months|. The sweep windows over that GRID (here
    5 × ~84 rows; grid-bounded by construction, the q84 rule), and the
    per-series argmax is a min_by hash aggregate, not a sort.
    """
    t = Tables(spark, sf_dir)
    monthly = (
        t.orders.join(
            F.broadcast(
                t.customer.select("c_custkey", "c_mktsegment")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .alias("rev")
        )
    )
    w = Window.partitionBy("seg").orderBy("month")
    pre = monthly.select(
        "seg",
        "month",
        F.row_number().over(w).alias("k"),
        F.sum("rev").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias("s1"),
        F.count(F.lit(1)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("n"),
        F.sum("rev").over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ).alias("s"),
    ).filter(F.col("k") < F.col("n"))
    s1d = F.col("s1").cast("double")
    s2d = (F.col("s") - F.col("s1")).cast("double")
    sd = F.col("s").cast("double")
    gain = (
        s1d * s1d / F.col("k")
        + s2d * s2d / (F.col("n") - F.col("k"))
        - sd * sd / F.col("n")
    )
    scored = pre.select(
        "seg",
        "month",
        "n",
        sd.alias("sd"),
        gain.alias("gain"),
        F.expr("s1 DIV k").alias("left_mean_cents"),
        F.expr("(s - s1) DIV (n - k)").alias("right_mean_cents"),
    )
    return (
        scored.groupBy("seg")
        .agg(
            F.expr("min_by(month, struct(-gain, month))").alias("cp_month"),
            F.first("n").alias("n_months"),
            # relative explained-sum in ppm of S²/n — SCALE-INVARIANT:
            # raw gain is cents² (quadratic in data volume) and
            # overflowed BIGINT at sf0.1 (DuckDB raises, Spark floor
            # wraps silently — the round-7 full-sf0.1 sweep caught it)
            F.expr(
                "floor(max_by(gain, struct(gain, month)) * 1000000.0 "
                "/ (first(sd) * first(sd) / first(n)) + 0.5)"
            ).cast("long").alias("gain_rel_ppm"),
            F.expr("min_by(left_mean_cents, struct(-gain, month))").alias(
                "left_mean_cents"
            ),
            F.expr("min_by(right_mean_cents, struct(-gain, month))").alias(
                "right_mean_cents"
            ),
        )
        .orderBy("seg")
    )


def _q107_oracle() -> str:
    return """
    WITH monthly AS (
        SELECT c_mktsegment AS seg,
               strftime(o_orderdate, '%Y-%m') AS month,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    pre AS (
        SELECT seg, month,
               row_number() OVER (PARTITION BY seg ORDER BY month) AS k,
               sum(rev) OVER (PARTITION BY seg ORDER BY month
                              ROWS UNBOUNDED PRECEDING) AS s1,
               count(*) OVER (PARTITION BY seg) AS n,
               sum(rev) OVER (PARTITION BY seg) AS s
        FROM monthly
        QUALIFY k < n
    ),
    scored AS (
        SELECT seg, month, n,
               s::DOUBLE AS sd,
               s1::DOUBLE * s1::DOUBLE / k
               + (s - s1)::DOUBLE * (s - s1)::DOUBLE / (n - k)
               - s::DOUBLE * s::DOUBLE / n AS gain,
               (s1 // k)::BIGINT AS left_mean_cents,
               ((s - s1) // (n - k))::BIGINT AS right_mean_cents
        FROM pre
    ),
    best AS (
        SELECT seg, month AS cp_month, n AS n_months,
               floor(gain * 1000000.0 / (sd * sd / n) + 0.5)::BIGINT
                   AS gain_rel_ppm,
               left_mean_cents, right_mean_cents,
               row_number() OVER (PARTITION BY seg
                                  ORDER BY gain DESC, month) AS rn
        FROM scored
    )
    SELECT seg, cp_month, n_months, gain_rel_ppm,
           left_mean_cents, right_mean_cents
    FROM best WHERE rn = 1
    ORDER BY seg
    """


ORACLE["q107_changepoint"] = _q107_oracle()
QUERIES["q107_changepoint"] = q107_changepoint

# ---------------------------------------------------------------------------
# q108: autocorrelation function of the monthly revenue series
# ---------------------------------------------------------------------------

Q108_MAX_LAG = 6


def q108_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation at lags 1..6 of each segment's monthly
    revenue series — the time-series diagnostic behind seasonality
    detection and forecast-model order selection (q69 flags anomalies,
    q80 forecasts; this measures the serial dependence both assume).

    Per (segment, lag) the statistic is the Pearson correlation of the
    pairs (x_t, x_{t-lag}) over the month-ordered series. One window
    pass emits all six lag columns (one sort per segment, reused by
    every lag); the pairs stack via a literal-array explode — never a
    per-lag rescan of the aggregate.

    Cross-engine float exactness uses the ordered-fold discipline
    (q87): the five sums (Σx, Σy, Σxy, Σx², Σy²) fold in month order
    via sorted-list aggregates — monthly cents cast to double per
    element, products formed per element, so both engines execute the
    identical IEEE sequence. The final correlation is one fixed-order
    expression reported in integer micro-units.

    Plan shape at 100 TB: the heavy pass is the (segment, month)
    revenue aggregate — map-side combinable, shuffle bounded by
    |segments| × |months| (the q84 grid rule). The window, explode,
    and folds all run on that grid (5 × ~84 rows here); the collected
    arrays are series-length-bounded by construction.
    """
    t = Tables(spark, sf_dir)
    monthly = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .alias("rev")
        )
    )
    w = Window.partitionBy("seg").orderBy("month")
    lagged = monthly.select(
        "seg",
        "month",
        F.col("rev").alias("x"),
        *[
            F.lag("rev", L).over(w).alias(f"lag{L}")
            for L in range(1, Q108_MAX_LAG + 1)
        ],
    )
    stacked = (
        lagged.select(
            "seg",
            "month",
            "x",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(L).alias("lag"), F.col(f"lag{L}").alias("y")
                        )
                        for L in range(1, Q108_MAX_LAG + 1)
                    ]
                )
            ).alias("p"),
        )
        .select(
            "seg", "month", "x", F.col("p.lag").alias("lag"), F.col("p.y").alias("y")
        )
        .filter(F.col("y").isNotNull())
    )
    cells = stacked.groupBy("seg", "lag").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "month",
                    F.col("x").cast("double").alias("xd"),
                    F.col("y").cast("double").alias("yd"),
                )
            )
        ).alias("arr"),
        F.count(F.lit(1)).alias("n_pairs"),
    )

    def _fold(term):
        return F.aggregate(F.col("arr"), F.lit(0.0), lambda acc, s: acc + term(s))

    sums = cells.select(
        "seg",
        "lag",
        "n_pairs",
        _fold(lambda s: s["xd"]).alias("sx"),
        _fold(lambda s: s["yd"]).alias("sy"),
        _fold(lambda s: s["xd"] * s["yd"]).alias("sxy"),
        _fold(lambda s: s["xd"] * s["xd"]).alias("sxx"),
        _fold(lambda s: s["yd"] * s["yd"]).alias("syy"),
    )
    nd = F.col("n_pairs").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        sums.filter(den > 0)
        .select(
            "seg",
            "lag",
            "n_pairs",
            F.floor(num / den * F.lit(1000000.0) + F.lit(0.5)).alias("acf_micro"),
        )
        .orderBy("seg", "lag")
    )


ORACLE["q108_acf"] = f"""
    WITH monthly AS (
        SELECT c_mktsegment AS seg,
               strftime(o_orderdate, '%Y-%m') AS month,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS rev
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
    ),
    idx AS (
        SELECT seg, month, rev,
               row_number() OVER (PARTITION BY seg ORDER BY month) AS k
        FROM monthly
    ),
    stacked AS (
        SELECT a.seg, a.month, lags.lag,
               a.rev::DOUBLE AS xd, b.rev::DOUBLE AS yd
        FROM idx a
        CROSS JOIN (SELECT unnest(range(1, {Q108_MAX_LAG + 1}))::INT AS lag) lags
        JOIN idx b ON b.seg = a.seg AND b.k = a.k - lags.lag
    ),
    cells AS (
        SELECT seg, lag, count(*)::BIGINT AS n_pairs,
               list_sum(list(xd ORDER BY month)) AS sx,
               list_sum(list(yd ORDER BY month)) AS sy,
               list_sum(list(xd * yd ORDER BY month)) AS sxy,
               list_sum(list(xd * xd ORDER BY month)) AS sxx,
               list_sum(list(yd * yd ORDER BY month)) AS syy
        FROM stacked GROUP BY 1, 2
    )
    SELECT seg, lag, n_pairs,
           floor((n_pairs * sxy - sx * sy)
                 / sqrt((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy))
                 * 1000000 + 0.5)::BIGINT AS acf_micro
    FROM cells
    WHERE sqrt((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)) > 0
    ORDER BY seg, lag
"""
QUERIES["q108_acf"] = q108_acf


# ---------------------------------------------------------------------------
# q109: Benford first-digit audit of order amounts
# ---------------------------------------------------------------------------

# log10(1 + 1/d) in exact literal ppm — the SAME constants appear in the
# oracle, so no engine's log10 is ever consulted (last-ulp libm
# differences would break hash parity). The nine values sum to
# exactly 1,000,000.
Q109_BENFORD_PPM = {
    1: 301030,
    2: 176091,
    3: 124939,
    4: 96910,
    5: 79181,
    6: 66947,
    7: 57992,
    8: 51153,
    9: 45757,
}


def q109_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of o_totalprice — the
    fraud/synthetic-data screen: natural multi-scale amounts follow
    P(d) = log10(1+1/d); fabricated or truncated feeds don't. Reports
    observed vs expected frequency per leading digit in exact ppm.

    All arithmetic is integer: counts, literal Benford ppm constants,
    and floor-division shares — nothing engine-specific can drift. The
    digit spine is completed 1..9 (q87's empty-cell rule: a digit with
    zero observations must still appear, deviation −benford_ppm).

    Plan shape at 100 TB: one map-side-combinable count by leading
    digit (9 groups), one scalar count, one broadcast-sized spine
    join; no sort, no window anywhere.
    """
    t = Tables(spark, sf_dir)
    v = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    # abs() before the string slice: a negative amount's first char is
    # '-', which ANSI-aborts the int cast — a ledger with refunds must
    # not kill the audit (digit 0 falls off the 1..9 spine join, same
    # as the oracle)
    obs = (
        t.orders.select(
            F.substring(F.abs(v).cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    n_tot = t.orders.agg(F.count(F.lit(1)).alias("n"))
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    bmap = F.create_map(
        *[F.lit(x) for kv in Q109_BENFORD_PPM.items() for x in kv]
    )
    joined = (
        spine.join(obs, "digit", "left")
        .select(
            "digit",
            F.coalesce(F.col("obs"), F.lit(0)).cast("long").alias("obs"),
            F.element_at(bmap, F.col("digit")).cast("long").alias("benford_ppm"),
        )
        .crossJoin(F.broadcast(n_tot))
    )
    # nullif: an empty ledger has n=0 and the shares are undefined —
    # NULL, not an ANSI divide-by-zero job abort (degenerate-mode fuzz
    # catch, round 10); the oracle mirrors nullif
    return joined.select(
        "digit",
        "obs",
        F.expr("obs * 1000000 div nullif(n, 0)").alias("obs_ppm"),
        "benford_ppm",
        F.expr("obs * 1000000 div nullif(n, 0) - benford_ppm").alias("dev_ppm"),
    ).orderBy("digit")


ORACLE["q109_benford"] = f"""
    WITH digits AS (
        SELECT substr(abs(floor(o_totalprice * 100 + 0.5)::BIGINT)::VARCHAR, 1, 1)::INT
               AS digit
        FROM orders
    ),
    obs AS (SELECT digit, count(*)::BIGINT AS obs FROM digits GROUP BY 1),
    bf AS (
        SELECT * FROM (VALUES {", ".join(f"({d}, {p})" for d, p in Q109_BENFORD_PPM.items())})
               t(digit, benford_ppm)
    ),
    j AS (
        SELECT bf.digit::INT AS digit, coalesce(obs.obs, 0)::BIGINT AS obs,
               bf.benford_ppm::BIGINT AS benford_ppm
        FROM bf LEFT JOIN obs ON bf.digit = obs.digit
    ),
    tot AS (SELECT j.*, n FROM j
            CROSS JOIN (SELECT count(*)::BIGINT AS n FROM orders) nt)
    SELECT digit, obs,
           (obs * 1000000 // nullif(n, 0))::BIGINT AS obs_ppm, benford_ppm,
           (obs * 1000000 // nullif(n, 0) - benford_ppm)::BIGINT AS dev_ppm
    FROM tot ORDER BY digit
"""
QUERIES["q109_benford"] = q109_benford


# ---------------------------------------------------------------------------
# q110: interval union — merged coverage of overlapping shipment windows
# ---------------------------------------------------------------------------


def q110_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage per supplier: each line's OPEN-ORDER
    window [o_orderdate, l_shipdate] merged into maximal
    non-overlapping islands — covered calendar days (days the supplier
    had at least one order line awaiting shipment), island count, and
    double-counted overlap days. The gaps-and-islands primitive behind
    utilization, SLA-coverage, and on-air analytics (q50 BUILDS SCD2
    intervals; this MERGES intervals).

    Island detection is the running-max-end sweep: an interval starts
    a new island iff its start exceeds the max end of every earlier
    interval (window ordered by a total order; the running max makes
    the island id independent of tie order). Two window expressions +
    the per-island aggregate all ride ONE partitioning (supplier) and
    one sort — Spark plans a single Exchange + Sort reused by both
    window steps and the partial aggregate.

    Plan shape at 100 TB: the orders⋈lineitem equi-join is the
    standard co-keyed fact join (bucketable on orderkey); the windows
    are per-supplier — partition count = |suppliers| (TPC-H
    lineitem/supplier is a constant ~600 rows at every SF, so tasks
    stay balanced as the corpus grows; no global window).
    """
    t = Tables(spark, sf_dir)
    li = (
        t.lineitem.select("l_orderkey", "l_suppkey", "l_linenumber", "l_shipdate")
        .join(
            t.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_suppkey", "o_orderdate", "l_shipdate", "l_orderkey", "l_linenumber")
    )
    w = Window.partitionBy("l_suppkey").orderBy(
        "o_orderdate", "l_shipdate", "l_orderkey", "l_linenumber"
    )
    prev_end = F.max("l_shipdate").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = li.select(
        "l_suppkey",
        "o_orderdate",
        "l_shipdate",
        "l_orderkey",
        "l_linenumber",
        F.when(
            prev_end.isNull() | (F.col("o_orderdate") > prev_end), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    islands = marked.select(
        "l_suppkey",
        "o_orderdate",
        "l_shipdate",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    per_island = islands.groupBy("l_suppkey", "island").agg(
        (F.datediff(F.max("l_shipdate"), F.min("o_orderdate")) + 1)
        .cast("long")
        .alias("covered"),
        F.sum(F.datediff("l_shipdate", "o_orderdate") + 1).alias("span_days"),
    )
    return (
        per_island.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("covered").alias("covered_days"),
            F.sum("span_days").alias("span_days"),
            (F.sum("span_days") - F.sum("covered")).alias("overlap_days"),
        )
        .orderBy("l_suppkey")
    )


ORACLE["q110_interval_union"] = """
    WITH spans AS (
        SELECT l_suppkey, o_orderdate, l_shipdate, l_orderkey, l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    marked AS (
        SELECT l_suppkey, o_orderdate, l_shipdate, l_orderkey, l_linenumber,
               CASE WHEN max(l_shipdate) OVER w_prev IS NULL
                      OR o_orderdate > max(l_shipdate) OVER w_prev
                    THEN 1 ELSE 0 END AS new_island
        FROM spans
        WINDOW w_prev AS (
            PARTITION BY l_suppkey
            ORDER BY o_orderdate, l_shipdate, l_orderkey, l_linenumber
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    islands AS (
        SELECT l_suppkey, o_orderdate, l_shipdate,
               sum(new_island) OVER (
                   PARTITION BY l_suppkey
                   ORDER BY o_orderdate, l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS island
        FROM marked
    ),
    per_island AS (
        SELECT l_suppkey, island,
               (date_diff('day', min(o_orderdate), max(l_shipdate)) + 1)::BIGINT
                   AS covered,
               sum(date_diff('day', o_orderdate, l_shipdate) + 1)::BIGINT
                   AS span_days
        FROM islands GROUP BY 1, 2
    )
    SELECT l_suppkey,
           count(*)::BIGINT AS n_islands,
           sum(covered)::BIGINT AS covered_days,
           sum(span_days)::BIGINT AS span_days,
           (sum(span_days) - sum(covered))::BIGINT AS overlap_days
    FROM per_island GROUP BY 1 ORDER BY l_suppkey
"""
QUERIES["q110_interval_union"] = q110_interval_union


# ---------------------------------------------------------------------------
# q111: association rules — directional confidence/lift from basket pairs
# ---------------------------------------------------------------------------

Q111_MIN_SUPPORT = 3
Q111_TOP = 100


def q111_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule extraction over order baskets: every directed
    rule a→b with support ≥ 3, scored by confidence (P(b|a), exact
    ppm), the baseline rate P(b) it should beat, and lift in basis
    points — the step that turns q82's co-occurrence counts into
    actionable "customers who bought a also bought b" rules.

    Candidate generation is q82's basket self-join (Σ k·(k−1)/2 pairs,
    never an item×item matrix); each unordered pair then emits BOTH
    directions via a 2-element explode (map-side, no second join).
    Item supports and the order count join back BROADCAST. All scores
    are integer floor-divisions of counts — exact cross-engine.

    Plan shape at 100 TB: identical to q82 (the one shuffle is the
    pair aggregate, bounded by basket sizes) plus a broadcast;
    the min-support filter prunes before the top-k TakeOrdered.
    """
    li = Tables(spark, sf_dir).lineitem
    items = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = items.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    supp = items.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_item")
    )
    a = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = items.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= Q111_MIN_SUPPORT)
    )
    rules = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("pa").alias("ante"), F.col("pb").alias("cons")),
                F.struct(F.col("pb").alias("ante"), F.col("pa").alias("cons")),
            )
        ).alias("r"),
        "n_ab",
    ).select(F.col("r.ante").alias("ante"), F.col("r.cons").alias("cons"), "n_ab")
    return (
        rules.join(
            F.broadcast(supp.withColumnsRenamed({"pk": "ante", "n_item": "n_a"})),
            "ante",
        )
        .join(
            F.broadcast(supp.withColumnsRenamed({"pk": "cons", "n_item": "n_b"})),
            "cons",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "ante",
            "cons",
            "n_ab",
            F.expr("n_ab * 1000000 div n_a").alias("conf_ppm"),
            F.expr("n_b * 1000000 div n_orders").alias("base_ppm"),
            F.expr("n_ab * n_orders * 10000 div (n_a * n_b)").alias("lift_bp"),
        )
        .orderBy(F.desc("conf_ppm"), F.desc("n_ab"), "ante", "cons")
        .limit(Q111_TOP)
    )


ORACLE["q111_assoc_rules"] = f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n_orders AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM items),
    supp AS (SELECT pk, count(*)::BIGINT AS n_item FROM items GROUP BY pk),
    pairs AS (
        SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS n_ab
        FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING count(*) >= {Q111_MIN_SUPPORT}
    ),
    rules AS (
        SELECT pa AS ante, pb AS cons, n_ab FROM pairs
        UNION ALL
        SELECT pb AS ante, pa AS cons, n_ab FROM pairs
    )
    SELECT ante, cons, n_ab,
           (n_ab * 1000000 // sa.n_item)::BIGINT AS conf_ppm,
           (sb.n_item * 1000000 // n_orders.n_orders)::BIGINT AS base_ppm,
           (n_ab * n_orders.n_orders * 10000 // (sa.n_item * sb.n_item))::BIGINT
               AS lift_bp
    FROM rules
    JOIN supp sa ON rules.ante = sa.pk
    JOIN supp sb ON rules.cons = sb.pk
    CROSS JOIN n_orders
    ORDER BY conf_ppm DESC, n_ab DESC, ante, cons
    LIMIT {Q111_TOP}
"""
QUERIES["q111_assoc_rules"] = q111_assoc_rules


# ---------------------------------------------------------------------------
# q112: decile lift — value-decile concentration of customer revenue
# ---------------------------------------------------------------------------


def q112_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table: customers bucketed by total spend into
    value deciles (boundaries = exact order statistics of the spend
    distribution), with each decile's customer count, revenue, and
    exact ppm revenue share + cumulative share — the concentration
    curve behind "top decile drives X% of revenue" and campaign
    targeting.

    Boundaries are found by the shared radix-drill primitive
    (analytics.drill, the q84/q68 state machine): the k-th boundary is
    the ⌈k·n/10⌉-th smallest spend — ~3 rounds of fully-parallel
    range counting, NEVER a global sort or corpus-sized unpartitioned
    window (ntile over all customers is exactly the q84 straggler
    class this engine bans). Assignment is then a 9-literal
    comparison sum — map-side, no join. Boundary ties collapse
    deciles identically in both engines (documented value-decile
    semantics: a spend equal to a boundary belongs to the lower
    decile).

    Plan shape at 100 TB: one map-side-combinable per-customer
    aggregate, one scalar total, ~3 drill counting jobs (each
    shuffles ≤ FANOUT·9 rows), one 10-group aggregate. The only
    window runs over the ≤10-row decile frame.
    """
    from .drill import weighted_value_at

    t = Tables(spark, sf_dir)
    spend = (
        t.orders.groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
            .alias("spend")
        )
        .localCheckpoint(eager=False)  # reused by the drill's counting
        # rounds AND the bucketed aggregate — without it each drill
        # round re-runs the orders scan + hash agg
    )
    tot = spend.agg(
        F.count(F.lit(1)).alias("n"), F.sum("spend").alias("rev")
    ).collect()[0]
    n, rev = tot["n"], tot["rev"]
    if not n:
        # degenerate: no customers — zero rows, same as the oracle
        # (degenerate-mode fuzz catch, round 10: the drill raised on a
        # group with no rows and `div None` wouldn't even parse)
        return local_df(
            spark,
            [],
            "decile int, n_customers long, rev_cents long, "
            "share_ppm long, cum_share_ppm long",
        )
    sel = weighted_value_at(
        spend.withColumn("g1", F.lit(1)).withColumn(
            "one", F.lit(1).cast("long")
        ),
        "g1",
        "spend",
        "one",
        {1: {k: (k * n + 9) // 10 for k in range(1, 10)}},
    )
    bounds = [sel[(1, k)][0] for k in range(1, 10)]
    decile = F.lit(1)
    for b in bounds:
        decile = decile + (F.col("spend") > F.lit(b)).cast("int")
    agg = (
        spend.select(decile.alias("decile"), "spend")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("spend").alias("rev_cents"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        agg.select(
            "decile",
            "n_customers",
            "rev_cents",
            F.expr(f"rev_cents * 1000000 div {rev}").alias("share_ppm"),
            F.sum("rev_cents").over(w).alias("cum_cents"),
        )
        .select(
            "decile",
            "n_customers",
            "rev_cents",
            "share_ppm",
            F.expr(f"cum_cents * 1000000 div {rev}").alias("cum_share_ppm"),
        )
        .orderBy("decile")
    )


ORACLE["q112_decile_lift"] = """
    WITH spend AS (
        SELECT o_custkey,
               sum(floor(o_totalprice * 100 + 0.5)::BIGINT) AS spend
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT count(*)::BIGINT AS n, sum(spend)::BIGINT AS rev FROM spend),
    ranked AS (
        SELECT spend, row_number() OVER (ORDER BY spend) AS rn FROM spend
    ),
    bounds AS (
        SELECT k, spend AS b
        FROM (SELECT unnest(range(1, 10))::BIGINT AS k) ks
        CROSS JOIN tot
        JOIN ranked ON rn = (k * n + 9) // 10
    ),
    bucketed AS (
        SELECT s.o_custkey, s.spend,
               1 + sum(CASE WHEN s.spend > b.b THEN 1 ELSE 0 END)::INT
                   AS decile
        FROM spend s CROSS JOIN bounds b
        GROUP BY 1, 2
    ),
    agg AS (
        SELECT decile, count(*)::BIGINT AS n_customers,
               sum(spend)::BIGINT AS rev_cents
        FROM bucketed GROUP BY 1
    )
    SELECT decile, n_customers, rev_cents,
           (rev_cents * 1000000 // rev)::BIGINT AS share_ppm,
           (sum(rev_cents) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
            * 1000000 // rev)::BIGINT AS cum_share_ppm
    FROM agg CROSS JOIN tot ORDER BY decile
"""
QUERIES["q112_decile_lift"] = q112_decile_lift


# ---------------------------------------------------------------------------
# q113: mix-shift decomposition — period-over-period revenue bridge
# ---------------------------------------------------------------------------

Q113_Y1, Q113_Y2 = 1996, 1997


def q113_mix_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-bridge decomposition between two years, per market
    segment: Δrevenue splits into a VOLUME effect (order-count change
    at the old average order value), a RATE effect (average-value
    change at the new count), and the exact integer residual that
    closes the identity — the "why did revenue move" analysis behind
    every period-over-period dashboard.

    Exactness: averages are positive integer floor-divisions
    (rev DIV q, cents); effects are pure integer PRODUCTS of those
    averages with count deltas — no negative-operand division anywhere
    (Spark's ``div`` truncates toward zero while DuckDB's ``//``
    floors, so a negative division would silently diverge between
    engines; products are exact in both). The residual is defined as
    Δ − volume − rate, so the bridge sums exactly by construction and
    the residual size reports the floor-rounding granularity.

    Plan shape at 100 TB: one map-side-combinable (segment, year)
    aggregate over the date-filtered scan (predicate pushed to
    parquet row groups), pivoted by a 2-literal conditional — no
    join, no window, 5-row output.
    """
    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    yr = F.year("o_orderdate")
    per = (
        t.orders.join(
            F.broadcast(t.customer.select("c_custkey", "c_mktsegment")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(yr.isin(Q113_Y1, Q113_Y2))
        .groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(
            F.sum(F.when(yr == Q113_Y1, 1).otherwise(0)).alias("q1"),
            F.sum(F.when(yr == Q113_Y1, cents).otherwise(0)).alias("rev1"),
            F.sum(F.when(yr == Q113_Y2, 1).otherwise(0)).alias("q2"),
            F.sum(F.when(yr == Q113_Y2, cents).otherwise(0)).alias("rev2"),
        )
    )
    return (
        per.filter((F.col("q1") > 0) & (F.col("q2") > 0))
        .select(
            "seg",
            "q1",
            "q2",
            "rev1",
            "rev2",
            F.expr("(q2 - q1) * (rev1 div q1)").alias("volume_effect"),
            F.expr("q2 * (rev2 div q2 - rev1 div q1)").alias("rate_effect"),
            F.expr(
                "rev2 - rev1 - (q2 - q1) * (rev1 div q1)"
                " - q2 * (rev2 div q2 - rev1 div q1)"
            ).alias("residual_cents"),
        )
        .orderBy("seg")
    )


ORACLE["q113_mix_shift"] = f"""
    WITH per AS (
        SELECT c_mktsegment AS seg,
               sum(CASE WHEN year(o_orderdate) = {Q113_Y1} THEN 1 ELSE 0 END)::BIGINT AS q1,
               sum(CASE WHEN year(o_orderdate) = {Q113_Y1}
                        THEN floor(o_totalprice * 100 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS rev1,
               sum(CASE WHEN year(o_orderdate) = {Q113_Y2} THEN 1 ELSE 0 END)::BIGINT AS q2,
               sum(CASE WHEN year(o_orderdate) = {Q113_Y2}
                        THEN floor(o_totalprice * 100 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS rev2
        FROM orders JOIN customer ON o_custkey = c_custkey
        WHERE year(o_orderdate) IN ({Q113_Y1}, {Q113_Y2})
        GROUP BY 1
    )
    SELECT seg, q1, q2, rev1, rev2,
           ((q2 - q1) * (rev1 // q1))::BIGINT AS volume_effect,
           (q2 * (rev2 // q2 - rev1 // q1))::BIGINT AS rate_effect,
           (rev2 - rev1 - (q2 - q1) * (rev1 // q1)
            - q2 * (rev2 // q2 - rev1 // q1))::BIGINT AS residual_cents
    FROM per
    WHERE q1 > 0 AND q2 > 0
    ORDER BY seg
"""
QUERIES["q113_mix_shift"] = q113_mix_shift


# ---------------------------------------------------------------------------
# q114: Poisson-bootstrap confidence interval for the mean order value
# ---------------------------------------------------------------------------

Q114_B = 64  # bootstrap replicates
# Poisson(1) CDF thresholds scaled to ppm — LITERAL in both engines
# (no engine exp() consulted): P(X<=k) for k = 0..7; a uniform draw
# u ∈ [0, 1e6) maps to the smallest k with u < threshold, else 8.
Q114_POISSON_CDF_PPM = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990]


def q114_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for the mean order
    value — the uncertainty-quantification primitive a metrics
    pipeline attaches to every point estimate. The classic resample
    (n draws WITH replacement, B times) is undistributable (each
    replicate needs global coordination); the Poisson bootstrap
    (Efron's approximation: each row enters each replicate
    Poisson(1)-many times) is embarrassingly parallel and is THE
    at-scale bootstrap.

    Determinism: each row draws ONE portable 60-bit hash (h64 of the
    order key, computed JVM-side); replicate b's uniform is an
    overflow-safe affine rehash (literal coefficients) mapped through
    LITERAL Poisson CDF thresholds in parts-per-billion. All
    arithmetic is exact int64 in both engines, so replicate means are
    exact integer floor-divisions and the CI is an exact order
    statistic.

    Plan shape — NO ROW EXPANSION, Arrow-vectorized partials: v1
    exploded orders × B (17 s at sf0.1, 11 s of it the Generate); v2
    kept all B replicates as columns of one JVM aggregate, but a
    2·B+2-wide aggregate exceeds codegen's field cap AND the 64KB
    generated-method limit, so it ran interpreted (4.5 s). v3 (this)
    computes per-partition partial sums in numpy over Arrow batches —
    the B×rows weight matrix is one vectorized affine + searchsorted
    per batch — and ships ONE partial row per partition; the driver-
    side residue is a B-row aggregate (0.7 s at sf0.1, 24× v1). The
    weight kernel is exact int64 (products ≤ 2.6e14 « 2^63), so the
    Python path changes nothing at the value gate. B is the knob
    (50-200 stabilizes a 95% CI).
    """
    import numpy as np

    from ..functions.hashing import AFFINE_MOD, REDUCE_MOD, h64

    t = Tables(spark, sf_dir)
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    base = t.orders.select(
        (h64(F.col("o_orderkey").cast("string")) % REDUCE_MOD).alias("hr"),
        cents.alias("v"),
    )
    aff_a = np.array(
        [Q114_AFF_A0 + Q114_AFF_DA * b for b in range(Q114_B)], dtype=np.int64
    )
    aff_b = np.array(
        [Q114_AFF_B0 + Q114_AFF_DB * b for b in range(Q114_B)], dtype=np.int64
    )
    thr = np.array(
        [ppm * 1000 for ppm in Q114_POISSON_CDF_PPM], dtype=np.int64
    )

    def _partials(it):
        import pandas as pd

        wv = np.zeros(Q114_B, dtype=np.int64)
        ww = np.zeros(Q114_B, dtype=np.int64)
        sv = 0
        n = 0
        for pdf in it:
            hr = pdf["hr"].to_numpy(np.int64)
            v = pdf["v"].to_numpy(np.int64)
            u = (hr[:, None] * aff_a[None, :] + aff_b[None, :]) % AFFINE_MOD
            # w = #{k : u >= thr_k} — "first k with u < thr_k else K"
            # over the increasing CDF, as one vectorized searchsorted
            w = np.searchsorted(thr, u, side="right")
            wv += (w * v[:, None]).sum(axis=0)
            ww += w.sum(axis=0)
            sv += int(v.sum())
            n += len(v)
        yield pd.DataFrame(
            {"wv": [wv.tolist()], "ww": [ww.tolist()], "sv": [sv], "n": [n]}
        )

    partials = base.mapInPandas(
        _partials, schema="wv array<long>, ww array<long>, sv long, n long"
    )
    # ww > 0 filter + nullif + try_element_at: on a degenerate input
    # (empty/1-row orders) a replicate can draw zero total weight and
    # the partials row still materializes with n=0 — the bare div was
    # an ANSI divide-by-zero job abort (degenerate-mode fuzz catch,
    # round 10). Zero-weight replicates DROP on both engines (oracle:
    # HAVING sum(w) > 0), n_reps counts surviving replicates, and the
    # CI ranks degrade to NULL when fewer than hi_rank survive.
    reps = (
        partials.select(F.posexplode(F.arrays_zip("wv", "ww")).alias("b", "z"))
        .groupBy("b")
        .agg(F.sum("z.wv").alias("wv"), F.sum("z.ww").alias("ww"))
        .filter(F.col("ww") > 0)
        .select(F.expr("wv * 100 div ww").alias("mean_c100"))
    )
    pt = partials.agg(F.sum("sv").alias("sv"), F.sum("n").alias("n"))
    means = reps.agg(F.array_sort(F.collect_list("mean_c100")).alias("ms"))
    lo_rank = (25 * Q114_B + 999) // 1000   # ceil(0.025·B) = 2
    hi_rank = (975 * Q114_B + 999) // 1000  # ceil(0.975·B) = 63
    return pt.crossJoin(F.broadcast(means)).select(
        "n",
        F.size("ms").cast("long").alias("n_reps"),
        F.expr("sv * 100 div nullif(n, 0)").alias("point_c100"),
        F.try_element_at("ms", F.lit(lo_rank)).alias("ci_lo_c100"),
        F.try_element_at("ms", F.lit(hi_rank)).alias("ci_hi_c100"),
    )


# per-replicate affine coefficients (a_b = A0 + DA·b, b_b = B0 + DB·b):
# with hr < REDUCE_MOD ≈ 2^20 and a_63 ≈ 2.5e8 the product stays ≈
# 2.6e14 « 2^63 in both engines (DuckDB raises on BIGINT overflow)
Q114_AFF_A0, Q114_AFF_DA = 1000003, 4000037
Q114_AFF_B0, Q114_AFF_DB = 104729, 7919


def _q114_oracle() -> str:
    from ..functions.hashing import AFFINE_MOD, REDUCE_MOD, h64_sql

    # the oracle keeps the row-expansion form (values are identical;
    # only the ENGINE needs the explode-free plan)
    u = (
        f"(({h64_sql('o_orderkey::VARCHAR')} % {REDUCE_MOD})"
        f" * ({Q114_AFF_A0} + {Q114_AFF_DA} * b)"
        f" + ({Q114_AFF_B0} + {Q114_AFF_DB} * b)) % {AFFINE_MOD}"
    )
    w = str(len(Q114_POISSON_CDF_PPM))
    for k in range(len(Q114_POISSON_CDF_PPM) - 1, -1, -1):
        w = f"CASE WHEN u < {Q114_POISSON_CDF_PPM[k] * 1000} THEN {k} ELSE {w} END"
    lo_rank = (25 * Q114_B + 999) // 1000
    hi_rank = (975 * Q114_B + 999) // 1000
    return f"""
    WITH expanded AS (
        SELECT b, ({u}) AS u, floor(o_totalprice * 100 + 0.5)::BIGINT AS v
        FROM orders CROSS JOIN (SELECT unnest(range(0, {Q114_B}))::BIGINT AS b) bs
    ),
    weighted AS (SELECT b, ({w})::BIGINT AS w, v FROM expanded),
    reps AS (
        SELECT b, (sum(w * v) * 100 // sum(w))::BIGINT AS mean_c100
        FROM weighted GROUP BY b
        HAVING sum(w) > 0
    ),
    dist AS (
        SELECT count(*)::BIGINT AS n_reps,
               (list_sort(list(mean_c100)))[{lo_rank}] AS ci_lo_c100,
               (list_sort(list(mean_c100)))[{hi_rank}] AS ci_hi_c100
        FROM reps
    ),
    pt AS (
        SELECT count(*)::BIGINT AS n,
               (sum(floor(o_totalprice * 100 + 0.5)::BIGINT) * 100
                // nullif(count(*), 0))::BIGINT AS point_c100
        FROM orders
    )
    SELECT n, n_reps, point_c100, ci_lo_c100, ci_hi_c100
    FROM pt CROSS JOIN dist
"""


ORACLE["q114_bootstrap_ci"] = _q114_oracle()
QUERIES["q114_bootstrap_ci"] = q114_bootstrap_ci


# ---------------------------------------------------------------------------
# q115: Theil-Sen robust trend over the monthly revenue series
# ---------------------------------------------------------------------------


def q115_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimate: the median of all pairwise
    slopes of the monthly revenue series — the outlier-resistant
    complement to q43's least-squares fit (one corrupted month moves
    OLS arbitrarily; Theil-Sen tolerates ~29% contamination).

    Exactness without rational arithmetic: each pair's slope is the
    exact fraction (x_j−x_i)/(t_j−t_i); pairs are ORDERED by the
    double ratio — both engines evaluate the identical division on
    identical BIGINT inputs, so the order matches bit-for-bit — with
    (num, den) as the deterministic tiebreak, and the LOWER MEDIAN
    element is reported as its exact integer (num, den) pair plus the
    rounded ratio. The intercept is the lower median of the exact
    integers x_i·den − num·t_i (common denominator = the median
    slope's den), so its selection is pure-integer ordering. No
    floor-division of signed values anywhere (Spark DIV truncates
    toward zero, DuckDB // floors — signed quotients are the one
    integer op the two engines disagree on, so the gate avoids it).

    Scale: the corpus pass is the monthly aggregate (map-side
    combinable, shared with q90 via _q90_monthly); the pairwise join
    and both median selections run over the CALENDAR-BOUNDED series
    (~80 months → ~3.2k pairs, SF-independent), which is why the
    unpartitioned rank frames are safe at any data volume. Series
    lives behind an eager localCheckpoint (consumed by three
    branches); the aggregate's plan shape is pinned via _q90_monthly
    in test_plans.
    """
    t = Tables(spark, sf_dir)
    monthly = (
        _q90_monthly(t)
        .select(
            (F.year("month") * 12 + F.month("month")).alias("ti"),
            F.col("x"),
        )
        .localCheckpoint(eager=False)
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    pairs = a.join(b, F.col("b.ti") > F.col("a.ti")).select(
        (F.col("b.x") - F.col("a.x")).alias("num"),
        (F.col("b.ti") - F.col("a.ti")).alias("den"),
    )
    w = Window.orderBy(F.col("num") / F.col("den"), "num", "den")
    med_slope = (
        pairs.select(
            "num",
            "den",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_pairs"),
        )
        .filter(F.col("rn") == F.floor((F.col("n_pairs") + 1) / 2))
        .select("num", "den", "n_pairs")
    )
    icpt = monthly.crossJoin(F.broadcast(med_slope)).select(
        "num",
        "den",
        "n_pairs",
        (F.col("x") * F.col("den") - F.col("num") * F.col("ti")).alias("bi"),
    )
    w_i = Window.orderBy("bi")
    return (
        icpt.select(
            "num",
            "den",
            "n_pairs",
            "bi",
            F.row_number().over(w_i).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).alias("n_months"),
        )
        .filter(F.col("rn") == F.floor((F.col("n_months") + 1) / 2))
        .select(
            "n_months",
            "n_pairs",
            F.col("num").alias("slope_num"),
            F.col("den").alias("slope_den"),
            F.round(F.col("num") / F.col("den"), 4).alias("slope_cents_per_month"),
            F.col("bi").alias("icpt_num"),
            F.round(F.col("bi") / F.col("den"), 4).alias("intercept_cents"),
        )
    )


ORACLE["q115_theil_sen"] = """
    WITH monthly AS (
        SELECT (year(date_trunc('month', o_orderdate)) * 12
                + month(date_trunc('month', o_orderdate)))::BIGINT AS ti,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS x
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT (b.x - a.x)::BIGINT AS num, (b.ti - a.ti)::BIGINT AS den
        FROM monthly a JOIN monthly b ON b.ti > a.ti
    ),
    ranked AS (
        SELECT num, den,
               row_number() OVER (ORDER BY num::DOUBLE / den, num, den) AS rn,
               count(*) OVER () AS n_pairs
        FROM pairs
    ),
    med AS (
        SELECT num, den, n_pairs FROM ranked
        WHERE rn = floor((n_pairs + 1) / 2.0)
    ),
    icpt AS (
        SELECT med.num, med.den, med.n_pairs,
               (m.x * med.den - med.num * m.ti)::BIGINT AS bi,
               row_number() OVER (ORDER BY m.x * med.den - med.num * m.ti) AS rn,
               count(*) OVER () AS n_months
        FROM monthly m, med
    )
    SELECT n_months::BIGINT AS n_months, n_pairs::BIGINT AS n_pairs,
           num AS slope_num, den AS slope_den,
           round(num::DOUBLE / den, 4) AS slope_cents_per_month,
           bi AS icpt_num,
           round(bi::DOUBLE / den, 4) AS intercept_cents
    FROM icpt WHERE rn = floor((n_months + 1) / 2.0)
"""
QUERIES["q115_theil_sen"] = q115_theil_sen


# ---------------------------------------------------------------------------
# q116: Kaplan-Meier survival curve (customer churn with right-censoring)
# ---------------------------------------------------------------------------

Q116_CHURN_GAP_M = 12  # months of silence after which a customer is churned


def q116_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimate of customer lifetime with
    right-censoring: a customer whose last order is within
    Q116_CHURN_GAP_M months of the observation cutoff is CENSORED
    (still alive, lifetime only known to exceed cutoff − first), not
    an event — the estimator the naive "average customer lifetime"
    gets wrong by treating open customers as dead. S(t) =
    ∏_{t'≤t} (1 − d_t'/n_t') over event times, n = at-risk count.

    Scale shape: ONE corpus pass — the per-customer min/max
    aggregate (map-side combinable; the cutoff is max over the
    per-customer maxima, so it needs no second scan); after that
    everything runs on the DURATION GRID — per-month counts (calendar-bounded, ≤ ~80 rows),
    at-risk via one running frame over the grid, and the product via
    a per-row fold over the broadcast grid array (≤80 factors). The
    1-row cutoff aggregate broadcasts. Nothing downstream of the
    customer aggregate grows with data volume.

    Exactness: durations are integer month indexes; the survival
    product is a LEFT FOLD over the dur-sorted factor list starting
    at 1.0 in both engines (ordered-fold float discipline — identical
    IEEE op order, so raw doubles hash-match with no tolerance).
    """
    t = Tables(spark, sf_dir)
    mi = (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi")
    o = t.orders.select("o_custkey", mi)
    # ONE corpus pass: the observation cutoff is max over the
    # per-customer maxima, so it derives from the |customers|-row
    # intermediate instead of a second scan of orders
    spans = o.groupBy("o_custkey").agg(
        F.min("mi").alias("first"), F.max("mi").alias("last")
    )
    cutoff = spans.agg(F.max("last").alias("cut"))
    per_cust = (
        spans.crossJoin(F.broadcast(cutoff))
        .select(
            F.when(
                F.col("last") <= F.col("cut") - Q116_CHURN_GAP_M,
                F.col("last") - F.col("first"),
            )
            .otherwise(F.col("cut") - F.col("first"))
            .alias("dur"),
            (F.col("last") <= F.col("cut") - Q116_CHURN_GAP_M)
            .cast("long")
            .alias("ev"),
        )
    )
    grid = per_cust.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_at"), F.sum("ev").alias("d")
    )
    w_tot = Window.partitionBy()
    w_cum = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    grid2 = grid.select(
        "dur",
        "d",
        (F.col("n_at") - F.col("d")).alias("n_censored"),
        (
            F.sum("n_at").over(w_tot)
            - F.coalesce(F.sum("n_at").over(w_cum), F.lit(0))
        ).alias("n_risk"),
    )
    arr = grid2.agg(
        F.array_sort(F.collect_list(F.struct("dur", "d", "n_risk"))).alias("a")
    )
    surv = F.aggregate(
        F.transform(
            F.filter(F.col("a"), lambda x: x["dur"] <= F.col("dur")),
            lambda x: 1 - x["d"] / x["n_risk"],
        ),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return (
        grid2.crossJoin(F.broadcast(arr))
        .select("dur", "n_risk", "d", "n_censored", surv.alias("survival"))
        .orderBy("dur")
    )


ORACLE["q116_kaplan_meier"] = f"""
    WITH o AS (
        SELECT o_custkey,
               (year(o_orderdate) * 12 + month(o_orderdate))::BIGINT AS mi
        FROM orders
    ),
    cutoff AS (SELECT max(mi) AS cut FROM o),
    per_cust AS (
        SELECT CASE WHEN max(mi) <= cut - {Q116_CHURN_GAP_M}
                    THEN max(mi) - min(mi) ELSE cut - min(mi) END AS dur,
               (max(mi) <= cut - {Q116_CHURN_GAP_M})::BIGINT AS ev
        FROM o, cutoff GROUP BY o_custkey, cut
    ),
    grid AS (
        SELECT dur, count(*)::BIGINT AS n_at, sum(ev)::BIGINT AS d
        FROM per_cust GROUP BY dur
    ),
    grid2 AS (
        SELECT dur, d, (n_at - d)::BIGINT AS n_censored,
               (sum(n_at) OVER ()
                - coalesce(sum(n_at) OVER (ORDER BY dur
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0))::BIGINT AS n_risk
        FROM grid
    ),
    arr AS (
        SELECT list({{'dur': dur, 'd': d, 'n_risk': n_risk}} ORDER BY dur) AS a
        FROM grid2
    )
    SELECT g.dur, g.n_risk, g.d, g.n_censored,
           list_reduce(list_prepend(1.0::DOUBLE,
               [1 - x.d::DOUBLE / x.n_risk FOR x IN arr.a IF x.dur <= g.dur]),
               (p, q) -> p * q) AS survival
    FROM grid2 g, arr
    ORDER BY g.dur
"""
QUERIES["q116_kaplan_meier"] = q116_kaplan_meier


# ---------------------------------------------------------------------------
# q117: interpolation as-of join — bracketing readings via one union-window
# ---------------------------------------------------------------------------


def q117_interp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolation as-of join: each 'purchase' event gets the 'view'
    value stream linearly interpolated at its timestamp, per user —
    the two-sided generalization of q22's backward-only as-of join
    (and the event-time cousin of q48's grid interpolation). The
    naive plan is a per-query range join against the reading stream;
    this is the union-window form that scales: tag readings and
    queries, UNION them, and ONE window pass per direction over
    (user, time) lets every query row pick up its bracketing readings
    — total cost one shuffle by user, never |queries|×|readings|.

    Tie discipline: a reading at exactly the query timestamp must
    bracket on BOTH sides, so the backward pass orders (ts, is_r
    DESC) — equal-ts readings sort before the query — and the forward
    pass orders (ts, is_r ASC). Both window specs share one hash
    exchange on user_id (two sorts, one shuffle; visible in the
    plan). Exact-hit rows interpolate to exactly the reading's value
    (prev_t == next_t short-circuits before the 0/0 division).

    Exactness: time deltas are unix_micros differences (the
    per-timestamp-truncation trap from q22); the interpolation
    expression has a fixed operand order so raw doubles hash-match.
    Unbracketed queries (before the user's first reading / after the
    last) emit NULL — the honest contract for a training pipeline
    (imputing an extrapolation silently is how label leakage starts).
    """
    e = Tables(spark, sf_dir).events
    readings = e.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.col("value").alias("v"),
        F.lit(1).alias("is_r"),
        "event_id",
    )
    queries = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.unix_micros("ts").alias("t"),
        F.lit(None).cast("double").alias("v"),
        F.lit(0).alias("is_r"),
        "event_id",
    )
    u = readings.unionByName(queries)
    # event_id as the final sort key: multiple readings at the same
    # (user, t) would otherwise make pv/nv selection partition-order
    # nondeterministic (the module tie-discipline rule) — backward
    # takes the highest-id equal-ts reading, forward the lowest
    w_back = (
        Window.partitionBy("user_id")
        .orderBy("t", F.col("is_r").desc(), "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy("t", "is_r", "event_id")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    rt = F.when(F.col("is_r") == 1, F.col("t"))
    enriched = u.select(
        "user_id",
        "t",
        "is_r",
        "event_id",
        F.last("v", ignorenulls=True).over(w_back).alias("pv"),
        F.last(rt, ignorenulls=True).over(w_back).alias("pt"),
        F.first("v", ignorenulls=True).over(w_fwd).alias("nv"),
        F.first(rt, ignorenulls=True).over(w_fwd).alias("nt"),
    ).filter(F.col("is_r") == 0)
    interp = F.when(F.col("pt") == F.col("nt"), F.col("pv")).otherwise(
        F.col("pv")
        + (F.col("nv") - F.col("pv"))
        * ((F.col("t") - F.col("pt")) / (F.col("nt") - F.col("pt")))
    )
    return enriched.select(
        "event_id",
        "user_id",
        "pt",
        "nt",
        interp.alias("v_interp"),
    ).orderBy("event_id")


ORACLE["q117_interp_join"] = """
    WITH u AS (
        SELECT user_id, epoch_us(ts) AS t, value AS v, 1 AS is_r,
               event_id
        FROM events WHERE event_type = 'view'
        UNION ALL
        SELECT user_id, epoch_us(ts) AS t, NULL::DOUBLE AS v, 0 AS is_r,
               event_id
        FROM events WHERE event_type = 'purchase'
    ),
    enriched AS (
        SELECT user_id, t, is_r, event_id,
               last_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, is_r DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
               last_value(CASE WHEN is_r = 1 THEN t END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, is_r DESC, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
               first_value(v IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, is_r, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
               first_value(CASE WHEN is_r = 1 THEN t END IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY t, is_r, event_id
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt
        FROM u
    )
    SELECT event_id, user_id, pt, nt,
           CASE WHEN pt = nt THEN pv
                ELSE pv + (nv - pv) * ((t - pt)::DOUBLE / (nt - pt))
           END AS v_interp
    FROM enriched WHERE is_r = 0
    ORDER BY event_id
"""
QUERIES["q117_interp_join"] = q117_interp_join


# ---------------------------------------------------------------------------
# q118: mutual-information matrix over categorical column pairs
# ---------------------------------------------------------------------------

Q118_PAIRS = (
    ("lineitem", "l_returnflag", "l_linestatus"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("documents", "lang", "source"),
)


def _q118_pair(t: Tables, table: str, a: str, b: str) -> DataFrame:
    """One corpus aggregate (the joint grid); margins, N, entropies and
    the MI fold all run on the grid (≤ |a|·|b| cells).

    Optimization round 12 (guide §2.4): margins/total now come from
    WINDOW sums over the tiny grid instead of three separate aggregate
    subtrees joined back — the previous plan evaluated the corpus-sized
    ``joint`` aggregation FOUR times per pair (once each under cells /
    ma / mb / tot) plus six broadcast-build jobs; this one scans the
    corpus once and runs three grid-sized exchanges. Values are
    bit-identical: integer margin sums are order-free, the per-cell
    ``term`` expression is unchanged, and both entropy folds run over
    the same sorted (key, e) sets as before (``array_distinct`` of the
    per-cell copies — duplicates carry identical doubles — then the
    same ``array_sort`` + left fold)."""
    # expression trees emitted as SQL strings (r12, guide §7.3):
    # identical analyzed plan, no per-node py4j round trips (~700
    # driver calls per pair × the pair list, measured ~0.8 s/construct)
    joint = getattr(t, table).groupBy(
        F.col(a).alias("a"), F.col(b).alias("b")
    ).agg(F.count(F.lit(1)).alias("nij"))
    cells = joint.selectExpr(
        "a",
        "b",
        "nij",
        "sum(nij) OVER (PARTITION BY a) AS na",
        "sum(nij) OVER (PARTITION BY b) AS nb",
        "sum(nij) OVER () AS n",
    ).selectExpr(
        "a",
        "b",
        "na",
        "nb",
        "n",
        "(nij / n) * ln((CAST(nij AS DOUBLE) * n)"
        " / (CAST(na AS DOUBLE) * nb)) AS term",
    )

    def _entropy_fold(key: str, cnt: str) -> str:
        return (
            f"aggregate(array_sort(array_distinct(collect_list("
            f"struct({key} AS k, -({cnt} / n) * ln({cnt} / n) AS e)))),"
            f" CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.e)"
        )

    return cells.agg(
        F.expr(
            "aggregate(array_sort(collect_list(struct(a, b, term))),"
            " CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.term)"
        ).alias("mi_nats"),
        F.count(F.lit(1)).alias("n_cells"),
        F.expr(_entropy_fold("a", "na")).alias("h_a"),
        F.expr(_entropy_fold("b", "nb")).alias("h_b"),
    ).selectExpr(
        f"'{a}|{b}' AS pair",
        "n_cells",
        "mi_nats",
        "h_a AS h_a_nats",
        "h_b AS h_b_nats",
        # guard: a single-category column has H=0 and NMI is
        # undefined — NULL, not an ANSI divide-by-zero job abort
        # (degenerate-mode fuzz catch, round 10); oracle mirrors
        "CASE WHEN h_a * h_b > 0"
        " THEN mi_nats / sqrt(h_a * h_b) END AS nmi",
    )


def q118_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between categorical column pairs — the
    feature-relevance / redundancy primitive (q87's chi-square tests
    independence; MI QUANTIFIES the dependence in nats and normalizes
    it, which is what feature selection and leakage audits rank by).

    Per pair, the only corpus-sized work is ONE map-side-combinable
    joint-count aggregate; margins, N, both entropies, and the MI sum
    all derive from the ≤|a|·|b|-cell grid. The three MI/entropy sums
    are ordered LEFT FOLDS over key-sorted cell lists (the q87/q116
    float discipline), so raw doubles hash-match the oracle with no
    tolerance. The log-ratio products are computed in DOUBLE
    (nij·N and n_a·n_b overflow BIGINT around 10^9-row cells ×
    10^13-row corpora; the double product is exact below 2^53 and
    scale-safe above it, with identical rounding in both engines).
    One honest caveat: ln() is the first transcendental at
    the gate — JVM Math.log guarantees ≤1 ulp, not correct rounding —
    and Spark/DuckDB agree bit-for-bit on every cell this data
    produces (verified sf0.01/sf0.1/vanilla); the pure-Python
    brute-force test uses 1e-12 tolerance for exactly that reason.
    nmi = MI/√(H_a·H_b) — 0 when independent, ~1 when one
    column determines the other.
    """
    t = Tables(spark, sf_dir)
    out = None
    for table, a, b in Q118_PAIRS:
        df = _q118_pair(t, table, a, b)
        out = df if out is None else out.unionByName(df)
    return out.orderBy("pair")


def _q118_pair_sql(table: str, a: str, b: str) -> str:
    return f"""
    SELECT '{a}|{b}' AS pair, n_cells, mi_nats, h_a_nats, h_b_nats,
           CASE WHEN h_a_nats * h_b_nats > 0
                THEN mi_nats / sqrt(h_a_nats * h_b_nats) END AS nmi
    FROM (
        WITH joint AS (
            SELECT {a} AS a, {b} AS b, count(*)::BIGINT AS nij
            FROM {table} GROUP BY 1, 2
        ),
        ma AS (SELECT a, sum(nij)::BIGINT AS na FROM joint GROUP BY a),
        mb AS (SELECT b, sum(nij)::BIGINT AS nb FROM joint GROUP BY b),
        tot AS (SELECT sum(nij)::BIGINT AS n FROM joint),
        cells AS (
            SELECT joint.a, joint.b,
                   (nij / n) * ln((nij::DOUBLE * n) / (na::DOUBLE * nb)) AS term
            FROM joint JOIN ma USING (a) JOIN mb USING (b), tot
        )
        SELECT count(*)::BIGINT AS n_cells,
               list_reduce(list_prepend(0.0::DOUBLE,
                   [x.term FOR x IN list({{'a': a, 'b': b, 'term': term}}
                                         ORDER BY a, b)]),
                   (p, q) -> p + q) AS mi_nats,
               (SELECT list_reduce(list_prepend(0.0::DOUBLE,
                    [x.e FOR x IN list({{'k': a,
                        'e': -(na / n) * ln(na / n)}} ORDER BY a)]),
                    (p, q) -> p + q) FROM ma, tot) AS h_a_nats,
               (SELECT list_reduce(list_prepend(0.0::DOUBLE,
                    [x.e FOR x IN list({{'k': b,
                        'e': -(nb / n) * ln(nb / n)}} ORDER BY b)]),
                    (p, q) -> p + q) FROM mb, tot) AS h_b_nats
        FROM cells
    )
    """


ORACLE["q118_mutual_info"] = (
    " UNION ALL ".join(_q118_pair_sql(tb, a, b) for tb, a, b in Q118_PAIRS)
    + " ORDER BY pair"
)
QUERIES["q118_mutual_info"] = q118_mutual_info


# ---------------------------------------------------------------------------
# q119: k-core of the strong-tie trade graph (degeneracy peel)
# ---------------------------------------------------------------------------

Q119_K = 2  # 2-core: shave every pendant tree, keep the cyclic core
Q119_MIN_ORDERS = 2  # strong tie = pair trades in >= 2 distinct orders
Q119_MAX_ROUNDS = 16  # engine bound == oracle unroll depth (converges
#                       in 1 round at sf0.01 / 3 at sf0.1; peel-depth
#                       is data-shaped, so the engine RAISES rather
#                       than returning a partial core past the bound)


def q119_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the strong-tie customer↔supplier graph
    (pairs trading in ≥ Q119_MIN_ORDERS distinct orders — q83's trade
    graph with a repeat-business edge filter): iteratively peel nodes
    with induced degree < k to fixpoint. Completes the graph family's
    structural-density gap: q61 ranks by influence, q63 counts local
    closure, d09/d17 find connectivity — the k-core is the standard
    "dense sustained-relationship backbone vs pendant one-off tendril"
    split, and the 2-core here is exactly "participates in a trading
    CYCLE through strong ties".

    Scale shape: each peel round derives degrees from the previous
    round's INDUCED edge set (checkpointed, monotonically shrinking),
    so round cost tracks the surviving graph — the same discipline as
    q83's frontier (graph.kcore_members). Peel depth is data-shaped:
    the engine raises past Q119_MAX_ROUNDS rather than silently
    returning a partial core, and the oracle unrolls exactly that many
    rounds (a fixpoint is idempotent, so over-unrolling is harmless).

    Output: per node type — graph size, core size, core-incident edge
    endpoints — the numbers a curation pipeline thresholds to decide
    whether the "stable backbone" is big enough to train on.
    """
    from .graph import kcore_members

    t = Tables(spark, sf_dir)
    pairs = (
        t.lineitem.select("l_orderkey", "l_suppkey")
        .join(
            t.orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .agg(F.count_distinct(F.col("o_orderkey")).alias("n_ord"))
        .filter(F.col("n_ord") >= Q119_MIN_ORDERS)
        .select("c", "s")
    )
    edges = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst")).unionAll(
        pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
    )
    # materialize the derived edge list ONCE (r12, guide §2.4/§5): it
    # fans out to the peel loop, the core-incident join and the node
    # census, whose downstream exchanges all differ — AQE exchange
    # reuse cannot dedup them, so without the cut the lineitem⋈orders
    # + count_distinct derivation replayed 3×. Same-session A/B at
    # sf0.1: 4.70 → 3.09 s, 46 → 41 jobs, rows identical.
    edges = edges.localCheckpoint(eager=False)
    core = kcore_members(edges, Q119_K, Q119_MAX_ROUNDS)
    core_edges = edges.join(
        core.select(F.col("node").alias("src")), "src"
    ).join(core.select(F.col("node").alias("dst")), "dst")
    typ = F.when(F.col("node") % 2 == 0, "customer").otherwise("supplier")
    all_nodes = edges.select(F.col("src").alias("node")).distinct()
    n_all = all_nodes.groupBy(typ.alias("node_type")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )
    n_core = core.groupBy(typ.alias("node_type")).agg(
        F.count(F.lit(1)).alias("n_core")
    )
    n_edge = core_edges.groupBy(
        F.when(F.col("src") % 2 == 0, "customer")
        .otherwise("supplier")
        .alias("node_type")
    ).agg(F.count(F.lit(1)).alias("n_core_edge_ends"))
    return (
        n_all.join(n_core, "node_type", "left")
        .join(n_edge, "node_type", "left")
        .select(
            "node_type",
            "n_nodes",
            F.coalesce("n_core", F.lit(0)).alias("n_core"),
            F.coalesce("n_core_edge_ends", F.lit(0)).alias("n_core_edge_ends"),
        )
        .orderBy("node_type")
    )


def _q119_oracle() -> str:
    rounds = []
    prev = "e0"
    for i in range(1, Q119_MAX_ROUNDS + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # each round references the previous one three times — 16
        # inlined rounds is a 3^16 scan blowup ("too many open files")
        rounds.append(
            f"a{i} AS MATERIALIZED (SELECT src FROM {prev} GROUP BY src "
            f"HAVING count(*) >= {Q119_K})"
        )
        rounds.append(
            f"e{i} AS MATERIALIZED (SELECT {prev}.src, {prev}.dst FROM {prev} "
            f"JOIN a{i} x ON {prev}.src = x.src "
            f"JOIN a{i} y ON {prev}.dst = y.src)"
        )
        prev = f"e{i}"
    chain = ",\n    ".join(rounds)
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2 HAVING count(DISTINCT o_orderkey) >= {Q119_MIN_ORDERS}
    ),
    e0 AS MATERIALIZED (
        SELECT c AS src, s AS dst FROM pairs
        UNION ALL SELECT s, c FROM pairs
    ),
    {chain},
    core AS (SELECT DISTINCT src AS node FROM {prev}),
    all_nodes AS (SELECT DISTINCT src AS node FROM e0),
    n_all AS (
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               count(*)::BIGINT AS n_nodes
        FROM all_nodes GROUP BY 1
    ),
    n_core AS (
        SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               count(*)::BIGINT AS n_core
        FROM core GROUP BY 1
    ),
    n_edge AS (
        SELECT CASE WHEN src % 2 = 0 THEN 'customer' ELSE 'supplier' END
                   AS node_type,
               count(*)::BIGINT AS n_core_edge_ends
        FROM {prev} GROUP BY 1
    )
    SELECT node_type, n_nodes,
           coalesce(n_core, 0)::BIGINT AS n_core,
           coalesce(n_core_edge_ends, 0)::BIGINT AS n_core_edge_ends
    FROM n_all LEFT JOIN n_core USING (node_type)
    LEFT JOIN n_edge USING (node_type)
    ORDER BY node_type
    """


ORACLE["q119_kcore"] = _q119_oracle()
QUERIES["q119_kcore"] = q119_kcore


# ---------------------------------------------------------------------------
# q125: incremental JOIN-view maintenance (delta-join algebra)
# ---------------------------------------------------------------------------

Q125_CUTOFF = "1996-01-01"  # orders after the cutoff are the insert delta
Q125_CUST_MOD = 5           # h64(custkey) % 5 == 0 customers are the dim delta


def q125_join_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — q106's IVM contract
    extended from self-maintainable aggregates to the two-sided join
    case: the per-nation revenue view V = γ(O ⋈ C) is maintained under
    SIMULTANEOUS deltas on both inputs (new orders ΔO after the
    cutoff, new customers ΔC = a deterministic h64 slice) via the
    textbook delta-join expansion

        Δ(O ⋈ C) = ΔO ⋈ C_old  ∪  O_old ⋈ ΔC  ∪  ΔO ⋈ ΔC

    with γ's sums re-aggregated over state ⊕ Δ (sums/counts are
    self-maintainable). The oracle is the FULL recompute of
    γ((O_old ∪ ΔO) ⋈ (C_old ∪ ΔC)) — a hash match IS the proof the
    delta algebra loses nothing.

    Scale: the state is a materialized per-nation aggregate (25
    rows); ΔO ⋈ C_old shuffles only the DELTA-sized probe side;
    O_old ⋈ ΔC and ΔO ⋈ ΔC broadcast the small delta dimension — no
    full-corpus re-join ever runs, which is the entire point of IVM
    at 100 TB.
    """
    from ..functions.hashing import h64

    t = Tables(spark, sf_dir)
    o = t.orders.select(
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    c = t.customer.select("c_custkey", "c_nationkey")
    is_delta_cust = h64(F.col("c_custkey").cast("string")) % Q125_CUST_MOD == 0
    c_old = c.filter(~is_delta_cust)
    c_new = c.filter(is_delta_cust)
    o_old = o.filter(F.col("o_orderdate") < Q125_CUTOFF)
    o_new = o.filter(F.col("o_orderdate") >= Q125_CUTOFF)

    def gamma(orders_df: DataFrame, cust_df: DataFrame) -> DataFrame:
        return (
            orders_df.join(
                cust_df, F.col("o_custkey") == F.col("c_custkey")
            )
            .groupBy("c_nationkey")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("cents").alias("revenue_cents"),
            )
        )

    # materialized view state (the table an IVM system would persist)
    state = gamma(o_old, c_old).localCheckpoint(eager=False)
    delta = (
        gamma(o_new, c_old)
        .unionByName(gamma(o_old, F.broadcast(c_new)))
        .unionByName(gamma(o_new, F.broadcast(c_new)))
    )
    merged = (
        state.unionByName(delta)
        .groupBy("c_nationkey")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
    n = Tables(spark, sf_dir).nation.select("n_nationkey", "n_name")
    return (
        merged.join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .select("n_name", "n_orders", "revenue_cents")
        .orderBy("n_name")
    )


ORACLE["q125_join_ivm"] = """
    SELECT n_name,
           count(*)::BIGINT AS n_orders,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """
QUERIES["q125_join_ivm"] = q125_join_ivm


# ---------------------------------------------------------------------------
# q127: sweep-line temporal occupancy (peak concurrent intervals)
# ---------------------------------------------------------------------------

Q127_TRANSIT_DAYS = 14  # each line item is "in transit" for 14 days


def q127_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak interval concurrency — the sweep-line member the temporal
    family lacked (q110 unions intervals, q50 versions them; this
    asks "how many are active AT ONCE, and when did the peak first
    happen"): each line item occupies [shipdate, shipdate+14d); the
    answer per return flag is the classic +1/−1 boundary-event sweep.

    Plan: boundary events aggregate to the DAILY grid first (map-side
    combinable — the corpus collapses to |flags| × calendar-days net
    deltas BEFORE any window), then one running sum over the
    calendar-bounded grid (≤ ~2.5k rows per flag — the q126/q115
    bounded-window class, low-cardinality rationale recorded), then
    an equi-join argmax picks the earliest peak day. Integer counts
    end to end; the peak date is a carried DATE — hash-exact on both
    engines.

    At 100 TB nothing changes: the sweep's window input is
    calendar-sized, not corpus-sized — the corpus only ever feeds the
    combinable delta aggregate.
    """
    # occ feeds BOTH the peak aggregate and the argmax join —
    # checkpoint the grid-sized sweep (≤ |flags| × calendar days rows)
    # rather than paying the corpus scan + delta aggregate twice
    # (round-8 review; un-checkpointed shape pinned in
    # test_checkpointed_aggregates_keep_plan_shape)
    occ = _q127_occupancy(Tables(spark, sf_dir).lineitem).localCheckpoint(
        eager=True
    )
    pk = occ.groupBy("l_returnflag").agg(F.max("occ").alias("peak_in_transit"))
    return (
        occ.join(F.broadcast(pk), "l_returnflag")
        .filter(F.col("occ") == F.col("peak_in_transit"))
        .groupBy("l_returnflag", "peak_in_transit")
        .agg(F.min("d").alias("peak_date"))
        .select("l_returnflag", "peak_in_transit", "peak_date")
        .orderBy("l_returnflag")
    )


def _q127_occupancy(li: DataFrame) -> DataFrame:
    """q127's sweep table (flag, day, running occupancy),
    UN-checkpointed — factored so the plan harness can pin its shape
    (one combinable delta aggregate feeding the calendar-bounded
    window)."""
    ship = F.col("l_shipdate").cast("date")
    ev = li.select(
        "l_returnflag", ship.alias("d"), F.lit(1).alias("delta")
    ).unionAll(
        li.select(
            "l_returnflag",
            F.date_add(ship, Q127_TRANSIT_DAYS).alias("d"),
            F.lit(-1).alias("delta"),
        )
    )
    grid = ev.groupBy("l_returnflag", "d").agg(F.sum("delta").alias("net"))
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return grid.withColumn("occ", F.sum("net").over(w))


ORACLE["q127_peak_concurrency"] = f"""
    WITH ev AS (
        SELECT l_returnflag, l_shipdate::DATE AS d, 1 AS delta FROM lineitem
        UNION ALL
        SELECT l_returnflag, l_shipdate::DATE + {Q127_TRANSIT_DAYS}, -1
        FROM lineitem
    ),
    grid AS (
        SELECT l_returnflag, d, sum(delta)::BIGINT AS net
        FROM ev GROUP BY 1, 2
    ),
    occ AS (
        SELECT l_returnflag, d,
               (sum(net) OVER (PARTITION BY l_returnflag ORDER BY d))::BIGINT
                   AS occ
        FROM grid
    ),
    pk AS (
        SELECT l_returnflag, max(occ)::BIGINT AS peak_in_transit
        FROM occ GROUP BY 1
    )
    SELECT o.l_returnflag, p.peak_in_transit, min(o.d) AS peak_date
    FROM occ o
    JOIN pk p ON o.l_returnflag = p.l_returnflag
             AND o.occ = p.peak_in_transit
    GROUP BY 1, 2 ORDER BY 1
"""
QUERIES["q127_peak_concurrency"] = q127_peak_concurrency
