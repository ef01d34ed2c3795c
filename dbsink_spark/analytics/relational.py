"""Relational operator library over the TPC-H-ish harness tables.

The reference delegates every relational capability to Postgres
(reference: README.md:13-15 recommends PostgREST; SURVEY §2.6). Here they
are first-class, expressed declaratively so Catalyst plans them
(predicate pushdown, column pruning, broadcast selection, AQE).

Every query function has the signature ``(spark, sf_dir) -> DataFrame``
and a matching DuckDB oracle SQL string in ``ORACLE`` — the driver's
correctness gate runs both and hash-compares values, so every computed
column is aliased identically on both sides and floats are rounded at
the output boundary to absorb summation-order ULP drift.

Scale notes (100 TB):
* Fact-fact joins (orders⋈lineitem) shuffle on the join key — at scale
  both sides would be bucketed by orderkey to make this a co-located
  join; AQE handles skew splitting.
* Dimension joins (region/nation/supplier/customer) are explicitly
  broadcast when genuinely small (region/nation always; customer only
  at test SF — noted per query).
* Aggregations use partial (map-side) aggregation automatically; no
  collect()-based loops anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .tables import Tables
from .litdf import local_df


# --------------------------------------------------------------------------
# scan / filter / project
# --------------------------------------------------------------------------

def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary: scan→filter→hash-aggregate.

    Whole plan stays in WholeStageCodegen; the shipdate filter and the
    7-column projection push down into the parquet scan.
    """
    li = Tables(spark, sf_dir).lineitem
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))), 2
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            # money/rate avgs: round the sum to input precision before
            # dividing so both engines divide identical doubles (a
            # summation-order ulp can straddle a rounding boundary when
            # the count is 2^a*5^b)
            F.round(F.round(F.sum("l_extendedprice"), 2) / F.count(F.lit(1)), 4).alias("avg_price"),
            F.round(F.round(F.sum("l_discount"), 2) / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q02_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective filter + narrow projection — exercises pushdown/pruning."""
    li = Tables(spark, sf_dir).lineitem
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_quantity") < 24)
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(F.col("l_extendedprice") * F.col("l_discount"), 4).alias("disc_revenue"),
        )
    )


# --------------------------------------------------------------------------
# joins
# --------------------------------------------------------------------------

def q08_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with no high-value order (left-anti join)."""
    t = Tables(spark, sf_dir)
    big = t.orders.filter(F.col("o_totalprice") > 250000).select("o_custkey")
    return (
        t.customer.join(big, t.customer.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
    )


# --------------------------------------------------------------------------
# aggregation variants
# --------------------------------------------------------------------------

def q10_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct counts per group (two-phase distinct aggregate)."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.round(F.sum("o_totalprice"), 2) / F.count(F.lit(1)), 4).alias("avg_price"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# window functions
# --------------------------------------------------------------------------

def q13_window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by price (rank window + filter).

    The deterministic tiebreak (orderkey) makes row_number stable, so
    the result is oracle-comparable. Single shuffle on custkey.
    """
    o = Tables(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn")
    )


def q15_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running revenue per customer (rows-frame cumulative sum)."""
    o = Tables(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_revenue"),
    )


def q16_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 orders — Spark plans orderBy+limit as TakeOrdered
    (per-partition top-k then merge, no full sort)."""
    o = Tables(spark, sf_dir).orders
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("price"))
    )


# --------------------------------------------------------------------------
# set operations
# --------------------------------------------------------------------------

def q17_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT composition over customer cohorts."""
    t = Tables(spark, sf_dir)
    building = t.customer.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = t.customer.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    with_orders = t.orders.select(F.col("o_custkey").alias("c_custkey")).distinct()
    return (
        building.union(rich).distinct().intersect(with_orders).exceptAll(
            t.customer.filter(F.col("c_acctbal") < 0).select("c_custkey")
        )
    )


# --------------------------------------------------------------------------
# events (timeseries)
# --------------------------------------------------------------------------

def q19_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via lag + cumsum.

    Classic two-window sessionizer: one shuffle on user_id, both
    windows reuse the same partitioning (no second shuffle).
    """
    e = Tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = (
        e.withColumn(
            "new_session",
            F.when(
                F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w) > 1800, 1
            ).otherwise(F.when(F.lag("ts").over(w).isNull(), 1).otherwise(0)),
        )
        .withColumn("session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.col("ts").cast("long")) - F.min(F.col("ts").cast("long"))).alias("duration_sec"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
            F.round(F.avg("duration_sec"), 4).alias("avg_session_sec"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# oracle SQL (DuckDB) — column names/aliases match the Spark outputs
# --------------------------------------------------------------------------

ORACLE: dict[str, str] = {
    "q01_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 2)                                           AS sum_qty,
               round(sum(l_extendedprice), 2)                                      AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 2)                   AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)     AS sum_charge,
               round(avg(l_quantity), 4)                                           AS avg_qty,
               round(round(sum(l_extendedprice), 2) / count(*), 4)                 AS avg_price,
               round(round(sum(l_discount), 2) / count(*), 4)                      AS avg_disc,
               count(*)                                                            AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q02_filter_project": """
        SELECT l_orderkey, l_linenumber,
               round(l_extendedprice * l_discount, 4) AS disc_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01'
          AND l_shipdate <  TIMESTAMP '1996-01-01'
          AND l_discount >= 0.05
          AND l_quantity < 24
    """,
    "q08_anti_join": """
        SELECT c_custkey, c_name, c_acctbal
        FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 250000)
    """,
    "q10_agg_distinct": """
        SELECT o_orderpriority,
               count(DISTINCT o_custkey)   AS n_customers,
               count(*)                    AS n_orders,
               round(round(sum(o_totalprice), 2) / count(*), 4) AS avg_price
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q13_window_topk_per_group": """
        SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn
        FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders
        )
        WHERE rn <= 3
    """,
    "q15_window_running": """
        SELECT o_custkey, o_orderkey,
               round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_revenue
        FROM orders
    """,
    "q16_topk_global": """
        SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        FROM orders
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 10
    """,
    "q17_set_ops": """
        SELECT c_custkey FROM (
            (SELECT DISTINCT c_custkey FROM (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                UNION ALL
                SELECT c_custkey FROM customer WHERE c_acctbal > 5000
            )
            INTERSECT
            SELECT DISTINCT o_custkey AS c_custkey FROM orders)
            EXCEPT ALL
            SELECT c_custkey FROM customer WHERE c_acctbal < 0
        )
    """,
    "q19_events_sessionize": """
        WITH flagged AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN floor(epoch(ts))::BIGINT - floor(epoch(lag(ts) OVER w))::BIGINT > 1800 THEN 1
                        WHEN lag(ts) OVER w IS NULL THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), numbered AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM flagged
        ), per_session AS (
            SELECT user_id, session_id, count(*) AS n_events,
                   max(floor(epoch(ts))::BIGINT) - min(floor(epoch(ts))::BIGINT) AS duration_sec
            FROM numbered GROUP BY user_id, session_id
        )
        SELECT user_id,
               count(*)                     AS n_sessions,
               max(n_events)                AS max_session_events,
               round(avg(duration_sec), 4)  AS avg_session_sec
        FROM per_session
        GROUP BY user_id
        ORDER BY user_id
    """,
}

QUERIES = {
    "q01_pricing_summary": q01_pricing_summary,
    "q02_filter_project": q02_filter_project,
    "q08_anti_join": q08_anti_join,
    "q10_agg_distinct": q10_agg_distinct,
    "q13_window_topk_per_group": q13_window_topk_per_group,
    "q15_window_running": q15_window_running,
    "q16_topk_global": q16_topk_global,
    "q17_set_ops": q17_set_ops,
    "q19_events_sessionize": q19_events_sessionize,
}


# ---------------------------------------------------------------------------
# q52: data-quality audit (deequ-style constraint report)
# ---------------------------------------------------------------------------


def q52_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint-validation report over the warehouse tables — the
    deequ / great-expectations pass a pipeline runs before promoting a
    batch: primary-key uniqueness, foreign-key integrity, null checks,
    and value-range rules, each emitted as (table, constraint,
    n_checked, n_violations, passed).

    All per-table checks FUSE into one aggregate pass per table
    (r12, guide §2.3: aggregate before you shuffle / scan once): the
    orders pass computes the PK-uniqueness, not-null and range rules'
    violation counts in a single wide aggregation and ``stack``s the
    one scalar row into the three report rows; the lineitem pass
    likewise. That cuts the audit from 7 table scans (3× orders, 3×
    lineitem, 1 FK join) to 3 (orders, lineitem, FK join) — at 100 TB
    each avoided scan is a full pass over the fact table. The FK check
    keeps its own scan (it needs the broadcast join, and fusing a join
    into an aggregate-only pass would shuffle the fact side); every
    remaining check is map-side combinable or broadcast-able. Row
    values are IDENTICAL to the per-check formulation — same counts,
    same rule names, same ordering (oracle-verified).
    """
    t = Tables(spark, sf_dir)
    orders, lineitem, customer = t.orders, t.lineitem, t.customer

    def stacked(table, wide, rules):
        # one scalar row of violation counters -> one report row per
        # rule; passed is derived per row exactly as before
        stack_sql = ", ".join(f"'{rule}', {col}" for rule, col in rules)
        return wide.select(
            F.lit(table).alias("tbl"),
            F.expr(
                f"stack({len(rules)}, {stack_sql}) AS (rule, n_violations)"
            ),
            F.col("n").alias("n_checked"),
        ).select(
            "tbl",
            "rule",
            "n_checked",
            "n_violations",
            (F.col("n_violations") == 0).cast("int").alias("passed"),
        )

    ord_wide = orders.agg(
        F.count(F.lit(1)).alias("n"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("v_pk"),
        F.sum(F.col("o_orderdate").isNull().cast("long")).alias("v_nn"),
        F.sum((F.col("o_totalprice") <= 0).cast("long")).alias("v_rng"),
    )
    ord_rows = stacked(
        "orders",
        ord_wide,
        [
            ("pk_unique_orderkey", "v_pk"),
            ("not_null_orderdate", "v_nn"),
            ("range_totalprice_positive", "v_rng"),
        ],
    )
    fk = orders.join(
        F.broadcast(customer.select("c_custkey")),
        orders["o_custkey"] == customer["c_custkey"],
        "left",
    ).agg(
        F.lit("orders").alias("tbl"),
        F.lit("fk_custkey_in_customer").alias("rule"),
        F.count(F.lit(1)).alias("n_checked"),
        F.sum(F.col("c_custkey").isNull().cast("long")).alias("n_violations"),
        (F.sum(F.col("c_custkey").isNull().cast("long")) == 0)
        .cast("int")
        .alias("passed"),
    )
    li_wide = lineitem.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.count(F.lit(1)) - F.countDistinct("l_orderkey", "l_linenumber")
        ).alias("v_pk"),
        F.sum(
            ((F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)).cast("long")
        ).alias("v_q"),
        F.sum(
            ((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).cast("long")
        ).alias("v_d"),
    )
    li_rows = stacked(
        "lineitem",
        li_wide,
        [
            ("pk_unique_orderkey_linenumber", "v_pk"),
            ("range_quantity_1_50", "v_q"),
            ("range_discount_0_0p1", "v_d"),
        ],
    )
    return ord_rows.unionAll(fk).unionAll(li_rows).orderBy("tbl", "rule")


ORACLE["q52_quality_audit"] = """
    WITH checks AS (
        SELECT 'orders' AS tbl, 'pk_unique_orderkey' AS rule,
               count(*) AS n_checked,
               count(*) - count(DISTINCT o_orderkey) AS n_violations
        FROM orders
        UNION ALL
        SELECT 'orders', 'not_null_orderdate', count(*),
               sum((o_orderdate IS NULL)::INT)
        FROM orders
        UNION ALL
        SELECT 'orders', 'range_totalprice_positive', count(*),
               sum((o_totalprice <= 0)::INT)
        FROM orders
        UNION ALL
        SELECT 'orders', 'fk_custkey_in_customer', count(*),
               sum((c.c_custkey IS NULL)::INT)
        FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        UNION ALL
        SELECT 'lineitem', 'pk_unique_orderkey_linenumber', count(*),
               count(*) - count(DISTINCT (l_orderkey, l_linenumber))
        FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'range_quantity_1_50', count(*),
               sum((l_quantity < 1 OR l_quantity > 50)::INT)
        FROM lineitem
        UNION ALL
        SELECT 'lineitem', 'range_discount_0_0p1', count(*),
               sum((l_discount < 0 OR l_discount > 0.1)::INT)
        FROM lineitem
    )
    SELECT tbl, rule,
           n_checked::BIGINT AS n_checked,
           n_violations::BIGINT AS n_violations,
           (n_violations = 0)::INT AS passed
    FROM checks
    ORDER BY tbl, rule
"""

QUERIES["q52_quality_audit"] = q52_quality_audit


# ---------------------------------------------------------------------------
# q55: distribution window functions (ntile quartiles)
# ---------------------------------------------------------------------------


from .drill import SINGLE_TASK_SORT_MAX_ROWS

Q55_WINDOW_MAX_ROWS = SINGLE_TASK_SORT_MAX_ROWS  # shared gate (drill.py)


def _q55_window_path(o: DataFrame) -> DataFrame:
    """q55's historical windowed-ntile plan — exact, but its
    ``PARTITION BY o_orderpriority`` (5 values) window sorts a fifth
    of the corpus per task; cardinality-gated by q55 below."""
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return (
        o.select(
            "o_orderpriority",
            "o_totalprice",
            F.ntile(4).over(w).alias("quartile"),
        )
        .groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


def q55_ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: quartile assignment via
    ``ntile(4)`` over order value within each priority class, reduced
    to the per-quartile boundary report (count, min/max price) — the
    percentile-banding shape analysts use for cohort cuts. Completes
    the window-function surface next to ranking (q13), offsets (q19)
    and running frames (q15).

    Deterministic: the window orders by the unique (price, orderkey)
    pair, and ntile's fill rule (earlier tiles get the extra rows) is
    SQL-standard on both engines. Output values are carried inputs and
    counts — nothing float.

    Scale (round-8 rework, the q68 playbook): ``ntile(4) OVER
    (PARTITION BY o_orderpriority ...)`` funnels a FIFTH of the corpus
    into one task — the low-cardinality-partition straggler class the
    round-8 tripwire flags. The strategy is cardinality-gated: below
    Q55_WINDOW_MAX_ROWS the window runs (a fifth of a SMALL input in
    one task beats drill-round job latency); above it the report needs
    only ORDER STATISTICS — tile k's row count is n//4 (+1 for the
    first n%4 tiles) by ntile's SQL fill rule, its min/max price are
    the values at ranks c_{k-1}+1 and c_k — which
    ``drill.weighted_value_at`` finds with unit weights in ~3
    fully-parallel counting rounds (8 targets per priority drilled in
    the same jobs, raw-price pushdown twins included). Both paths are
    exact and row-identical (a test forces the drill path and asserts
    equality); emitted prices are read back from the rows so the
    output carries the original parquet double.
    """
    from .drill import weighted_value_at

    o = Tables(spark, sf_dir).orders
    sel_df = o.select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.lit(1).cast("long").alias("w"),
        "o_totalprice",
    )
    # ONE probe aggregation serves the cardinality gate, the targets,
    # AND the drill's initial brackets
    counts = (
        sel_df.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("cents").alias("mn"),
            F.max("cents").alias("mx"),
        )
        .collect()
    )
    if sum(r["n"] for r in counts) <= Q55_WINDOW_MAX_ROWS:
        return _q55_window_path(o)
    targets: dict = {}
    tiles: dict = {}
    for r in counts:
        g, n = r["o_orderpriority"], r["n"]
        base, extra = divmod(n, 4)
        cum, tg, tl = 0, {}, []
        for k in range(1, 5):
            s = base + (1 if k <= extra else 0)
            if s == 0:  # n < 4: ntile assigns only the first n tiles
                continue
            tg[f"lo{k}"] = cum + 1
            tg[f"hi{k}"] = cum + s
            tl.append((k, s))
            cum += s
        targets[g] = tg
        tiles[g] = tl
    brackets = {
        (r["o_orderpriority"], lbl): (r["mn"], r["mx"] + 1, 0)
        for r in counts
        for lbl in targets[r["o_orderpriority"]]
    }
    sel = weighted_value_at(
        sel_df, "o_orderpriority", "cents", "w", targets,
        raw_col="o_totalprice", raw_scale=100, brackets=brackets,
    )
    # read the original parquet doubles back from the rows (cents are
    # order-isomorphic to the 2-decimal prices, so each selected cents
    # value maps to exactly one price double)
    wanted = {(g, c) for (g, _), (c, _) in sel.items()}
    lut = {
        (r["o_orderpriority"], r["cents"]): r["p"]
        for r in sel_df.filter(
            F.col("cents").isin([c for _, c in wanted])
        )
        .groupBy("o_orderpriority", "cents")
        .agg(F.min("o_totalprice").alias("p"))
        .collect()
        if (r["o_orderpriority"], r["cents"]) in wanted
    }
    rows = [
        (
            g,
            k,
            s,
            lut[(g, sel[(g, f"lo{k}")][0])],
            lut[(g, sel[(g, f"hi{k}")][0])],
        )
        for g, tl in tiles.items()
        for k, s in tl
    ]
    return local_df(
        spark,
        rows,
        "o_orderpriority string, quartile int, n_orders bigint, "
        "min_price double, max_price double",
    ).orderBy("o_orderpriority", "quartile")


ORACLE["q55_ntile_quartiles"] = """
    WITH t AS (
        SELECT o_orderpriority, o_totalprice,
               ntile(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS quartile
        FROM orders
    )
    SELECT o_orderpriority, quartile,
           count(*)         AS n_orders,
           min(o_totalprice) AS min_price,
           max(o_totalprice) AS max_price
    FROM t
    GROUP BY 1, 2
    ORDER BY o_orderpriority, quartile
"""

QUERIES["q55_ntile_quartiles"] = q55_ntile_quartiles
