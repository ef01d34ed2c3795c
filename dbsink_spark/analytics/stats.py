"""Statistical operators: argmin/argmax, correlation/covariance,
z-score anomaly detection, conditional aggregation, string functions.

All deterministic (argmax ties broken by struct-lexicographic compare;
float outputs rounded at the boundary), all with DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.casts import guarded_double_sql, try_double_guarded
from ..functions.sketch import CM_D, CM_W, countmin_cells
from .tables import Tables


def q30_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top order per priority via max_by with a deterministic
    (price, orderkey) tiebreak tuple."""
    o = Tables(spark, sf_dir).orders
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
                "top_orderkey"
            ),
            F.round(F.max("o_totalprice"), 2).alias("top_price"),
            F.expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))").alias(
                "bottom_orderkey"
            ),
        )
        .orderBy("o_orderpriority")
    )


def q31_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / stddev of value vs the JSON prop k,
    per event type."""
    e = Tables(spark, sf_dir).events
    # try_double_guarded: ANSI-mode crash-proofing against malformed
    # props (one bad event must not abort the
    # aggregate), narrowed to the finite-decimal accept-set BOTH
    # engines parse identically — a bare try_cast diverges from the
    # oracle on 'inf'/'NaN'/'1.5f'/overflow strings (casts.py)
    k = try_double_guarded(F.get_json_object("props", "$.k"))
    return (
        e.select("event_type", F.col("value"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.corr("value", "k"), 4).alias("corr_vk"),
            F.round(F.covar_samp("value", "k"), 4).alias("covar_vk"),
            F.round(F.stddev_samp("value"), 4).alias("std_value"),
            F.round(F.var_samp("value"), 4).alias("var_value"),
        )
        .orderBy("event_type")
    )


def q33_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: case, substring, concat, LIKE,
    regexp_extract over part names."""
    p = Tables(spark, sf_dir).part
    return (
        p.filter(F.col("p_name").like("%a%"))
        .select(
            "p_partkey",
            F.upper(F.col("p_brand")).alias("brand_upper"),
            F.substring(F.col("p_name"), 1, 5).alias("name_prefix"),
            F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
            F.regexp_extract(F.col("p_name"), "([a-z]+)$", 1).alias("last_word"),
            F.length("p_name").alias("name_len"),
        )
        .orderBy("p_partkey")
    )


def q34_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER/CASE pattern): per-month order
    stats split by status without multiple scans."""
    o = Tables(spark, sf_dir).orders
    return (
        o.groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))).alias("_f"),
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))).alias("_o"),
            F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        )
        .select(
            "month",
            F.round(F.coalesce(F.col("_f"), F.lit(0.0)), 2).alias("revenue_f"),
            F.round(F.coalesce(F.col("_o"), F.lit(0.0)), 2).alias("revenue_o"),
            "n_urgent",
        )
        .orderBy("month")
    )


ORACLE: dict[str, str] = {
    "q30_argmax": """
        WITH ranked AS (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn_top,
                   row_number() OVER (PARTITION BY o_orderpriority
                                      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn_bot
            FROM orders
        )
        SELECT t.o_orderpriority,
               t.o_orderkey            AS top_orderkey,
               round(t.o_totalprice, 2) AS top_price,
               b.o_orderkey            AS bottom_orderkey
        FROM ranked t JOIN ranked b
          ON t.o_orderpriority = b.o_orderpriority AND t.rn_top = 1 AND b.rn_bot = 1
        ORDER BY t.o_orderpriority
    """,
    "q31_corr_stats": f"""
        -- json_valid guard: json_extract_string raises on malformed
        -- JSON where spark's get_json_object returns NULL;
        -- guarded_double_sql is the exact twin of the spark side's
        -- try_double_guarded — both engines admit only the shared
        -- finite-decimal accept-set (corr/covar skip NULL pairs
        -- identically on both engines)
        SELECT event_type,
               round(corr(value, CASE WHEN json_valid(props) THEN
                   {guarded_double_sql("json_extract_string(props,'$.k')")} END), 4)       AS corr_vk,
               round(covar_samp(value, CASE WHEN json_valid(props) THEN
                   {guarded_double_sql("json_extract_string(props,'$.k')")} END), 4) AS covar_vk,
               round(stddev_samp(value), 4)                                          AS std_value,
               round(var_samp(value), 4)                                             AS var_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "q33_string_funcs": """
        SELECT p_partkey,
               upper(p_brand)                        AS brand_upper,
               substring(p_name, 1, 5)               AS name_prefix,
               concat_ws('/', p_brand, p_type)       AS brand_type,
               regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
               length(p_name)                        AS name_len
        FROM part
        WHERE p_name LIKE '%a%'
        ORDER BY p_partkey
    """,
    "q34_conditional_agg": """
        SELECT date_trunc('month', o_orderdate)::DATE AS month,
               round(coalesce(sum(o_totalprice) FILTER (o_orderstatus = 'F'), 0), 2) AS revenue_f,
               round(coalesce(sum(o_totalprice) FILTER (o_orderstatus = 'O'), 0), 2) AS revenue_o,
               count(*) FILTER (o_orderpriority = '1-URGENT') AS n_urgent
        FROM orders
        GROUP BY 1
        ORDER BY 1
    """,
}

QUERIES = {
    "q30_argmax": q30_argmax,
    "q31_corr_stats": q31_corr_stats,
    "q33_string_funcs": q33_string_funcs,
    "q34_conditional_agg": q34_conditional_agg,
}


def q35_array_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array aggregation: sorted distinct priority list per segment —
    collect_set/sort_array surface. Emitted as a '|'-joined string:
    the driver's pandas canonicalizer can't hash list cells (r01
    TypeError), and a joined string is hash-equivalent."""
    t = Tables(spark, sf_dir)
    return (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.concat_ws("|", F.sort_array(F.collect_set("o_orderpriority"))).alias(
                "priorities"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE["q35_array_agg"] = """
    SELECT c_mktsegment,
           array_to_string(list_sort(list(DISTINCT o_orderpriority)), '|') AS priorities,
           count(*) AS n_orders
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
"""

QUERIES["q35_array_agg"] = q35_array_agg


def q43_regression_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group linear-regression sufficient statistics: for each
    event type, the (n, Σx, Σy, Σxy, Σx²) that define the least-squares
    fit of value over time — slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²).

    Emitting the sufficient statistics instead of the slope is both the
    distributed-correct shape (they're map-side combinable — this IS
    how regr_slope aggregates internally) and integer-exact at the
    gate: x is whole seconds from the group's first event, y is the
    2-decimal value scaled to a long. Overflow bound: Σx² ≤ (2.6e6)²·n
    — fine in int64 to ~n=5e5 per group; beyond that, widen to
    DECIMAL(38,0) (DuckDB's HUGEINT sums never wrap; Spark's long sums
    do, silently).

    Plan: one tiny min-per-group aggregate broadcast back onto the
    fact scan, then a single hash aggregate — no window sort shuffle.
    """
    e = Tables(spark, sf_dir).events
    secs = F.unix_seconds(F.col("ts"))
    base = e.select("event_type", secs.alias("s"), F.round(F.col("value") * 100).cast("long").alias("y"))
    mins = base.groupBy("event_type").agg(F.min("s").alias("s0"))
    xy = base.join(F.broadcast(mins), "event_type").select(
        "event_type", (F.col("s") - F.col("s0")).alias("x"), "y"
    )
    return (
        xy.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .orderBy("event_type")
    )


ORACLE["q43_regression_stats"] = """
    WITH base AS (
        SELECT event_type,
               epoch_us(ts) // 1000000        AS s,
               round(value * 100)::BIGINT     AS y
        FROM events
    ), mins AS (
        SELECT event_type, min(s) AS s0 FROM base GROUP BY event_type
    )
    SELECT b.event_type,
           count(*)                    AS n,
           sum(b.s - m.s0)::BIGINT     AS sx,
           sum(b.y)::BIGINT            AS sy,
           sum((b.s - m.s0) * b.y)::BIGINT      AS sxy,
           sum((b.s - m.s0) * (b.s - m.s0))::BIGINT AS sxx
    FROM base b JOIN mins m USING (event_type)
    GROUP BY b.event_type
    ORDER BY b.event_type
"""

QUERIES["q43_regression_stats"] = q43_regression_stats


# ---------------------------------------------------------------------------
# q51: count-min sketch (mergeable frequency summary)
# ---------------------------------------------------------------------------

def q51_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built
    distributed, then queried for the corpus's top-20 words: estimate =
    min over D rows of the word's bucket count. Unlike q29's built-in
    sketches this one is hand-rolled from deterministic integer
    arithmetic, so the DuckDB oracle verifies it VALUE-FOR-VALUE —
    including the one-sided error property (``est_n >= true_n``
    always; the pytest suite asserts it).

    The sketch is the mergeable-summary shape streaming/approximate
    systems ship at scale: the D×W count grid is a single
    map-side-combinable aggregate (the shuffle carries (row, bucket)
    int pairs, never words), partial grids from any partitioning merge
    by addition, and querying is a broadcast join of the 20 probe rows
    against the 4096-cell grid.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    words = d.select(F.explode(F.split("text", " ")).alias("word"))
    wh = words.withColumn("h", h64(F.col("word")))
    buckets = countmin_cells(F.col("h"))
    cells = wh.select(F.explode(buckets).alias("c")).select("c.d", "c.bucket")
    sketch = cells.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("cnt"))

    top = (
        words.groupBy("word")
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), "word")
        .limit(20)
    )
    probes = top.withColumn("h", h64(F.col("word"))).select(
        "word", "true_n", F.explode(buckets).alias("c")
    )
    return (
        probes.select("word", "true_n", "c.d", "c.bucket")
        .join(F.broadcast(sketch), ["d", "bucket"])
        .groupBy("word", "true_n")
        .agg(F.min("cnt").alias("est_n"))
        .orderBy(F.desc("true_n"), "word")
    )


def _cm_bucket_sql(i: int) -> str:
    from ..functions.hashing import MINHASH_COEFFS, affine_sql
    from ..functions.hashing import h64_sql as _h

    a, b = MINHASH_COEFFS[i]
    return f"({affine_sql(_h('word'), a, b)} % {CM_W})"


ORACLE["q51_countmin"] = f"""
    WITH words AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), cells AS (
        SELECT u.d AS d, u.bucket AS bucket
        FROM (
            SELECT unnest([
                {", ".join(f"{{'d': {i}, 'bucket': {_cm_bucket_sql(i)}}}" for i in range(CM_D))}
            ]) AS u
            FROM words
        )
    ), sketch AS (
        SELECT d, bucket, count(*) AS cnt FROM cells GROUP BY d, bucket
    ), top AS (
        SELECT word, count(*) AS true_n FROM words GROUP BY word
        ORDER BY true_n DESC, word LIMIT 20
    ), probes AS (
        SELECT word, true_n, u.d AS d, u.bucket AS bucket
        FROM (
            SELECT word, true_n, unnest([
                {", ".join(f"{{'d': {i}, 'bucket': {_cm_bucket_sql(i)}}}" for i in range(CM_D))}
            ]) AS u
            FROM top
        )
    )
    SELECT word, true_n, min(cnt)::BIGINT AS est_n
    FROM probes JOIN sketch USING (d, bucket)
    GROUP BY word, true_n
    ORDER BY true_n DESC, word
"""

QUERIES["q51_countmin"] = q51_countmin


# ---------------------------------------------------------------------------
# q54: KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------

KMV_K = 64
H64_SPACE = float(1 << 60)  # h64 is uniform on [0, 2^60)


def q54_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002)
    per source: keep the K smallest distinct word-hash values; the
    K-th smallest ``t_k`` estimates distinct count as
    ``(K−1)·2^60 / t_k``. The mergeable distinct-counting twin of
    q51's count-min (union sketches = union of min-sets, re-trimmed to
    K) — what q29's built-in HLL does, hand-rolled so the DuckDB
    oracle verifies the sketch state VALUE-FOR-VALUE (``t_k`` is an
    exact integer; both engines compute the identical estimate from
    identical operands, rounded to 2dp).

    Scale: per-source state is K longs regardless of cardinality; the
    plan is one distinct-hash aggregate + a per-source top-K (window
    over the tiny distinct relation, or at 100 TB a
    ``sort_array(slice())`` partial-merge shape). Emits the exact
    distinct count alongside so the estimate's error is visible.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    hashes = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .select("source", h64(F.col("word")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    kth = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("source")
        .agg(F.max("h").alias("t_k"), F.count(F.lit(1)).alias("k_held"))
    )
    exact = hashes.groupBy("source").agg(F.count(F.lit(1)).alias("n_exact"))
    est = F.round(F.lit((KMV_K - 1) * H64_SPACE) / F.col("t_k"), 2)
    return (
        kth.join(exact, "source")
        .select("source", "n_exact", "t_k", "k_held", est.alias("est"))
        .orderBy("source")
    )


ORACLE["q54_kmv_distinct"] = f"""
    WITH hashes AS (
        SELECT DISTINCT source, {{h}} AS h
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents)
    ), ranked AS (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashes
    ), kth AS (
        SELECT source, max(h) AS t_k, count(*) AS k_held
        FROM ranked WHERE rn <= {KMV_K} GROUP BY source
    ), exact AS (
        SELECT source, count(*) AS n_exact FROM hashes GROUP BY source
    )
    SELECT source, n_exact, t_k, k_held,
           round({(KMV_K - 1) * H64_SPACE} / t_k, 2) AS est
    FROM kth JOIN exact USING (source)
    ORDER BY source
"""

from ..functions.hashing import h64_sql as _h64s  # noqa: E402

ORACLE["q54_kmv_distinct"] = ORACLE["q54_kmv_distinct"].replace("{h}", _h64s("word"))

QUERIES["q54_kmv_distinct"] = q54_kmv_distinct


# ---------------------------------------------------------------------------
# q65: KMV/theta set operations — sketch-estimated union ∩ intersection
# ---------------------------------------------------------------------------

Q65_K = 64
Q65_SRC_A, Q65_SRC_B = "src0", "src1"


def q65_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch-style SET OPERATIONS on KMV sketches: estimate the
    distinct-union and distinct-intersection of two sources' word sets
    from K-minimum-values state alone — the capability that lets a
    planner answer "how much do these two 50 TB corpora overlap?"
    from two K-long sketches instead of a corpus-sized join.

    Estimator (Dasgupta et al., theta sketches): union sketch = K
    smallest of merged min-sets with threshold t_k; p = |{union
    sample} ∩ A ∩ B|; est_union = (K−1)·2⁶⁰/t_k,
    est_inter = p·est_union/K, Jaccard ≈ p/K. Everything up to the
    final two roundings is BIGINT-exact (hash sets, t_k, p), so the
    oracle verifies the sketch STATE and the estimates byte-for-byte;
    exact counts ride along to expose the error.

    Scale: per-source state is K longs; the membership probe joins the
    K-row union sample (broadcast) against the two hash sets —
    corpus-side work is one distinct-hash aggregate per source, the
    same shuffle any exact distinct pays, after which all set algebra
    is sketch-sized.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents.filter(
        F.col("source").isin(Q65_SRC_A, Q65_SRC_B)
    )
    hashes = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .select("source", h64(F.col("word")).alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    a = hashes.filter(F.col("source") == Q65_SRC_A).select("h")
    b = hashes.filter(F.col("source") == Q65_SRC_B).select("h")
    union_k = (
        a.union(b)
        .distinct()
        .orderBy("h")
        .limit(Q65_K)
        .localCheckpoint(eager=False)
    )
    t_k = union_k.agg(F.max("h").alias("t_k"))
    p = (
        union_k.join(a, "h", "left_semi")
        .join(b, "h", "left_semi")
        .agg(F.count(F.lit(1)).alias("p_common"))
    )
    exact_union = a.union(b).distinct().agg(F.count(F.lit(1)).alias("n_union"))
    exact_inter = a.join(b, "h", "left_semi").agg(F.count(F.lit(1)).alias("n_inter"))
    num = (Q65_K - 1) * float(1 << 60)
    est_u = F.round(F.lit(num) / F.col("t_k"), 2)
    est_i = F.round(F.lit(num) / F.col("t_k") * F.col("p_common") / Q65_K, 2)
    return (
        t_k.crossJoin(p)
        .crossJoin(exact_union)
        .crossJoin(exact_inter)
        .select(
            F.lit(Q65_SRC_A).alias("source_a"),
            F.lit(Q65_SRC_B).alias("source_b"),
            "t_k",
            "p_common",
            est_u.alias("est_union"),
            est_i.alias("est_inter"),
            F.expr(f"p_common * 10000 DIV {Q65_K}").alias("jaccard_est_bp"),
            "n_union",
            "n_inter",
        )
    )


def _q65_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("word")
    num = (Q65_K - 1) * float(1 << 60)
    return f"""
    WITH hashes AS (
        SELECT DISTINCT source, {h} AS h
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word
              FROM documents
              WHERE source IN ('{Q65_SRC_A}', '{Q65_SRC_B}'))
    ),
    a AS (SELECT h FROM hashes WHERE source = '{Q65_SRC_A}'),
    b AS (SELECT h FROM hashes WHERE source = '{Q65_SRC_B}'),
    union_k AS (
        SELECT h FROM (SELECT DISTINCT h FROM (SELECT h FROM a UNION ALL SELECT h FROM b))
        ORDER BY h LIMIT {Q65_K}
    ),
    tk AS (SELECT max(h) AS t_k FROM union_k),
    p AS (
        SELECT count(*)::BIGINT AS p_common FROM union_k u
        WHERE EXISTS (SELECT 1 FROM a WHERE a.h = u.h)
          AND EXISTS (SELECT 1 FROM b WHERE b.h = u.h)
    ),
    eu AS (SELECT count(DISTINCT h)::BIGINT AS n_union
           FROM (SELECT h FROM a UNION ALL SELECT h FROM b)),
    ei AS (SELECT count(*)::BIGINT AS n_inter FROM a
           WHERE EXISTS (SELECT 1 FROM b WHERE b.h = a.h))
    SELECT '{Q65_SRC_A}' AS source_a, '{Q65_SRC_B}' AS source_b,
           t_k, p_common,
           round({num} / t_k, 2) AS est_union,
           round({num} / t_k * p_common / {Q65_K}, 2) AS est_inter,
           (p_common * 10000 // {Q65_K})::BIGINT AS jaccard_est_bp,
           n_union, n_inter
    FROM tk, p, eu, ei
    """


ORACLE["q65_kmv_set_ops"] = _q65_oracle()
QUERIES["q65_kmv_set_ops"] = q65_kmv_set_ops


# ---------------------------------------------------------------------------
# d14: cross-source overlap MATRIX from per-source theta sketches
# ---------------------------------------------------------------------------

D14_K = 64
D14_U = float(1 << 60)


def d14_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise contamination audit across ALL corpus sources at
    sketch cost: one KMV/theta sketch per source (K smallest distinct
    word hashes + threshold t_k), then every source-pair's
    intersection/union distinct estimates computed from the SKETCHES
    ALONE — S² pair estimates from S sketches, never S² corpus joins.
    This generalizes q65 (one fixed pair) to the full matrix: the
    "which of my 200 crawl snapshots overlap enough to dedup
    together" planning query, answered before paying for any join.

    Theta intersection estimator: θ = min(t_k_a, t_k_b);
    est_inter = |{S_a ∩ S_b : h < θ}| · 2⁶⁰ / θ;
    est_union = est_a + est_b − est_inter (inclusion-exclusion).
    Everything through the set algebra is BIGINT-exact (sketch
    arrays, θ, sample counts), so the oracle verifies the estimates
    value-for-value.

    Scale: per-source sketch build is the q54 window top-K (one
    distinct-hash shuffle — paid once, reused for every pair); the
    pair stage joins a |S|-row sketch table to itself (broadcast
    nested loop over S² sketch-sized rows — S=20 here; at S=10⁴ it is
    still a 10⁸-cheap-array-ops job, no corpus access).
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    hashes = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .select("source", h64(F.col("word")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("h")
    sketches = (
        hashes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= D14_K)
        .groupBy("source")
        .agg(F.sort_array(F.collect_list("h")).alias("sk"), F.max("h").alias("t_k"))
        .withColumn("est", F.round(F.lit((D14_K - 1) * D14_U) / F.col("t_k"), 2))
        .localCheckpoint(eager=False)
    )
    a = sketches.select(
        F.col("source").alias("src_a"),
        F.col("sk").alias("sk_a"),
        F.col("t_k").alias("tk_a"),
        F.col("est").alias("est_a"),
    )
    b = sketches.select(
        F.col("source").alias("src_b"),
        F.col("sk").alias("sk_b"),
        F.col("t_k").alias("tk_b"),
        F.col("est").alias("est_b"),
    )
    pairs = a.join(b, F.col("src_a") < F.col("src_b"))
    theta = F.least("tk_a", "tk_b")
    common = F.size(
        F.filter(
            F.array_intersect("sk_a", "sk_b"), lambda x: x < theta
        )
    ).cast("long")
    est_inter = F.round(common * F.lit(D14_U) / theta, 2)
    return pairs.select(
        "src_a",
        "src_b",
        theta.alias("theta"),
        common.alias("common_below_theta"),
        "est_a",
        "est_b",
        est_inter.alias("est_inter"),
        F.round(F.col("est_a") + F.col("est_b") - est_inter, 2).alias("est_union"),
    ).orderBy("src_a", "src_b")


def _d14_oracle() -> str:
    from ..functions.hashing import h64_sql

    h = h64_sql("word")
    num = (D14_K - 1) * D14_U
    return f"""
    WITH hashes AS (
        SELECT DISTINCT source, {h} AS h
        FROM (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
    ),
    ranked AS (
        SELECT source, h,
               row_number() OVER (PARTITION BY source ORDER BY h) AS rn
        FROM hashes
    ),
    sketches AS (
        SELECT source,
               list_sort(list(h)) AS sk,
               max(h) AS t_k,
               round({num} / max(h), 2) AS est
        FROM ranked WHERE rn <= {D14_K} GROUP BY source
    )
    SELECT a.source AS src_a, b.source AS src_b,
           least(a.t_k, b.t_k) AS theta,
           len(list_filter(list_intersect(a.sk, b.sk),
                           x -> x < least(a.t_k, b.t_k)))::BIGINT AS common_below_theta,
           a.est AS est_a, b.est AS est_b,
           round(len(list_filter(list_intersect(a.sk, b.sk),
                                 x -> x < least(a.t_k, b.t_k)))
                 * {D14_U} / least(a.t_k, b.t_k), 2) AS est_inter,
           round(a.est + b.est
                 - round(len(list_filter(list_intersect(a.sk, b.sk),
                                         x -> x < least(a.t_k, b.t_k)))
                         * {D14_U} / least(a.t_k, b.t_k), 2), 2) AS est_union
    FROM sketches a JOIN sketches b ON a.source < b.source
    ORDER BY src_a, src_b
    """


ORACLE["d14_source_overlap_matrix"] = _d14_oracle()
QUERIES["d14_source_overlap_matrix"] = d14_source_overlap_matrix


# ---------------------------------------------------------------------------
# q120: Mann-Whitney U test (returned vs accepted quantity distributions)
# ---------------------------------------------------------------------------


def q120_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) comparing the line-item
    quantity distribution of returnflag 'A' vs 'R' — the
    nonparametric two-sample test (q43 fits lines, q87 tests
    categorical independence; this asks "does one group
    stochastically dominate the other" with no normality
    assumption), reported as the scale-free AUC effect size
    (P(x_A > x_B) + ½P(=), in ppm) and a tie-corrected z.

    The textbook formulation ranks the pooled corpus — a global
    sort. Quantity has a BOUNDED integer domain, so U needs only the
    per-value group histogram: U_A = Σ_v n_A(v)·(cumB(<v) + n_B(v)/2)
    — one map-side-combinable ≤50-row aggregate, a running frame
    over that grid, and ordered folds for the float sums. Raw U is
    QUADRATIC in counts (the q107 overflow lesson), so every
    reported number is scale-free (AUC ppm, z) or linear (group
    sizes); products are formed in double.
    """
    # NULL quantities are excluded (rank statistics are over observed
    # VALUES; a NULL grid group would also diverge cross-engine on the
    # cumulative windows: Spark orders NULLS FIRST, DuckDB NULLS LAST)
    li = Tables(spark, sf_dir).lineitem.filter(
        F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").isNotNull()
    ).select(
        F.col("l_quantity").cast("long").alias("v"),
        (F.col("l_returnflag") == "A").cast("long").alias("is_a"),
    )
    grid = li.groupBy("v").agg(
        F.sum("is_a").alias("na"),
        F.sum(1 - F.col("is_a")).alias("nb"),
    )
    w_below = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    g2 = grid.select(
        "v",
        "na",
        "nb",
        F.coalesce(F.sum("nb").over(w_below), F.lit(0)).alias("cumb"),
    )
    one = g2.agg(
        F.array_sort(F.collect_list(F.struct("v", "na", "nb", "cumb"))).alias(
            "a"
        )
    )
    fold = lambda expr: F.aggregate(F.col("a"), F.lit(0.0), expr)
    u_a = fold(lambda acc, x: acc + x["na"] * (x["cumb"] + x["nb"] / 2.0))
    t3 = fold(
        lambda acc, x: acc
        + (
            (x["na"] + x["nb"]).cast("double")
            * (x["na"] + x["nb"])
            * (x["na"] + x["nb"])
            - (x["na"] + x["nb"])
        )
    )
    na_tot = F.aggregate(
        F.col("a"), F.lit(0).cast("long"), lambda acc, x: acc + x["na"]
    )
    nb_tot = F.aggregate(
        F.col("a"), F.lit(0).cast("long"), lambda acc, x: acc + x["nb"]
    )
    scored = one.select(
        na_tot.alias("n_a"),
        nb_tot.alias("n_b"),
        F.size("a").alias("n_values"),
        u_a.alias("u"),
        t3.alias("t3"),
    )
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    nd = nad + nbd
    mu = nad * nbd / 2.0
    var = nad * nbd / 12.0 * ((nd + 1.0) - F.col("t3") / (nd * (nd - 1.0)))
    # guards (degenerate-mode fuzz catch, round 10): with one group
    # absent the AUC is undefined, and with n<2 or an all-tied pool
    # var=0 — each previously an ANSI divide-by-zero job abort. The
    # when-nesting matters: var's own formula divides by nd(nd-1), so
    # it must not be EVALUATED until the outer n>1 guard holds. The
    # oracle mirrors with nested CASE (DuckDB lazily NULLs float /0,
    # so the match is NULL-for-NULL).
    return scored.select(
        "n_a",
        "n_b",
        "n_values",
        F.when(
            F.col("n_a") * F.col("n_b") > 0,
            F.floor(F.col("u") * 1000000.0 / (nad * nbd) + 0.5).cast("long"),
        ).alias("auc_ppm"),
        F.when(
            (F.col("n_a") * F.col("n_b") > 0) & (F.col("n_a") + F.col("n_b") > 1),
            F.when(
                var > 0,
                F.floor((F.col("u") - mu) / F.sqrt(var) * 1000.0 + 0.5).cast("long"),
            ),
        ).alias("z_milli"),
    )


ORACLE["q120_mann_whitney"] = """
    WITH li AS (
        SELECT l_quantity::BIGINT AS v,
               (l_returnflag = 'A')::BIGINT AS is_a
        FROM lineitem
        WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
    ),
    grid AS (
        SELECT v, sum(is_a)::BIGINT AS na, sum(1 - is_a)::BIGINT AS nb
        FROM li GROUP BY v
    ),
    g2 AS (
        SELECT v, na, nb,
               coalesce(sum(nb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS cumb
        FROM grid
    ),
    one AS (
        SELECT list({'v': v, 'na': na, 'nb': nb, 'cumb': cumb}
                    ORDER BY v) AS a
        FROM g2
    ),
    scored AS (
        SELECT list_reduce(list_prepend(0::BIGINT,
                   [x.na FOR x IN a]), (p, q) -> p + q) AS n_a,
               list_reduce(list_prepend(0::BIGINT,
                   [x.nb FOR x IN a]), (p, q) -> p + q) AS n_b,
               len(a)::BIGINT AS n_values,
               list_reduce(list_prepend(0.0::DOUBLE,
                   [x.na * (x.cumb + x.nb / 2.0) FOR x IN a]),
                   (p, q) -> p + q) AS u,
               list_reduce(list_prepend(0.0::DOUBLE,
                   [(x.na + x.nb)::DOUBLE * (x.na + x.nb) * (x.na + x.nb)
                    - (x.na + x.nb) FOR x IN a]),
                   (p, q) -> p + q) AS t3
        FROM one
    )
    SELECT n_a, n_b, coalesce(n_values, 0)::BIGINT AS n_values,
           CASE WHEN n_a * n_b > 0 THEN
               floor(u * 1000000.0 / (n_a::DOUBLE * n_b) + 0.5)::BIGINT
           END AS auc_ppm,
           CASE WHEN n_a * n_b > 0 AND n_a + n_b > 1 THEN
               CASE WHEN n_a::DOUBLE * n_b / 12.0
                         * (((n_a::DOUBLE + n_b) + 1.0)
                            - t3 / ((n_a::DOUBLE + n_b)
                                    * ((n_a::DOUBLE + n_b) - 1.0))) > 0 THEN
                   floor((u - n_a::DOUBLE * n_b / 2.0)
                         / sqrt(n_a::DOUBLE * n_b / 12.0
                                * (((n_a::DOUBLE + n_b) + 1.0)
                                   - t3 / ((n_a::DOUBLE + n_b)
                                           * ((n_a::DOUBLE + n_b) - 1.0))))
                         * 1000.0 + 0.5)::BIGINT
               END
           END AS z_milli
    FROM scored
"""
QUERIES["q120_mann_whitney"] = q120_mann_whitney


# ---------------------------------------------------------------------------
# q121: Kendall tau-b rank correlation (quantity vs discount)
# ---------------------------------------------------------------------------


def q121_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between line-item quantity and
    discount — the ordinal-association member of the dependence
    family (q31 Pearson assumes linearity, q118 MI ignores order;
    tau-b measures monotone association with exact tie handling).

    The textbook computation is O(n²) pairs or a merge-sort over the
    corpus; both columns have BOUNDED integer domains, so every pair
    statistic is computable from the ≤ 50×11 contingency grid:
    concordant pairs C = Σ_cell n·(mass strictly greater in both
    coords), discordant likewise — the dominance masses come from a
    grid self-join (≤550² comparisons, data-size-independent), and
    C/D/tie products are formed in DOUBLE and summed by ordered
    folds (quadratic-magnitude integers are the q107 overflow trap).
    Reported numbers are scale-free: concordant/discordant ppm of
    all pairs and tau_b in micro-units.
    """
    li = Tables(spark, sf_dir).lineitem.select(
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5))
        .cast("long")
        .alias("d"),
    )
    cells = li.groupBy("q", "d").agg(F.count(F.lit(1)).alias("n"))
    a, b = cells.alias("a"), cells.alias("b")
    gg = (
        a.join(
            F.broadcast(b),
            (F.col("b.q") > F.col("a.q")) & (F.col("b.d") > F.col("a.d")),
        )
        .groupBy(F.col("a.q").alias("q"), F.col("a.d").alias("d"))
        .agg(F.sum("b.n").alias("ngg"))
    )
    gl = (
        a.join(
            F.broadcast(b),
            (F.col("b.q") > F.col("a.q")) & (F.col("b.d") < F.col("a.d")),
        )
        .groupBy(F.col("a.q").alias("q"), F.col("a.d").alias("d"))
        .agg(F.sum("b.n").alias("ngl"))
    )
    g = (
        cells.join(gg, ["q", "d"], "left")
        .join(gl, ["q", "d"], "left")
        .select(
            "q",
            "d",
            "n",
            F.coalesce("ngg", F.lit(0)).alias("ngg"),
            F.coalesce("ngl", F.lit(0)).alias("ngl"),
        )
    )
    one = g.agg(
        F.array_sort(
            F.collect_list(F.struct("q", "d", "n", "ngg", "ngl"))
        ).alias("a")
    )
    foldd = lambda expr: F.aggregate(F.col("a"), F.lit(0.0), expr)
    c_sum = foldd(lambda acc, x: acc + x["n"].cast("double") * x["ngg"])
    d_sum = foldd(lambda acc, x: acc + x["n"].cast("double") * x["ngl"])
    n_tot = F.aggregate(
        F.col("a"), F.lit(0).cast("long"), lambda acc, x: acc + x["n"]
    )
    # tie masses per margin: ordered folds over the margin grids
    mq = (
        cells.groupBy("q")
        .agg(F.sum("n").alias("t"))
        .agg(F.array_sort(F.collect_list(F.struct("q", "t"))).alias("m"))
        .select(
            F.aggregate(
                F.col("m"),
                F.lit(0.0),
                lambda acc, x: acc + x["t"].cast("double") * (x["t"] - 1) / 2.0,
            ).alias("tx")
        )
    )
    md = (
        cells.groupBy("d")
        .agg(F.sum("n").alias("t"))
        .agg(F.array_sort(F.collect_list(F.struct("d", "t"))).alias("m"))
        .select(
            F.aggregate(
                F.col("m"),
                F.lit(0.0),
                lambda acc, x: acc + x["t"].cast("double") * (x["t"] - 1) / 2.0,
            ).alias("ty")
        )
    )
    scored = (
        one.select(
            F.size("a").alias("n_cells"),
            n_tot.alias("n"),
            c_sum.alias("c"),
            d_sum.alias("dd"),
        )
        .crossJoin(F.broadcast(mq))
        .crossJoin(F.broadcast(md))
    )
    nd = F.col("n").cast("double")
    t_all = nd * (nd - 1) / 2.0
    tau = (F.col("c") - F.col("dd")) / F.sqrt(
        (t_all - F.col("tx")) * (t_all - F.col("ty"))
    )
    # guards (degenerate-mode fuzz catch, round 10): n<2 has no pairs
    # (t_all=0) and an all-tied column zeroes the tau denominator —
    # each previously an ANSI divide-by-zero job abort. DuckDB NULLs
    # float /0 lazily, so the guarded NULLs here match the oracle's
    # un-guarded NULLs case-for-case; the when-nesting keeps tau's own
    # division unevaluated until its denominator is proven positive.
    tau_den = (t_all - F.col("tx")) * (t_all - F.col("ty"))
    return scored.select(
        "n",
        "n_cells",
        F.when(
            F.col("n") > 1,
            F.floor(F.col("c") * 1000000.0 / t_all + 0.5).cast("long"),
        ).alias("concordant_ppm"),
        F.when(
            F.col("n") > 1,
            F.floor(F.col("dd") * 1000000.0 / t_all + 0.5).cast("long"),
        ).alias("discordant_ppm"),
        F.when(
            F.col("n") > 1,
            F.when(tau_den > 0, F.floor(tau * 1000000.0 + 0.5).cast("long")),
        ).alias("tau_micro"),
    )


ORACLE["q121_kendall_tau"] = """
    WITH li AS (
        SELECT l_quantity::BIGINT AS q,
               floor(l_discount * 100 + 0.5)::BIGINT AS d
        FROM lineitem
    ),
    cells AS (
        SELECT q, d, count(*)::BIGINT AS n FROM li GROUP BY q, d
    ),
    dom AS (
        SELECT a.q, a.d, a.n,
               coalesce(sum(CASE WHEN b.q > a.q AND b.d > a.d
                                 THEN b.n END), 0)::BIGINT AS ngg,
               coalesce(sum(CASE WHEN b.q > a.q AND b.d < a.d
                                 THEN b.n END), 0)::BIGINT AS ngl
        FROM cells a, cells b
        GROUP BY a.q, a.d, a.n
    ),
    one AS (
        SELECT list({'q': q, 'd': d, 'n': n, 'ngg': ngg, 'ngl': ngl}
                    ORDER BY q, d) AS a
        FROM dom
    ),
    folds AS (
        -- coalesce: len(NULL list from an empty corpus) is NULL in
        -- DuckDB where Spark's size([]) is 0 (degenerate-mode fuzz)
        SELECT coalesce(len(a), 0)::BIGINT AS n_cells,
               list_reduce(list_prepend(0::BIGINT, [x.n FOR x IN a]),
                   (p, s) -> p + s) AS n,
               list_reduce(list_prepend(0.0::DOUBLE,
                   [x.n::DOUBLE * x.ngg FOR x IN a]), (p, s) -> p + s) AS c,
               list_reduce(list_prepend(0.0::DOUBLE,
                   [x.n::DOUBLE * x.ngl FOR x IN a]), (p, s) -> p + s) AS dd
        FROM one
    ),
    mq AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE,
                   [x.t::DOUBLE * (x.t - 1) / 2.0 FOR x IN
                    list({'q': q, 't': t} ORDER BY q)]),
                   (p, s) -> p + s) AS tx
        FROM (SELECT q, sum(n)::BIGINT AS t FROM cells GROUP BY q)
    ),
    md AS (
        SELECT list_reduce(list_prepend(0.0::DOUBLE,
                   [x.t::DOUBLE * (x.t - 1) / 2.0 FOR x IN
                    list({'d': d, 't': t} ORDER BY d)]),
                   (p, s) -> p + s) AS ty
        FROM (SELECT d, sum(n)::BIGINT AS t FROM cells GROUP BY d)
    )
    SELECT n, n_cells,
           floor(c * 1000000.0 / (n::DOUBLE * (n::DOUBLE - 1) / 2.0)
                 + 0.5)::BIGINT AS concordant_ppm,
           floor(dd * 1000000.0 / (n::DOUBLE * (n::DOUBLE - 1) / 2.0)
                 + 0.5)::BIGINT AS discordant_ppm,
           floor((c - dd) / sqrt(((n::DOUBLE * (n::DOUBLE - 1) / 2.0) - tx)
                 * ((n::DOUBLE * (n::DOUBLE - 1) / 2.0) - ty))
                 * 1000000.0 + 0.5)::BIGINT AS tau_micro
    FROM folds, mq, md
"""
QUERIES["q121_kendall_tau"] = q121_kendall_tau


# ---------------------------------------------------------------------------
# q122: two-sample Kolmogorov-Smirnov distance on the bounded grid
# ---------------------------------------------------------------------------


def q122_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the 'A' and 'R'
    quantity distributions: D = max_v |F_A(v) − F_B(v)| — the
    distribution-shape complement to q120 (Mann-Whitney sees location
    shift; KS sees ANY CDF divergence). Same bounded-domain shape as
    q120: one ≤50-row group histogram, running frames over the grid,
    and a grid-sized max — no pooled sort, nothing quadratic.

    Exactness: each CDF is an integer ppm floor-division of its own
    group count (never a cross-product of counts — cumA·nB is the
    q107 overflow bomb), so D_ppm is exact integer arithmetic with a
    documented ≤1 ppm quantization per side; the asymptotic
    significance scale sqrt(nA·nB/(nA+nB))·D is double with fixed
    operand order.
    """
    # NULL quantities are excluded from the distribution (a KS test is
    # over observed VALUES; NULL carries no CDF position — and a NULL
    # grid group would also diverge cross-engine: Spark's default
    # window ORDER BY puts NULLS FIRST, DuckDB's NULLS LAST, silently
    # shifting every cumulative count). ADVICE_r11: the tie-break
    # guard below additionally carries an explicit NULL arm as
    # defense-in-depth, so even an unexpected NULL degrades to a NULL
    # encoding max() skips instead of a raise_error abort.
    li = Tables(spark, sf_dir).lineitem.filter(
        F.col("l_returnflag").isin("A", "R") & F.col("l_quantity").isNotNull()
    ).select(
        F.col("l_quantity").cast("long").alias("v"),
        (F.col("l_returnflag") == "A").cast("long").alias("is_a"),
    )
    grid = li.groupBy("v").agg(
        F.sum("is_a").alias("na"), F.sum(1 - F.col("is_a")).alias("nb")
    )
    w_cum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    # nullif on the per-group totals (degenerate-mode fuzz catch,
    # round 10): with one flag absent its CDF denominator is 0 —
    # previously an ANSI divide-by-zero job abort; now every d_ppm is
    # NULL and the whole statistic degrades to NULL identically on
    # both engines.
    g = grid.select(
        "v",
        F.expr(
            "sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) * 1000000 "
            "DIV nullif(sum(na) OVER (), 0)"
        ).alias("cdfa_ppm"),
        F.expr(
            "sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) * 1000000 "
            "DIV nullif(sum(nb) OVER (), 0)"
        ).alias("cdfb_ppm"),
        F.sum("na").over(w_all).alias("n_a"),
        F.sum("nb").over(w_all).alias("n_b"),
    )
    d_ppm = F.abs(F.col("cdfa_ppm") - F.col("cdfb_ppm"))
    nad = F.col("n_a").cast("double")
    nbd = F.col("n_b").cast("double")
    ks_scale = F.sqrt(nad * nbd / (nad + nbd)) * (
        F.col("d_ppm").cast("double") / 1000000.0
    )
    # argmax-with-tiebreak as ONE integer encoding (max d_ppm, then
    # min v): quantity is domain-bounded « 999, so enc = d_ppm*1000 +
    # (999 - v) sorts exactly like (d_ppm DESC, v ASC). max() skips
    # NULL encodings on both engines, so an all-NULL d_ppm column
    # yields a NULL at_v instead of the engine-dependent row a min_by
    # over NULL struct keys / a row_number over NULL orderings picks.
    # The domain assumption is GUARDED, not just commented (ADVICE_r10):
    # v outside [0,999] would silently mis-decode the same way on both
    # engines — the one corruption shape oracle parity cannot catch —
    # so both the engine (raise_error) and the oracle (error()) abort
    # loudly if a future dataset ever widens the quantity domain.
    # Explicit NULL arm FIRST (ADVICE_r11): NULL BETWEEN 0 AND 999 is
    # NULL, so without it a NULL at_v fell through to raise_error —
    # aborting the job (with a NULL message: concat of a NULL cast)
    # instead of degrading to a NULL encoding that max() skips, as the
    # surrounding NULL design intends. The guard must only fire on a
    # REAL out-of-domain value.
    guarded_v = (
        "CASE WHEN at_v IS NULL THEN NULL "
        "WHEN at_v BETWEEN 0 AND 999 THEN at_v ELSE "
        "raise_error(concat('q122: at_v=', cast(at_v AS string), "
        "' outside [0,999] breaks the tie-break encoding')) END"
    )
    return (
        g.select(
            "n_a", "n_b", d_ppm.alias("d_ppm"), F.col("v").alias("at_v")
        )
        .groupBy("n_a", "n_b")
        .agg(
            F.max("d_ppm").alias("d_ppm"),
            F.max(F.expr(f"d_ppm * 1000 + (999 - ({guarded_v}))")).alias("enc"),
        )
        .select(
            "n_a",
            "n_b",
            "d_ppm",
            F.expr("999 - enc % 1000").alias("at_v"),
            F.floor(ks_scale * 1000.0 + 0.5).cast("long").alias("ks_milli"),
        )
    )


ORACLE["q122_ks_test"] = """
    WITH li AS (
        SELECT l_quantity::BIGINT AS v,
               (l_returnflag = 'A')::BIGINT AS is_a
        FROM lineitem
        WHERE l_returnflag IN ('A', 'R') AND l_quantity IS NOT NULL
    ),
    grid AS (
        SELECT v, sum(is_a)::BIGINT AS na, sum(1 - is_a)::BIGINT AS nb
        FROM li GROUP BY v
    ),
    g AS (
        SELECT v,
               (sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                * 1000000 // nullif(sum(na) OVER (), 0))::BIGINT AS cdfa_ppm,
               (sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
                * 1000000 // nullif(sum(nb) OVER (), 0))::BIGINT AS cdfb_ppm,
               sum(na) OVER ()::BIGINT AS n_a,
               sum(nb) OVER ()::BIGINT AS n_b
        FROM grid
    ),
    scored AS (
        SELECT n_a, n_b, abs(cdfa_ppm - cdfb_ppm)::BIGINT AS d_ppm, v
        FROM g
    ),
    best AS (
        SELECT n_a, n_b,
               max(d_ppm)::BIGINT AS d_ppm,
               max(d_ppm * 1000 + (999 - CASE
                   WHEN v IS NULL THEN NULL
                   WHEN v BETWEEN 0 AND 999 THEN v
                   ELSE error('q122: v outside [0,999] breaks the tie-break encoding')
               END)) AS enc
        FROM scored GROUP BY n_a, n_b
    )
    SELECT n_a, n_b, d_ppm,
           (999 - enc % 1000)::BIGINT AS at_v,
           floor(sqrt(n_a::DOUBLE * n_b / (n_a::DOUBLE + n_b))
                 * (d_ppm::DOUBLE / 1000000.0) * 1000.0 + 0.5)::BIGINT
               AS ks_milli
    FROM best
"""
QUERIES["q122_ks_test"] = q122_ks_test


# ---------------------------------------------------------------------------
# q124: paired permutation test (seeded sign-flip resampling)
# ---------------------------------------------------------------------------

Q124_CUTOFF = "1995-06-01"  # early vs late spend split
Q124_PERMS = 64             # deterministic sign-flip permutations


def q124_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired permutation test — the resampling-INFERENCE member the
    family lacked (q114 bootstraps a CI; q120/q121/q122 are rank
    tests; this is the exact-null significance machine). Per customer,
    d = early spend − late spend (cents, exact); under H0 (no shift)
    each d is symmetric, so the null distribution of T = Σd comes from
    sign-flipping: permutation p flips d's sign where
    h64(custkey|p) is odd. p-value = (1 + #{p: |T_p| ≥ |T|}) / (P+1),
    reported in exact milli-units.

    Everything is integer-exact end to end: cents differences, ±sums,
    the final floor division — no float ever exists, so both engines
    hash-match bit-for-bit (the q90/q73 discipline, applied to
    resampling).

    Scale: the P-way resample is an explode over a LITERAL sequence
    (never-empty — immune to the InferFiltersFromGenerate
    double-evaluation trap) followed by a map-side-combinable ±sum:
    the shuffle carries P rows per partition, and P is a constant —
    no corpus-sized blowup reaches any exchange.
    """
    # the diff table feeds BOTH the observed stat and the 64-way
    # permutation explode — checkpoint the one corpus aggregate
    # rather than paying the orders scan twice (un-checkpointed shape
    # pinned in test_plans::test_checkpointed_aggregates_keep_plan_shape)
    d = _q124_diffs(Tables(spark, sf_dir).orders).localCheckpoint(eager=False)
    obs = d.agg(
        F.count(F.lit(1)).alias("n_units"),
        F.sum("d").alias("t_obs_cents"),
    )
    from ..functions.hashing import h64

    signed = d.select(
        "o_custkey",
        "d",
        F.explode(F.sequence(F.lit(0), F.lit(Q124_PERMS - 1))).alias("p"),
    ).withColumn(
        "sd",
        F.when(
            h64(
                F.concat_ws(
                    "|", F.col("o_custkey").cast("string"), F.col("p").cast("string")
                )
            )
            % 2
            == 0,
            F.col("d"),
        ).otherwise(-F.col("d")),
    )
    tp = signed.groupBy("p").agg(F.sum("sd").alias("t_p"))
    return (
        tp.crossJoin(F.broadcast(obs))
        .agg(
            F.max("n_units").alias("n_units"),
            F.max("t_obs_cents").alias("t_obs_cents"),
            F.count(F.lit(1)).alias("n_perms"),
            F.sum(
                (F.abs(F.col("t_p")) >= F.abs(F.col("t_obs_cents"))).cast("long")
            ).alias("n_extreme"),
        )
        .select(
            "n_units",
            "t_obs_cents",
            "n_perms",
            "n_extreme",
            F.expr(f"(1000 * (1 + n_extreme)) DIV ({Q124_PERMS} + 1)").alias(
                "p_milli"
            ),
        )
        # degenerate: with no paired units there are no permutation
        # rows, and the grand agg would emit one all-NULL row where
        # the oracle's CTE join emits none — drop it (degenerate-mode
        # fuzz catch, round 10)
        .filter(F.col("n_perms") > 0)
    )


def _q124_diffs(o: DataFrame) -> DataFrame:
    """q124's per-customer (early − late) cents difference aggregate,
    UN-checkpointed — factored so the plan harness can pin its shape
    (one map-side-combinable hash agg over the orders scan)."""
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        o.select("o_custkey", "o_orderdate", cents.alias("cents"))
        .groupBy("o_custkey")
        .agg(
            (
                F.sum(
                    F.when(F.col("o_orderdate") < Q124_CUTOFF, F.col("cents"))
                    .otherwise(F.lit(0))
                )
                - F.sum(
                    F.when(F.col("o_orderdate") >= Q124_CUTOFF, F.col("cents"))
                    .otherwise(F.lit(0))
                )
            ).alias("d")
        )
    )


def _q124_oracle() -> str:
    from ..functions.hashing import h64_sql

    sign_key = h64_sql("o_custkey::VARCHAR || '|' || p.p::VARCHAR")
    return f"""
    WITH d AS (
        SELECT o_custkey,
               (sum(CASE WHEN o_orderdate < '{Q124_CUTOFF}'
                         THEN round(o_totalprice * 100)::BIGINT ELSE 0 END)
              - sum(CASE WHEN o_orderdate >= '{Q124_CUTOFF}'
                         THEN round(o_totalprice * 100)::BIGINT ELSE 0 END)
               )::BIGINT AS d
        FROM orders GROUP BY o_custkey
    ),
    obs AS (
        SELECT count(*)::BIGINT AS n_units, sum(d)::BIGINT AS t_obs
        FROM d
    ),
    perm AS (
        SELECT p.p,
               sum(CASE WHEN {sign_key} % 2 = 0 THEN d ELSE -d END)::BIGINT
                   AS t_p
        FROM d
        CROSS JOIN (SELECT unnest(generate_series(0, {Q124_PERMS - 1})) AS p) p
        GROUP BY p.p
    )
    SELECT n_units,
           t_obs AS t_obs_cents,
           count(*)::BIGINT AS n_perms,
           sum((abs(t_p) >= abs(t_obs))::INT)::BIGINT AS n_extreme,
           ((1000 * (1 + sum((abs(t_p) >= abs(t_obs))::INT)))
            // ({Q124_PERMS} + 1))::BIGINT AS p_milli
    FROM perm CROSS JOIN obs
    GROUP BY n_units, t_obs
    """


ORACLE["q124_permutation_test"] = _q124_oracle()
QUERIES["q124_permutation_test"] = q124_permutation_test


# ---------------------------------------------------------------------------
# q128: AMS (tug-of-war) second frequency moment — self-join size estimate
# ---------------------------------------------------------------------------

AMS_HASHES = 2   # independent 60-bit h64 draws per row (salted)
# 48 sign sketches per hash -> K = 96 total. K was tuned on the
# measured warm sf0.1 cost of the 1-row sketch aggregate (the sums
# run on the scan's own partitions, no shuffle): 4.5-4.8 s at K=120
# vs 2.5-2.9 s at K=96, with only ~0.2 s more saved at K=80 — while
# estimator std tracks sqrt(2/K) (13% at 120, 14% at 96, 16% at 80).
# K=96 sits just past the cost knee at 1.4 points of extra noise.
AMS_BITS = 48
AMS_K = AMS_HASHES * AMS_BITS


def q128_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second frequency moment F2 = Σ_v f_v² of the ``l_partkey``
    distribution — the SELF-JOIN SIZE, the quantity a cost-based
    planner needs before committing to a key shuffle — estimated by
    the Alon-Matias-Szegedy tug-of-war linear sketch (Alon, Matias,
    Szegedy, STOC'96) next to the exact value, with the estimator
    error in ppm.

    Sketch: K = 120 sign counters. Counter (j,k) sums sign_{j,k}(key)
    = ±1 from bit k of h64(key ':' j) — two salted 60-bit hashes per
    row, 60 bit extractions each (the paper's 4-wise independent
    families are approximated by distinct md5 bits; documented
    trade). Each X_{j,k} = s_{j,k}²
    has E[X] = F2; the estimate is the MEAN of the 120 (relative
    std ≈ sqrt(2/K) ≈ 13%). Everything is one pass of ±1 integer
    sums — the partials are plain SUMs, so the sketch is map-side
    combinable and MERGEABLE across shards/streams (sums add; the
    exact F2 needs the full key shuffle the sketch exists to avoid —
    computed here only as the audit column).

    Scale: the sketch side is a single global aggregate (no key
    shuffle, 121 longs of state). |s| ≤ n so X ≤ n² and ΣX ≤ K·n²:
    past ~10⁸ rows per shard the sum nears BIGINT — shard the input
    and merge the per-shard SIGN SUMS first (they add losslessly),
    which is how the 100 TB run uses it anyway. The exact column's
    groupBy is the expensive audit path a production run drops.
    """
    # ONE md5 per row: the two 60-bit draws are disjoint 15-hex-digit
    # halves of the same digest (md5 bit independence) — a salted second md5 doubled the scan's hash cost
    # for no estimator benefit (measured 2.7 -> 1.9 s warm at sf0.1)
    li = (
        Tables(spark, sf_dir)
        .lineitem.select(F.md5(F.col("l_partkey").cast("string")).alias("md"))
        .select(
            *[
                F.conv(F.substring(F.col("md"), 1 + 15 * j, 15), 16, 10)
                .cast("long")
                .alias(f"h{j}")
                for j in range(AMS_HASHES)
            ]
        )
    )
    sketch = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.sum(F.expr(f"1 - 2 * ((h{j} >> {k}) & 1)"))
            .cast("long")
            .alias(f"s{j}_{k}")
            for j in range(AMS_HASHES)
            for k in range(AMS_BITS)
        ],
    )
    mean_sq = " + ".join(
        f"s{j}_{k} * s{j}_{k}" for j in range(AMS_HASHES) for k in range(AMS_BITS)
    )
    est = sketch.select(
        "n_rows",
        F.expr(f"({mean_sq}) DIV {AMS_K}").alias("f2_ams"),
    )
    exact = (
        Tables(spark, sf_dir)
        .lineitem.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("f2_exact"),
        )
    )
    # single-row × single-row scalar combine (the q65 crossJoin shape)
    return est.crossJoin(exact).select(
        "n_rows",
        "n_keys",
        "f2_exact",
        "f2_ams",
        F.expr(
            "abs(f2_ams - f2_exact) * 1000000 DIV nullif(f2_exact, 0)"
        ).alias("err_ppm"),
    )


def _q128_oracle() -> str:
    hashes = ", ".join(
        "('0x' || substr(m, %d, 15))::BIGINT AS h%d" % (1 + 15 * j, j)
        for j in range(AMS_HASHES)
    )
    sums = ", ".join(
        f"sum(1 - 2 * ((h{j} >> {k}) & 1))::BIGINT AS s{j}_{k}"
        for j in range(AMS_HASHES)
        for k in range(AMS_BITS)
    )
    mean_sq = " + ".join(
        f"s{j}_{k} * s{j}_{k}" for j in range(AMS_HASHES) for k in range(AMS_BITS)
    )
    return f"""
    WITH md AS (SELECT md5(l_partkey::VARCHAR) AS m FROM lineitem),
    h AS (SELECT {hashes} FROM md),
    sk AS (SELECT count(*)::BIGINT AS n_rows, {sums} FROM h),
    est AS (SELECT n_rows, (({mean_sq}) // {AMS_K})::BIGINT AS f2_ams FROM sk),
    ex AS (
        SELECT count(*)::BIGINT AS n_keys, sum(c * c)::BIGINT AS f2_exact
        FROM (SELECT count(*)::BIGINT AS c FROM lineitem GROUP BY l_partkey)
    )
    SELECT n_rows, n_keys, f2_exact, f2_ams,
           (abs(f2_ams - f2_exact) * 1000000 // nullif(f2_exact, 0))::BIGINT
               AS err_ppm
    FROM est, ex
"""


QUERIES["q128_ams_f2"] = q128_ams_f2
ORACLE["q128_ams_f2"] = _q128_oracle()


# ---------------------------------------------------------------------------
# q129: quantized forward-decay event counts (recency weighting)
# ---------------------------------------------------------------------------

Q129_HALF_LIFE_SEC = 7 * 86400  # one half-life per week


def q129_decayed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decayed event counts per event type — the recency
    weighting a training-data pipeline applies when fresh data should
    outweigh stale data. Forward/backward exponential decay (Cormode,
    Shkapenyuk, Srivastava, Xu, ICDE'09) with the decay QUANTIZED to
    half-life buckets: k = floor(age / half_life) and weight =
    1_000_000 >> k micro-units — an exact integer everywhere, so the
    aggregate is a plain integer SUM with none of the float
    summation-order divergence a per-row exp() would leak
    cross-engine. The landmark is max(ts) over the table (broadcast
    1-row aggregate), ages in integer epoch seconds (the q19
    cast-long discipline).

    Scale: one global max (combinable), one broadcast join of the
    1-row landmark, one hash aggregate per event type — map-side
    combinable integer partials, mergeable across shards (same
    landmark). The >> weight table means a 100 TB scan does zero
    float work.
    """
    e = Tables(spark, sf_dir).events.select(
        "event_type", F.col("ts").cast("long").alias("sec")
    )
    landmark = e.agg(F.max("sec").alias("t_now"))
    k = F.expr(f"(t_now - sec) DIV {Q129_HALF_LIFE_SEC}")
    w = F.when(k >= 20, F.lit(0)).otherwise(
        F.expr(f"shiftright(1000000, cast((t_now - sec) DIV {Q129_HALF_LIFE_SEC} AS int))")
    )
    return (
        e.join(F.broadcast(landmark))
        .withColumn("w_micro", w.cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("w_micro").cast("long").alias("decayed_micro"),
            F.min(F.expr("t_now - sec")).cast("long").alias("newest_age_sec"),
        )
        .orderBy("event_type")
    )


ORACLE["q129_decayed_counts"] = f"""
    WITH e AS (
        SELECT event_type, floor(epoch(ts))::BIGINT AS sec FROM events
    ),
    lm AS (SELECT max(sec) AS t_now FROM e)
    SELECT event_type,
           count(*)::BIGINT AS n_events,
           sum(CASE WHEN (t_now - sec) // {Q129_HALF_LIFE_SEC} >= 20 THEN 0
                    ELSE 1000000 >> ((t_now - sec) // {Q129_HALF_LIFE_SEC})
               END)::BIGINT AS decayed_micro,
           min(t_now - sec)::BIGINT AS newest_age_sec
    FROM e, lm
    GROUP BY event_type
    ORDER BY event_type
"""
QUERIES["q129_decayed_counts"] = q129_decayed_counts
