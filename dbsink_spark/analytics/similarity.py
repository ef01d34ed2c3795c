"""Similarity search over the ``embeddings`` table (array<float> dim 64).

* s01: brute-force cosine top-k — the exactness baseline. Query set ×
  corpus as a (broadcast) cross join, rank per query.
* s02: IVF-style centroid assignment — centroids from a per-label
  average (the coarse quantizer), every vector assigned to its nearest
  centroid; at 100 TB this cell id becomes the blocking/bucketing key
  that replaces brute force.
* s03: random-hyperplane LSH bucketing (sign-of-dot-product sketch) —
  hyperplane weights are ±1 derived from md5 parity so the DuckDB
  oracle computes byte-identical buckets.

All dot products / norms are sequential left-folds over the vector in
both engines (Spark ``aggregate`` HOF, DuckDB ``list_sum`` of a
comprehension), which keeps the float arithmetic order — and therefore
the values — identical across engines (verified by the hash gate).

Scale notes (100 TB): the brute-force path broadcasts the small query
set, so the corpus is never shuffled — scan + per-row top-k heap via
window on query_id. The LSH/IVF paths reduce candidate sets to
per-bucket blocks; both bucket ids are plain integer columns that
partition/bucket cleanly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .tables import Tables
from .bcache import bounded_persist
from .litdf import local_df

TOPK = 5
N_QUERIES = 10  # vec_id < N_QUERIES form the query set
N_PLANES = 8
DIM = 64


def _h64_py(s: str) -> int:
    """Python twin of functions.hashing.h64 (md5 first 15 hex digits)."""
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def hyperplane_weights() -> list[list[int]]:
    """±1 weights per (plane, dim) from md5 parity — deterministic and
    reproducible in any engine."""
    return [
        [1 if _h64_py(f"{p}_{d}") % 2 == 0 else -1 for d in range(DIM)]
        for p in range(N_PLANES)
    ]


def _as_col(a):
    return F.col(a) if isinstance(a, str) else a


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _l2(a, b):
    """Σ (a_i − b_i)² as the same sequential zip_with fold both engines
    compute bit-identically (shared by every L2 site).

    NOTE (r12 measurement, guide §1.1): an "ideal" rewrite of these
    folds as explicit 64-term codegen chains was tried and MEASURED
    SLOWER on the per-pair scoring loops (s11 3.9→9.5 s, s12 4.4→13.5 s
    at sf0.1 — the generated per-pair method goes huge and the JIT
    refuses it), so the interpreted HOF fold stays.
    """
    a, b = _as_col(a), _as_col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vectors(spark, sf_dir):
    e = Tables(spark, sf_dir).embeddings
    return e.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )


def s01_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: queries (vec_id < N) × corpus (rest),
    rank-per-query window, keep top 5."""
    v = _vectors(spark, sf_dir)
    # norms projected ONCE per row before the join (not per pair): the
    # float value is identical (same fold, same multiply), the plan is
    # O(n+q) norm computations instead of O(n·q).
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    corpus = v.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id", "corpus_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "corpus_id", F.round("cosine", 4).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


def _centroids(v) -> DataFrame:
    """Per-label mean centroid table (cent_label, cv) — the shared
    deterministic codebook: posexplode → avg per (label, pos) →
    re-assemble ordered. Tiny (|labels| rows), always broadcast."""
    dims = v.select("label", F.posexplode("v").alias("pos", "x"))
    return (
        dims.groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
        .select(F.col("label").alias("cent_label"), "cv")
    )


def centroid_cells(
    spark: SparkSession, sf_dir: str, cent: DataFrame | None = None
) -> DataFrame:
    """IVF coarse quantizer: (vec_id, label, cell) — every vector
    assigned to its nearest per-label-mean centroid (L2, deterministic
    centroid-name tiebreak). The integer-keyed cell is the blocking /
    bucketing key the brute-force ops use at scale (d06 blocks on it).

    At 100 TB the centroids would come from sampled k-means; the
    per-label mean is the deterministic, oracle-reproducible stand-in
    with the same plan shape (tiny broadcast centroid table, corpus
    never shuffled for assignment). Callers that also probe the
    codebook pass their (persisted) ``cent`` so the centroid build
    runs once per query, not per use."""
    v = _vectors(spark, sf_dir)
    if cent is None:
        cent = _centroids(v)
    dist2 = _l2("v", "cv")
    scored = v.join(F.broadcast(cent)).select(
        "vec_id", "label", "cent_label", dist2.alias("d2")
    )
    # argmin via min_by with a (d2, cent_label) tiebreak tuple: one hash
    # aggregate with map-side partials — no window sort shuffle
    return scored.groupBy("vec_id").agg(
        F.first("label").alias("label"),
        F.expr("min_by(cent_label, struct(d2, cent_label))").alias("cell"),
    )


def s02_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment: label×cell confusion counts
    over ``centroid_cells``."""
    return (
        centroid_cells(spark, sf_dir)
        .groupBy("label", F.col("cell").alias("assigned"))
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("label", "assigned")
    )


def s03_hyperplane_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH: 8-bit bucket per vector from md5-
    parity hyperplanes; emits bucket occupancy (the candidate-block
    sizes a real ANN query would probe)."""
    v = _vectors(spark, sf_dir)
    planes = hyperplane_weights()
    return (
        v.selectExpr(_view_bucket(planes) + " AS bucket")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("bucket")
    )


def _weights_sql(wts: list[int]) -> str:
    return "[" + ", ".join(f"{x}.0" for x in wts) + "]"


def _oracle() -> dict[str, str]:
    planes = hyperplane_weights()
    bucket_terms = " + ".join(
        f"(CASE WHEN list_sum([v[i] * ({_weights_sql(w)})[i] for i in generate_series(1, {DIM})]) > 0 "
        f"THEN (1::BIGINT << {p}) ELSE 0 END)"
        for p, w in enumerate(planes)
    )
    return {
        "s01_cosine_topk": f"""
            WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
            scored AS (
                SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
                       list_sum([q.v[i] * c.v[i] for i in generate_series(1, {DIM})])
                       / (sqrt(list_sum([x*x for x in q.v])) * sqrt(list_sum([x*x for x in c.v])))
                       AS cosine
                FROM v q CROSS JOIN v c
                WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
            ), ranked AS (
                SELECT query_id, corpus_id, cosine,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cosine DESC, corpus_id) AS rank
                FROM scored
            )
            SELECT query_id, corpus_id, round(cosine, 4) AS cosine, rank
            FROM ranked WHERE rank <= {TOPK}
            ORDER BY query_id, rank
        """,
        "s02_centroid_assign": """
            WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
            dims AS (
                SELECT label, i.i AS pos, v[i.i] AS x
                FROM v CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
            ), cent_dims AS (
                SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos
            ), cent AS (
                SELECT label AS cent_label, list(c ORDER BY pos) AS cv
                FROM cent_dims GROUP BY label
            ), scored AS (
                SELECT v.vec_id, v.label, cent.cent_label,
                       list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i]) for i in generate_series(1, 64) ]) AS d2
                FROM v CROSS JOIN cent
            ), best AS (
                SELECT vec_id, label, cent_label AS assigned,
                       row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cent_label) AS rn
                FROM scored
            )
            SELECT label, assigned, count(*) AS n_vectors
            FROM best WHERE rn = 1
            GROUP BY label, assigned
            ORDER BY label, assigned
        """,
        "s03_hyperplane_lsh": f"""
            WITH v AS (SELECT embedding::DOUBLE[] AS v FROM embeddings)
            SELECT ({bucket_terms}) AS bucket, count(*) AS n_vectors
            FROM v
            GROUP BY 1
            ORDER BY 1
        """,
    }


ORACLE = _oracle()

QUERIES = {
    "s01_cosine_topk": s01_cosine_topk,
    "s02_centroid_assign": s02_centroid_assign,
    "s03_hyperplane_lsh": s03_hyperplane_lsh,
}


def s04_numpy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-scale brute-force variant of s01: the corpus streams
    through an Arrow-batched mapInPandas worker that scores every batch
    against the (broadcast-by-closure) query matrix with vectorized
    numpy — the plan that replaces interpreted per-pair HOF folds when
    the corpus is huge. The cosine VALUES legitimately differ from a
    sequential fold in the last ulp (numpy uses pairwise summation), but
    the RANKING doesn't (pytest cross-checks against s01) — so the
    output is rank-only (no cosine column) and gets a real hash oracle.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as W

    v = _vectors(spark, sf_dir)
    qrows = v.filter(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    if not qrows:
        # degenerate corpus with no query rows: zero result rows, same
        # as the oracle's SQL (degenerate-mode fuzz catch, round 10 —
        # np.array([]) is 1-D and the axis-1 normalize crashed the
        # driver)
        return local_df(spark, [], "query_id long, corpus_id long, rank int")
    q_ids = [r.vec_id for r in qrows]
    q_mat = np.array([r.v for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("corpus_id", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.array(list(pdf["v"]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ q_mat.T  # (batch, n_queries)
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "corpus_id": np.tile(pdf["vec_id"].values, len(q_ids)),
                    "cosine": sims.T.reshape(-1),
                }
            )

    scored = (
        v.filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "v")
        .mapInPandas(score, out_schema)
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "corpus_id", "rank")
        .orderBy("query_id", "rank")
    )


QUERIES["s04_numpy_topk"] = s04_numpy_topk

N_PROBE = 2  # cells probed per query in the IVF search path


def s05_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed approximate top-k — the search path that s02's
    quantizer exists for: each query scores ONLY the vectors whose
    coarse cell is among the query's ``N_PROBE`` nearest centroids,
    instead of the whole corpus.

    Plan shape at 100 TB: corpus partitioned/bucketed by cell id; a
    query touches N_PROBE cell partitions (partition pruning on an
    integer key), so cost scales with probed-cell occupancy, not corpus
    size. Here: centroid table is tiny (broadcast twice — once to pick
    probe cells, once implicit in cell assignment); the candidate join
    is an equi-join on the cell id.
    """
    v = _vectors(spark, sf_dir)
    # one centroid build per query: the codebook feeds BOTH the cell
    # assignment and the probe selection. Materialized via
    # localCheckpoint (label-sized) rather than persist(): checkpoint
    # blocks are reclaimed by the ContextCleaner once this DataFrame
    # goes out of scope, so repeated s05/s09 calls in a long-lived
    # session don't accumulate cached blocks (round-4 advice item).
    cent = _centroids(v).localCheckpoint(eager=False)
    cells = centroid_cells(spark, sf_dir, cent=cent).select("vec_id", "cell")
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    d2 = _l2("qv", "cv")
    probe_w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cent_label"))
    probes = (
        queries.join(F.broadcast(cent))
        .select("query_id", "qv", "cent_label", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= N_PROBE)
        .select("query_id", "qv", F.col("cent_label").alias("cell"))
    )

    corpus = (
        v.filter(F.col("vec_id") >= N_QUERIES)
        .select(F.col("vec_id").alias("corpus_id"), F.col("v").alias("cv2"))
        .join(cells.withColumnRenamed("vec_id", "corpus_id"), "corpus_id")
    )
    cos = _dot(F.col("qv"), F.col("cv2")) / (_norm(F.col("qv")) * _norm(F.col("cv2")))
    scored = corpus.join(F.broadcast(probes), "cell").select(
        "query_id", "corpus_id", cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "corpus_id", F.round("cosine", 4).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


QUERIES["s05_ivf_topk"] = s05_ivf_topk

ORACLE["s05_ivf_topk"] = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT label, i.i AS pos, v[i.i] AS x
        FROM v CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) i
    ), cent_dims AS (
        SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos
    ), cent AS (
        SELECT label AS cent_label, list(c ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ), cell_scored AS (
        SELECT v.vec_id, cent.cent_label,
               list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i])
                          for i in generate_series(1, {DIM}) ]) AS d2
        FROM v CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_label AS cell
        FROM (SELECT vec_id, cent_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM cell_scored)
        WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, v AS qv, cent_label AS cell
        FROM (
            SELECT v.vec_id, v.v, cent.cent_label,
                   row_number() OVER (
                       PARTITION BY v.vec_id
                       ORDER BY list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i])
                                           for i in generate_series(1, {DIM}) ]) ASC,
                                cent.cent_label) AS rn
            FROM v CROSS JOIN cent
            WHERE v.vec_id < {N_QUERIES}
        )
        WHERE rn <= {N_PROBE}
    ), scored AS (
        SELECT p.query_id, c.vec_id AS corpus_id,
               list_sum([p.qv[i] * c.v[i] for i in generate_series(1, {DIM})])
               / (sqrt(list_sum([x*x for x in p.qv])) * sqrt(list_sum([x*x for x in c.v])))
               AS cosine
        FROM probes p
        JOIN cells ON cells.cell = p.cell
        JOIN v c ON c.vec_id = cells.vec_id AND c.vec_id >= {N_QUERIES}
    ), ranked AS (
        SELECT query_id, corpus_id, cosine,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id) AS rank
        FROM scored
    )
    SELECT query_id, corpus_id, round(cosine, 4) AS cosine, rank
    FROM ranked WHERE rank <= {TOPK}
    ORDER BY query_id, rank
"""

ORACLE["s04_numpy_topk"] = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               list_sum([q.v[i] * c.v[i] for i in generate_series(1, {DIM})])
               / (sqrt(list_sum([x*x for x in q.v])) * sqrt(list_sum([x*x for x in c.v])))
               AS cosine
        FROM v q CROSS JOIN v c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ), ranked AS (
        SELECT query_id, corpus_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, corpus_id) AS rank
        FROM scored
    )
    SELECT query_id, corpus_id, rank
    FROM ranked WHERE rank <= {TOPK}
    ORDER BY query_id, rank
"""


KMEANS_SCALE = 1_000_000  # fixed-point scale for order-independent sums


def s06_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd k-means update step over the IVF quantizer: for every
    coarse cell (the ``centroid_cells`` assignment s02/d06/s05 share),
    the element-wise sum + member count that define the NEW centroid
    (``new_c[pos] = sum/n``) — the iterative-refinement loop that turns
    the per-label seed centroids into a real trained quantizer.

    Float sums are partition-order-dependent, so each coordinate is
    first quantized to fixed-point (``round(x·1e6)`` — exact for any
    summation order, identical in both engines) and summed as a long.
    The division is left to the consumer: emitting sum+count instead of
    the mean keeps every gate value integer-exact (and sidesteps the
    Spark-``div``-vs-DuckDB-``//`` negative-truncation mismatch).

    Scale: assignment is a broadcast join (centroid table is tiny by
    construction); the update is posexplode + one hash aggregate on
    (cell, pos) — map-side partials reduce each partition to
    n_cells × dim longs before the shuffle. The full Lloyd loop is this
    step iterated driver-side, re-broadcasting ~KB of centroids per
    round — embarrassingly scalable.
    """
    v = _vectors(spark, sf_dir)
    cells = centroid_cells(spark, sf_dir).select("vec_id", "cell")
    dims = v.join(cells, "vec_id").select("cell", F.posexplode("v").alias("pos", "x"))
    q = F.round(F.col("x") * KMEANS_SCALE).cast("long")
    return (
        dims.select("cell", (F.col("pos") + 1).alias("pos"), q.alias("q"))
        .groupBy("cell", "pos")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum("q").alias("sum_e6"))
        .orderBy("cell", "pos")
    )


ORACLE["s06_kmeans_update"] = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT label, i.i AS pos, v[i.i] AS x
        FROM v CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) i
    ), cent_dims AS (
        SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos
    ), cent AS (
        SELECT label AS cent_label, list(c ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ), scored AS (
        SELECT v.vec_id, cent.cent_label,
               list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i])
                          for i in generate_series(1, {DIM}) ]) AS d2
        FROM v CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_label AS cell
        FROM (SELECT vec_id, cent_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM scored)
        WHERE rn = 1
    ), qdims AS (
        SELECT cells.cell, i.i AS pos,
               round(v.v[i.i] * {KMEANS_SCALE})::BIGINT AS q
        FROM v JOIN cells USING (vec_id)
        CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) i
    )
    SELECT cell, pos,
           count(*)       AS n_members,
           sum(q)::BIGINT AS sum_e6
    FROM qdims
    GROUP BY cell, pos
    ORDER BY cell, pos
"""

QUERIES["s06_kmeans_update"] = s06_kmeans_update


def kmeans_fit(spark: SparkSession, sf_dir: str, n_iters: int = 3):
    """Full Lloyd k-means over the embeddings — the iterative loop that
    s06 is one step of. Seeds from the per-label means (deterministic),
    then alternates broadcast-join assignment with a mean update.

    The driver holds ONLY the centroids (K×dim floats, ~KB) — they are
    collected and re-broadcast each round, which is the canonical Spark
    k-means shape (per round: one corpus scan, one hash aggregate; see
    also MLlib's implementation strategy). Corpus stays cached at the
    executors across rounds.

    Returns (assignments DataFrame [vec_id, cell], inertia_history) —
    inertia is the summed squared distance to the assigned centroid and
    must be non-increasing across rounds (pytest asserts this).
    """
    v = bounded_persist(_vectors(spark, sf_dir), "similarity.kmeans_fit.v")

    # deterministic seed centroids: per-label means, ordered by label
    seed = (
        v.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
        .orderBy("label")
        .collect()
    )
    cents = [(int(r.label), list(r.cv)) for r in seed]

    inertia_history: list[float] = []
    assign = None
    for _ in range(n_iters):
        cdf = local_df(spark, cents, "cid bigint, cv array<double>")
        d2 = _l2("v", "cv")
        scored = v.join(F.broadcast(cdf)).select("vec_id", "v", "cid", d2.alias("d2"))
        assign = scored.groupBy("vec_id").agg(
            F.expr("min_by(cid, struct(d2, cid))").alias("cell"),
            F.min("d2").alias("d2"),
            F.expr("min_by(v, struct(d2, cid))").alias("v"),
        )
        stats = assign.agg(F.sum("d2").alias("inertia")).collect()[0]
        inertia_history.append(float(stats.inertia))
        new_cents = (
            assign.select("cell", F.posexplode("v").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("c"))
            .groupBy("cell")
            .agg(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s["c"],
                ).alias("cv")
            )
            .orderBy("cell")
            .collect()
        )
        cents = [(int(r.cell), list(r.cv)) for r in new_cents]
    return assign.select("vec_id", "cell"), inertia_history


# ---------------------------------------------------------------------------
# s07: kNN-graph construction over LSH buckets
# ---------------------------------------------------------------------------

N_GRAPH_PLANES = 4  # coarser than s03's 8: 16 buckets -> real within-bucket neighbors
KNN_K = 3
S07_TILE_ROWS = 1024  # gram-tile height: bounds per-task memory on skewed buckets


def s07_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate kNN-graph construction: every vector's top-K
    neighbors among its own LSH bucket (sign-random-projection, first
    ``N_GRAPH_PLANES`` hyperplanes) — the build step for graph-based
    ANN indexes and embedding-cluster analysis. Recall is tuned by the
    plane count (fewer planes = bigger buckets = higher recall, more
    compute) plus multi-probe at query time.

    Plan shape: bucket id is a pure map; each bucket block is scored
    with tiled numpy float64 inside ``applyInPandas`` (d06's treatment
    — the interpreted HOF-fold join version was measured 1.5M fold
    evaluations at sf0.1, ~10x slower). Per-bucket cost is quadratic
    ONLY within a bucket, and bucket size is n/2^planes in expectation
    — at 100 TB you add planes to hold block sizes constant and the
    tile height bounds per-task memory. Output is RANK-ONLY (s04's
    treatment): numpy's pairwise summation differs from the oracle's
    sequential fold in the last ulp, the induced ranking doesn't; ties
    break on neighbor_id via id-sorted stable argsort.
    """
    v = _vectors(spark, sf_dir)
    planes = hyperplane_weights()[:N_GRAPH_PLANES]
    b = v.selectExpr("vec_id", "v", _view_bucket(planes) + " AS bucket")
    return _knn_block_apply(b).orderBy("vec_id", "rank")


def _knn_block_apply(b: DataFrame, keys: tuple[str, ...] = ("bucket",)) -> DataFrame:
    """Per-block tiled-numpy top-KNN_K over a (vec_id, v, *keys)
    relation — s07's scoring kernel, shared with the NN-descent base
    graph (which blocks on a composite (view, bucket) key in ONE pass).
    Rank-only output (see s07 docstring)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("rank", T.IntegerType()),
        ]
    )

    def knn_block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id")  # id-ascending columns: stable argsort tiebreak
        ids = pdf["vec_id"].values
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "rank": []}).astype(
                {"vec_id": "int64", "neighbor_id": "int64", "rank": "int32"}
            )
        m = np.array(list(pdf["v"]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        # Collapse bit-identical vectors to ONE gram column and expand
        # scores by lookup: the tie fuzzer (tools/fuzz_oracle.py --mode
        # tie) caught N-T dgemm producing last-ulp-DIFFERENT columns
        # for identical neighbor vectors, which silently voided the
        # stable-argsort id tie-break (duplicate vectors are exact
        # cosine ties on the oracle side and must rank id-ascending on
        # both engines). Lookup-shared scores make clone equality hold
        # by construction, independent of BLAS kernel/summation order.
        uniq, inv = np.unique(m, axis=0, return_inverse=True)
        inv = np.asarray(inv).reshape(-1)  # numpy 2.0.0 returned (n,1)
        has_clones = len(uniq) < n
        k = min(KNN_K, n - 1)
        outs = []
        for s0 in range(0, n, S07_TILE_ROWS):
            s1 = min(s0 + S07_TILE_ROWS, n)
            if has_clones:
                g = m[s0:s1] @ uniq.T  # (t, n_unique)
                tile = g[:, inv]  # (t, n) — clone columns equal bit-for-bit
            else:  # clone-free block: skip the expansion copy
                tile = m[s0:s1] @ m.T  # (t, n)
            rows = np.arange(s0, s1)
            tile[rows - s0, rows] = -np.inf  # mask self
            order = np.argsort(-tile, axis=1, kind="stable")[:, :k]
            outs.append(
                pd.DataFrame(
                    {
                        "vec_id": np.repeat(ids[rows], k),
                        "neighbor_id": ids[order].reshape(-1),
                        "rank": np.tile(np.arange(1, k + 1, dtype=np.int32), s1 - s0),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return b.groupBy(*keys).applyInPandas(knn_block, out_schema)


_VECTORS_CTE = """v AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum([x*x for x in embedding::DOUBLE[]])) AS vn
        FROM embeddings
    )"""


def _knn_view_cte(name: str, lo: int, hi: int) -> str:
    """One LSH-view kNN graph as CTEs ``b_<name>``/``scored_<name>``/
    ``<name>`` (vec_id, neighbor_id, rank <= KNN_K) over the shared
    ``v`` CTE, built from hyperplanes [lo, hi). The s07 oracle and both
    of s22's base views instantiate THIS builder, so the graphs they
    verify against cannot drift apart."""
    planes = hyperplane_weights()[lo:hi]
    bucket_terms = " + ".join(
        f"(CASE WHEN list_sum([v[i] * ({_weights_sql(w)})[i] for i in generate_series(1, {DIM})]) > 0 "
        f"THEN (1::BIGINT << {p}) ELSE 0 END)"
        for p, w in enumerate(planes)
    )
    return f"""
    b_{name} AS (
        SELECT vec_id, v, vn, ({bucket_terms}) AS bucket FROM v
    ), scored_{name} AS (
        SELECT a.vec_id AS vec_id, c.vec_id AS neighbor_id,
               list_sum([a.v[i] * c.v[i] for i in generate_series(1, {DIM})])
                   / (a.vn * c.vn) AS cosine
        FROM b_{name} a JOIN b_{name} c
          ON a.bucket = c.bucket AND a.vec_id != c.vec_id
    ), {name} AS (
        SELECT vec_id, neighbor_id, rank FROM (
            SELECT vec_id, neighbor_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM scored_{name}
        ) WHERE rank <= {KNN_K}
    )"""


def _s07_oracle() -> str:
    return f"""
        WITH {_VECTORS_CTE}, {_knn_view_cte("knn", 0, N_GRAPH_PLANES)}
        SELECT vec_id, neighbor_id, rank::INT AS rank
        FROM knn
        ORDER BY vec_id, rank
    """


ORACLE["s07_knn_graph"] = _s07_oracle()
QUERIES["s07_knn_graph"] = s07_knn_graph


# ---------------------------------------------------------------------------
# s08: product quantization (IVF-PQ codes)
# ---------------------------------------------------------------------------

PQ_M = 8  # subvectors per embedding
PQ_DSUB = DIM // PQ_M  # dims per subvector


def _pq_sub_cent(v: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Shared PQ decomposition: (sub, cent) where ``sub`` is one row
    per (vec_id, m) carrying the 8-dim subvector and ``cent`` the
    per-(label, m) sub-codebook (subvector means, the deterministic
    stand-in for trained k-means — s08's construction, reused by the
    s15 ADC scorer so codes and distance tables share one codebook)."""
    sub = v.select(
        "vec_id",
        "label",
        F.explode(
            F.expr(
                f"transform(sequence(0, {PQ_M - 1}), "
                f"m -> struct(m as m, slice(v, m * {PQ_DSUB} + 1, {PQ_DSUB}) as sv))"
            )
        ).alias("s"),
    ).select("vec_id", "label", F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))
    cent = (
        sub.select("label", "m", F.posexplode("sv").alias("pos", "x"))
        .groupBy("label", "m", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label", "m")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
            ).alias("cv")
        )
        .select(F.col("label").alias("cent_label"), "m", "cv")
    )
    return sub, cent


def _pq_d2():
    return _l2("sv", "cv")


def _pq_codes(sub: DataFrame, cent: DataFrame) -> DataFrame:
    """(vec_id, m, code): nearest sub-centroid per subvector — one
    broadcast join + one min_by hash aggregate, no window sort."""
    return (
        sub.join(F.broadcast(cent), "m")
        .select("vec_id", "m", "cent_label", _pq_d2().alias("d2"))
        .groupBy("vec_id", "m")
        .agg(F.expr("min_by(cent_label, struct(d2, cent_label))").alias("code"))
    )


def s08_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: compress every 64-dim float vector to an
    8-symbol code — one nearest-sub-centroid id per 8-dim subvector —
    the storage layer of IVF-PQ indexes (Jégou et al. 2011). With a
    256-entry codebook per subspace this is 256 B float32 → 8 B per
    vector; ANN then scans codes with lookup-table distances and only
    re-ranks survivors against raw vectors.

    Sub-codebooks here are per-label subvector means (deterministic,
    oracle-reproducible — the same stand-in for trained k-means that
    s02 uses for its coarse quantizer; s06 is the training step that
    would refine them). Assignment d2 is a sequential fold in both
    engines, argmin via min_by on the (d2, centroid) tiebreak struct —
    one hash aggregate, no window sort.

    Plan shape at 100 TB: the codebook is (labels × M) rows —
    broadcast; the corpus explodes to M rows per vector, assigns
    map-side, and re-groups on the already-carried vec_id. The corpus
    is never shuffled by vector content, and the emitted code column
    is 8 bytes/vector — the thing you actually persist.
    """
    v = _vectors(spark, sf_dir)
    sub, cent = _pq_sub_cent(v)
    codes = _pq_codes(sub, cent)
    return (
        codes.groupBy("vec_id")
        .agg(
            F.concat_ws(
                "|",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("m", "code"))),
                    lambda s: s["code"].cast("string"),
                ),
            ).alias("code")
        )
        .orderBy("vec_id")
    )


ORACLE["s08_pq_codes"] = f"""
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS (
        SELECT vec_id, label, m.m AS m,
               v[m.m * {PQ_DSUB} + 1 : m.m * {PQ_DSUB} + {PQ_DSUB}] AS sv
        FROM v CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    ), dims AS (
        SELECT label, m, p.p AS pos, sv[p.p] AS x
        FROM sub CROSS JOIN (SELECT unnest(generate_series(1, {PQ_DSUB})) AS p) p
    ), cent_dims AS (
        SELECT label, m, pos, avg(x) AS c FROM dims GROUP BY label, m, pos
    ), cent AS (
        SELECT label AS cent_label, m, list(c ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label, m
    ), scored AS (
        SELECT sub.vec_id, sub.m, cent.cent_label,
               list_sum([ (sv[i] - cv[i]) * (sv[i] - cv[i])
                          for i in generate_series(1, {PQ_DSUB}) ]) AS d2
        FROM sub JOIN cent ON sub.m = cent.m
    ), codes AS (
        SELECT vec_id, m, cent_label AS code
        FROM (SELECT vec_id, m, cent_label,
                     row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM scored)
        WHERE rn = 1
    )
    SELECT vec_id, string_agg(code::VARCHAR, '|' ORDER BY m) AS code
    FROM codes
    GROUP BY vec_id
    ORDER BY vec_id
"""

QUERIES["s08_pq_codes"] = s08_pq_codes


# ---------------------------------------------------------------------------
# s09: ANN recall audit (IVF-probed vs brute-force ground truth)
# ---------------------------------------------------------------------------


def s09_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k audit of the IVF-probed search path: per query, how many
    of the exact brute-force top-k (s01) the N_PROBE-cell approximate
    search (s05) actually returned — the quality gate every production
    ANN deployment runs before trusting its index.

    Plan shape: both sides are the already-bucketed plans (s01
    broadcasts the query set, s05 touches only probed cells); the audit
    itself is a tiny (|queries| x k)-row left join + one aggregate.
    Integer outputs (recall_pct = hits * 100 / k is exact for k=5), so
    the hash gate is float-free.
    """
    brute = s01_cosine_topk(spark, sf_dir).select("query_id", "corpus_id")
    approx = (
        s05_ivf_topk(spark, sf_dir)
        .select("query_id", "corpus_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        brute.join(approx, ["query_id", "corpus_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.expr(f"CAST(n_hits * 100 DIV {TOPK} AS BIGINT)").alias("recall_pct"),
        )
        .orderBy("query_id")
    )


ORACLE["s09_ann_recall"] = f"""
    WITH brute AS (
        SELECT query_id, corpus_id FROM ({ORACLE["s01_cosine_topk"]})
    ), ivf AS (
        SELECT query_id, corpus_id FROM ({ORACLE["s05_ivf_topk"]})
    )
    SELECT b.query_id,
           count(i.corpus_id)::BIGINT AS n_hits,
           (count(i.corpus_id) * 100 // {TOPK})::BIGINT AS recall_pct
    FROM brute b
    LEFT JOIN ivf i ON i.query_id = b.query_id AND i.corpus_id = b.corpus_id
    GROUP BY b.query_id
    ORDER BY b.query_id
"""

QUERIES["s09_ann_recall"] = s09_ann_recall


# ---------------------------------------------------------------------------
# s10: cosine range (radius) search
# ---------------------------------------------------------------------------

RANGE_THRESH = 0.35  # cosine radius; ~99.9th pct of pair similarity on this corpus


def s10_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius search: every (query, corpus) pair at cosine >= threshold
    — the dedup/retrieval primitive when the answer set is "everything
    this similar", not a fixed k (pair generation for clustering,
    near-dup blocklists, semantic caches).

    Same broadcast shape as s01 (query set broadcast, corpus never
    shuffled, no window needed at all — a pure filter after the scored
    join, so the only shuffle is the output sort). The threshold
    compare runs on the sequential-fold cosine BOTH engines compute
    bit-identically (module docstring), so the predicate is exact.
    """
    v = _vectors(spark, sf_dir)
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    corpus = v.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    return (
        corpus.join(F.broadcast(queries))
        .select("query_id", "corpus_id", cos.alias("cosine"))
        .filter(F.col("cosine") >= RANGE_THRESH)
        .select("query_id", "corpus_id", F.round("cosine", 4).alias("cosine"))
        .orderBy("query_id", "corpus_id")
    )


ORACLE["s10_range_search"] = f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               list_sum([q.v[i] * c.v[i] for i in generate_series(1, {DIM})])
               / (sqrt(list_sum([x*x for x in q.v])) * sqrt(list_sum([x*x for x in c.v])))
               AS cosine
        FROM v q CROSS JOIN v c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    )
    SELECT query_id, corpus_id, round(cosine, 4) AS cosine
    FROM scored
    WHERE cosine >= {RANGE_THRESH}
    ORDER BY query_id, corpus_id
"""

QUERIES["s10_range_search"] = s10_range_search


# ---------------------------------------------------------------------------
# MaxSim late-interaction scoring (ColBERT-style): s12 and ann_index
# ---------------------------------------------------------------------------

S11_SUBS = 8                 # sub-vectors per embedding
S11_DSUB = DIM // S11_SUBS   # dims per sub-vector
S11_QUERIES = 3              # vec_id < 3 form the query set


def _maxsim_parts(col_prefix: str) -> list[str]:
    """Project an embedding column ``v`` into S11_SUBS sub-vectors and
    their norms — the once-per-row layout the MaxSim re-rank (s12,
    and ``ann_index``'s lake-resident twin) scores from.

    Emitted as ``selectExpr`` strings, not Column objects: the
    16-slice/norm projection built column-by-column cost a
    py4j round trip per operator node — ~1.9 s of driver time per
    plan construction, measured — while one SQL string parses JVM-side
    in milliseconds into the IDENTICAL expression tree (verified: the
    analyzed plans and the collected results are byte-equal)."""
    cols = []
    for i in range(S11_SUBS):
        sub = f"slice(v, {1 + i * S11_DSUB}, {S11_DSUB})"
        cols.append(f"{sub} AS {col_prefix}s{i}")
        cols.append(
            f"sqrt(aggregate(transform({sub}, x -> x * x), 0.0D,"
            f" (acc, x) -> acc + x)) AS {col_prefix}n{i}"
        )
    return cols


def _maxsim_score() -> str:
    """Σ_i max_j cos(q_i, d_j) over the projected q*/c* part columns,
    written with identical left-association to the SQL oracle — as one
    SQL string (see :func:`_maxsim_parts` for why strings)."""

    def cos(i: int, j: int) -> str:
        return (
            f"(aggregate(zip_with(qs{i}, cs{j}, (x, y) -> x * y), 0.0D,"
            f" (acc, x) -> acc + x) / (qn{i} * cn{j}))"
        )

    maxes = []
    for i in range(S11_SUBS):
        cs = ", ".join(cos(i, j) for j in range(S11_SUBS))
        maxes.append(f"greatest({cs})")
    return " + ".join(maxes)


# ---------------------------------------------------------------------------
# s12: two-stage retrieval — IVF prefilter → MaxSim re-rank
# ---------------------------------------------------------------------------

S12_PROBE = 3  # probe more cells than s05's 2: re-ranking wants recall headroom


def s12_ivf_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage late-interaction retrieval (ColBERT's MaxSim): stage 1
    probes the S12_PROBE nearest IVF cells per query (s05's coarse
    quantizer — candidate count tracks probed-cell occupancy, not
    corpus size), stage 2 re-ranks ONLY the candidates with the MaxSim
    score: each embedding is 8 token-like sub-vectors, and a (query,
    doc) pair scores Σ_i max_j cos(q_i, d_j) — each query part matches
    its best-aligned doc part, the multi-vector semantics
    single-vector cosine (s01) cannot express.

    Plan: centroid table broadcast (tiny), candidate generation is an
    equi-join on the integer cell id, and the re-rank joins candidates
    to the once-per-row sub-vector projections (8 slices + 8 norms,
    ``_maxsim_parts``) — queries broadcast, corpus parts join on
    corpus_id (at scale: colocate by bucketing the projections and the
    cell table on vec_id).

    Exactness: the IVF assignment and probe ranking are the
    deterministic forms the s05 oracle already verifies; every
    sub-cosine is the same sequential fold both engines compute
    bit-identically, max is order-exact, and the 8-term sum is written
    with identical left-association in both engines, so the
    composition stays hash-exact.

    Output: per query, the top-k candidates by MaxSim with their cell.
    """
    v = _vectors(spark, sf_dir)
    cent = _centroids(v).localCheckpoint(eager=False)
    cells = centroid_cells(spark, sf_dir, cent=cent).select("vec_id", "cell")
    q_raw = v.filter(F.col("vec_id") < S11_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    d2 = _l2("qv", "cv")
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cent_label")
    )
    probes = (
        q_raw.join(F.broadcast(cent))
        .select("query_id", "cent_label", d2.alias("d2"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= S12_PROBE)
        .select("query_id", F.col("cent_label").alias("cell"))
    )
    cand = (
        cells.withColumnRenamed("vec_id", "corpus_id")
        .filter(F.col("corpus_id") >= S11_QUERIES)
        .join(F.broadcast(probes), "cell")
    )
    qparts = v.filter(F.col("vec_id") < S11_QUERIES).selectExpr(
        "vec_id AS query_id", *_maxsim_parts("q")
    )
    cparts = v.filter(F.col("vec_id") >= S11_QUERIES).selectExpr(
        "vec_id AS corpus_id", *_maxsim_parts("c")
    )
    scored = (
        cand.join(cparts, "corpus_id")
        .join(F.broadcast(qparts), "query_id")
        .selectExpr(
            "query_id", "corpus_id", "cell", _maxsim_score() + " AS maxsim"
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("corpus_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id",
            "corpus_id",
            "cell",
            F.round("maxsim", 4).alias("maxsim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


def _s12_oracle() -> str:
    def sub(prefix: str, i: int) -> str:
        a, b = 1 + i * S11_DSUB, (i + 1) * S11_DSUB
        return f"{prefix}.v[{a}:{b}]"

    def dot(i: int, j: int) -> str:
        return (
            f"list_sum([{sub('q', i)}[k] * {sub('c', j)}[k]"
            f" for k in generate_series(1, {S11_DSUB})])"
        )

    def norm(prefix: str, i: int) -> str:
        return f"sqrt(list_sum([x*x for x in {sub(prefix, i)}]))"

    maxes = []
    for i in range(S11_SUBS):
        cs = ", ".join(
            f"({dot(i, j)} / ({norm('q', i)} * {norm('c', j)}))"
            for j in range(S11_SUBS)
        )
        maxes.append(f"greatest({cs})")
    score = " + ".join(maxes)
    return f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT label, i.i AS pos, v[i.i] AS x
        FROM v CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) i
    ), cent_dims AS (
        SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos
    ), cent AS (
        SELECT label AS cent_label, list(c ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ), cell_scored AS (
        SELECT v.vec_id, cent.cent_label,
               list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i])
                          for i in generate_series(1, {DIM}) ]) AS d2
        FROM v CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_label AS cell
        FROM (SELECT vec_id, cent_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM cell_scored)
        WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, cent_label AS cell
        FROM (SELECT vec_id, cent_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM cell_scored WHERE vec_id < {S11_QUERIES})
        WHERE rn <= {S12_PROBE}
    ), cand AS (
        SELECT p.query_id, cells.vec_id AS corpus_id, p.cell
        FROM probes p JOIN cells ON cells.cell = p.cell
        WHERE cells.vec_id >= {S11_QUERIES}
    ), scored AS (
        SELECT cand.query_id, cand.corpus_id, cand.cell,
               {score} AS maxsim
        FROM cand
        JOIN v q ON q.vec_id = cand.query_id
        JOIN v c ON c.vec_id = cand.corpus_id
    ), ranked AS (
        SELECT query_id, corpus_id, cell, maxsim,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY maxsim DESC, corpus_id) AS rank
        FROM scored
    )
    SELECT query_id, corpus_id, cell, round(maxsim, 4) AS maxsim, rank
    FROM ranked WHERE rank <= {TOPK}
    ORDER BY query_id, rank
    """


ORACLE["s12_ivf_maxsim"] = _s12_oracle()
QUERIES["s12_ivf_maxsim"] = s12_ivf_maxsim


# ---------------------------------------------------------------------------
# s13: ANN recall@k audit — the IVF tuning curve (recall vs scan cost)
# ---------------------------------------------------------------------------

S13_PROBE_LEVELS = (1, 2, 4)


def s13_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k / scan-cost curve for the IVF search path: for each
    probe depth p ∈ {1, 2, 4}, what fraction of the TRUE cosine top-k
    (s01's brute force) does s05's probe-p search recover, and what
    fraction of the corpus did it have to score to get there. This is
    the d15 pattern (audit the approximate path against bounded exact
    ground truth) applied to the vector side — the one artifact every
    ANN deployment needs before picking n_probe.

    One corpus-scoring pass serves every curve point: candidates are
    scored once at the DEEPEST probe level, each row annotated with
    its cell's per-query probe rank, and shallower levels are derived
    by FILTERING the rank — exactly how a 100 TB sweep would run (pay
    the max-probe fetch once, replay the ranking per level). The
    exact ground truth is the deliberate bounded cost: brute force
    over the QUERY SAMPLE only (query-count × corpus, the same
    audit-sized quadratic d15 budgets), and both branches reuse one
    localCheckpointed scored table, so the corpus is scored once
    total. Everything downstream of the scoring join is
    (levels × queries × k)-sized.

    Output (all integers, exact): n_probe, recall_bp
    (Σhits·10⁴ div (k·|queries|)), cand_rows (rows scored at that
    level), scan_bp (cand_rows·10⁴ div (|queries|·|corpus|)).
    """
    v = _vectors(spark, sf_dir)
    cent = _centroids(v).localCheckpoint(eager=False)
    cells = centroid_cells(spark, sf_dir, cent=cent).select("vec_id", "cell")
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    d2 = _l2("qv", "cv")
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cent_label")
    )
    probes = (
        queries.join(F.broadcast(cent))
        .select("query_id", "cent_label", d2.alias("d2"))
        .withColumn("cell_rank", F.row_number().over(probe_w))
        .filter(F.col("cell_rank") <= max(S13_PROBE_LEVELS))
        .select("query_id", F.col("cent_label").alias("cell"), "cell_rank")
    )
    corpus = v.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("v").alias("cv2"),
        _norm(F.col("v")).alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv2")) / (F.col("qn") * F.col("cn"))
    scored = (
        corpus.join(F.broadcast(queries))
        .select("query_id", "corpus_id", cos.alias("cosine"))
        .join(
            cells.withColumnRenamed("vec_id", "corpus_id"), "corpus_id"
        )
        .localCheckpoint(eager=False)
    )
    exact_w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(exact_w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "corpus_id")
    )
    levels = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(p) for p in S13_PROBE_LEVELS])
        ).alias("n_probe")
    )
    cand = (
        scored.join(F.broadcast(probes), ["query_id", "cell"])
        .join(F.broadcast(levels))
        .filter(F.col("cell_rank") <= F.col("n_probe"))
    )
    appr_w = Window.partitionBy("n_probe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    appr = (
        cand.withColumn("rank", F.row_number().over(appr_w))
        .filter(F.col("rank") <= TOPK)
        .select("n_probe", "query_id", "corpus_id")
    )
    hits = appr.join(exact, ["query_id", "corpus_id"]).groupBy("n_probe").agg(
        F.count(F.lit(1)).alias("h")
    )
    counts = cand.groupBy("n_probe").agg(F.count(F.lit(1)).alias("cand_rows"))
    corpus_n = corpus.agg(F.count(F.lit(1)).alias("corpus_rows"))
    return (
        counts.join(hits, "n_probe", "left")
        .crossJoin(F.broadcast(corpus_n))
        .select(
            "n_probe",
            F.expr(
                f"coalesce(h, 0) * 10000 div ({TOPK} * {N_QUERIES})"
            ).alias("recall_bp"),
            "cand_rows",
            F.expr(f"cand_rows * 10000 div ({N_QUERIES} * corpus_rows)").alias(
                "scan_bp"
            ),
        )
        .orderBy("n_probe")
    )


ORACLE["s13_ann_recall"] = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    dims AS (
        SELECT label, i.i AS pos, v[i.i] AS x
        FROM v CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS i) i
    ), cent_dims AS (
        SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos
    ), cent AS (
        SELECT label AS cent_label, list(c ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ), cell_scored AS (
        SELECT v.vec_id, cent.cent_label,
               list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i])
                          for i in generate_series(1, {DIM}) ]) AS d2
        FROM v CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_label AS cell
        FROM (SELECT vec_id, cent_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM cell_scored)
        WHERE rn = 1
    ), probes AS (
        SELECT vec_id AS query_id, cent_label AS cell, rn AS cell_rank
        FROM (SELECT vec_id, cent_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM cell_scored WHERE vec_id < {N_QUERIES})
        WHERE rn <= {max(S13_PROBE_LEVELS)}
    ), scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               list_sum([q.v[i] * c.v[i] for i in generate_series(1, {DIM})])
               / (sqrt(list_sum([x*x for x in q.v]))
                  * sqrt(list_sum([x*x for x in c.v]))) AS cosine,
               cells.cell
        FROM v q
        CROSS JOIN v c
        JOIN cells ON cells.vec_id = c.vec_id
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ), exact AS (
        SELECT query_id, corpus_id
        FROM (SELECT query_id, corpus_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, corpus_id) AS rank
              FROM scored)
        WHERE rank <= {TOPK}
    ), lv AS (SELECT unnest([{", ".join(str(p) for p in S13_PROBE_LEVELS)}]) AS n_probe),
    cand AS (
        SELECT lv.n_probe, s.query_id, s.corpus_id, s.cosine
        FROM scored s
        JOIN probes p ON p.query_id = s.query_id AND p.cell = s.cell
        CROSS JOIN lv
        WHERE p.cell_rank <= lv.n_probe
    ), appr AS (
        SELECT n_probe, query_id, corpus_id
        FROM (SELECT n_probe, query_id, corpus_id,
                     row_number() OVER (PARTITION BY n_probe, query_id
                                        ORDER BY cosine DESC, corpus_id) AS rank
              FROM cand)
        WHERE rank <= {TOPK}
    ), hits AS (
        SELECT n_probe, count(*)::BIGINT AS h
        FROM appr JOIN exact USING (query_id, corpus_id)
        GROUP BY 1
    ), counts AS (
        SELECT n_probe, count(*)::BIGINT AS cand_rows FROM cand GROUP BY 1
    ), corpus_n AS (
        SELECT count(*)::BIGINT AS corpus_rows FROM v WHERE vec_id >= {N_QUERIES}
    )
    SELECT counts.n_probe,
           (coalesce(h, 0) * 10000 // ({TOPK} * {N_QUERIES}))::BIGINT AS recall_bp,
           cand_rows,
           (cand_rows * 10000 // ({N_QUERIES} * corpus_rows))::BIGINT AS scan_bp
    FROM counts LEFT JOIN hits USING (n_probe) CROSS JOIN corpus_n
    ORDER BY n_probe
"""
QUERIES["s13_ann_recall"] = s13_ann_recall


# --- s14: reciprocal-rank fusion (hybrid lexical + vector retrieval) ---

RRF_K = 60        # standard RRF damping constant (Cormack et al.)
ARM_DEPTH = 20    # candidate-list depth per retrieval arm
FUSED_TOP = 10    # fused results kept per query


def _s14_query_terms() -> list[tuple[int, str]]:
    """Two BM25 terms per query id — distinct by construction (offset 2
    in a 6-term vocabulary), so each per-(query, doc) score sums exactly
    two floats: commutative, hence order-independent across engines."""
    from .text import BM25_TERMS

    n = len(BM25_TERMS)
    return [(q, BM25_TERMS[q % n]) for q in range(N_QUERIES)] + [
        (q, BM25_TERMS[(q + 2) % n]) for q in range(N_QUERIES)
    ]


def s14_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval by reciprocal-rank fusion: each query's BM25
    lexical candidate list (its two query terms over documents.text)
    and cosine vector candidate list (its embedding vs the corpus) are
    fused by RRF score 1/(K + rank) summed over the arms — the standard
    hybrid-search combiner (it needs only RANKS, so the arms' wildly
    different score scales never need calibrating).

    Plan shape at 100 TB: each arm is scored in ONE corpus pass with
    zero row-at-a-time Python — BM25 tf/dl are per-row array exprs with
    the 1-row (df, N, avgdl) stats broadcast back; cosine broadcasts
    the query vectors so the corpus never shuffles. Both arms rank with
    a LITERAL rank <= ARM_DEPTH filter, which Spark compiles to
    WindowGroupLimit: map tasks pre-prune to their local top-R per
    query before the rank exchange, so the shuffle carries
    O(queries x R) rows per task, never the corpus. The fusion itself
    joins two (queries x R)-row lists — driver-trivial at any scale.
    RRF emitted as integer micro-units (floor(x*1e6 + 0.5)): identical
    IEEE double ops in both engines, integer at the gate.
    """
    from .text import BM25_B, BM25_K1, BM25_TERMS

    d = Tables(spark, sf_dir).documents.filter(F.col("doc_id") >= N_QUERIES)
    words = F.split(F.col("text"), " ")

    def _tf(term):
        # closure, not default arg (pyspark HOF arity — t03's gotcha)
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    per_doc = d.select(
        "doc_id",
        F.size(words).alias("dl"),
        *[_tf(t).alias(f"tf_{t}") for t in BM25_TERMS],
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    # stack (doc, term) tf pairs; tf=0 rows dropped in BOTH engines so
    # absent terms contribute nothing to the per-(query, doc) sum
    tfs = (
        per_doc.select(
            "doc_id",
            "dl",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("term"), F.col(f"tf_{t}").alias("tf")
                        )
                        for t in BM25_TERMS
                    ]
                )
            ).alias("e"),
        )
        .select("doc_id", "dl", "e.term", "e.tf")
        .filter(F.col("tf") > 0)
    )
    dfs = stats.select(
        "n_docs",
        "sdl",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(t).alias("term"), F.col(f"df_{t}").alias("df"))
                    for t in BM25_TERMS
                ]
            )
        ).alias("e"),
    ).select("n_docs", "sdl", "e.term", "e.df")
    qt = local_df(spark, _s14_query_terms(), "query_id long, term string")
    avgdl = F.col("sdl") * 1.0 / F.col("n_docs")
    idf = (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    term_score = (
        idf
        * (F.col("tf") * (BM25_K1 + 1))
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl))
    )
    lex_scored = (
        tfs.join(F.broadcast(qt), "term")
        .join(F.broadcast(dfs), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term_score).alias("score"))
    )
    wq = Window.partitionBy("query_id")
    lex = (
        lex_scored.withColumn(
            "lex_rank",
            F.row_number().over(wq.orderBy(F.desc("score"), "doc_id")),
        )
        .filter(F.col("lex_rank") <= ARM_DEPTH)
        .select("query_id", "doc_id", "lex_rank")
    )
    v = _vectors(spark, sf_dir)
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    corpus = v.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("doc_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    vec = (
        corpus.join(F.broadcast(queries))
        .select("query_id", "doc_id", cos.alias("cosine"))
        .withColumn(
            "vec_rank",
            F.row_number().over(wq.orderBy(F.desc("cosine"), "doc_id")),
        )
        .filter(F.col("vec_rank") <= ARM_DEPTH)
        .select("query_id", "doc_id", "vec_rank")
    )
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")), F.lit(0.0))
    fused = lex.join(vec, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        F.coalesce("lex_rank", F.lit(0)).alias("lex_rank"),
        F.coalesce("vec_rank", F.lit(0)).alias("vec_rank"),
        F.floor(rrf * 1_000_000 + F.lit(0.5)).alias("rrf_micro"),
    )
    return (
        fused.withColumn(
            "fused_rank",
            F.row_number().over(wq.orderBy(F.desc("rrf_micro"), "doc_id")),
        )
        .filter(F.col("fused_rank") <= FUSED_TOP)
        .orderBy("query_id", "fused_rank")
    )


def _s14_oracle() -> str:
    from .text import BM25_B, BM25_K1, BM25_TERMS

    tf_exprs = ",\n               ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    df_exprs = ",\n               ".join(
        f"sum((tf_{t} > 0)::INT) AS df_{t}" for t in BM25_TERMS
    )
    tf_stack = "\n        UNION ALL ".join(
        f"SELECT doc_id, dl, '{t}' AS term, tf_{t} AS tf FROM per_doc WHERE tf_{t} > 0"
        for t in BM25_TERMS
    )
    df_stack = "\n        UNION ALL ".join(
        f"SELECT n_docs, sdl, '{t}' AS term, df_{t} AS df FROM stats"
        for t in BM25_TERMS
    )
    qt_vals = ", ".join(f"({q}, '{t}')" for q, t in _s14_query_terms())
    score = (
        f"((n_docs - df + 0.5) / (df + 0.5))"
        f" * (tf * ({BM25_K1} + 1))"
        f" / (tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (sdl * 1.0 / n_docs)))"
    )
    return f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents WHERE doc_id >= {N_QUERIES}
    ),
    per_doc AS (
        SELECT doc_id, len(w) AS dl,
               {tf_exprs}
        FROM docs
    ),
    stats AS (
        SELECT count(*) AS n_docs, sum(dl) AS sdl,
               {df_exprs}
        FROM per_doc
    ),
    tfs AS (
        {tf_stack}
    ),
    dfs AS (
        {df_stack}
    ),
    qt (query_id, term) AS (VALUES {qt_vals}),
    lex_scored AS (
        SELECT qt.query_id, t.doc_id, sum({score}) AS score
        FROM qt
        JOIN tfs t USING (term)
        JOIN dfs d USING (term)
        GROUP BY 1, 2
    ),
    lex AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc_id) AS lex_rank
        FROM lex_scored
        QUALIFY lex_rank <= {ARM_DEPTH}
    ),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    vec_scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
               list_sum([q.v[i] * c.v[i] for i in generate_series(1, {DIM})])
               / (sqrt(list_sum([x*x for x in q.v])) * sqrt(list_sum([x*x for x in c.v])))
               AS cosine
        FROM v q CROSS JOIN v c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ),
    vec AS (
        SELECT query_id, doc_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, doc_id) AS vec_rank
        FROM vec_scored
        QUALIFY vec_rank <= {ARM_DEPTH}
    ),
    fused AS (
        SELECT coalesce(l.query_id, v2.query_id) AS query_id,
               coalesce(l.doc_id, v2.doc_id) AS doc_id,
               coalesce(l.lex_rank, 0)::BIGINT AS lex_rank,
               coalesce(v2.vec_rank, 0)::BIGINT AS vec_rank,
               floor((coalesce(1.0::DOUBLE / ({RRF_K} + l.lex_rank), 0.0)
                      + coalesce(1.0::DOUBLE / ({RRF_K} + v2.vec_rank), 0.0))
                     * 1000000 + 0.5)::BIGINT AS rrf_micro
        FROM lex l
        FULL OUTER JOIN vec v2
          ON v2.query_id = l.query_id AND v2.doc_id = l.doc_id
    )
    SELECT query_id, doc_id, lex_rank, vec_rank, rrf_micro,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rrf_micro DESC, doc_id) AS fused_rank
    FROM fused
    QUALIFY fused_rank <= {FUSED_TOP}
    ORDER BY query_id, fused_rank
    """


ORACLE["s14_rrf_fusion"] = _s14_oracle()
QUERIES["s14_rrf_fusion"] = s14_rrf_fusion


# --- s15: PQ asymmetric-distance (ADC) top-k — the IVF-PQ query path ---


def s15_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search over PQ codes (Jégou et al. 2011): each query builds
    a (M × codebook)-entry DISTANCE TABLE of exact query-subvector ↔
    sub-centroid distances, and every corpus vector is scored by
    summing M table lookups addressed by its 8-byte PQ code — the scan
    never touches raw corpus floats. This is the production query path
    for the codes s08 emits (s05's IVF prunes cells; ADC scores the
    survivors; s01/s04-style exact re-rank tails it).

    Plan shape at 100 TB: the distance table is |queries| × M ×
    |codebook| rows — broadcast; corpus codes (8 rows per vector,
    grouped on the already-carried vec_id) join it on (m, code)
    map-side, so the corpus is never shuffled by content and the scan
    cost is |codes| × |queries| integer-addressed lookups. The
    M-term sum folds a SORTED (m, d) list (ordered-fold float
    discipline: bit-identical to the oracle's list_sum(list ORDER BY
    m)). Top-k per query is a literal rank filter → WindowGroupLimit.
    ADC is approximate BY DESIGN relative to exact distance (that gap
    is s09/s13's audit surface); the gate verifies the ADC values
    themselves exactly, in e4 fixed-point.
    """
    v = _vectors(spark, sf_dir)
    sub, cent = _pq_sub_cent(v)
    codes = _pq_codes(sub.filter(F.col("vec_id") >= N_QUERIES), cent)
    dt = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .join(F.broadcast(cent), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            F.col("cent_label").alias("code"),
            _pq_d2().alias("d"),
        )
    )
    adc = (
        codes.join(F.broadcast(dt), ["m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("corpus_id"))
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("m", "d"))),
                F.lit(0.0),
                lambda acc, s: acc + s["d"],
            ).alias("adc")
        )
    )
    return (
        adc.withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(F.asc("adc"), "corpus_id")
            ),
        )
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id",
            "corpus_id",
            F.floor(F.col("adc") * 10000 + F.lit(0.5)).alias("adc_e4"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


ORACLE["s15_pq_adc"] = f"""
    WITH v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), sub AS (
        SELECT vec_id, label, m.m AS m,
               v[m.m * {PQ_DSUB} + 1 : m.m * {PQ_DSUB} + {PQ_DSUB}] AS sv
        FROM v CROSS JOIN (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m) m
    ), dims AS (
        SELECT label, m, p.p AS pos, sv[p.p] AS x
        FROM sub CROSS JOIN (SELECT unnest(generate_series(1, {PQ_DSUB})) AS p) p
    ), cent_dims AS (
        SELECT label, m, pos, avg(x) AS c FROM dims GROUP BY label, m, pos
    ), cent AS (
        SELECT label AS cent_label, m, list(c ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label, m
    ), scored AS (
        SELECT sub.vec_id, sub.m, cent.cent_label,
               list_sum([ (sv[i] - cv[i]) * (sv[i] - cv[i])
                          for i in generate_series(1, {PQ_DSUB}) ]) AS d2
        FROM sub JOIN cent ON sub.m = cent.m
        WHERE sub.vec_id >= {N_QUERIES}
    ), codes AS (
        SELECT vec_id, m, cent_label AS code
        FROM (SELECT vec_id, m, cent_label,
                     row_number() OVER (PARTITION BY vec_id, m
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM scored)
        WHERE rn = 1
    ), dt AS (
        SELECT sub.vec_id AS query_id, sub.m, cent.cent_label AS code,
               list_sum([ (sv[i] - cv[i]) * (sv[i] - cv[i])
                          for i in generate_series(1, {PQ_DSUB}) ]) AS d
        FROM sub JOIN cent ON sub.m = cent.m
        WHERE sub.vec_id < {N_QUERIES}
    ), adc AS (
        SELECT dt.query_id, c.vec_id AS corpus_id,
               list_sum(list(dt.d ORDER BY c.m)) AS adc
        FROM codes c JOIN dt ON dt.m = c.m AND dt.code = c.code
        GROUP BY 1, 2
    )
    SELECT query_id, corpus_id,
           floor(adc * 10000 + 0.5)::BIGINT AS adc_e4,
           rank
    FROM (SELECT query_id, corpus_id, adc,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY adc ASC, corpus_id) AS rank
          FROM adc)
    WHERE rank <= {TOPK}
    ORDER BY query_id, rank
"""
QUERIES["s15_pq_adc"] = s15_pq_adc


# ---------------------------------------------------------------------------
# s16: scalar-quantized (int8) search — the OTHER standard compression
# ---------------------------------------------------------------------------


def s16_sq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantized nearest-neighbor search: every dimension mapped
    to an 8-bit code by per-dimension min/max scaling, distances
    computed ENTIRELY in integer arithmetic over the codes — the
    compression scheme production vector stores ship alongside PQ
    (s08/s15): 64 float32 → 64 bytes with no codebook training, and
    integer SIMD scoring.

    code_d = clamp(⌊(x_d − min_d) · 255 / (max_d − min_d)⌋, 0, 255);
    the scaling expression has a fixed operand order, so both engines
    produce identical codes, and everything AFTER quantization —
    squared L2 over code deltas, ranking — is pure BIGINT: the gate is
    float-free past the code assignment.

    Plan shape at 100 TB: the per-dimension min/max is one
    posexplode + 64-group map-side-combinable aggregate, collapsed to
    a single broadcast row of two 64-element arrays (never a
    corpus-side join key); code assignment fuses into the scan
    projection; queries broadcast and the corpus never shuffles by
    content (the s01 discipline). The persisted artifact is the
    64-byte code column; raw vectors are only needed by a re-rank
    stage (s15's ADC story applies unchanged).
    """
    v = _vectors(spark, sf_dir)
    stats = (
        v.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("mns"),
            F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("mxs"),
        )
        .select(
            F.transform("mns", lambda s: s["mn"]).alias("mn"),
            F.transform("mxs", lambda s: s["mx"]).alias("mx"),
        )
    )
    # NB: Spark SQL bracket subscript is 0-based (element_at is the
    # 1-based accessor), so transform's 0-based i indexes mn/mx as-is
    code = F.expr(
        "transform(v, (x, i) -> CAST(least(255, greatest(0,"
        " CASE WHEN mx[i] = mn[i] THEN 0"
        " ELSE floor((x - mn[i]) * 255 / (mx[i] - mn[i])) END)) AS BIGINT))"
    )
    coded = v.crossJoin(F.broadcast(stats)).select(
        "vec_id", code.alias("c")
    )
    queries = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("c").alias("qc")
    )
    corpus = coded.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"), F.col("c").alias("cc")
    )
    d2 = F.aggregate(
        F.zip_with("qc", "cc", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id", "corpus_id", d2.alias("d2")
    )
    w = Window.partitionBy("query_id").orderBy("d2", "corpus_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "corpus_id", "d2", "rank")
        .orderBy("query_id", "rank")
    )


ORACLE["s16_sq_search"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    dims AS (
        SELECT p.p AS pos, min(v[p.p]) AS mn, max(v[p.p]) AS mx
        FROM v CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS p) p
        GROUP BY 1
    ),
    stats AS (
        SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
        FROM dims
    ),
    coded AS (
        SELECT vec_id,
               [least(255, greatest(0,
                   CASE WHEN mx[i] = mn[i] THEN 0
                        ELSE floor((v[i] - mn[i]) * 255 / (mx[i] - mn[i]))
                   END))::BIGINT
                for i in generate_series(1, {DIM})] AS c
        FROM v CROSS JOIN stats
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               list_sum([ (q.c[i] - c.c[i]) * (q.c[i] - c.c[i])
                          for i in generate_series(1, {DIM}) ])::BIGINT AS d2
        FROM coded q JOIN coded c
          ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    )
    SELECT query_id, corpus_id, d2, rank FROM (
        SELECT query_id, corpus_id, d2,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY d2, corpus_id) AS rank
        FROM scored)
    WHERE rank <= {TOPK}
    ORDER BY query_id, rank
"""
QUERIES["s16_sq_search"] = s16_sq_search


# ---------------------------------------------------------------------------
# s17: Rocchio pseudo-relevance feedback — query expansion + re-rank
# ---------------------------------------------------------------------------

S17_PRF_K = 5  # pseudo-relevant set size (first-pass top-k)
S17_BETA = 0.75  # classic Rocchio feedback weight (alpha = 1)


def s17_rocchio_prf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance feedback (Rocchio): run the query, assume the
    top-S17_PRF_K hits are relevant, move each query toward their
    centroid (q' = q + β·c̄), and re-rank with the expanded query —
    the classic zero-supervision recall booster, and the retrieval
    family's missing feedback loop (s01 scores, s12 prefilters, s14
    fuses arms; s17 actually REWRITES the query from results).

    Scale shape: two broadcast passes over the corpus — the corpus
    never shuffles by content in either pass (the s01 discipline);
    everything between the passes (pseudo-relevant sets, per-query
    centroids, expanded queries) is |Q|·k-sized and rides broadcast
    joins. At 100 TB each pass is the same scan shape s01 ships, and
    the first pass would be s05's IVF prefilter instead — the
    feedback algebra is unchanged.

    Exactness: the feedback centroid is a LEFT FOLD over the
    rank-ordered pseudo-relevant values per dimension (a bare avg()
    would sum in partition order — nondeterministic across engines);
    q' is an element-wise zip with literal β; all dots/norms are the
    module's standard sequential folds.
    """
    v = _vectors(spark, sf_dir)
    queries = v.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        _norm(F.col("v")).alias("qn"),
    )
    corpus = v.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("v").alias("cv"),
        _norm(F.col("v")).alias("cn"),
    )
    cos1 = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    prf = (
        corpus.join(F.broadcast(queries))
        .select("query_id", "corpus_id", "cv", cos1.alias("cosine"))
        .withColumn("rank", F.row_number().over(w1))
        .filter(F.col("rank") <= S17_PRF_K)
    )
    cent = (
        prf.select("query_id", "rank", F.posexplode("cv").alias("pos", "x"))
        .groupBy("query_id", "pos")
        .agg(
            (
                F.aggregate(
                    F.array_sort(F.collect_list(F.struct("rank", "x"))),
                    F.lit(0.0),
                    lambda acc, s: acc + s["x"],
                )
                / S17_PRF_K
            ).alias("c")
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
    )
    q2 = (
        queries.join(F.broadcast(cent), "query_id")
        .select(
            "query_id",
            F.zip_with(
                "qv", "cvec", lambda a, b: a + F.lit(S17_BETA) * b
            ).alias("q2v"),
        )
        .withColumn("q2n", _norm(F.col("q2v")))
    )
    cos2 = _dot(F.col("q2v"), F.col("cv")) / (F.col("q2n") * F.col("cn"))
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        corpus.join(F.broadcast(q2))
        .select("query_id", "corpus_id", cos2.alias("cosine"))
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= TOPK)
        .select(
            "query_id",
            "corpus_id",
            F.round("cosine", 4).alias("cosine"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )


ORACLE["s17_rocchio_prf"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    queries AS (
        SELECT vec_id AS query_id, v AS qv,
               sqrt(list_sum([x * x FOR x IN v])) AS qn
        FROM v WHERE vec_id < {N_QUERIES}
    ),
    corpus AS (
        SELECT vec_id AS corpus_id, v AS cv,
               sqrt(list_sum([x * x FOR x IN v])) AS cn
        FROM v WHERE vec_id >= {N_QUERIES}
    ),
    pass1 AS (
        SELECT query_id, corpus_id, cv,
               list_sum([qv[i] * cv[i]
                         FOR i IN generate_series(1, {DIM})]) / (qn * cn)
                   AS cosine
        FROM corpus, queries
    ),
    prf AS (
        SELECT query_id, corpus_id, cv, rank FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY cosine DESC, corpus_id
            ) AS rank FROM pass1
        ) WHERE rank <= {S17_PRF_K}
    ),
    cent_dims AS (
        SELECT query_id, pos.i AS pos,
               list_sum([s.x FOR s IN
                         list({{'rank': rank, 'x': cv[pos.i]}} ORDER BY rank)])
                   / {S17_PRF_K} AS c
        FROM prf, (SELECT unnest(generate_series(1, {DIM})) AS i) pos
        GROUP BY query_id, pos.i
    ),
    cent AS (
        SELECT query_id, list(c ORDER BY pos) AS cvec
        FROM cent_dims GROUP BY query_id
    ),
    q2 AS (
        SELECT q.query_id,
               [q.qv[i] + {S17_BETA} * cent.cvec[i]
                FOR i IN generate_series(1, {DIM})] AS q2v
        FROM queries q JOIN cent USING (query_id)
    ),
    q2n AS (
        SELECT query_id, q2v,
               sqrt(list_sum([x * x FOR x IN q2v])) AS q2n
        FROM q2
    ),
    pass2 AS (
        SELECT query_id, corpus_id,
               list_sum([q2v[i] * cv[i]
                         FOR i IN generate_series(1, {DIM})]) / (q2n * cn)
                   AS cosine
        FROM corpus, q2n
    )
    SELECT query_id, corpus_id, round(cosine, 4) AS cosine, rank
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cosine DESC, corpus_id
        ) AS rank FROM pass2
    ) WHERE rank <= {TOPK}
    ORDER BY query_id, rank
"""
QUERIES["s17_rocchio_prf"] = s17_rocchio_prf


# ---------------------------------------------------------------------------
# s18: filtered vector search (pre-filter exact + post-filter recall audit)
# ---------------------------------------------------------------------------

S18_LABEL = 3       # metadata predicate: corpus restricted to this label
S18_POST_K = 20     # post-filter arm: global top-K candidates, then filter


def s18_filtered_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search — the metadata-constrained retrieval
    every production vector store must answer (`WHERE label = X ORDER
    BY cosine LIMIT k`), plus the audit of the cheap way to fake it.
    Two arms over one scoring pass:

    * PRE-filter (the correct plan): restrict the corpus to the
      predicate FIRST — the label filter pushes into the parquet scan
      — then exact top-k. Recall is 1 by construction.
    * POST-filter (the tempting shortcut when an unfiltered ANN index
      already exists): take the global top-S18_POST_K, THEN apply the
      predicate. Every pre-filter result row carries ``in_postfilter``
      — whether the shortcut would have surfaced it. The fraction of
      zeros IS the post-filter recall loss this operator exists to
      measure.

    Scale: one Arrow/numpy scoring pass over the corpus (the s04
    kernel — queries broadcast by closure, corpus never shuffles for
    scoring); both arms are rank-filter windows on the scored pairs,
    which InferWindowGroupLimit bounds to the pushed k. The flag join
    broadcasts the ≤ |queries|·S18_POST_K post-filter survivor set.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as W

    v = _vectors(spark, sf_dir)
    qrows = v.filter(F.col("vec_id") < N_QUERIES).orderBy("vec_id").collect()
    if not qrows:
        # degenerate corpus with no query rows: zero result rows, same
        # as the oracle (degenerate-mode fuzz catch, round 10 — the
        # s04 empty-q_mat driver crash, same kernel)
        return local_df(
            spark, [], "query_id long, corpus_id long, rank int, in_postfilter int"
        )
    q_ids = [r.vec_id for r in qrows]
    q_mat = np.array([r.v for r in qrows], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("corpus_id", T.LongType()),
            T.StructField("label", T.IntegerType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            c = np.array(list(pdf["v"]), dtype=np.float64)
            c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ q_mat.T
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(q_ids, n),
                    "corpus_id": np.tile(pdf["vec_id"].values, len(q_ids)),
                    "label": np.tile(pdf["label"].values, len(q_ids)),
                    "cosine": sims.T.reshape(-1),
                }
            )

    # the scored pairs feed BOTH rank arms (pre-filter and global) —
    # checkpoint the one numpy scoring pass rather than running the
    # corpus matmul twice (round-8 review); the materialized rows are
    # narrow (two ids, a label, a double — no vectors)
    scored = (
        v.filter(F.col("vec_id") >= N_QUERIES)
        .select("vec_id", "label", "v")
        .mapInPandas(score, out_schema)
        .localCheckpoint(eager=False)
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("corpus_id"))
    pre = (
        scored.filter(F.col("label") == S18_LABEL)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "corpus_id", "rank")
    )
    post = (
        scored.withColumn("grank", F.row_number().over(w))
        .filter(F.col("grank") <= S18_POST_K)
        .filter(F.col("label") == S18_LABEL)
        .select("query_id", F.col("corpus_id").alias("p_id"))
    )
    return (
        pre.join(
            F.broadcast(post),
            (pre.query_id == post.query_id) & (pre.corpus_id == post.p_id),
            "left",
        )
        .select(
            pre.query_id,
            "corpus_id",
            "rank",
            F.col("p_id").isNotNull().cast("int").alias("in_postfilter"),
        )
        .orderBy("query_id", "rank")
    )


ORACLE["s18_filtered_search"] = f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id, c.label,
               list_sum([q.v[i] * c.v[i] for i in generate_series(1, {DIM})])
               / (sqrt(list_sum([x*x for x in q.v])) * sqrt(list_sum([x*x for x in c.v])))
               AS cosine
        FROM v q CROSS JOIN v c
        WHERE q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    ),
    pre AS (
        SELECT query_id, corpus_id, rank FROM (
            SELECT query_id, corpus_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, corpus_id) AS rank
            FROM scored WHERE label = {S18_LABEL}
        ) WHERE rank <= {TOPK}
    ),
    post AS (
        SELECT query_id, corpus_id FROM (
            SELECT query_id, corpus_id, label,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, corpus_id) AS grank
            FROM scored
        ) WHERE grank <= {S18_POST_K} AND label = {S18_LABEL}
    )
    SELECT pre.query_id, pre.corpus_id, pre.rank,
           (post.corpus_id IS NOT NULL)::INT AS in_postfilter
    FROM pre
    LEFT JOIN post ON pre.query_id = post.query_id
                  AND pre.corpus_id = post.corpus_id
    ORDER BY pre.query_id, pre.rank
"""
QUERIES["s18_filtered_search"] = s18_filtered_search


# ---------------------------------------------------------------------------
# LSH views for the NN-descent base graph
# ---------------------------------------------------------------------------


def _view_bucket(planes: list[list[int]]) -> str:
    """LSH bucket id over column ``v`` from an explicit plane slice
    (the s07 bucketing generalized so the NN-descent base graph can
    build several independent views) — as ONE SQL string (r12, guide
    §7.3): per plane the ±1 weight array alone was 64 py4j ``lit``
    round trips, ~0.5 s of driver time per 8-plane bucket built as
    Column objects; the string parses JVM-side into the identical
    expression tree."""
    terms = []
    for p, wts in enumerate(planes):
        arr = "array(" + ", ".join(f"{float(x)}D" for x in wts) + ")"
        dot = (
            f"aggregate(zip_with(v, {arr}, (x, y) -> x * y), 0.0D,"
            f" (acc, x) -> acc + x)"
        )
        terms.append(
            f"shiftleft(CASE WHEN {dot} > 0 THEN CAST(1 AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END, {p})"
        )
    return " + ".join(terms)


# ---------------------------------------------------------------------------
# s20: MMR-diversified top-k retrieval
# ---------------------------------------------------------------------------

MMR_POOL = 12  # relevance-ranked candidate pool fed to the greedy stage
MMR_K = 4  # results returned
MMR_LAMBDA = 0.7  # relevance weight; (1 - lambda) penalizes redundancy


def s20_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR'98)
    diversified retrieval: after the distributed relevance stage, pick
    results greedily by ``lambda*rel - (1-lambda)*max sim to already
    selected`` so the top-k covers the query's neighborhood instead of
    returning four near-copies — the standard de-redundancy step on
    top of any ANN ranker (s01/s12). The empty-selection penalty is 0,
    so step 1 is pure relevance.

    Plan shape: the corpus never leaves the executors — relevance is a
    broadcast-query scan + TakeOrdered top-``MMR_POOL`` (exactly s01's
    scaling), and pairwise sims among the pool are a broadcast
    self-join of MMR_POOL rows. Only those <= POOL + POOL^2 scored rows
    are collected; the greedy loop is O(K*POOL) driver arithmetic over
    that bounded set (the drill-bracket discipline: collect only
    provably tiny relations). All cosines use the sequential-fold
    kernel, so driver floats equal oracle doubles bit-for-bit.
    """
    v = _vectors(spark, sf_dir)
    # Anchor on the SMALLEST PRESENT query-block id, never a hardcoded
    # vec_id 0: the randomized oracle fuzzer (tools/fuzz_oracle.py)
    # sampled the 0-row away and the greedy loop crashed on the empty
    # pool. min(vec_id<N_QUERIES) == 0 on the driver testdata, so gate
    # hashes are unchanged; on an arbitrary subset both engines now
    # make the identical anchor choice (or return 0 rows if the whole
    # query block is absent).
    q = (
        v.filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .limit(1)
        .select(F.col("v").alias("qv"), _norm(F.col("v")).alias("qn"))
    )
    corpus = v.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"), F.col("v").alias("cv"), _norm(F.col("v")).alias("cn")
    )
    rel_cos = _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    pool = (
        corpus.join(F.broadcast(q))
        .select("corpus_id", "cv", "cn", rel_cos.alias("rel"))
        .orderBy(F.col("rel").desc(), "corpus_id")
        .limit(MMR_POOL)
    )
    pool = bounded_persist(pool, "similarity.s20.pool")
    a = pool.select(F.col("corpus_id").alias("ida"), F.col("cv").alias("va"), F.col("cn").alias("na"))
    b = pool.select(F.col("corpus_id").alias("idb"), F.col("cv").alias("vb"), F.col("cn").alias("nb"))
    sim_cos = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    sims = (
        a.join(F.broadcast(b), F.col("ida") != F.col("idb"))
        .select("ida", "idb", sim_cos.alias("sim"))
    )
    rel_rows = {int(r.corpus_id): float(r.rel) for r in pool.select("corpus_id", "rel").collect()}
    sim_rows = {(int(r.ida), int(r.idb)): float(r.sim) for r in sims.collect()}
    selected: list[tuple[int, int, float, float]] = []  # (step, id, score, rel)
    chosen: list[int] = []
    for step in range(1, MMR_K + 1):
        best = None
        for cid in sorted(rel_rows):
            if cid in chosen:
                continue
            penalty = max((sim_rows[(cid, s)] for s in chosen), default=0.0)
            score = MMR_LAMBDA * rel_rows[cid] - (1 - MMR_LAMBDA) * penalty
            if best is None or score > best[0]:
                best = (score, cid)
        if best is None:  # pool exhausted before MMR_K — oracle's step
            break  # CTE goes empty at the same k, so rows still match
        selected.append((step, best[1], best[0], rel_rows[best[1]]))
        chosen.append(best[1])
    out = local_df(
        spark, selected, "step int, corpus_id long, mmr_score double, relevance double"
    )
    return out.select(
        "step",
        "corpus_id",
        F.round("mmr_score", 4).alias("mmr_score"),
        F.round("relevance", 4).alias("relevance"),
    ).orderBy("step")


def _s20_oracle() -> str:
    lam, pen = MMR_LAMBDA, 1 - MMR_LAMBDA
    dot = f"list_sum([a.v[i] * z.v[i] for i in generate_series(1, {DIM})])"
    steps = []
    for k in range(2, MMR_K + 1):
        prev = " UNION ALL ".join(f"SELECT corpus_id FROM s{j}" for j in range(1, k))
        steps.append(f"""
    s{k} AS MATERIALIZED (
        SELECT r.corpus_id, {lam} * r.rel - {pen} * max(s.sim) AS score, r.rel
        FROM rel r JOIN sims s
          ON s.ida = r.corpus_id AND s.idb IN ({prev})
        WHERE r.corpus_id NOT IN ({prev})
        GROUP BY r.corpus_id, r.rel
        ORDER BY score DESC, r.corpus_id LIMIT 1
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {k} AS step, corpus_id, round(score, 4) AS mmr_score, "
        f"round(rel, 4) AS relevance FROM s{k}"
        for k in range(1, MMR_K + 1)
    )
    return f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               sqrt(list_sum([x*x for x in embedding::DOUBLE[]])) AS vn
        FROM embeddings
    ), q AS (SELECT v, vn FROM v
             WHERE vec_id = (SELECT min(vec_id) FROM v
                             WHERE vec_id < {N_QUERIES})),
    rel AS MATERIALIZED (
        SELECT z.vec_id AS corpus_id,
               list_sum([q.v[i] * z.v[i] for i in generate_series(1, {DIM})])
                   / (q.vn * z.vn) AS rel
        FROM v z, q WHERE z.vec_id >= {N_QUERIES}
        ORDER BY rel DESC, corpus_id LIMIT {MMR_POOL}
    ), sims AS MATERIALIZED (
        SELECT ra.corpus_id AS ida, rb.corpus_id AS idb,
               {dot} / (a.vn * z.vn) AS sim
        FROM rel ra JOIN rel rb ON ra.corpus_id != rb.corpus_id
        JOIN v a ON a.vec_id = ra.corpus_id
        JOIN v z ON z.vec_id = rb.corpus_id
    ), s1 AS MATERIALIZED (
        SELECT corpus_id, {lam} * rel AS score, rel
        FROM rel ORDER BY score DESC, corpus_id LIMIT 1
    ),{",".join(steps)}
    {selects}
    ORDER BY step
"""


ORACLE["s20_mmr_diversify"] = _s20_oracle()
QUERIES["s20_mmr_diversify"] = s20_mmr_diversify


# ---------------------------------------------------------------------------
# s21: k-center greedy selection (farthest-point traversal)
# ---------------------------------------------------------------------------

KCENTER_K = 5  # centers selected (seed + 4 greedy rounds)


def s21_kcenter_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-center greedy selection (Gonzalez 1985 farthest-point
    traversal): seed with the smallest present vec_id, then repeatedly pick the vector
    FARTHEST from its nearest already-selected center — the classic
    2-approximation for k-center and the standard diversity/coreset
    selector a training pipeline uses to pick maximally-spread
    exemplars (the opposite of s20's query-anchored MMR: no query,
    pure corpus coverage). Output: selection order, the chosen vector,
    and its squared distance to the nearest previous center (the
    covering radius the next round improves).

    Plan shape: each greedy round is ONE corpus scan + a combinable
    max-of-struct aggregate — the selected centers are embedded as
    literal arrays (bounded: K vectors), so nothing joins and nothing
    shuffles but the single agg row; at 100 TB each round is a
    map-side-combinable reduction, and rounds are K-1 sequential jobs
    (the q92/q83 iterative discipline, with K fixed and tiny).
    Distances are sequential folds of (x-y)^2, ties break to the
    smaller vec_id via a negated-id struct max — all exact
    cross-engine, so the oracle hash-matches bit-for-bit.
    """
    v = bounded_persist(_vectors(spark, sf_dir).select("vec_id", "v"), "similarity.s21.v")
    # Seed with the SMALLEST PRESENT vec_id (fuzzer-proofed like s20:
    # a hardcoded 0 crashed when subsampling dropped that row; the min
    # is 0 on the driver testdata, so gate hashes are unchanged).
    seed_rows = v.orderBy("vec_id").limit(1).collect()
    if not seed_rows:  # empty corpus — oracle's c1 is empty too
        v.unpersist()
        return local_df(spark, [], "step int, vec_id long, min_dist_sq double")
    seed = seed_rows[0]
    centers: list[tuple[int, list[float], float | None]] = [
        (int(seed.vec_id), list(seed.v), None)
    ]

    def dist_to(cv: list[float]) -> str:
        # SQL string, not 64 py4j lit() calls (r12, guide §7.3): repr
        # round-trips doubles bit-exactly (the litdf precedent, pinned
        # by tests/test_litdf.py), and the parsed tree is identical
        carr = "array(" + ", ".join(f"{float(x)!r}D" for x in cv) + ")"
        return (
            f"aggregate(zip_with(v, {carr}, (x, y) -> (x - y) * (x - y)),"
            f" 0.0D, (acc, x) -> acc + x)"
        )

    for _ in range(KCENTER_K - 1):
        dists = [dist_to(cv) for _, cv, _ in centers]
        mind = f"least({', '.join(dists)})" if len(dists) > 1 else dists[0]
        chosen_ids = [cid for cid, _, _ in centers]
        best = (
            v.filter(~F.col("vec_id").isin(chosen_ids))
            .selectExpr("vec_id", "v", f"{mind} AS d")
            .agg(F.max(F.struct(F.col("d"), (-F.col("vec_id")).alias("nid"), F.col("v"))).alias("m"))
            .collect()[0]
            .m
        )
        if best is None:  # fewer than KCENTER_K vectors — oracle's
            break  # c{k} CTE is empty at the same k, rows still match
        centers.append((int(-best.nid), list(best.v), float(best.d)))

    v.unpersist()  # the returned frame is driver-built; don't pin the cache
    rows = [
        (step + 1, cid, None if d is None else round(d, 4))
        for step, (cid, _, d) in enumerate(centers)
    ]
    return local_df(
        spark, rows, "step int, vec_id long, min_dist_sq double"
    ).orderBy("step")


def _s21_oracle() -> str:
    dist = (
        "list_sum([(z.v[i] - {c}.v[i]) * (z.v[i] - {c}.v[i]) "
        f"for i in generate_series(1, {DIM})])"
    )
    ctes, prev = [], ["c1"]
    ctes.append(
        "c1 AS MATERIALIZED (SELECT vec_id, v FROM v "
        "WHERE vec_id = (SELECT min(vec_id) FROM v))"
    )
    for k in range(2, KCENTER_K + 1):
        dists = ", ".join(dist.format(c=c) for c in prev)
        mind = f"least({dists})" if len(prev) > 1 else dists
        notin = " UNION ALL ".join(f"SELECT vec_id FROM {c}" for c in prev)
        ctes.append(f"""
    c{k} AS MATERIALIZED (
        SELECT z.vec_id, z.v, {mind} AS d
        FROM v z, {', '.join(prev)}
        WHERE z.vec_id NOT IN ({notin})
        ORDER BY d DESC, z.vec_id LIMIT 1
    )""")
        prev.append(f"c{k}")
    selects = ["SELECT 1 AS step, vec_id, NULL::DOUBLE AS min_dist_sq FROM c1"]
    selects += [
        f"SELECT {k} AS step, vec_id, round(d, 4) AS min_dist_sq FROM c{k}"
        for k in range(2, KCENTER_K + 1)
    ]
    return f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), {','.join(ctes)}
    {' UNION ALL '.join(selects)}
    ORDER BY step
"""


ORACLE["s21_kcenter_select"] = _s21_oracle()
QUERIES["s21_kcenter_select"] = s21_kcenter_select


# ---------------------------------------------------------------------------
# s22: NN-descent iterated to convergence (_nn_descent_round run as
# the full loop with a fixpoint stopping rule and a fail-loud round
# bound, the d17/q92 discipline)
# ---------------------------------------------------------------------------

S22_MAX_ROUNDS = 8  # fail-loud bound; sf0.001-0.1 stop by round 4-5
# Dong et al.'s update-rate termination: stop at the first round whose
# ADOPTED new-edge count drops to <= delta * |edges| (they use
# delta = 0.001 at web scale; 1/100 fits the synthetic corpus' faster
# geometric decay). Integer num/den, never a float delta: the Spark
# loop and the unrolled DuckDB oracle must make the IDENTICAL stopping
# decision (gained * DEN <= edges_prev * NUM, all BIGINT).
S22_DELTA_NUM, S22_DELTA_DEN = 1, 100
S22_RECALL_SAMPLE_MOD = 4  # h64(vec_id) % MOD == 0 -> deterministic probe nodes


def _nn_base_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-view LSH base graph (distinct union of per-view,
    per-bucket exact kNN): the seed every NN-descent round starts from.

    The base MUST be multi-view: a single LSH bucketing partitions the
    corpus, so knn(u) ⊆ bucket(u) makes every neighbor-of-neighbor
    land back in bucket(u) and a descent round provably a no-op. With
    two independent plane sets (planes 0-3 and 4-7), u's view-A
    neighbor contributes its view-B neighborhood — candidates u's own
    buckets never contained.

    BOTH views ride one exploded (view, bucket) key — one exchange +
    one applyInPandas stage instead of a per-view pair (the kernel
    blocks on the composite key, so view-A and view-B buckets never
    mix); the 2-element struct array is literal-arity, which keeps
    the InferFiltersFromGenerate double-evaluation trap (d18) away."""
    views = [
        hyperplane_weights()[:N_GRAPH_PLANES],
        hyperplane_weights()[N_GRAPH_PLANES : 2 * N_GRAPH_PLANES],
    ]
    vv = _vectors(spark, sf_dir)
    vb_sql = ", ".join(
        f"struct({i} AS view, {_view_bucket(pl)} AS bucket)"
        for i, pl in enumerate(views)
    )
    b = vv.selectExpr(
        "vec_id", "v", f"explode(array({vb_sql})) AS vb"
    ).select(
        "vec_id", "v", F.col("vb.view").alias("view"), F.col("vb.bucket").alias("bucket")
    )
    return _knn_block_apply(b, keys=("view", "bucket")).dropDuplicates(
        ["vec_id", "neighbor_id"]
    )


def _nn_descent_round(g: DataFrame, vu: DataFrame, vc: DataFrame) -> DataFrame:
    """One NN-descent step: candidates = direct ∪ reverse ∪ 2-hop over
    the O(n·k) edge list (≤ 2k + 2k + 4k² per node, corpus-size-free),
    re-ranked by exact cosine, top KNN_K kept. Deterministic given g
    (ties break on neighbor id), so a repeated edge set IS a fixpoint."""
    e = g.select("vec_id", "neighbor_id")
    direct = e.select(F.col("vec_id").alias("u"), F.col("neighbor_id").alias("c"))
    reverse = e.select(F.col("neighbor_id").alias("u"), F.col("vec_id").alias("c"))
    g1, g2 = e.alias("g1"), e.alias("g2")
    hop2 = (
        g1.join(g2, F.col("g1.neighbor_id") == F.col("g2.vec_id"))
        .filter(F.col("g2.neighbor_id") != F.col("g1.vec_id"))
        .select(F.col("g1.vec_id").alias("u"), F.col("g2.neighbor_id").alias("c"))
    )
    cand = direct.unionByName(reverse).unionByName(hop2).distinct()
    cos = _dot(F.col("uv"), F.col("cv")) / (F.col("un") * F.col("cn"))
    scored = cand.join(vu, "u").join(vc, "c").select("u", "c", cos.alias("cosine"))
    w = Window.partitionBy("u").orderBy(F.col("cosine").desc(), F.col("c"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select(
            F.col("u").alias("vec_id"),
            F.col("c").alias("neighbor_id"),
            "rank",
            "cosine",
        )
    )


def nn_descent_converge(
    spark: SparkSession,
    sf_dir: str,
    *,
    max_rounds: int = S22_MAX_ROUNDS,
    stats: dict | None = None,
) -> DataFrame:
    """NN-descent (Dong et al., WWW'11) run to CONVERGENCE: rounds of
    :func:`_nn_descent_round` until the update rate dies — the first
    round r ≥ 2 whose adopted-new-edge count (|g_r \\ g_{r-1}|)
    satisfies ``gained * S22_DELTA_DEN <= |g_{r-1}| * S22_DELTA_NUM``
    (Dong et al.'s delta-termination). Progress is guaranteed: each
    node's candidate set contains its current list, so the per-node
    (cosine, neighbor) key-sequence is monotone non-decreasing in a
    finite lattice — adopted counts decay to 0 and the rule MUST fire;
    the fail-loud ``max_rounds`` bound (the d17/q92 discipline) turns
    a nondeterministic-scoring bug into an error instead of a hang.
    Per-round ``localCheckpoint`` keeps plan depth O(1).

    Per-round cost is three bounded equi-joins on the O(n·k) edge list
    plus one O(n·k) anti-join count for the rule — no round touches
    the n×n space, so the loop's total cost is
    rounds × O(n·k·fanout) at any corpus size.

    ``stats`` (optional) receives ``rounds`` (the stopping round),
    ``adopted`` (new-edge count per round, r=2 onward), and ``base``
    (the materialized two-view seed graph, so callers needing it —
    s22's new_edge marking — don't pay the base-graph job twice).
    """
    v = _vectors(spark, sf_dir)
    vu = v.select(
        F.col("vec_id").alias("u"), F.col("v").alias("uv"), _norm(F.col("v")).alias("un")
    )
    vc = v.select(
        F.col("vec_id").alias("c"), F.col("v").alias("cv"), _norm(F.col("v")).alias("cn")
    )
    # eager=False throughout: the per-round stats action below is what
    # materializes each checkpoint, so a round costs ONE job (not a
    # checkpoint job + an anti-join job + a count job)
    base = _nn_base_graph(spark, sf_dir).localCheckpoint(eager=False)
    g = base
    prev: DataFrame | None = None
    adopted_per_round: list[int] = []
    stopped_at: int | None = None
    for r in range(1, max_rounds + 1):
        nxt = _nn_descent_round(g, vu, vc).localCheckpoint(eager=False)
        if prev is None:
            # round 1 runs NO action (r13): |g_1| rides round 2's rule
            # aggregate below, so the loop costs one job per RULE
            # evaluation, not one extra count up front
            prev = nxt
            g = nxt
            continue
        # one job returns ALL rule inputs — |g_{r-1}| and the adopted
        # count |g_r \ g_{r-1}| — via a full-outer tag join
        # (the identical integer rule decision as the old
        # count-then-left-join pair, one action earlier)
        row = (
            prev.select("vec_id", "neighbor_id")
            .withColumn("_old", F.lit(1))
            .join(
                nxt.select("vec_id", "neighbor_id").withColumn("_new", F.lit(1)),
                ["vec_id", "neighbor_id"],
                "full_outer",
            )
            .agg(
                F.sum(F.when(F.col("_old").isNotNull(), 1).otherwise(0)).alias(
                    "edges_prev"
                ),
                F.sum(
                    F.when(F.col("_old").isNull() & F.col("_new").isNotNull(), 1)
                    .otherwise(0)
                ).alias("gained"),
            )
            .collect()[0]
        )
        gained = int(row["gained"] or 0)
        prev_edges = int(row["edges_prev"] or 0)
        adopted_per_round.append(gained)
        if gained * S22_DELTA_DEN <= prev_edges * S22_DELTA_NUM:
            stopped_at = r
            g = nxt
            break
        prev = nxt
        g = nxt
    if stopped_at is None:
        raise RuntimeError(
            f"nn_descent_converge: update rate still above "
            f"{S22_DELTA_NUM}/{S22_DELTA_DEN} after {max_rounds} rounds "
            f"(adopted per round: {adopted_per_round}) — raise S22_MAX_ROUNDS "
            "only with a written rationale; an ever-churning graph means the "
            "tie-break or scoring is nondeterministic"
        )
    if stats is not None:
        stats["rounds"] = stopped_at
        stats["adopted"] = adopted_per_round
        stats["base"] = base
    return g


def nn_descent_sampled_recall(
    graph: DataFrame, v: DataFrame, sample_mod: int = S22_RECALL_SAMPLE_MOD
) -> float:
    """Sampled recall@KNN_K of ``graph`` vs the EXACT top-k — the
    production stopping signal when a recall target (not the exact
    fixpoint) bounds the loop. Deterministic probe nodes
    (h64(vec_id) % mod == 0) broadcast against ONE corpus scan: cost
    is O(S·n) row ops with S = n/mod sample rows, never n².

    Exact top-k uses the same (cosine desc, neighbor asc) rule as the
    descent, so graph == exact ⇒ recall == 1.0 exactly."""
    from ..functions.hashing import h64

    sample = v.filter(h64(F.col("vec_id").cast("string")) % sample_mod == 0).select(
        F.col("vec_id").alias("u"), F.col("v").alias("uv"), _norm(F.col("v")).alias("un")
    )
    corpus = v.select(
        F.col("vec_id").alias("c"), F.col("v").alias("cv"), _norm(F.col("v")).alias("cn")
    )
    # bounded crossJoin: the broadcast side is the S-row probe sample
    pairs = corpus.crossJoin(F.broadcast(sample)).filter(F.col("c") != F.col("u"))
    cos = _dot(F.col("uv"), F.col("cv")) / (F.col("un") * F.col("cn"))
    w = Window.partitionBy("u").orderBy(F.col("cosine").desc(), F.col("c"))
    exact = (
        pairs.select("u", "c", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= KNN_K)
        .select("u", "c")
    )
    hits = exact.join(
        graph.select(
            F.col("vec_id").alias("u"), F.col("neighbor_id").alias("c")
        ),
        ["u", "c"],
        "left_semi",
    )
    total = exact.count()
    return (hits.count() / total) if total else 1.0


def s22_nn_descent_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered convergence loop: the final kNN graph with
    ``new_edge`` marking neighbors the descent recovered beyond the
    two-view LSH base, plus the stopping round — the first r ≥ 2
    whose adopted-edge count satisfies the integer update-rate rule
    (NOT the exact fixpoint; see ``nn_descent_converge``). The oracle
    unrolls the identical round as chained MATERIALIZED CTEs (the q92
    fixed-unroll pattern) and computes the SAME stopping round from
    pairwise CTE gain counts, then selects that round's graph."""
    stats: dict = {}
    g = nn_descent_converge(spark, sf_dir, stats=stats)
    # the seed graph was already materialized inside the loop — reuse
    # it instead of re-running the LSH + per-bucket kNN job (review)
    base = stats["base"].select(
        F.col("vec_id").alias("bu"), F.col("neighbor_id").alias("bc")
    )
    out = g.join(
        base,
        (F.col("vec_id") == F.col("bu")) & (F.col("neighbor_id") == F.col("bc")),
        "left",
    )
    return (
        out.select(
            "vec_id",
            "neighbor_id",
            "rank",
            F.round("cosine", 4).alias("cosine"),
            F.when(F.col("bu").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("new_edge"),
            F.lit(stats["rounds"]).cast("int").alias("rounds"),
        )
        .orderBy("vec_id", "rank")
    )


def _s22_oracle() -> str:
    head = f"""
    WITH {_VECTORS_CTE}, {_knn_view_cte("knn_a", 0, N_GRAPH_PLANES)},
    {_knn_view_cte("knn_b", N_GRAPH_PLANES, 2 * N_GRAPH_PLANES)},
    g0 AS MATERIALIZED (
        SELECT DISTINCT vec_id, neighbor_id FROM (
            SELECT vec_id, neighbor_id FROM knn_a
            UNION ALL
            SELECT vec_id, neighbor_id FROM knn_b
        )
    )"""
    body = ""
    for i in range(1, S22_MAX_ROUNDS + 1):
        # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
        # g_i references g_{i-1} four times — an unrolled 8-round chain
        # would expand 4^8 scans of the parquet (observed: 'Too many
        # open files'); materialization computes each round once
        body += f""",
    cand{i} AS MATERIALIZED (
        SELECT DISTINCT u, c FROM (
            SELECT vec_id AS u, neighbor_id AS c FROM g{i - 1}
            UNION ALL
            SELECT neighbor_id AS u, vec_id AS c FROM g{i - 1}
            UNION ALL
            SELECT a.vec_id AS u, e.neighbor_id AS c
            FROM g{i - 1} a JOIN g{i - 1} e ON a.neighbor_id = e.vec_id
            WHERE e.neighbor_id != a.vec_id
        )
    ),
    g{i} AS MATERIALIZED (
        SELECT u AS vec_id, c AS neighbor_id, rank, cosine FROM (
            SELECT u, c, cosine,
                   row_number() OVER (PARTITION BY u
                                      ORDER BY cosine DESC, c) AS rank
            FROM (
                SELECT cd.u, cd.c,
                       list_sum([a.v[i] * z.v[i]
                                 for i in generate_series(1, {DIM})])
                           / (a.vn * z.vn) AS cosine
                FROM cand{i} cd
                JOIN v a ON a.vec_id = cd.u JOIN v z ON z.vec_id = cd.c
            )
        ) WHERE rank <= {KNN_K}
    )"""
    # stopping round: first r >= 2 whose adopted-new-edge count obeys
    # gained * DEN <= |g_{r-1}| * NUM — the IDENTICAL integer rule the
    # Spark loop evaluates, so both engines stop on the same round
    gain = (
        lambda r: f"(SELECT count(*) FROM ((SELECT vec_id, neighbor_id FROM g{r}) "
        f"EXCEPT (SELECT vec_id, neighbor_id FROM g{r - 1})))"
    )
    edges = lambda r: f"(SELECT count(*) FROM g{r})"  # noqa: E731
    cases = " ".join(
        f"WHEN {gain(r)} * {S22_DELTA_DEN} <= {edges(r - 1)} * {S22_DELTA_NUM} THEN {r}"
        for r in range(2, S22_MAX_ROUNDS + 1)
    )
    finals = " UNION ALL ".join(
        f"SELECT g.*, conv.rounds FROM g{r} g, conv WHERE conv.rounds = {r}"
        for r in range(2, S22_MAX_ROUNDS + 1)
    )
    return (
        head
        + body
        + f""",
    conv AS (SELECT CASE {cases} END AS rounds),
    final AS ({finals})
    SELECT g.vec_id, g.neighbor_id, g.rank::INT AS rank,
           round(g.cosine, 4) AS cosine,
           (CASE WHEN b.vec_id IS NULL THEN 1 ELSE 0 END)::INT AS new_edge,
           g.rounds::INT AS rounds
    FROM final g
    LEFT JOIN g0 b
      ON b.vec_id = g.vec_id AND b.neighbor_id = g.neighbor_id
    ORDER BY g.vec_id, g.rank
    """
    )


ORACLE["s22_nn_descent_converge"] = _s22_oracle()
QUERIES["s22_nn_descent_converge"] = s22_nn_descent_converge


# ---------------------------------------------------------------------------
# s23: 1-bit sign quantization + packed-word hamming search
# ---------------------------------------------------------------------------

S23_WORD_BITS = 32  # dims packed per BIGINT word (sign bit never used)
S23_WORDS = DIM // S23_WORD_BITS


def s23_binary_hamming_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (1-bit) quantized nearest-neighbor search: every
    dimension collapses to one bit — ``x_d > midrange_d`` — packed
    into BIGINT words, candidates ranked by hamming distance computed
    with xor + popcount. The third member of the compression ladder
    production vector stores ship (PQ s08/s15 ≈ 8x, SQ s16 ≈ 4x,
    binary ≈ 32x): 64 float32 → 8 bytes, and the scoring kernel is
    two XORs + two POPCNTs per pair — the cheapest first-pass filter
    that exists, re-ranked exactly the way s15's ADC story applies.

    The threshold is the per-dimension MIDRANGE (mn+mx)/2, chosen over
    the mean deliberately: min/max are order-independent SELECTIONS
    (identical on any engine and any partitioning), while a float mean
    depends on summation order — the cross-engine/cross-partitioning
    divergence class the fuzz harness exists to catch. Everything
    after the one comparison per dimension is pure BIGINT.

    Plan shape at 100 TB: per-dimension min/max is one posexplode +
    64-group map-side-combinable aggregate collapsed to ONE broadcast
    stats row; packing fuses into the scan projection; the 10-row
    query set broadcasts and the corpus never shuffles by content
    (the s01/s16 discipline). Dims pack 32 per word into bits 0..31 —
    the sign bit is never set, so the packed words survive engines
    and file formats that disagree about BIGINT overflow.
    """
    v = _vectors(spark, sf_dir)
    stats = (
        v.select(F.posexplode("v").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "mn"))).alias("mns"),
            F.array_sort(F.collect_list(F.struct("pos", "mx"))).alias("mxs"),
        )
        .select(
            F.transform("mns", lambda s: s["mn"]).alias("mn"),
            F.transform("mxs", lambda s: s["mx"]).alias("mx"),
        )
    )

    def word(wi: int):
        # bits 0..31 of word wi cover dims 32*wi .. 32*wi+31 (0-based
        # Spark bracket subscript); x > (mn+mx)/2 is NULL-safe: a NULL
        # dim (or missing stats on degenerate input) sets bit 0
        off = S23_WORD_BITS * wi
        return F.expr(
            f"aggregate(sequence(0, {S23_WORD_BITS - 1}), CAST(0 AS BIGINT), "
            f"(acc, j) -> acc + (CASE WHEN v[{off} + j] > "
            f"(mn[{off} + j] + mx[{off} + j]) / 2 "
            "THEN shiftleft(CAST(1 AS BIGINT), j) ELSE CAST(0 AS BIGINT) END))"
        )

    coded = v.crossJoin(F.broadcast(stats)).select(
        "vec_id", *[word(w).alias(f"w{w}") for w in range(S23_WORDS)]
    )
    queries = coded.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"w{w}").alias(f"q{w}") for w in range(S23_WORDS)],
    )
    corpus = coded.filter(F.col("vec_id") >= N_QUERIES).select(
        F.col("vec_id").alias("corpus_id"),
        *[F.col(f"w{w}") for w in range(S23_WORDS)],
    )
    hamming = F.expr(
        " + ".join(f"bit_count(w{w} ^ q{w})" for w in range(S23_WORDS))
    ).cast("long")
    scored = corpus.join(F.broadcast(queries)).select(
        "query_id", "corpus_id", hamming.alias("hamming")
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "corpus_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOPK)
        .select("query_id", "corpus_id", "hamming", F.col("rank").cast("int").alias("rank"))
        .orderBy("query_id", "rank")
    )


def _s23_word_sql(table_alias: str, wi: int) -> str:
    off = S23_WORD_BITS * wi
    return (
        "list_sum([CASE WHEN "
        f"{table_alias}.v[{off} + j + 1] > (mn[{off} + j + 1] + mx[{off} + j + 1]) / 2 "
        f"THEN (1::BIGINT << j) ELSE 0::BIGINT END "
        f"for j in generate_series(0, {S23_WORD_BITS - 1})])::BIGINT"
    )


ORACLE["s23_binary_hamming_search"] = f"""
    WITH v AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    dims AS (
        SELECT p.p AS pos, min(v[p.p]) AS mn, max(v[p.p]) AS mx
        FROM v CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS p) p
        GROUP BY 1
    ),
    stats AS (
        SELECT list(mn ORDER BY pos) AS mn, list(mx ORDER BY pos) AS mx
        FROM dims
    ),
    coded AS (
        SELECT vec_id,
               {", ".join(f"{_s23_word_sql('v', w)} AS w{w}" for w in range(S23_WORDS))}
        FROM v CROSS JOIN stats
    ),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
               ({" + ".join(f"bit_count(xor(q.w{w}, c.w{w}))" for w in range(S23_WORDS))})::BIGINT AS hamming
        FROM coded q JOIN coded c
          ON q.vec_id < {N_QUERIES} AND c.vec_id >= {N_QUERIES}
    )
    SELECT query_id, corpus_id, hamming, rank FROM (
        SELECT query_id, corpus_id, hamming,
               (row_number() OVER (PARTITION BY query_id
                                   ORDER BY hamming, corpus_id))::INT AS rank
        FROM scored)
    WHERE rank <= {TOPK}
    ORDER BY query_id, rank
"""
QUERIES["s23_binary_hamming_search"] = s23_binary_hamming_search
