"""Persisted IVF ANN index with incremental ingest — the lake-backed
form of the s02/s05 quantizer/search pair.

s05 answers "top-k for these queries" with the cell blocking computed
in-query. Production vector search doesn't re-quantize the corpus per
query: it keeps a partitioned index lake — vectors stored under their
coarse cell (``partitionBy("cell")``) with the centroid codebook
frozen beside it — and each query reads ONLY its N_PROBE probed cell
partitions (disk-level partition pruning on an integer key, the
parquet analogue of FAISS's inverted lists). New vectors append to
exactly their cell partitions; the codebook stays frozen until a
retrain (the standard FAISS operating model).

Equivalence guarantees (tested):
* build-all-at-once == build + N incremental appends (same files
  layout, same query answers);
* ``ivf_query`` over the store == s05's in-query plan over the same
  data (same probes, same top-k);
* the probe scan READS only the probed cell partitions
  (``inputFiles()`` asserted against the partition dirs).

Scale notes (100 TB): the index is bounded by the corpus (8-byte cell
key + vector per row); the probe cost is sum(probed-cell occupancy),
not corpus size; appends touch only the partitions the batch lands
in. Centroids are k-sized, always broadcast.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .similarity import TOPK, _centroids, _dot, _l2, _norm

VECTORS_DIR = "vectors"
CENTROIDS_DIR = "centroids"
N_PROBE = 2


def _d2(v_col, c_col):
    return _l2(v_col, c_col)


def assign_cells(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, v, cell): nearest-centroid assignment against a FROZEN
    codebook (broadcast; min_by argmin with deterministic tiebreak) —
    one map-side pass, the corpus is never shuffled."""
    scored = vectors.join(F.broadcast(centroids)).select(
        "vec_id", "v", "cent_label", _d2(F.col("v"), F.col("cv")).alias("d2")
    )
    return scored.groupBy("vec_id").agg(
        F.first("v").alias("v"),
        F.expr("min_by(cent_label, struct(d2, cent_label))").alias("cell"),
    )


def build_index(spark: SparkSession, path: str, vectors: DataFrame) -> None:
    """Train the coarse quantizer on ``vectors`` (per-label mean
    centroids — the deterministic stand-in for sampled k-means, same
    plan shape) and land the partitioned index lake."""
    cent = _centroids(vectors)
    cent.write.mode("overwrite").parquet(os.path.join(path, CENTROIDS_DIR))
    assign_cells(vectors, cent).write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, VECTORS_DIR)
    )


def append_vectors(spark: SparkSession, path: str, new_vectors: DataFrame) -> None:
    """Assign a new batch against the frozen codebook and append —
    touches only the cell partitions the batch lands in."""
    cent = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
    assign_cells(new_vectors, cent).write.mode("append").partitionBy("cell").parquet(
        os.path.join(path, VECTORS_DIR)
    )


def ivf_query(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    topk: int = TOPK,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """Top-k cosine search over the index: per query pick the
    ``n_probe`` nearest centroids, scan ONLY those cell partitions
    (the cell filter prunes at the directory level), score, rank.

    ``queries`` is (query_id, qv). Output matches s05's shape:
    (query_id, corpus_id, cosine, rank).
    """
    cent = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
    probe_w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(), F.col("cent_label"))
    # norms project ONCE per probe/index row (s01's discipline — the
    # per-pair fold recomputed both norms per scored pair, review);
    # localCheckpoint because the probe plan feeds BOTH the driver-side
    # cell collect and the broadcast join — unmaterialized it would run
    # twice, re-reading the centroids dir (review)
    probes = (
        queries.join(F.broadcast(cent))
        .select("query_id", "qv", "cent_label", _d2(F.col("qv"), F.col("cv")).alias("d2"))
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= n_probe)
        .select(
            "query_id", "qv", _norm(F.col("qv")).alias("qn"),
            F.col("cent_label").alias("cell"),
        )
        .localCheckpoint()
    )
    probe_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]

    index = spark.read.parquet(os.path.join(path, VECTORS_DIR)).filter(
        F.col("cell").isin(probe_cells)
    )
    cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * _norm(F.col("v")))
    scored = index.join(F.broadcast(probes), "cell").select(
        "query_id", F.col("vec_id").alias("corpus_id"), cos.alias("cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", "corpus_id", F.round("cosine", 4).alias("cosine"), "rank")
        .orderBy("query_id", "rank")
    )


def _cell_centroids(assigned: DataFrame) -> DataFrame:
    """(cent_label, cv) codebook from the CURRENT cell members — one
    Lloyd refinement step over the stored assignment. Delegates to
    similarity._centroids (cell relabeled as the key) so the two
    codebook folds can never drift apart (review: they were verbatim
    copies differing only in the key column)."""
    return _centroids(assigned.select(F.col("cell").alias("label"), "v"))


def _swap_in(staged: str, live: str) -> None:
    """Swap a staged rewrite into place with the smallest possible
    no-live-dir window: rename the live dir ASIDE, rename staged in,
    then delete the old data. The previous rmtree-then-rename left a
    crash window with NO vectors dir at all and the old data already
    destroyed (review); after this sequence a crash leaves either the
    old dir live, or the new dir live with `_old` still on disk —
    recoverable either way. Local-filesystem semantics (os.rename);
    an object-store-backed lake needs a manifest swap instead."""
    import shutil

    old_dir = live + "_old"
    if os.path.exists(old_dir):
        shutil.rmtree(old_dir)
    os.rename(live, old_dir)
    os.rename(staged, live)
    shutil.rmtree(old_dir)


def retrain_index(spark: SparkSession, path: str) -> None:
    """Codebook retrain + full partition rewrite — the FAISS
    `train + re-add` lifecycle step for a store whose appended corpus
    has drifted from the frozen codebook.

    Semantics (deterministic): the new codebook is the mean of each
    CURRENT cell's members (one Lloyd step from the frozen
    assignment); every vector is then re-assigned against the new
    codebook and the cell partitions are rewritten. Equivalent by
    construction to bulk-rebuilding a fresh index from the current
    corpus with the same codebook (pytest-asserted: same centroids,
    same per-cell membership, same query answers).

    Cost model (SCALE.md): two full corpus passes — one aggregate
    (posexplode avg: map-side combinable, k x dim output) and one
    reassign + partitioned write; probes and appends stay cheap
    between retrains. Run it when append drift degrades recall
    (s09-style audit), not on a schedule.
    """
    vdir = os.path.join(path, VECTORS_DIR)
    assigned = spark.read.parquet(vdir)
    new_cent = _cell_centroids(assigned)
    # materialize the codebook BEFORE overwriting the vectors lake the
    # plan reads from (write-over-read would race)
    new_cent.write.mode("overwrite").parquet(os.path.join(path, CENTROIDS_DIR))
    cent = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
    reassigned = assign_cells(assigned.select("vec_id", "v"), cent)
    # stage the rewrite, then swap: Spark cannot overwrite a path that
    # feeds the running plan
    staged = os.path.join(path, VECTORS_DIR + "_retrain")
    reassigned.write.mode("overwrite").partitionBy("cell").parquet(staged)
    _swap_in(staged, vdir)


def compact_index(
    spark: SparkSession, path: str, files_per_cell: int = 1
) -> None:
    """Small-file compaction: each append touches its cell partitions
    with fresh files, so a long-appended store accumulates file counts
    proportional to append batches. Rewrite every cell partition down
    to ``files_per_cell`` files; query answers are unchanged
    (pytest-asserted) and probe scans read fewer, larger files."""
    vdir = os.path.join(path, VECTORS_DIR)
    assigned = spark.read.parquet(vdir)
    staged = os.path.join(path, VECTORS_DIR + "_compact")
    # hash-cluster by (cell [, salt]) so every cell's rows land in
    # exactly files_per_cell tasks -> files_per_cell files per cell
    # dir, cells compacting in parallel across the shuffle partitions
    if files_per_cell == 1:
        clustered = assigned.repartition("cell")
    else:
        clustered = assigned.withColumn(
            "_salt", F.pmod(F.hash("vec_id"), F.lit(files_per_cell))
        ).repartition("cell", "_salt").drop("_salt")
    (
        clustered.write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staged)
    )
    _swap_in(staged, vdir)


def maxsim_query(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    topk: int = TOPK,
    n_probe: int = N_PROBE,
) -> DataFrame:
    """LAKE-RESIDENT two-stage retrieval: s12's IVF→MaxSim pipeline
    run against the persisted index instead of an in-query
    quantization pass (VERDICT_r07 #8) — stage 1 probes the
    ``n_probe`` nearest cells per query and reads ONLY those cell
    partitions of the vector lake (directory-level pruning, appends
    included); stage 2 re-ranks the candidates with the
    late-interaction MaxSim fold (identical arithmetic to
    s12, so the in-query and lake-resident plans are
    row-identical over the same store — pinned by
    tests/test_ann_index.py).

    ``queries`` is (query_id, qv). Output matches s12's shape,
    including the 4-decimal maxsim rounding: (query_id, corpus_id,
    cell, maxsim, rank).
    """
    from .similarity import _maxsim_parts, _maxsim_score

    cent = spark.read.parquet(os.path.join(path, CENTROIDS_DIR))
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("cent_label")
    )
    probes = (
        queries.join(F.broadcast(cent))
        .select(
            "query_id", "cent_label", _d2(F.col("qv"), F.col("cv")).alias("d2")
        )
        .withColumn("rn", F.row_number().over(probe_w))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", F.col("cent_label").alias("cell"))
        .localCheckpoint()  # feeds the cell collect AND the join (review)
    )
    probe_cells = [r["cell"] for r in probes.select("cell").distinct().collect()]
    index = spark.read.parquet(os.path.join(path, VECTORS_DIR)).filter(
        F.col("cell").isin(probe_cells)
    )
    cparts = index.selectExpr(
        "vec_id AS corpus_id", "cell", *_maxsim_parts("c")
    )
    qparts = queries.select(
        "query_id", F.col("qv").alias("v")
    ).selectExpr("query_id", *_maxsim_parts("q"))
    scored = (
        cparts.join(F.broadcast(probes), "cell")
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
        .filter(F.col("rank") <= topk)
        .select(
            "query_id",
            "corpus_id",
            "cell",
            F.round("maxsim", 4).alias("maxsim"),
            "rank",
        )
        .orderBy("query_id", "rank")
    )
