"""Persisted incremental-ingest dedup index: d20's per-batch decision
logic and d03's near-dup pairs over an index lake that grows by append,
so an arriving batch never re-shingles or re-bands the corpus.

Layout under an index root (all parquet):

* ``hashes/``    — ``(h, keeper)``: one row per indexed content hash,
  keeper = smallest doc_id carrying it (d20's ``oldmin`` relation,
  persisted).
* ``bands/``     — ``(doc_id, band_id, bucket)`` partitioned by
  ``band_id``: the LSH band rows of every indexed doc (d20's
  ``bands_old``, persisted). The band join reads only the band
  partitions.
* ``shingles/``  — ``(doc_id, shh)``: hashed shingle arrays for the
  exact-Jaccard verify join-back (only candidate-matched index docs
  are ever read — the join prunes by doc_id).

Two stages read the index, each batch-sided (never corpus x corpus):
the exact stage (equi-join on the content hash) and the near stage
(band rows joined on ``(band_id, bucket)``, then ``_verify_jaccard``).
Docs under 3 words hash but never band (``hash_docs``'s rule).

* ``ingest_batch`` — d20's decisions EXACTLY (same cascade, same
  priorities, same match_id rule); ``tests/test_ingest.py`` pins it to
  ``d20_incremental_dedup`` on the identical corpus/batch split, and
  pins the two-batch sequencing law (keep/discard partition and match
  ids are one-shot-equivalent; only the corpus/batch LABEL flips for
  matches that cross a batch boundary). It bands the exact-stage
  SURVIVORS (hash unseen AND batch-min for their hash) and appends
  those — including docs the near stage then discards, because d20's
  one-shot semantics band exact-survivors (``bands_new``). Both band
  relations get d20's LSH skew guard (``cap_band_rows``) at query
  time; the stored rows stay uncapped, so occupancy is cumulative.
* ``incremental_near_dups`` — the near-dup pairs of a batch against
  the index and itself; after processing a batch, pairs found == the
  full-corpus d03 pairs that involve at least one batch doc. It bands
  and appends EVERY batch doc, uncapped, like d03.

Every append adds a keeper row for each exact-stage survivor, so
``hashes/`` keeps one row per hash.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h64
from .dedup import (
    JACCARD_THRESHOLD,
    _verify_jaccard,
    banded_sigs,
    cap_band_rows,
    hash_docs,
)

HASHES_DIR = "hashes"
BANDS_DIR = "bands"
SHINGLES_DIR = "shingles"
_SCHEMAS = {
    HASHES_DIR: "h long, keeper long",
    BANDS_DIR: "doc_id long, band_id int, bucket long",
    SHINGLES_DIR: "doc_id long, shh array<long>",
}


def init_store(spark: SparkSession, path: str) -> None:
    """Create an empty index at ``path`` (no-op where one exists)."""
    for store in _SCHEMAS:
        os.makedirs(os.path.join(path, store), exist_ok=True)


def _read(spark: SparkSession, path: str, store: str) -> DataFrame:
    return spark.read.schema(_SCHEMAS[store]).parquet(os.path.join(path, store))


def _exact_stage(spark: SparkSession, path: str, docs: DataFrame) -> DataFrame:
    """(doc_id, h, corpus_match, batch_min) per doc: its content hash,
    the hash's keeper in the index (NULL when unseen) and the smallest
    doc_id carrying the hash in ``docs``. localCheckpoint (not persist)
    is load-bearing: appending to ``hashes/`` re-resolves that parquet
    relation, so a recomputed frame would see the index AFTER the
    append (observed: empty band/shingle appends)."""
    hashed = docs.select("doc_id", h64(F.col("text")).alias("h"))
    newmin = hashed.groupBy("h").agg(F.min("doc_id").alias("batch_min"))
    keepers = _read(spark, path, HASHES_DIR).withColumnRenamed("keeper", "corpus_match")
    return (
        hashed.join(keepers, "h", "left")
        .join(newmin, "h")
        .select("doc_id", "h", "corpus_match", "batch_min")
    ).localCheckpoint()


def _survivors(ex: DataFrame) -> DataFrame:
    return ex.filter(
        F.col("corpus_match").isNull() & (F.col("batch_min") == F.col("doc_id"))
    )


def _near_stage(
    spark: SparkSession, path: str, bands: DataFrame, stored: DataFrame, hd: DataFrame
) -> DataFrame:
    """Verified near-dup pairs (doc_a, doc_b, jaccard) of a batch, doc_b
    always a batch doc: the batch band rows ``bands`` join the stored
    band rows ``stored`` (doc_a = the stored doc) and each other (doc_a
    < doc_b); ``_verify_jaccard`` reads the stored shingles plus the
    batch's hashed docs ``hd`` and dedups the candidate pairs."""
    bn, bo, b2 = bands.alias("bn"), stored.alias("bo"), bands.alias("b2")

    def same_bucket(other: str):
        return (F.col("bn.band_id") == F.col(f"{other}.band_id")) & (
            F.col("bn.bucket") == F.col(f"{other}.bucket")
        )

    doc_b = F.col("bn.doc_id").alias("doc_b")
    cand = (
        bn.join(bo, same_bucket("bo"))
        .select(F.col("bo.doc_id").alias("doc_a"), doc_b)
        .unionByName(
            bn.join(b2, same_bucket("b2") & (F.col("b2.doc_id") < F.col("bn.doc_id")))
            .select(F.col("b2.doc_id").alias("doc_a"), doc_b)
        )
    )
    shingles = _read(spark, path, SHINGLES_DIR).unionByName(hd.select("doc_id", "shh"))
    return _verify_jaccard(cand, shingles, ordered=False)


def _append(path: str, ex: DataFrame, hd: DataFrame, bands: DataFrame) -> None:
    """Grow the index: a keeper row per exact-stage survivor of ``ex``,
    the band rows ``bands`` and the shingle arrays of ``hd``."""
    _survivors(ex).select("h", F.col("doc_id").alias("keeper")).write.mode(
        "append"
    ).parquet(os.path.join(path, HASHES_DIR))
    bands.write.mode("append").partitionBy("band_id").parquet(os.path.join(path, BANDS_DIR))
    hd.select("doc_id", "shh").write.mode("append").parquet(os.path.join(path, SHINGLES_DIR))


def append_batch(spark: SparkSession, path: str, docs: DataFrame) -> None:
    """Add a (doc_id, text, source) batch to the index: a keeper for
    each hash the index lacks, and the band and shingle rows of every
    doc."""
    hd = hash_docs(docs).localCheckpoint()
    _append(path, _exact_stage(spark, path, docs), hd, banded_sigs(hd, bucket_cap=None))


def build_dedup_index(spark: SparkSession, path: str, docs: DataFrame) -> None:
    """Index the day-N corpus ``docs`` (any (doc_id, source, text)
    relation) at ``path``, replacing any index there."""
    for store in _SCHEMAS:
        shutil.rmtree(os.path.join(path, store), ignore_errors=True)
    init_store(spark, path)
    append_batch(spark, path, docs)


def incremental_near_dups(
    spark: SparkSession, path: str, new_docs: DataFrame, append: bool = True
) -> DataFrame:
    """Near-dup pairs of ``new_docs`` against the index AND within the
    batch, exact-Jaccard verified, ordered doc_a < doc_b like d03;
    unless ``append=False`` the batch is then appended (the daily-ingest
    flow)."""
    hd = hash_docs(new_docs).localCheckpoint()
    bands = banded_sigs(hd, bucket_cap=None).localCheckpoint()
    ver = _near_stage(spark, path, bands, _read(spark, path, BANDS_DIR), hd)
    # materialized before the append mutates the relations it reads
    out = (
        ver.select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
            "jaccard",
        )
        .orderBy("doc_a", "doc_b")
        .localCheckpoint()
    )
    if append:
        _append(path, _exact_stage(spark, path, new_docs), hd, bands)
    return out


def ingest_batch(
    spark: SparkSession, path: str, batch: DataFrame, *, append: bool = True
) -> DataFrame:
    """Decide every batch doc against the index (and the batch itself)
    and — unless ``append=False`` — grow the index by the batch's
    exact-stage survivors. Returns (doc_id, decision, match_id) with
    d20's exact cascade."""
    ex = _exact_stage(spark, path, batch)
    survivors = _survivors(ex).select("doc_id")
    hd_new = hash_docs(batch).join(survivors, "doc_id", "semi").localCheckpoint()
    bands_new = banded_sigs(hd_new, bucket_cap=None).localCheckpoint()
    ver = _near_stage(
        spark,
        path,
        cap_band_rows(bands_new),
        cap_band_rows(_read(spark, path, BANDS_DIR)),
        hd_new,
    )
    in_batch = survivors.select(F.col("doc_id").alias("doc_a"), F.lit(True).alias("a_new"))
    near = (
        ver.join(F.broadcast(in_batch), "doc_a", "left")
        .groupBy("doc_b")
        .agg(
            F.min(F.when(F.col("a_new").isNull(), F.col("doc_a"))).alias("near_corpus"),
            F.min(F.when(F.col("a_new"), F.col("doc_a"))).alias("near_batch"),
        )
    )

    full = ex.join(near, ex.doc_id == near.doc_b, "left").drop("doc_b")
    decision = (
        F.when(F.col("corpus_match").isNotNull(), F.lit("exact_dup_corpus"))
        .when(F.col("batch_min") < F.col("doc_id"), F.lit("exact_dup_batch"))
        .when(F.col("near_corpus").isNotNull(), F.lit("near_dup_corpus"))
        .when(F.col("near_batch").isNotNull(), F.lit("near_dup_batch"))
        .otherwise(F.lit("keep"))
    )
    match_id = (
        F.when(F.col("corpus_match").isNotNull(), F.col("corpus_match"))
        .when(F.col("batch_min") < F.col("doc_id"), F.col("batch_min"))
        .when(F.col("near_corpus").isNotNull(), F.col("near_corpus"))
        .when(F.col("near_batch").isNotNull(), F.col("near_batch"))
    )
    # decisions must be FINAL before the index mutates (the append
    # below changes the very relations the plan reads)
    out = (
        full.select("doc_id", decision.alias("decision"), match_id.alias("match_id"))
        .orderBy("doc_id")
        .localCheckpoint()
    )
    if append:
        _append(path, ex, hd_new, bands_new)
    return out


__all__ = [
    "BANDS_DIR",
    "HASHES_DIR",
    "SHINGLES_DIR",
    "JACCARD_THRESHOLD",
    "append_batch",
    "build_dedup_index",
    "incremental_near_dups",
    "ingest_batch",
    "init_store",
]
