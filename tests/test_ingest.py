"""End-to-end incremental ingest: the persisted dedup index composes
with d20's decision semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbsink_spark.analytics.dedup import (
    D20_NEW_DEN,
    D20_NEW_NUM,
    d20_incremental_dedup,
)
from dbsink_spark.analytics.ingest import build_dedup_index, ingest_batch
from dbsink_spark.analytics.tables import Tables

SF_DIR = "/root/testdata/sf0.001"


def _split(spark):
    d = Tables(spark, SF_DIR).documents
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    cutoff = (D20_NEW_NUM * (max_id + 1) + D20_NEW_DEN - 1) // D20_NEW_DEN
    return d.filter(F.col("doc_id") < cutoff), d.filter(F.col("doc_id") >= cutoff)


def test_ingest_single_batch_equals_d20(spark, tmp_path):
    """Index the corpus side of d20's split, ingest the batch side:
    decisions must equal the gated d20 row for row EXACTLY (same
    cascade, same match ids) — the persisted-index path is the same
    operator with the corpus relations read from disk."""
    corpus, batch = _split(spark)
    path = str(tmp_path / "idx")
    build_dedup_index(spark, path, corpus)
    got = [tuple(r) for r in ingest_batch(spark, path, batch).collect()]
    want = [tuple(r) for r in d20_incremental_dedup(spark, SF_DIR).collect()]
    assert got == want
    assert len(got) > 0


def test_ingest_equals_d20_under_bucket_cap(spark, tmp_path, monkeypatch):
    """The LSH skew guard must bind on the ingest path too (review:
    the band join previously bypassed it): with LSH_BUCKET_CAP set,
    ingest's decisions still equal d20's — the store stays uncapped
    but the query side applies the same cumulative-occupancy cap."""
    from dbsink_spark.analytics import dedup as _dedup

    monkeypatch.setattr(_dedup, "LSH_BUCKET_CAP", 1)
    corpus, batch = _split(spark)
    path = str(tmp_path / "idx")
    build_dedup_index(spark, path, corpus)
    got = [tuple(r) for r in ingest_batch(spark, path, batch, append=False).collect()]
    want = [tuple(r) for r in d20_incremental_dedup(spark, SF_DIR).collect()]
    assert got == want
    # the cap actually changed something vs the uncapped run (else this
    # test proves nothing): compare against default-cap decisions
    monkeypatch.setattr(_dedup, "LSH_BUCKET_CAP", None)
    uncapped = [tuple(r) for r in d20_incremental_dedup(spark, SF_DIR).collect()]
    assert got != uncapped, "cap=1 did not alter any decision at this SF"


def test_ingest_two_batches_compose(spark, tmp_path):
    """Day N+1 then day N+2: sequentially ingesting two id-ordered
    batches must reproduce the one-shot run's keep/discard partition
    and match ids exactly; the only permitted difference is the
    corpus/batch LABEL of matches that cross the batch boundary (a doc
    indexed by batch 1 IS corpus to batch 2)."""
    corpus, batch = _split(spark)
    mid = batch.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = batch.filter(F.col("doc_id") <= mid)
    b2 = batch.filter(F.col("doc_id") > mid)
    assert b1.count() > 0 and b2.count() > 0

    path = str(tmp_path / "idx")
    build_dedup_index(spark, path, corpus)
    seq = {
        r["doc_id"]: (r["decision"], r["match_id"])
        for df in (ingest_batch(spark, path, b1), ingest_batch(spark, path, b2))
        for r in df.collect()
    }
    oneshot = {
        r["doc_id"]: (r["decision"], r["match_id"])
        for r in d20_incremental_dedup(spark, SF_DIR).collect()
    }
    assert set(seq) == set(oneshot)
    flipped = 0
    for doc, (dec, mid_) in oneshot.items():
        sdec, smid = seq[doc]
        assert smid == mid_, (doc, (dec, mid_), (sdec, smid))
        if sdec != dec:
            # label may flip batch->corpus only, within the same family
            assert (dec, sdec) in (
                ("exact_dup_batch", "exact_dup_corpus"),
                ("near_dup_batch", "near_dup_corpus"),
            ), (doc, dec, sdec)
            flipped += 1
    # keep set identical by construction of the two asserts above;
    # make it explicit for the reader
    assert {d for d, (s, _) in seq.items() if s == "keep"} == {
        d for d, (s, _) in oneshot.items() if s == "keep"
    }


def test_ingest_append_grows_index_by_survivors(spark, tmp_path):
    """The append path adds exactly the exact-stage survivors: one
    hash row each, their band rows, their shingle arrays — and an
    ingest with append=False leaves the index untouched."""
    corpus, batch = _split(spark)
    path = str(tmp_path / "idx")
    build_dedup_index(spark, path, corpus)
    h0 = spark.read.parquet(path + "/hashes").count()
    s0 = spark.read.parquet(path + "/shingles").count()

    dec = ingest_batch(spark, path, batch, append=False).collect()
    assert spark.read.parquet(path + "/hashes").count() == h0

    ingest_batch(spark, path, batch)
    surv = {
        r["doc_id"]
        for r in dec
        if r["decision"] in ("keep", "near_dup_corpus", "near_dup_batch")
    }
    assert spark.read.parquet(path + "/hashes").count() == h0 + len(surv)
    from dbsink_spark.analytics.dedup import hash_docs

    n_bandable = hash_docs(batch).filter(
        F.col("doc_id").isin(list(surv))
    ).count()
    assert spark.read.parquet(path + "/shingles").count() == s0 + n_bandable
