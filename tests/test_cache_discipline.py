"""Bounded-cache discipline (VERDICT_r12 #5).

Registry queries that persist() internal relations without a release
path used to leak one cached frame PER INVOCATION for the session's
lifetime (the ADVICE_r11 untracked-caller class). The bounded-slot
registry (``analytics.bcache``) caps residency at one frame per call
site; these tests go RED if a future edit reintroduces the leak —
either by bypassing the slot (resident JVM cache blocks grow with
invocation count) or by regressing the slot bookkeeping itself.
"""

import pytest

from tests.conftest import SF_SMOKE


def _resident_cached_rdds(spark) -> int:
    """Number of RDDs with cached blocks currently resident in the JVM
    — the ground truth the slot discipline bounds (python-side slot
    counts alone cannot catch an unpersist() that silently no-ops)."""
    return sum(
        1
        for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        if info.numCachedPartitions() > 0
    )


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _release_all(spark) -> None:
    """Drop every cached frame and RDD-level persist in the JVM,
    including ``localCheckpoint`` blocks left by earlier tests in the
    session, so residency counts start from zero in any suite order."""
    from dbsink_spark.analytics import bcache

    spark.catalog.clearCache()
    bcache._SLOTS.clear()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


@pytest.fixture()
def clean_cache(spark):
    _release_all(spark)
    yield
    _release_all(spark)


def test_untracked_d03_cache_bounded(spark, clean_cache):
    """N untracked d03 invocations leave at most ONE resident docs
    frame (the ADVICE_r11 fix, now pinned)."""
    from dbsink_spark.analytics import bcache, dedup

    for _ in range(3):
        _materialize(dedup.d03_minhash_lsh(spark, SF_SMOKE))
    assert "dedup.minhash_lsh_pairs.docs" in bcache.resident_slots()
    # one slot frame; nothing else from d03 stays cached
    assert _resident_cached_rdds(spark) <= 1


def test_repeat_invocations_do_not_accumulate(spark, clean_cache):
    """The generalized sweep: repeat-invoking persist-bearing registry
    queries keeps JVM cache residency bounded by the number of
    distinct SLOTS touched, never by invocation count."""
    from dbsink_spark.analytics import bcache
    from dbsink_spark.analytics import dedup

    queries = [
        dedup.d03_minhash_lsh,
        dedup.d10_containment,
        dedup.d15_lsh_audit,
    ]
    for _ in range(2):
        for q in queries:
            _materialize(q(spark, SF_SMOKE))
    slots = bcache.resident_slots()
    # every cached frame is slot-tracked: residency == |slots|, and a
    # second invocation round added no blocks beyond the slot table
    assert _resident_cached_rdds(spark) <= len(slots)
    assert len(slots) <= 4  # d03:1 d10:2 d15:1


def test_cc_propagate_releases_intermediate_rounds(spark, clean_cache):
    """_cc_propagate's per-round frames are released as the loop
    advances (r13 fix: unpersist() on a select() OVER the cached frame
    was a silent no-op, leaking one frame per round); only the final
    round's frame — backing the returned plan — stays, slot-tracked."""
    from dbsink_spark.analytics import bcache, dedup
    from pyspark.sql import Row

    # a 4-link chain needs several propagation rounds
    pairs = spark.createDataFrame(
        [Row(doc_a=1, doc_b=2), Row(doc_a=2, doc_b=3), Row(doc_a=3, doc_b=4),
         Row(doc_a=4, doc_b=5)]
    )
    stats: dict = {}
    _materialize(dedup._cc_propagate(spark, pairs, stats=stats))
    assert stats["iterations"] >= 2
    # resident: the edges slot + the final labels slot, nothing per-round
    assert "dedup._cc_propagate.edges" in bcache.resident_slots()
    assert "dedup._cc_propagate.labels" in bcache.resident_slots()
    assert _resident_cached_rdds(spark) <= 2
