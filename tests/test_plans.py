"""Physical-plan hygiene across the registry.

Correctness is the oracle's job; these tests pin the PLAN properties
the 100 TB design depends on: no non-broadcast cartesian joins
anywhere, filters/projections pushed into the parquet scan, dimension
joins actually broadcast. A regression here is invisible at harness SF
but fatal at scale.
"""

from __future__ import annotations

import pytest

from dbsink_spark import analytics

SF_DIR = "/root/testdata/sf0.001"

# d09 runs an iterative driver loop during construction (covered by its
# own tests); d13 materializes + counts its survivors to pick the final
# sort strategy (round-5 cardinality gate — both branches plan-tested
# in test_d13_sort_strategy_*); q119's k-core peels to fixpoint with a
# driver loop (per-round induced-subgraph plans covered by its tests);
# everything else builds its plan lazily.
PLAN_QUERIES = sorted(
    set(analytics.ALL_QUERIES)
    - {"d09_dup_clusters", "d13_editdist_near_dup", "q119_kcore"}
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", PLAN_QUERIES)
def test_no_cartesian_product(spark, name):
    """Cross joins must always ride a broadcast (BroadcastNestedLoop),
    never a partition-cartesian CartesianProduct."""
    plan = _plan(analytics.ALL_QUERIES[name](spark, SF_DIR))
    assert "CartesianProduct" not in plan, name


def test_filter_and_projection_pushed_to_scan(spark):
    plan = _plan(analytics.ALL_QUERIES["q02_filter_project"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    assert "PushedFilters: []" not in plan.replace(" ", "")
    # projection pruning: the lineitem scan must NOT read all 16 columns
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_comment" not in scan


def test_dimension_join_broadcasts(spark):
    plan = _plan(analytics.ALL_QUERIES["m02_media_meta_join"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_similarity_corpus_never_shuffles_for_scoring(spark):
    """The exact top-k (s09's ground truth): the query set broadcasts;
    the only hash-partitioning exchange is the per-query top-k window
    (the final orderBy adds a range partitioning), never the corpus
    join. The window's top-k is pushed below the shuffle as a partial
    WindowGroupLimit."""
    from dbsink_spark.analytics.similarity import exact_cosine_topk

    df = exact_cosine_topk(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("WindowGroupLimit") == 2  # partial below + final above


def test_global_topk_uses_take_ordered(spark):
    plan = _plan(analytics.ALL_QUERIES["q16_topk_global"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_dsir_feature_table_broadcasts(spark):
    """t17's hashed feature table (4096 rows) and totals must ride
    broadcast joins — the corpus side never shuffles for rescoring."""
    plan = _plan(analytics.ALL_QUERIES["t17_importance_weights"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoop") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_pq_codebook_broadcasts(spark):
    """s08's sub-codebook (labels × M rows) must broadcast; the corpus
    regroups only on vec_id."""
    plan = _plan(analytics.ALL_QUERIES["s08_pq_codes"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_zorder_bounds_broadcast_no_merge_join(spark):
    """q49's 1-row bounds aggregate must broadcast onto the scan — the
    Morton map is a map-side operation, not a join shuffle."""
    plan = _plan(analytics.ALL_QUERIES["q49_zorder_index"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan


def test_span_dedup_no_text_in_shuffle(spark):
    """d12 shuffles 8-byte window hashes + positions, never window
    text: the join keys on the hash column and the exploded text
    column is projected away before the exchange."""
    plan = _plan(analytics.ALL_QUERIES["d12_span_dedup"](spark, SF_DIR))
    # the window string only exists inside the project that feeds h64;
    # no Exchange should carry an 'sp' column
    import re

    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert " sp#" not in m.group(0), m.group(0)


def test_bitmap_distinct_combines_map_side(spark):
    """q56's word-bitmap aggregate must show partial bit_or aggregation
    (map-side combinable partial bitmaps) — the property that makes it
    beat count(distinct)'s key shuffle at scale."""
    plan = _plan(analytics.ALL_QUERIES["q56_bitmap_distinct"](spark, SF_DIR))
    assert "partial_bit_or" in plan, plan


def test_range_search_has_no_hash_shuffle(spark):
    """s10: broadcast query set + pure filter — zero hash-partitioning
    exchanges (the output sort is a range partitioning)."""
    plan = _plan(analytics.ALL_QUERIES["s10_range_search"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_editdist_shuffle_carries_heads_not_text(spark):
    """d13's block-key join must exchange the bounded head/pfx columns,
    never the full document text. Asserted on the lazy survivors plan
    (the public d13 truncates lineage at its localCheckpoint, so the
    join is invisible in the returned DF's plan)."""
    import re

    from dbsink_spark.analytics.dedup import _d13_survivors

    plan = _plan(_d13_survivors(spark, SF_DIR))
    for m in re.finditer(r"Exchange [^\n]*", plan):
        assert " text#" not in m.group(0), m.group(0)


def test_d13_sort_strategy_single_partition_under_cap(spark):
    """Under the survivor cap, d13's final ordering is an in-task
    coalesce(1) sort — zero exchanges of any kind after the
    checkpoint."""
    from dbsink_spark.analytics import dedup

    df = dedup.d13_editdist_near_dup(spark, SF_DIR)  # sf0.001 << cap
    plan = _plan(df)
    assert "Coalesce 1" in plan, plan
    assert "Exchange" not in plan, plan


def test_d13_sort_strategy_global_orderby_over_cap(spark):
    """Over the cap, d13 switches to a range-partitioned global
    orderBy (no single-partition funnel). Forced with cap=0."""
    from dbsink_spark.analytics import dedup

    df = dedup.d13_editdist_near_dup(spark, SF_DIR, single_part_max_pairs=0)
    plan = _plan(df)
    assert "Exchange rangepartitioning" in plan, plan
    assert "Coalesce 1" not in plan, plan
    # both branches order identically
    a = dedup.d13_editdist_near_dup(spark, SF_DIR).collect()
    b = df.collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


# Unpartitioned-window rationale (round-7 tripwire, VERDICT_r06 #4):
# the ALLOWED COUNTS live in tests/window_budget.json (written by
# tools/plan_budget.py — single source of truth); this dict carries
# only the WHY. The budget test fails a query whose live count exceeds
# the json, AND fails any json entry with no rationale here — so a
# regeneration that records a new unpartitioned window forces a
# written small-input justification. The q84/q86 straggler class
# (corpus-sized input sorting into ONE partition) escaped the
# exchange-count harness because WindowExec adds no Exchange line.
UNPARTITIONED_WINDOW_RATIONALE = {
    "q86_skyline":
        "sample sweep input is BOUNDED BY CONSTRUCTION: the hash-sample mod "
        "derives from the grid count so E[sample] ≤ Q86_SAMPLE_TARGET_ROWS "
        "(2^16) at any corpus size — no manual knob; main sweep runs over "
        "the prune survivor set, ≈ skyline-sized (E ≈ ln n) after the "
        "broadcast anti-join",
    "q87_chi_square":
        "global frame over the |status|×|priority| contingency grid — "
        "~15 cells after the map-side-combinable count",
    "q118_mutual_info":
        "margin/total window sums run over the ≤ |a|·|b|-cell joint "
        "grid (tens of cells; both columns are catalog-cardinality by "
        "construction) after the corpus-side map-combinable count — "
        "replaced the four separate corpus-aggregation subtrees (r12)",
    "q91_proration":
        "all frames run over the per-nation revenue aggregate — ≤ 25 rows "
        "(nation is the grouping key) after the corpus-side hash agg",
    "q112_decile_lift":
        "cumulative-share frame runs over the ≤ 10-row decile aggregate; "
        "the corpus-sized selection is the radix drill, not a sort",
    "d18_novelty_curve":
        "cumulative curve runs over the |sources|-row per-source aggregate "
        "(4 here; source cardinality is catalog-sized by construction)",
    "q122_ks_test":
        "CDF frames run over the quantity-value grid — ≤ 50 rows by "
        "domain construction after the combinable group histogram",
    "q120_mann_whitney":
        "the cumulative-below frame runs over the quantity-value grid — "
        "≤ 50 rows by domain construction after the combinable histogram",
    "q116_kaplan_meier":
        "at-risk frames run over the duration grid — calendar-bounded "
        "(≤ ~80 month-index rows) after the per-customer min/max aggregate",
    "q115_theil_sen":
        "rank frames run over the pairwise slopes of the CALENDAR-bounded "
        "monthly series (~80 months → ~3.2k pairs, SF-independent) and the "
        "~80-row intercept set; the corpus pass is the monthly aggregate",
    "t30_quantile_norm":
        "pooled-CDF frames run over the global score histogram — ≤ "
        "T30_BINS+1 rows by domain construction (bounded integer grid)",
    "d19_sorted_neighborhood":
        "offset frame runs over the per-partition count table — ≤ "
        "shuffle-partition-count rows (cluster-config-bounded); the "
        "corpus-sized rank is the pid-partitioned window + offset join",
}


# Low-cardinality-partition window rationale (round-8 tripwire,
# VERDICT_r07 #4): a Window partitioned ONLY by a corpus-size-
# independent low-cardinality key (introspect.LOW_CARD_COLUMNS)
# divides corpus-sized input into a CONSTANT task count — corpus/|key|
# rows per task, the q68 straggler class invisible to both the
# exchange budget and the unpartitioned-window counter. Allowed
# signatures live in tests/lowcard_window_budget.json (written by
# tools/plan_budget.py); this dict carries the WHY — every recorded
# entry needs a written bounded-input justification, and the budget
# test fails any query whose live signatures exceed the recording.
LOWCARD_WINDOW_RATIONALE = {
    "q48_interp_gapfill":
        "all three event_type-partitioned windows run over the hourly "
        "SPINE (|types| x calendar-hours rows after the map-side "
        "combinable bucket agg), never the corpus; docstring documents "
        "(type, month) range-partitioning for multi-year spans",
    "q55_ntile_quartiles":
        "cardinality-gated (Q55_WINDOW_MAX_ROWS): the priority-"
        "partitioned ntile window only runs when the probe count says "
        "the whole input fits one comfortable task per priority; above "
        "the gate the drill computes the same report as order "
        "statistics with no window at all (forced-path equality test)",
    "q68_weighted_median":
        "cardinality-gated (Q68_WINDOW_MAX_ROWS): the flag-partitioned "
        "cumsum window runs below the gate; above it the drill selects "
        "the crossing price and the window runs only over the "
        "single-price tie slice (pushed-down equality filter)",
    "t11_pack":
        "the source-partitioned window runs over bigwin's per-"
        "(partition, source) totals table — <= shuffle-partition-count "
        "rows per source (cluster-config-bounded); the corpus-sized "
        "cumsum is the (pid, source)-partitioned local window",
    "q127_peak_concurrency":
        "the flag-partitioned sweep window runs over the DAILY boundary "
        "grid (<= ~2.5k calendar days per flag, SF-independent); the "
        "corpus only feeds the combinable +1/-1 delta aggregate",
    "t30_quantile_norm":
        "source-partitioned frames run over per-source score "
        "histograms — <= T30_BINS+1 rows per source by domain "
        "construction (bounded integer grid)",
    "t34_dataset_card":
        "both source-partitioned windows (cumsum + total) run over the "
        "(source, n_chars) GRID produced by the combinable count "
        "aggregate — <= |sources| x |distinct lengths| rows, bounded "
        "by the length-domain, never corpus-sized",
}


def test_lowcard_window_detector_flags_q68_pregate_form(spark):
    """Prove the detector catches the class it exists for: q68's
    PRE-GATE windowed form (cumsum partitioned by 3-value
    l_returnflag over the whole lineitem input — exactly what ran
    before the round-7 drill rework) must be flagged, and the
    same window re-keyed by a high-cardinality column must not."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import _q68_window_path
    from dbsink_spark.analytics.introspect import plan_stats
    from dbsink_spark.analytics.tables import Tables

    li = Tables(spark, SF_DIR).lineitem.select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("w"),
        "l_extendedprice",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    flagged = plan_stats(_q68_window_path(li))
    assert "l_returnflag" in ",".join(flagged.lowcard_window_keys), flagged

    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey").orderBy("cents")
    fine = plan_stats(li.withColumn("c", F.sum("w").over(w)))
    assert fine.lowcard_window_keys == [], fine.lowcard_window_keys


def test_shuffle_budget_not_exceeded(spark):
    """Every query's compiled plan must stay within its recorded
    hash-exchange budget (tests/plan_budget.json, generated by
    tools/plan_budget.py) AND its allowlisted unpartitioned-window
    count. A silent extra Exchange — a dropped broadcast, lost
    partitioning reuse, a predicate that stopped pushing down — is
    invisible at harness SF and fatal at 100 TB; an unpartitioned
    Window over a corpus-sized input is the same class of regression
    WITHOUT the Exchange line (q84's exact-audit sort, caught by the
    round-6 verdict, motivated the second budget). Re-baseline
    deliberately after intentional plan changes."""
    import json
    import os

    from dbsink_spark.analytics.introspect import _count_unpartitioned_windows

    budget_path = os.path.join(os.path.dirname(__file__), "plan_budget.json")
    with open(budget_path) as f:
        budget = json.load(f)
    # COMPLETENESS (VERDICT_r11 #3): the loop below iterates
    # budget.items(), so a registry row ABSENT from plan_budget.json
    # was silently never checked — exactly how s22/c01 dropped out of
    # the tripwire until round 11. Every registry row except the two
    # loop-constructed exemptions (named ONCE, in introspect.py) must
    # have an entry; a new registry addition without a
    # `python tools/plan_budget.py` run now fails loudly here.
    from dbsink_spark.analytics.introspect import PLAN_BUDGET_EXEMPT

    expected = set(analytics.ALL_QUERIES) - PLAN_BUDGET_EXEMPT
    assert expected == set(budget), (
        "plan_budget.json out of sync with the registry — run "
        "tools/plan_budget.py. missing:",
        sorted(expected - set(budget)),
        "stale:",
        sorted(set(budget) - expected),
    )
    with open(os.path.join(os.path.dirname(__file__), "window_budget.json")) as f:
        window_budget = json.load(f)
    missing_rationale = set(window_budget) - set(UNPARTITIONED_WINDOW_RATIONALE)
    assert not missing_rationale, (
        f"{missing_rationale} recorded in window_budget.json without a "
        "small-input rationale in UNPARTITIONED_WINDOW_RATIONALE"
    )
    with open(
        os.path.join(os.path.dirname(__file__), "lowcard_window_budget.json")
    ) as f:
        lowcard_budget = json.load(f)
    missing_lowcard = set(lowcard_budget) - set(LOWCARD_WINDOW_RATIONALE)
    assert not missing_lowcard, (
        f"{missing_lowcard} recorded in lowcard_window_budget.json without "
        "a bounded-input rationale in LOWCARD_WINDOW_RATIONALE"
    )

    from dbsink_spark.analytics.introspect import _lowcard_window_keys

    over, window_over, lowcard_over = {}, {}, {}
    for name, allowed in budget.items():
        df = analytics.ALL_QUERIES[name](spark, SF_DIR)
        plan = _plan(df)
        got = plan.count("Exchange hashpartitioning")
        if got > allowed:
            over[name] = (allowed, got)
        w = _count_unpartitioned_windows(plan)
        w_allowed = window_budget.get(name, 0)
        if w > w_allowed:
            window_over[name] = (w_allowed, w)
        lc = sorted(_lowcard_window_keys(plan))
        lc_allowed = lowcard_budget.get(name, [])
        # sub-MULTISET check (round-8 review: a length-only gate let a
        # rationalized signature be swapped for a different
        # un-rationalized one at equal count)
        from collections import Counter

        if Counter(lc) - Counter(lc_allowed):
            lowcard_over[name] = (lc_allowed, lc)
        spark.catalog.clearCache()
    assert not over, f"shuffle budget exceeded (allowed, got): {over}"
    assert not window_over, (
        "unpartitioned Window over un-rationalized input (allowed, got): "
        f"{window_over} — either repartition the window, bound its input, "
        "or re-run tools/plan_budget.py AND add a rationale to "
        "UNPARTITIONED_WINDOW_RATIONALE"
    )
    assert not lowcard_over, (
        "low-cardinality-partition Window over un-rationalized input "
        f"(allowed, got): {lowcard_over} — either cardinality-gate the "
        "window (q68/q55 pattern), assemble it scale-out (bigwin), or "
        "re-run tools/plan_budget.py AND add a rationale to "
        "LOWCARD_WINDOW_RATIONALE"
    )


def test_c01_internal_pipeline_plan(spark):
    """c01's registry row eagerly collects its 6-row manifest (to
    release the internal caches — ADVICE_r10), so its plan_budget.json
    entry of 0 exchanges describes the returned LocalRelation, not the
    pipeline (ADVICE_r11). This budgets the REAL composed plan:
    compile ``curate_corpus``'s manifest and curated output WITHOUT
    collecting and pin their exchange counts, so a pass-ordering or
    join regression inside the pipeline still trips a budget even
    though the registry row is local. (The persisted stage boundaries
    are un-materialized here, so the rendered plan inlines each
    InMemoryRelation's child plan — upstream exchanges stay visible.)"""
    from dbsink_spark.analytics.curation import curate_corpus

    cleanup: list = []
    curated, manifest = curate_corpus(spark, SF_DIR, cleanup=cleanup)
    try:
        mplan = _plan(manifest)
        cplan = _plan(curated)
        assert "CartesianProduct" not in mplan
        assert "CartesianProduct" not in cplan
        assert mplan.count("Exchange hashpartitioning") <= 15, mplan.count(
            "Exchange hashpartitioning"
        )
        assert cplan.count("Exchange hashpartitioning") <= 7, cplan.count(
            "Exchange hashpartitioning"
        )
    finally:
        for df in cleanup:
            df.unpersist()


def test_plan_stats_counts_known_shapes(spark):
    """introspect.plan_stats on a broadcast-join query must see the
    broadcast and the scan's pushed filters; a deliberate cartesian
    must trip assert_scale_safe."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.introspect import assert_scale_safe, plan_stats

    df = analytics.ALL_QUERIES["q125_join_ivm"](spark, SF_DIR)
    s = plan_stats(df)
    assert s.broadcast_hash_joins >= 1
    assert s.parquet_scans >= 2
    assert s.cartesian_products == 0
    assert s.python_evals == 0
    assert_scale_safe(df)  # no raise

    # budget violation reported with counters
    import pytest as _pytest

    with _pytest.raises(ValueError, match="hash exchanges > budget"):
        assert_scale_safe(df, max_hash_exchanges=0)

    # a genuine cartesian trips the check
    a = spark.range(10)
    b = spark.range(10).withColumnRenamed("id", "id2")
    spark.conf.set("spark.sql.crossJoin.enabled", "true")
    cart = a.join(b.hint("shuffle_replicate_nl"), F.lit(True))
    with _pytest.raises(ValueError, match="CartesianProduct"):
        assert_scale_safe(cart)


def test_plan_stats_flags_python_udf(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from dbsink_spark.analytics.introspect import assert_scale_safe, plan_stats

    slow = F.udf(lambda x: x + 1, LongType())
    df = spark.range(10).select(slow("id").alias("y"))
    s = plan_stats(df)
    assert s.python_evals >= 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Python UDF"):
        assert_scale_safe(df)


def test_plan_stats_counts_apply_in_pandas(spark):
    """EVERY Arrow-batched shape must count in arrow_evals: an inline
    applyInPandas (FlatMapGroupsInPandas node — q73's former tier) and
    the mapInPandas tier q73 now uses. Both zero python_evals."""
    from dbsink_spark.analytics.introspect import plan_stats

    # applyInPandas → FlatMapGroupsInPandas
    import pandas as pd

    def ident(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    grouped = (
        spark.range(10)
        .withColumnRenamed("id", "k")
        .groupBy("k")
        .applyInPandas(ident, "k long")
    )
    s = plan_stats(grouped)
    assert s.arrow_evals >= 1, s
    assert s.python_evals == 0, s

    # mapInPandas (q73's current execution shape)
    df = analytics.ALL_QUERIES["q73_clamped_running_sum"](spark, SF_DIR)
    s2 = plan_stats(df)
    assert s2.arrow_evals >= 1, s2
    assert s2.python_evals == 0, s2


def test_temporal_enrich_joins_on_equi_key(spark):
    """q78's interval filter must ride the user_id EQUI join (hash or
    broadcast-hash with the range as residual condition) — a nested
    loop over events × dim would be quadratic."""
    df = analytics.ALL_QUERIES["q78_temporal_enrich"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_checkpointed_aggregates_keep_plan_shape(spark):
    """q86 and q90 localCheckpoint their corpus-side aggregates, which
    truncates lineage and records them as 0 exchanges in the shuffle
    budget — blinding the harness to upstream regressions (a lost
    map-side combine, an extra Exchange). Compile the UN-checkpointed
    builders directly and pin their shape here instead."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import _q86_grid, _q90_monthly, _q93_pass2
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    for builder in (_q86_grid, _q90_monthly):
        plan = _plan(builder(t))
        assert plan.count("Exchange hashpartitioning") == 1, builder.__name__
        # map-side partial aggregation below the exchange
        assert "partial_" in plan, builder.__name__
    # q93's checkpointed counting pass: one scan, broadcast candidate
    # join (never a shuffle join), map-side partial count
    toks = t.documents.select(F.explode(F.split("text", " ")).alias("w"))
    cands = spark.createDataFrame([("the",), ("a",)], ["w"])
    plan = _plan(_q93_pass2(toks, cands))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    assert "partial_count" in plan
    # round-8 checkpointed builders: q124's per-customer diff agg (one
    # hash agg with map-side combine) and the q105/q123 shared trade-
    # pair relation (orderkey equi-join + one combinable pair agg —
    # never a nested-loop join)
    from dbsink_spark.analytics.stats import _q124_diffs

    plan = _plan(_q124_diffs(t.orders))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_" in plan

    from dbsink_spark.analytics.advanced import _q105_pairs

    plan = _plan(_q105_pairs(t))
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # q127's checkpointed sweep: the corpus feeds ONE combinable delta
    # aggregate; the flag-partitioned window runs over the aggregated
    # calendar grid (its low-cardinality key is rationalized in
    # LOWCARD_WINDOW_RATIONALE — the checkpoint hides it from the
    # live budget, so the pin lives here)
    from dbsink_spark.analytics.advanced import _q127_occupancy

    plan = _plan(_q127_occupancy(t.lineitem))
    assert "partial_sum" in plan
    from dbsink_spark.analytics.introspect import _lowcard_window_keys

    assert _lowcard_window_keys(plan) == ["l_returnflag"], _lowcard_window_keys(plan)


def test_d19_rank_assembly_reuses_one_range_exchange(spark):
    """d19's global rank is only correct if the counts branch and the
    window branch read the SAME materialized range shuffle (offsets
    must describe the very partitions the local ranks were numbered
    in). After execution, AQE must have deduplicated the range
    exchange into ReusedExchange nodes — if this ever stops holding,
    the two branches could sample different range boundaries and
    silently corrupt ranks."""
    from dbsink_spark.analytics.dedup import d19_sorted_neighborhood

    df = d19_sorted_neighborhood(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan, plan


def test_t11_pack_offset_assembly_reads_checkpointed_range(spark):
    """t11's per-source cumulative sum (bigwin.grouped_running_sum) is
    only correct if the totals branch and the local-window branch
    observe the SAME spark_partition_id assignment. Since the advisor
    fix the ranged frame is localCheckpoint-materialized inside the
    function, so the pids are frozen by construction — the executed
    plan must show the checkpoint scan (ExistingRDD) and must NOT
    contain a second live range exchange that could re-sample
    boundaries."""
    from dbsink_spark.analytics.text import t11_pack

    df = t11_pack(spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan
    # pin the invariant on the primitive itself, free of t11's final
    # output sort (which is a legitimate downstream range exchange):
    # the only range partitioning is the one frozen inside the
    # checkpoint, so the returned plan has NONE
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.bigwin import grouped_running_sum

    base = spark.range(1000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("k"), F.lit(1).alias("v")
    )
    out = grouped_running_sum(base, "g", ["k"], "v", "cum")
    out.collect()
    pplan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in pplan, pplan
    assert "rangepartitioning" not in pplan.lower(), pplan


def test_q117_two_window_passes_share_one_exchange(spark):
    """q117's backward and forward bracket windows partition on the
    same key with different tie-orders — the plan must show ONE hash
    exchange feeding two sorts, not a shuffle per window."""
    from dbsink_spark.analytics.advanced import q117_interp_join

    plan = _plan(q117_interp_join(spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
