"""Analytics operator library: registry of (query, oracle) pairs.

``QUERIES`` maps name -> (spark, sf_dir) -> DataFrame.
``ORACLE`` maps name -> equivalent DuckDB SQL (omitted for operators
whose semantics aren't SQL-expressible; the driver then records a
rows-only check).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from . import (
    advanced,
    curation,
    dedup,
    multimodal,
    quality,
    relational,
    similarity,
    spatial,
    stats,
    text,
)

# Rows kept out of the driver-facing registry. The correctness gate
# reads the first 50 registry rows, so every other row is listed here.
# Each stays oracle-verified on every pytest run
# (tests/test_registry_parity.py) and in tools/check_oracle.py. The
# trailing note names the other rows that carry the same machinery
# ("⊂" = contained in, "=" / "≈" = same machinery); "never gated" rows
# wait in GATE_DEBT.md's queue. The rotation history is in git.
UNGATED = frozenset(
    {
        "q33_string_funcs",  # narrow string expressions
        "q34_conditional_agg",  # agg variant ≈ q10/q52/t34
        "q39_unpivot",  # never gated; GATE_DEBT r14; fuzz-hardened in all modes
        "q15_window_running",  # window frames ≈ q13/q19
        "q25_above_segment_avg",  # join-agg ≈ m02/q125/q13
        "q30_argmax",  # the min_by shape inside gated s02
        "q08_anti_join",  # anti-join mechanics ≈ d08 semi join
        "q10_agg_distinct",  # exact distinct ≈ q29
        "q16_topk_global",  # global top-k ⊂ q13's window top-k family
        "t20_inverted_index",  # never gated; GATE_DEBT r14; fuzz-hardened in all modes
        "s03_hyperplane_lsh",  # LSH bucketing powers s07's candidates
        "q02_filter_project",  # pushed-filter scan inside every gated plan
        "q17_set_ops",  # distinct-agg machinery of q29/q56 over a union
        "q19_events_sessionize",  # lag/gap/cumsum ⊂ q40 funnel + q41 retention
        "q23_pivot",  # groupBy + conditional agg ⊂ q52 + t34
        "q26_percentiles",  # distribution cuts ⊂ q55 ntile + q29 quantiles
        "q31_corr_stats",  # moment aggs ⊂ q64 + q90 + q107 + q43 regression
        "q35_array_agg",  # collect_list machinery inside t18
        "q42_time_weighted",  # interval integral = q48 interp/gapfill
        "q13_window_topk_per_group",  # rank-filter window ⊂ q46 + q45
        "q29_approx_sketches",  # approx distinct ⊂ q54/q62; quantiles ⊂ q68
        "q47_ohlc",  # first/last time aggs ⊂ q48 + q90 + q107
        "q55_ntile_quartiles",  # cut-points ⊂ q68 + q46 + q45 window frames
        "d11_semdedup",  # embedding-cluster dedup = d06 + s02
        "d12_span_dedup",  # span fingerprints ⊂ t07 + d08 n-gram join
        "s06_kmeans_update",  # s02 assign + plain hash-agg mean
        "s08_pq_codes",  # per-subspace centroid assign = s02 machinery
        "t16_bpe_merge_step",  # pair-count machinery ⊂ t11 + t32
        "t17_importance_weights",  # hashed-ngram tf/df ratios ⊂ t21
        "t18_top_terms",  # per-group term ranking ⊂ t26 + t21
        "q108_acf",  # never gated; GATE_DEBT r13 tranche
        "q109_benford",  # never gated; GATE_DEBT r13 tranche
        "q110_interval_union",  # never gated; GATE_DEBT r13 tranche
        "q111_assoc_rules",  # never gated; GATE_DEBT r13 tranche
        "q112_decile_lift",  # never gated; GATE_DEBT r13 tranche
        "q113_mix_shift",  # never gated; GATE_DEBT r13 tranche
        "s16_sq_search",  # never gated; GATE_DEBT r13 tranche
        "d18_novelty_curve",  # never gated; GATE_DEBT r13 tranche
        "q115_theil_sen",  # never gated; GATE_DEBT r13 tranche
        "q116_kaplan_meier",  # never gated; GATE_DEBT r13 tranche
        "q117_interp_join",  # never gated; GATE_DEBT r13 tranche
        "q118_mutual_info",  # never gated; GATE_DEBT r13 tranche
        "t31_kl_drift",  # never gated; GATE_DEBT r13 tranche
        "s17_rocchio_prf",  # never gated; GATE_DEBT r13 tranche
        "q120_mann_whitney",  # never gated; GATE_DEBT r13 tranche
        "q121_kendall_tau",  # never gated; GATE_DEBT r14 tranche
        "q122_ks_test",  # never gated; GATE_DEBT r14 tranche
        "q37_time_gapfill",  # gap synthesis ⊂ q48 interp/gapfill
        "q40_funnel",  # lag/sequence machinery stays via q41 retention
        "q53_hopping_window",  # overlapping-window explode ⊂ q73 sweep
        "q54_kmv_distinct",  # mergeable approx distinct ⊂ q88 HLL rollup
        "q59_recursive_hierarchy",  # frontier iteration ⊂ q83 BFS
        "q62_hll_distinct",  # register algebra + merge path = q88
        "q63_triangle_count",  # graph family stays via q61 + q83
        "q74_constraint_audit",  # agg-with-case checks ⊂ q64 profiler
        "q78_temporal_enrich",  # as-of enrichment ⊂ q22 + q89
        "d06_embedding_near_dup",  # IVF-cell blocking = s09; near-dup ⊂ d03/d15
        "d10_containment",  # n-gram candidate join ⊂ d08 + d03 verify
        "s07_knn_graph",  # IVF probe + per-node top-k ⊂ s09 + s04
        "q64_column_profile",  # two-pass profile ⊂ t34 dataset card + t02
        "q82_basket_pairs",  # pair self-join ⊂ d08 + q98 triples
        "q84_histogram_quantiles",  # same drill primitive as t30
        "q94_sliding_distinct",  # register algebra = q88 + streaming tracker
        "q106_ivm_maintain",  # single-relation delta ⊂ q125 join IVM
        "q107_changepoint",  # segmentation ⊂ q90 CUSUM + q124 inference
        "q114_bootstrap_ci",  # resample machinery = q124
        "q119_kcore",  # peel rounds = q92/d17 Pregel discipline
        "t27_zipf_fit",  # spectrum sorted-fold OLS ⊂ t32 vocab estimate
        "t28_crosslingual_align",  # rare-shingle join ⊂ d08 + t33
        "m01_media_features",  # binary Arrow plumbing = m05 + m06
        "d15_lsh_audit",  # audited MinHash machinery is d03
        "d16_cluster_keeper",  # representative pick ⊂ d17 + s21 k-center
        "s09_ann_recall",  # IVF recall audit ⊂ s12/s13
        "q22_asof_join",  # one-axis subset of q89 bitemporal as-of
        "q51_countmin",  # point frequency ⊂ q93 heavy hitters + q88
        "q56_bitmap_distinct",  # mergeable distinct class = q88 + q94
        "q61_pagerank",  # Pregel-as-joins stays via q92/q119/d17
        "q68_weighted_median",  # same drill primitive as q84
        "q73_clamped_running_sum",  # carry fold = q90 CUSUM machinery
        "q83_bfs_hops",  # unit-weight subset of q92 SSSP
        "q87_chi_square",  # sorted fold = t27; contingency agg ⊂ q52 + t34
        "d09_dup_clusters",  # propagation CC superseded by d17
        "s02_centroid_assign",  # first stage of s12 and s09
        "s04_numpy_topk",  # Arrow+numpy kernel rides s12
        "t07_winnowing",  # fingerprinting family ⊂ d03 + d15
        "t26_rake_keyphrases",  # term scoring ⊂ t21 BM25 + t02
        "c01_curation_manifest",  # never gated; GATE_DEBT r14; composed curation chain
        "q01_pricing_summary",  # scan + hash-agg in every plan; entry() row
        "d01_dedup_exact",  # identity dedup is d20's first stage
        "d03_minhash_lsh",  # banded candidates stay via d07 + d17
        "t02_quality_score",  # stat-column scoring ⊂ t08 + t06
        "q49_zorder_index",  # cell-key partitioning ⊂ q102 grid
        "d08_decontaminate",  # n-gram join ⊂ d07 + t15
        "d13_editdist_near_dup",  # length-banded blocking ⊂ d19 + m04
        "q41_retention",  # cohort lag chains ⊂ q45 + q46
        "q48_interp_gapfill",  # last-value carry = q89; slopes ⊂ q43
        "q50_scd2_intervals",  # effective dating ⊂ q89 bitemporal
        "s23_binary_hamming_search",  # never gated; GATE_DEBT r14; 1-bit quantized search
        "t35_gopher_repetition",  # never gated; GATE_DEBT r14; Gopher repetition signals
        "t23_leakage_free_split",  # hash split = t12 + q67
        "t21_bm25_rank",  # tf/df scoring ⊂ t09 + t24 + t22
        "q85_merge_upsert",  # CDC delta apply ⊂ q125 + d20
        "q86_skyline",  # dominance selection ⊂ s20 + s21
        "q88_hll_rollup",  # mergeable registers ⊂ q65 + streaming HLL
        "q89_bitemporal_asof",  # as-of snapshot ⊂ q71 time travel
        "q90_cusum",  # ordered fold stays via s22 + q69
        "q91_proration",  # interval overlap ⊂ q127 + q71
        "q93_heavy_hitters",  # hot-key accounting = q72 skew profile
        "q95_digest_diff",  # reconciliation ⊂ q58 table diff + q65
        "t30_quantile_norm",  # rank transform = q46 + q45 + q60
        "s15_pq_adc",  # PQ scoring ⊂ s12 + s05
        "d19_sorted_neighborhood",  # sorted blocking ⊂ d07 + m04
        "q92_weighted_sssp",  # frontier rounds stay via q105 + q123
        "q102_point_in_polygon",  # grid blocking ⊂ q103 radius join
        "q104_nn_join",  # grid NN blocking ⊂ q103; argmin = s05 min_by
        "d17_cc_alternating",  # converge-by-rounds = q105 label propagation
        "s12_ivf_maxsim",  # IVF probe + re-rank stays via s13 + s14
        "m05_cdc_chunks",  # binary Arrow plumbing = m02/m04
        "m06_payload_entropy",  # byte histograms ⊂ m04 + t06
        "d20_incremental_dedup",  # identity stage ⊂ d14; near-dup stage = d07
        "q124_permutation_test",  # resample partial-agg ⊂ q43 + q100
        "q127_peak_concurrency",  # interval sweep ⊂ q81 + q79
        "s20_mmr_diversify",  # greedy selection ⊂ s21 + s14
        "t33_boilerplate",  # shingle-df stripping ⊂ d07 + t29
        "q128_ams_f2",  # never gated; GATE_DEBT r14; AMS F2 linear sketch
        "q129_decayed_counts",  # never gated; GATE_DEBT r14; forward-decay counts
    }
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}
ALL_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ALL_ORACLE: dict[str, str] = {}

# multimodal merges mid-pack, NOT last: r01 cut the tail of the registry
# and m01-m03 never reached the gate.
for _mod in (
    relational,
    advanced,
    stats,
    text,
    multimodal,
    dedup,
    similarity,
    quality,
    spatial,
    curation,
):
    ALL_QUERIES.update(_mod.QUERIES)
    ALL_ORACLE.update(_mod.ORACLE)

QUERIES = {k: v for k, v in ALL_QUERIES.items() if k not in UNGATED}
ORACLE = {k: v for k, v in ALL_ORACLE.items() if k in QUERIES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every harness table as a temp view — the engine's SQL
    front door (`analytics.sql`)."""
    from .tables import TABLE_NAMES, load

    for name in TABLE_NAMES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run an ANSI SQL string against the registered tables (plans
    through the same Catalyst pipeline as the DataFrame API)."""
    register_views(spark, sf_dir)
    return spark.sql(query)
