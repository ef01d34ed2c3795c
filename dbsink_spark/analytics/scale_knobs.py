"""Single registry of every constant that changes PLAN SHAPE
(VERDICT_r08 "Next round #4": the fixed scale thresholds were
accumulating with no one place listing each with its derivation and
its pinning test — one more round of growth and they'd be
untrackable).

Two classes of entry:

* ``plan_shape=True`` — the constant gates WHICH physical strategy a
  query compiles to (windowed vs drill, sampled vs full, tile height,
  bucket count, collect bound). These MUST carry a ``derivation`` (why
  this number survives a 100 TB corpus) and a ``pinned_by`` test that
  proves the paths it switches between are result-identical (or that
  the bound itself holds).
* ``plan_shape=False`` — semantic parameters (an output k, a token
  budget, a language choice) that alter RESULTS by definition, not the
  physical plan. They are enumerated here only because their names
  match the staleness scanner's plan-shape suffixes; listing them
  keeps the scanner strict without false alarms.

``tests/test_scale_knobs.py`` enforces BOTH directions:

* staleness: every module-level ``_MAX_ROWS`` / ``_TARGET_`` /
  ``FANOUT`` / ``_POOL`` / ``_BUDGET`` / ``_TILE_ROWS`` / ``_NB``
  constant anywhere in the package appears here — adding an
  unregistered knob fails CI;
* drift: the live value of every registered constant equals the
  ``value`` recorded here — silently retuning a knob without updating
  its derivation fails CI.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Knob:
    module: str  # import path holding the constant
    attr: str
    value: object  # the registered value; drift-checked against live
    derivation: str  # why this number — the 100 TB argument
    pinned_by: str = ""  # test(s) proving forced-path equality / bound
    plan_shape: bool = True
    aliases: tuple = field(default_factory=tuple)  # (module, attr) re-exports


KNOBS: tuple[Knob, ...] = (
    Knob(
        module="dbsink_spark.analytics.drill",
        attr="SINGLE_TASK_SORT_MAX_ROWS",
        value=20_000_000,
        derivation=(
            "The ONE windowed-vs-drill gate (q68 weighted median, q55 "
            "ntile): 20M rows x ~30 B of (value, weight) sort state "
            "~= 600 MB, a single-task in-memory sort in seconds; above "
            "it the radix drill bounds every task at FANOUT partial "
            "rows per round regardless of corpus size. Both paths are "
            "exact, so the constant moves cost only, never results."
        ),
        pinned_by=(
            "tests/test_analytics.py::test_weighted_median_drill_path_"
            "equals_window_path, ::test_q55_drill_path_equals_window_path"
        ),
        aliases=(
            ("dbsink_spark.analytics.advanced", "Q68_WINDOW_MAX_ROWS"),
            ("dbsink_spark.analytics.relational", "Q55_WINDOW_MAX_ROWS"),
        ),
    ),
    Knob(
        module="dbsink_spark.analytics.drill",
        attr="FANOUT",
        value=1000,
        derivation=(
            "Radix-drill sub-ranges per round: each round's aggregate "
            "state is FANOUT rows per group (combinable, map-side), and "
            "8-digit value ranges pin a quantile in ceil(log_1000 1e8) "
            "= 3 rounds. Larger fanout trades rounds for partial-agg "
            "width; 1000 keeps per-task hash state ~KBs."
        ),
        pinned_by=(
            "tests/test_analytics.py::test_weighted_median_drill_path_"
            "equals_window_path (drill result == window result at any fanout)"
        ),
    ),
    Knob(
        module="dbsink_spark.analytics.advanced",
        attr="Q86_SAMPLE_TARGET_ROWS",
        value=65_536,
        derivation=(
            "Bound on the skyline sample sweep's single-partition "
            "input. The sample mod is DERIVED from the grid count "
            "(_skyline_sample_mod: smallest power-of-two mod >= 64 with "
            "n_grid/mod <= this), so E[sample rows] stays under 2^16 — "
            "an in-memory millisecond sort — at ANY corpus size; the "
            "derivation replaced round-7's fixed mod=64 knob."
        ),
        pinned_by=(
            "tests/test_analytics.py::test_skyline_sample_mod_derivation "
            "(incl. a 10^12-cell grid), ::test_skyline_prune_is_exact_and_effective"
        ),
    ),
    Knob(
        module="dbsink_spark.analytics.dedup",
        attr="D20_NEW_NUM",
        value=4,
        derivation=(
            "d20's corpus/batch split: cutoff = ceil(4/5 * (max_id+1)) "
            "makes the trailing ~20% of doc ids the 'arriving batch'. "
            "Integer num/den (not a float fraction) because the Spark "
            "and DuckDB sides must compute the IDENTICAL cutoff — "
            "ceiling division diverged across engines in review and is "
            "pinned exactly."
        ),
        pinned_by="tests/test_analytics.py::test_d20_cutoff_formula_matches_duckdb",
    ),
    Knob(
        module="dbsink_spark.analytics.dedup",
        attr="D20_NEW_DEN",
        value=5,
        derivation="Denominator of d20's split fraction; see D20_NEW_NUM.",
        pinned_by="tests/test_analytics.py::test_d20_cutoff_formula_matches_duckdb",
    ),
    Knob(
        module="dbsink_spark.analytics.similarity",
        attr="MMR_POOL",
        value=12,
        derivation=(
            "s20's relevance-ranked candidate pool: the corpus never "
            "shuffles; only POOL + POOL^2 scored rows reach the driver "
            "for the greedy loop, so POOL bounds the ONLY collect. "
            "Production sizing is ~10x the returned k (MMR_K=4); the "
            "greedy stage is O(POOL^2 * K) driver arithmetic."
        ),
        pinned_by="tests/test_analytics.py::test_s20_mmr_greedy_matches_pure_python",
    ),
    Knob(
        module="dbsink_spark.analytics.similarity",
        attr="S07_TILE_ROWS",
        value=1024,
        derivation=(
            "Gram-tile height inside s07's per-bucket kNN: bounds "
            "per-task peak memory at TILE x bucket_width floats even "
            "on skewed LSH buckets (a 1M-row bucket streams as 1024-row "
            "tiles instead of materializing a 1M^2 gram block)."
        ),
        pinned_by=(
            "tests/test_registry_parity.py::test_ungated_query_matches_oracle"
            "[s07_knn_graph] (tiled result == oracle's exact per-bucket kNN)"
        ),
    ),
    Knob(
        module="dbsink_spark.analytics.dedup",
        attr="D06_TILE_ROWS",
        value=1024,
        derivation=(
            "d06's gram-matrix tile height inside IVF-cell blocking: "
            "per-task peak memory is TILE x cell_width floats instead "
            "of cell^2, so a skewed embedding cell streams instead of "
            "materializing a quadratic block — same discipline as "
            "S07_TILE_ROWS."
        ),
        pinned_by=(
            "tests/test_registry_parity.py::test_ungated_query_matches_oracle"
            "[d06_embedding_near_dup] (tiled result == oracle exact)"
        ),
    ),
    Knob(
        module="dbsink_spark.analytics.advanced",
        attr="Q95_NB",
        value=64,
        derivation=(
            "Digest-reconciliation bucket count: level-1 compares "
            "NB combinable (count, xor-hash) rows per side — at scale "
            "NB is the table's physical partition column, so the "
            "level-1 agg is a metadata-sized exchange and the drill "
            "touches only divergent buckets."
        ),
        pinned_by="tests/test_analytics.py::test_q95_digest_drill_touches_only_divergent_buckets",
    ),
    Knob(
        module="dbsink_spark.analytics.similarity",
        attr="KNN_K",
        value=3,
        derivation=(
            "Neighbor-list width shared by s04/s07/s22: bounds each "
            "NN-descent round's edge list at O(n*k) rows and its candidate "
            "fanout at <= 2k + 2k + 4k^2 per node per round — the "
            "constant that keeps graph refinement linear in corpus "
            "size. Semantic k AND a fanout bound, so registered as "
            "plan-shape."
        ),
        pinned_by=(
            "tests/test_analytics.py::test_s19_candidates_bounded_by_fanout, "
            "::test_s19_iterated_recall_monotone"
        ),
    ),
    Knob(
        module="dbsink_spark.analytics.similarity",
        attr="S22_MAX_ROUNDS",
        value=8,
        derivation=(
            "s22's fail-loud round bound AND the oracle's unroll depth: "
            "adopted-edge counts decay ~4x/round on the synthetic "
            "corpus (sf0.001-0.1 stop by round 4-5), so 8 is ~2x "
            "headroom; the q92 discipline — a loop that outlives the "
            "bound is a nondeterminism bug, not a bigger corpus."
        ),
        pinned_by="tests/test_analytics.py::test_s19_iterated_recall_monotone",
    ),
    Knob(
        module="dbsink_spark.analytics.similarity",
        attr="S22_DELTA_NUM",
        value=1,
        derivation=(
            "Numerator of s22's update-rate stopping rule (Dong et "
            "al.'s delta-termination): stop when adopted * DEN <= "
            "edges * NUM. Integer num/den, never a float delta — the "
            "Spark loop and the unrolled DuckDB oracle must make the "
            "IDENTICAL stopping decision in BIGINT arithmetic."
        ),
        pinned_by="tests/test_analytics.py::test_s19_iterated_recall_monotone",
    ),
    Knob(
        module="dbsink_spark.analytics.similarity",
        attr="S22_DELTA_DEN",
        value=100,
        derivation=(
            "Denominator of s22's stopping rule: delta = 1/100 (Dong "
            "et al. use 1/1000 at web scale; the synthetic corpus' "
            "faster geometric decay stops by round 4-5 at 1/100). See "
            "S22_DELTA_NUM for the integer-exactness requirement."
        ),
        pinned_by="tests/test_analytics.py::test_s19_iterated_recall_monotone",
    ),
    # --- names matched by the scanner that are SEMANTIC, not plan-shape ---
    Knob(
        module="dbsink_spark.analytics.text",
        attr="PACK_BUDGET",
        value=2048,
        derivation=(
            "t11's context-window token budget per packed sequence — a "
            "modeling choice (the downstream trainer's sequence length), "
            "not a physical-plan gate; packing is exact at any value."
        ),
        pinned_by="tests/test_registry_parity.py::test_ungated_query_matches_oracle[t11_pack]",
        plan_shape=False,
    ),
    Knob(
        module="dbsink_spark.analytics.text",
        attr="DSIR_TARGET_LANG",
        value="en",
        derivation=(
            "t17's in-domain target distribution — a dataset-curation "
            "choice; changes which docs are upweighted, not how the "
            "plan executes."
        ),
        plan_shape=False,
    ),
)
