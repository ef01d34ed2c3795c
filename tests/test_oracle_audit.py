"""Static magnitude audit of ALL oracle SQL: sum-of-products outputs.

The q107 lesson (round 7): an oracle emitting ``sum(x*x)``-shaped
BIGINT grows QUADRATICALLY with corpus magnitude — exact at sf0.01,
silent int64 wrap on the Spark side at scale (DuckDB raises loudly;
Spark wraps silently, so the gate diverges on exactly one engine).
The 10x sf0.1 sweep caught q107 once; this test makes the rule
mechanical (VERDICT_r07 #6) so it doesn't depend on remembering to
run the sweep: any oracle whose SQL sums an identifier-product into a
BIGINT/HUGEINT column must either apply a scale-free transform
(ppm/bp ratio, the q107 fix) or carry a written magnitude rationale
below.
"""

from __future__ import annotations

import re

from dbsink_spark import analytics

# Every flagged oracle needs a magnitude story: at what corpus size
# does the product-sum stay inside int64, and what happens above it.
PRODUCT_SUM_RATIONALE = {
    "q128_ams_f2": (
        "sum(c*c) IS F2, the self-join size — the quantity the row "
        "exists to report. Bounded by n² (worst case one key): int64-"
        "safe below ~3e9 rows per shard, the SAME bound as the sign-"
        "sum squares on the sketch side; the docstring's 100 TB "
        "recipe is shard-then-merge-sign-sums, with the exact audit "
        "column dropped (it is the expensive path the sketch avoids). "
        "DuckDB raises loudly beyond; Spark's long wraps are guarded "
        "by the oracle gate at harness SFs."
    ),
    "q42_time_weighted": (
        "trapezoid area2 sums (v+pv) x microsecond gaps per "
        "(user, type): bounded by 2 x max_cents x that user-type's "
        "time SPAN in us — int64-safe to ~15 years at 10^4-cent "
        "values (spans are per-user, not corpus-wide); DuckDB raises "
        "loudly beyond, and the documented transform is a us->ms "
        "downscale (caught by the round-8 widened detector)."
    ),
    "q43_regression_stats": (
        "Sxy/Sxx sums of (centered month-index) x (cents): month "
        "index spans ~80, so magnitude ~ n * 40 * max_cents — inside "
        "int64 below ~10^10 rows; the sf0.1 sweep pins the bench "
        "envelope and DuckDB raises (loudly, not silently) beyond."
    ),
    "q97_zone_map_skip": (
        "sum(hit * n_rows): hit is 0/1, so the sum is bounded by "
        "TOTAL ROW COUNT — linear, not quadratic; int64-safe to "
        "9.2e18 rows."
    ),
    "q114_bootstrap_ci": (
        "weighted-mean shape sum(w*v) * 100 // sum(w): the OUTPUT is "
        "scale-free (bounded by max cents); the inner accumulation is "
        "w (resample count, <= B) x cents — inside int64 below ~10^10 "
        "rows, and the Spark twin uses the same int64 numpy partial "
        "sums (bit-identity test), so both sides share one bound."
    ),
    "q63_triangle_count": (
        "sum(deg*(deg-1)//2) is the global WEDGE count — a real graph "
        "statistic, int64-safe below 9.2e18 wedges; degrees come from "
        "the bounded LSH candidate graph, not raw corpus fanout."
    ),
    "q123_modularity": (
        "sum(dm*dm) over community degree masses is bounded by (2m)^2 "
        "— int64-safe below ~1.5e9 edges, the SAME bound as the "
        "modularity denominator 4m^2 the operator divides by; DuckDB "
        "raises loudly beyond."
    ),
    "t32_vocab_estimate": (
        "sum(r*f) over the frequency-of-frequencies spectrum IS the "
        "total token count N (sum of r x (types with frequency r)) — "
        "linear in corpus size by construction."
    ),
    "m05_cdc_chunks": (
        "sum(cnt*clen) over distinct chunks IS the corpus byte count "
        "(each byte belongs to exactly one chunk occurrence) — linear "
        "in corpus size by construction."
    ),
    "t08_quality_rules": (
        "product of 0/1 rule flags (r_len * r_wordlen * r_stop * "
        "r_div): each factor is boolean-derived, the product is 0/1, "
        "the sum is bounded by document count — linear."
    ),
    "t17_importance_weights": (
        "DSIR score sums cnt*N count-products — exact while "
        "bigram-count x corpus-count < 2^63 (~3e9 x 3e9); above that "
        "DuckDB RAISES on the BIGINT multiply (loud gate failure, "
        "never silent corruption) and the documented scale path is "
        "the q107 ppm transform."
    ),
}

_BOOL_OPS = ("<", ">", "=")


def _product_sum_flags(sql: str) -> list[str]:
    """Return the argument of every ``sum(...)`` that (a) contains an
    identifier*identifier product, (b) is NOT a boolean comparison
    (0/1 counts are row-count-bounded), and (c) feeds a
    ``::BIGINT``/``::HUGEINT`` cast within the following expression
    tail."""
    flags = []
    low = sql.lower()
    for m in re.finditer(r"\bsum\s*\(", low):
        i, depth, start = m.end(), 1, m.end()
        while i < len(low) and depth:
            if low[i] == "(":
                depth += 1
            elif low[i] == ")":
                depth -= 1
            i += 1
        arg = low[start : i - 1]
        # a product of two non-literal operands: identifier or
        # parenthesized expression on EACH side of '*' (round-8
        # review: ')*(' — e.g. sum((a-b)*(c-d)) — escaped the two
        # one-sided patterns)
        has_product = re.search(r"[a-z_)][\w.]*\s*\*\s*[a-z_(]", arg)
        if not has_product:
            continue
        if any(op in arg for op in _BOOL_OPS):
            continue  # comparison: the summed value is 0/1
        tail = low[i - 1 : i + 60]
        if "::bigint" in tail or "::hugeint" in tail:
            flags.append(arg.strip())
    return flags


def test_no_unrationalized_product_sum_bigint_oracle():
    bad = {}
    for name, sql in analytics.ALL_ORACLE.items():
        hits = _product_sum_flags(sql)
        if hits and name not in PRODUCT_SUM_RATIONALE:
            bad[name] = hits
    assert not bad, (
        "oracle sums an identifier-product into BIGINT without a "
        f"magnitude rationale (the q107 overflow class): {bad} — apply "
        "a scale-free transform (ppm/bp) or add PRODUCT_SUM_RATIONALE"
    )


def test_rationale_entries_not_stale():
    """An allowlist entry whose oracle no longer trips the detector is
    dead weight — delete it so the list stays meaningful."""
    stale = [
        name
        for name in PRODUCT_SUM_RATIONALE
        if not _product_sum_flags(analytics.ALL_ORACLE.get(name, ""))
    ]
    assert not stale, f"PRODUCT_SUM_RATIONALE entries no longer flagged: {stale}"


def test_detector_canaries():
    """The detector must catch the pre-fix q107 shape and ignore the
    fixed (ppm) and boolean-count shapes."""
    assert _product_sum_flags("SELECT sum(x * x)::BIGINT AS s FROM t")
    assert _product_sum_flags(
        "SELECT (sum(nij * n) - k)::BIGINT AS s FROM t"
    )
    # parenthesized operands (the round-8 review gap)
    assert _product_sum_flags(
        "SELECT sum((a - b) * (c - d))::BIGINT AS s FROM t"
    )
    # boolean count: product inside a comparison -> 0/1 -> row-bounded
    assert not _product_sum_flags(
        "SELECT sum((a * b > c)::int)::BIGINT AS s FROM t"
    )
    # double output: no int64 wrap possible
    assert not _product_sum_flags("SELECT round(sum(a * b), 2) AS s FROM t")
