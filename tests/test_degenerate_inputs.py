"""Contract tests for the round-10 degenerate-input fuzz catches.

The new ``--mode degenerate`` fuzzer (tools/fuzz_oracle.py) reduces
each table independently to 0 / 1 / 3 rows or all-NULL value columns —
the s20/s21 "vec_id=0 anchor" class from round 9, swept systematically.
Its first four seeds caught 20 real bugs: ANSI divide-by-zero job
aborts (t25 q109 q114 q118 q120 q121 q122 q126 t27 t29), driver-side
crashes on empty collects (q84 q90 q112 d20 s04 s18), and
empty-input result-shape divergences (q12 grand-total grouping-set
row, q124 all-NULL agg row, q87 0.0-vs-NULL chi2).

Each (query, seed) pair here is the exact dataset that caught the bug;
the assertion is the full driver-style compare (columns + sorted-row
value equality) between Spark and DuckDB on that dataset. At 100 TB a
filter can legitimately leave an operator zero input rows — nothing
may crash or pick a different empty-result shape per engine.
"""

from __future__ import annotations

import math
import sys

import duckdb
import pytest

sys.path.insert(0, "/root/repo")

from dbsink_spark import analytics
from tools.check_oracle import TABLES
from tools.fuzz_oracle import build_dataset

# (seed, query) — the dataset that originally caught each bug
CASES = [
    (61, "t25_lm_familiarity"),
    (61, "q114_bootstrap_ci"),
    (61, "q118_mutual_info"),
    (61, "q120_mann_whitney"),
    (61, "q122_ks_test"),
    (62, "q109_benford"),
    (62, "q112_decile_lift"),
    (62, "q124_permutation_test"),
    (62, "q12_cube"),
    (62, "q84_histogram_quantiles"),
    (62, "q87_chi_square"),
    (62, "q90_cusum"),
    (62, "s04_numpy_topk"),
    (62, "s18_filtered_search"),
    (63, "d20_incremental_dedup"),
    (63, "t27_zipf_fit"),
    (63, "q121_kendall_tau"),
    (64, "q126_spearman_monthly"),
    (64, "t29_overlap_profile"),
    (64, "q121_kendall_tau"),  # 0-row lineitem: len(NULL) vs size([])
    (67, "q74_constraint_audit"),  # all-NULL c_acctbal: sum(pred) NULL vs 0
]


def _norm(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return "%.12g" % v
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


@pytest.fixture(scope="module")
def degenerate_dirs():
    return {seed: build_dataset(seed, mode="degenerate") for seed in {s for s, _ in CASES}}


@pytest.mark.parametrize("seed,name", CASES)
def test_degenerate_dataset_matches_oracle(spark, degenerate_dirs, seed, name):
    sf_dir = degenerate_dirs[seed]
    sdf = analytics.ALL_QUERIES[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    cur = con.execute(analytics.ALL_ORACLE[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols)
    key = lambda row, cols: [  # noqa: E731
        _norm(row[i]) for i in sorted(range(len(cols)), key=lambda j: cols[j])
    ]
    assert sorted(key(r, scols) for r in srows) == sorted(
        key(r, ocols) for r in orows
    ), (seed, name)
