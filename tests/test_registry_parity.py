"""Registry-shape invariants + oracle parity for UNGATED queries.

The driver's correctness gate records at most the first 50 registry
entries (observed r01: exactly 50, tail cut). The driver-facing
registry is therefore held at 50 rows; the queries filtered out
(``analytics.UNGATED``) are verified here against their DuckDB oracles
with the same compare shape the gate uses.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from dbsink_spark import analytics

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def test_registry_is_gate_sized():
    assert len(analytics.QUERIES) == 50
    assert analytics.UNGATED <= set(analytics.ALL_QUERIES)
    assert not analytics.UNGATED & set(analytics.QUERIES)


def test_registry_count_matches_documented():
    """Doc-drift guard (round-4 advice: README/COVERAGE counts drifted
    twice before landing). The README's '<N> operators' figure must
    equal the registry; a new query fails this test until the docs
    move with it."""
    import re

    with open(os.path.join(os.path.dirname(__file__), "..", "README.md")) as f:
        readme = f.read()
    m = re.search(r"(\d+) operators, each with a DuckDB oracle", readme)
    assert m, "README operator-count line missing"
    assert int(m.group(1)) == len(analytics.ALL_QUERIES)
    m = re.search(r"driver gate, (\d+) more verified locally", readme)
    assert m, "README ungated-count line missing"
    assert int(m.group(1)) == len(analytics.UNGATED)
    # quickstart count (round-5 verdict: this line went stale at 104
    # while the two lines above were guarded — cover it too)
    m = re.search(r"# (\d+)/(\d+) queries hash-match", readme)
    assert m, "README quickstart oracle-count line missing"
    assert int(m.group(1)) == int(m.group(2)) == len(analytics.ALL_QUERIES)
    # COVERAGE.md counts (round-8 review: its ungated count went stale
    # at 150 while README was guarded — cover both of its lines too)
    with open(os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md")) as f:
        coverage = f.read()
    m = re.search(r"(\d+) more\s*\noracle-verified queries", coverage)
    assert m, "COVERAGE ungated-count line missing"
    assert int(m.group(1)) == len(analytics.UNGATED)
    m = re.search(r"the full (\d+) run in", coverage)
    assert m, "COVERAGE full-count line missing"
    assert int(m.group(1)) == len(analytics.ALL_QUERIES)


def test_ungated_notes_cite_live_rows():
    """Every row an UNGATED note cites (``q52``, ``t34``, ...) is a live
    registry row, so deleting a row cannot leave a note pointing at
    nothing. Round tags (``r13``) are not rows."""
    import inspect
    import re

    notes = re.findall(r'^\s+"(\w+)",\s+#\s*(.*)$', inspect.getsource(analytics), re.M)
    assert {row for row, _ in notes} == set(analytics.UNGATED)
    live = {name.split("_")[0] for name in analytics.ALL_QUERIES}
    stale = {
        (row, cited)
        for row, note in notes
        for cited in re.findall(r"\b([a-z]\d+)(?=_|\b)", note)
        if not re.fullmatch(r"r\d+", cited) and cited not in live
    }
    assert not stale, sorted(stale)


def test_multimodal_not_registry_tail():
    # r01 lost m01-m03 to the gate's 50-row cut; they must sit well
    # inside the first 50 now.
    order = list(analytics.QUERIES)
    # (m01/m03/m05/m06 demoted in rotations — m02/m04 carry the gated
    # binary-payload capability class; the rest parity-tested below.)
    for name in ("m02_media_meta_join", "m04_binary_near_dup"):
        assert order.index(name) < 45, (name, order.index(name))


def test_gated_queries_all_have_oracles():
    # every driver-gated row should get the strong (hash) check
    missing = set(analytics.QUERIES) - set(analytics.ORACLE)
    assert not missing, missing


def test_gate_debt_ledger_in_sync():
    """GATE_DEBT.md (VERDICT_r08 #2) must list EXACTLY the rows that
    have never faced the real driver comparator: ALL registry rows
    minus the union of every committed CORRECTNESS_r*.json minus the
    current 50-row gate (which faces the driver this round). Any
    rotation or registry addition that isn't reflected in the ledger
    fails here."""
    import glob
    import json
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    faced = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            d = json.load(f)
        faced |= set(d["queries"]) if "queries" in d and isinstance(d["queries"], dict) else set(d)
    never = set(analytics.ALL_QUERIES) - faced - set(analytics.QUERIES)
    with open(os.path.join(root, "GATE_DEBT.md")) as f:
        debt = f.read()
    listed = set(re.findall(r"([a-z]+\d+_[a-z0-9_]+) \(r\d+\)", debt))
    assert listed == never, (
        "ledger != computed never-gated set",
        sorted(listed - never),
        sorted(never - listed),
    )
    m = re.search(r"Status: \*\*(\d+) rows\*\*", debt)
    assert m and int(m.group(1)) == len(never), (m, len(never))


def test_faced_but_never_passed_ledger():
    """VERDICT_r10 #1 ledger extension: a row whose only driver-faced
    record is a FAIL has strictly LESS driver evidence than a
    never-gated row, but GATE_DEBT's never-gated queue cannot see it
    (t04_token_count sat in that blind spot r02-r10). Compute the
    class — rows present in some committed CORRECTNESS_r*.json with
    no driver-faced PASS anywhere, excluding the current gate — and
    require GATE_DEBT.md's "Faced-but-never-passed" section to either
    say "none" (when the class is empty) or name every member."""
    import glob
    import json
    import re

    root = os.path.join(os.path.dirname(__file__), "..")
    passed, faced = set(), set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            d = json.load(f)
        for name, rec in d.items():
            faced.add(name)
            ok = (
                rec.get("rows_match")
                and rec.get("schema_match")
                and rec.get("hash_match") in (True, None)
                and not rec.get("err")
            )
            if ok:
                passed.add(name)
    stuck = (faced - passed) & set(analytics.ALL_QUERIES) - set(analytics.QUERIES)
    with open(os.path.join(root, "GATE_DEBT.md")) as f:
        debt = f.read()
    section = re.search(
        r"## Faced-but-never-passed ledger.*?(?=\n## |\Z)", debt, re.S
    )
    assert section, "GATE_DEBT.md missing the faced-but-never-passed section"
    body = section.group(0)
    if stuck:
        missing = {n for n in stuck if n not in body}
        assert not missing, ("faced-FAIL rows not in ledger", sorted(missing))
    else:
        assert re.search(r"Current rows: \*\*none\*\*", body), (
            "class is empty but the ledger does not say 'none'"
        )


def test_bench_manifest_keys_positional_stdout():
    """bench.py's stdout line is a positional decisec array (round-9
    byte diet); the committed BENCH_MANIFEST.json is the key. It must
    be exactly sorted(ALL_QUERIES) or the recorded BENCH_r{N} arrays
    can't be re-keyed."""
    import json

    with open(os.path.join(os.path.dirname(__file__), "..", "BENCH_MANIFEST.json")) as f:
        manifest = json.load(f)
    assert manifest["order"] == sorted(analytics.ALL_QUERIES)
    assert manifest["unit"] == "decisec"


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


@pytest.mark.parametrize("name", sorted(analytics.UNGATED))
def test_ungated_query_matches_oracle(spark, name):
    sdf = analytics.ALL_QUERIES[name](spark, SF_DIR)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    cur = con.execute(analytics.ALL_ORACLE[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols)
    key = lambda row, cols: [  # noqa: E731
        _norm(row[i]) for i in sorted(range(len(cols)), key=lambda j: cols[j])
    ]
    assert sorted(key(r, scols) for r in srows) == sorted(key(r, ocols) for r in orows)


def test_headline_operators_are_gated():
    """The driver gate must carry the headline LLM-pipeline and
    timeseries ops (curated round-2: d08/d09/s06/q42 promoted in place
    of four redundant agg variants; round-4: q56/s09/d13/t19 promoted
    in place of q11/s03/d05/q18; round-5 rotation per VERDICT_r04 #1
    demoted s01/q42; round-6 rotation per VERDICT_r05 #1 promoted the
    15-row session-3 wave; round-7 rotation per VERDICT_r06 #1
    promoted the full round-6 operator wave (q83-q91/d15/d16/s11/t27/
    t28) plus q57; round-8 rotation per VERDICT_r07 #1 promoted 15 of
    the 43 never-gated round-7 rows (q92/q93/q94/q95/q102/q104/q106/
    q107/q114/q119/d17/d19/s12/s15/t30) and demoted q22/q38/q51/q56/
    q61/q68/q73/q80/q83/q87/d09/s02/s04/t07/t26; round-9 rotation per
    VERDICT_r08 #1 promoted the full round-8 wave (q123-q127/t32-t34/
    s18-s21/d20/m05/m06) and demoted q64/q82/q84/q94/q106/q107/q114/
    q119/t27/t28/m01/d15/d16/s09/s11; round-10 rotation per
    VERDICT_r09 #1 promoted the GATE_DEBT r10 tranche (d07/s05/t06/
    t08/t09/t11/t12/t15/q43/q45/q46/q52/m04/m02 plus the #5-sanctioned
    s22-for-q39 swap) and demoted the 15 longest-gated rows (q01/q05/
    q12/q20/d01/d03/t02/q49/t14/d08/t19/d13/q41/q48/q50, each
    driver-verified 5-9 rounds); round-11 rotation per VERDICT_r10 #1
    promoted the GATE_DEBT r11 tranche (s10/q58/q60/t22/q65/q66/q67/
    q69/q70/q71/d14/q72/t24/q75 plus the #1-sanctioned t04-for-t20
    swap — t04's only driver-faced result was the r01 FAIL) and
    demoted the 15 longest-gated rows (q44/t23/t21/q57/q85/q86/q88/
    q89/q90/q91/q93/q95/t30/s15/d19, each driver-verified 3-6 rounds;
    the five 3x family-anchors s12/q92/q102/q104/d17 stay gated);
    round-12 rotation per VERDICT_r11 #1 promoted the GATE_DEBT r12
    tranche exactly as queued (t25/q77/q79/q81/t29/q96/q97/q98/q99/
    s13/s14/q100/q101/q103/q105, no swaps) and demoted the 15
    longest-gated rows (the five 4x round-11 family anchors s12/q92/
    q102/q104/d17 — their families re-anchor via promoted q103/q105/
    s13/s14 — plus ten 3x rows m05/m06/d20/q124/q126/q127/s18/s19/
    s20/t33) — each capability class stays gated via the rows named
    in analytics.UNGATED's rationale)."""
    headline = {
        # round-9 promotions still gated:
        "q123_modularity",
        "q125_join_ivm",
        "t32_vocab_estimate",
        "t34_dataset_card",
        "s21_kcenter_select",
        # round-10 promotions (the GATE_DEBT r10 tranche + s22 swap):
        "d07_phrase_dedup",
        "s05_ivf_topk",
        "t06_repetition",
        "t08_quality_rules",
        "t09_vocab_df",
        "t11_pack",
        "t12_split",
        "t15_common_token_score",
        "q43_regression_stats",
        "q45_transitions",
        "q46_mad_anomaly",
        "q52_quality_audit",
        "m04_binary_near_dup",
        "m02_media_meta_join",
        "s22_nn_descent_converge",
        # round-11 promotions (the GATE_DEBT r11 tranche + t04 swap):
        "s10_range_search",
        "q58_table_diff",
        "q60_sample_estimate",
        "t22_pmi_collocations",
        "q65_kmv_set_ops",
        "q66_sequence_pattern",
        "q67_weighted_sample",
        "q69_seasonal_anomaly",
        "q70_gram_matrix",
        "q71_time_travel",
        "d14_source_overlap_matrix",
        "q72_skew_profile",
        "t24_phrase_search",
        "q75_mv_rewrite",
        "t04_token_count",
        # round-12 promotions (the GATE_DEBT r12 tranche, no swaps):
        "t25_lm_familiarity",
        "q77_bitmap_index_serve",
        "q79_attribution",
        "q81_time_to_convert",
        "t29_overlap_profile",
        "q96_compaction_plan",
        "q97_zone_map_skip",
        "q98_basket_triples",
        "q99_fd_audit",
        "s13_ann_recall",
        "s14_rrf_fusion",
        "q100_quota_sample",
        "q101_salted_join",
        "q103_radius_join",
        "q105_label_prop",
    }
    missing = headline - set(analytics.QUERIES)
    assert not missing, missing


# ---------------------------------------------------------------------------
# HUGEINT leak guard (r02 q20/q49 failure class)
# ---------------------------------------------------------------------------
# DuckDB promotes sum(BIGINT) / list_sum / ** to HUGEINT, which the
# driver's pandas canonicalizer materializes as float64 and hashes as
# "99111.0" against Spark's "99111". Every oracle integer output must be
# explicitly ::BIGINT. This audits ALL oracles (gated + ungated) at the
# type level so gate reshuffles can't promote a latent leak.


def _describe_types(con, sql):
    return [(c, t) for c, t, *_ in con.execute("DESCRIBE " + sql).fetchall()]


def test_no_oracle_emits_hugeint():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    bad = {}
    for name, sql in analytics.ALL_ORACLE.items():
        hits = [c for c, t in _describe_types(con, sql) if "HUGEINT" in t.upper()]
        if hits:
            bad[name] = hits
    assert not bad, f"uncast HUGEINT oracle columns (add ::BIGINT): {bad}"


def test_hugeint_detector_catches_uncast_sum():
    # prove the guard actually fires on the failure class it exists for
    con = duckdb.connect()
    types = _describe_types(con, "SELECT sum(x) AS s FROM (SELECT 1::BIGINT AS x)")
    assert any("HUGEINT" in t.upper() for _, t in types)
    types = _describe_types(
        con, "SELECT sum(x)::BIGINT AS s FROM (SELECT 1::BIGINT AS x)"
    )
    assert not any("HUGEINT" in t.upper() for _, t in types)
