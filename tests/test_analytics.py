"""Analytics regression tests: a representative operator subset
compared against DuckDB at sf0.001 (the full registry runs via
tools/check_oracle.py at sf0.01; this keeps the core pairs guarded by
plain pytest)."""

import math

import duckdb
import pytest

from dbsink_spark import analytics

SF_DIR = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

SUBSET = [
    "q01_pricing_summary",
    "q125_join_ivm",
    "q13_window_topk_per_group",
    "q19_events_sessionize",
    "q22_asof_join",
    "q30_argmax",
    "t21_bm25_rank",
    "t16_bpe_merge_step",
    "d11_semdedup",
    "q48_interp_gapfill",
    "d01_dedup_exact",
    "d03_minhash_lsh",
    "s09_ann_recall",
    "m01_media_features",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def norm(v):
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6g}"
    return str(v)


def rowset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", SUBSET)
def test_query_matches_oracle(spark, duck, name):
    sdf = analytics.ALL_QUERIES[name](spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    cur = duck.execute(analytics.ALL_ORACLE[name])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    assert sorted(scols) == sorted(dcols)
    assert len(srows) == len(drows)
    assert rowset(srows, scols) == rowset(drows, dcols)


def test_registry_integrity():
    # every oracle refers to a registered query; no name collisions
    assert set(analytics.ORACLE) <= set(analytics.QUERIES)
    assert len(analytics.ALL_QUERIES) >= 53
    # every driver-gated query now carries a hash oracle (q29 emits
    # exact values + tolerance booleans; s04 emits rank-only output)
    assert set(analytics.QUERIES) == set(analytics.ORACLE)


def test_numpy_topk_matches_exact_path(spark):
    """s04 (vectorized numpy scale path) must produce the same rankings
    as the exact sequential-fold path s09 audits against."""
    from dbsink_spark.analytics.similarity import exact_cosine_topk

    exact = exact_cosine_topk(spark, SF_DIR).collect()
    fast = analytics.ALL_QUERIES["s04_numpy_topk"](spark, SF_DIR).collect()
    assert len(exact) == len(fast)
    e = {(r["query_id"], r["rank"]): r["corpus_id"] for r in exact}
    f = {(r["query_id"], r["rank"]): r["corpus_id"] for r in fast}
    assert e == f


def test_sql_front_door(spark):
    """analytics.sql: ANSI SQL string over registered tables."""
    out = analytics.sql(
        spark,
        SF_DIR,
        """
        SELECT r_name, count(*) AS n_nations
        FROM region JOIN nation ON r_regionkey = n_regionkey
        GROUP BY r_name ORDER BY r_name
        """,
    ).collect()
    assert len(out) == 5
    assert sum(r.n_nations for r in out) == 25


def test_pack_bins_are_contiguous_and_sized(spark):
    """t11: bins within a source are 0..max contiguous, and every bin
    except the last holds >= the token budget once its straddling doc
    is counted (concat-then-split never leaves a window short)."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics import text

    rows = text.t11_pack(spark, SF_DIR).collect()
    by_source = {}
    for r in rows:
        by_source.setdefault(r.source, []).append(r)
    for source, rs in by_source.items():
        bins = [r.bin for r in rs]
        assert bins == list(range(len(rs))), source
        # cumulative token mass at the end of bin b is > budget*(b+1)
        # for every non-final bin (otherwise the next bin couldn't exist)
        cum = 0
        for r in rs[:-1]:
            cum += r.n_tokens
            assert cum >= text.PACK_BUDGET * (r.bin + 1), (source, r.bin)


def test_decontaminate_never_flags_benchmark_docs(spark):
    """d08: the held-out benchmark slice must never appear among the
    flagged training docs, and hit counts are bounded by the doc's own
    distinct n-gram count."""
    from dbsink_spark.analytics import dedup

    rows = dedup.d08_decontaminate(spark, SF_DIR).collect()
    assert rows, "expected nonzero contamination on the templated corpus"
    for r in rows:
        assert r.doc_id % dedup.DECON_BENCH_MOD != 0
        assert 0 < r.n_hits <= r.n_ngrams


def test_kmeans_update_partitions_the_corpus(spark):
    """s06: every cell/pos group carries the same member count per
    cell, and total membership equals the corpus size (each vector
    contributes to exactly one cell)."""
    from dbsink_spark.analytics import similarity

    rows = similarity.s06_kmeans_update(spark, SF_DIR).collect()
    per_cell = {}
    for r in rows:
        per_cell.setdefault(r.cell, set()).add(r.n_members)
    assert all(len(s) == 1 for s in per_cell.values())
    n_vectors = similarity.Tables(spark, SF_DIR).embeddings.count()
    assert sum(next(iter(s)) for s in per_cell.values()) == n_vectors


def test_dup_clusters_consistent_with_pairs(spark):
    """d09: both endpoints of every verified near-dup pair land in the
    same cluster, and each cluster is labelled by its minimum member."""
    from dbsink_spark.analytics import dedup

    pairs = dedup.d03_minhash_lsh(spark, SF_DIR).collect()
    clusters = {r.doc_id: r.cluster_id for r in dedup.d09_dup_clusters(spark, SF_DIR).collect()}
    if not pairs:
        pytest.skip("no near-dup pairs at this SF")
    for p in pairs:
        assert clusters[p.doc_a] == clusters[p.doc_b]
    members = {}
    for doc, c in clusters.items():
        members.setdefault(c, []).append(doc)
    for c, docs in members.items():
        assert c == min(docs)


def test_dup_clusters_both_paths_identical(spark, monkeypatch):
    """d09 hybrid: the distributed min-label propagation path (forced
    via a zero driver cap) produces row-for-row the same clusters as
    the default driver union-find path."""
    from dbsink_spark.analytics import dedup

    fast = dedup.d09_dup_clusters(spark, SF_DIR).collect()
    monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", -1)
    slow = dedup.d09_dup_clusters(spark, SF_DIR).collect()
    key = lambda r: (r.doc_id, r.cluster_id, r.cluster_size)  # noqa: E731
    assert sorted(map(key, fast)) == sorted(map(key, slow))


def test_verify_jaccard_drops_pair_with_missing_doc(spark):
    """A candidate whose doc_b is absent from ``docs`` has no pair to
    score; it must not come back as a self-compared 1.0."""
    from dbsink_spark.analytics import dedup

    docs = spark.createDataFrame(
        [(1, [10, 20, 30]), (2, [10, 20, 30]), (3, [10, 20, 40])],
        "doc_id long, shh array<long>",
    )
    cand = spark.createDataFrame([(1, 2), (1, 3), (2, 99)], "doc_a long, doc_b long")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup._verify_jaccard(cand, docs).collect()
    }
    assert got == {(1, 2): 1.0, (1, 3): 0.5}


def test_cc_propagate_reports_iterations(spark):
    """_cc_propagate's stats out-param records propagation rounds; the
    fixpoint for near-dup clusters must land within the diameter bound
    (bench.py records this per round at sf0.1)."""
    from dbsink_spark.analytics import dedup

    pairs = dedup.d03_minhash_lsh(spark, SF_DIR).select("doc_a", "doc_b")
    stats: dict = {}
    out = dedup._cc_propagate(spark, pairs, stats=stats)
    out.count()
    assert 1 <= stats["iterations"] <= dedup.CC_MAX_ITERS


def test_cc_union_find_min_label():
    """Driver union-find labels every node with its component minimum,
    independent of edge order."""
    from dbsink_spark.analytics.dedup import _cc_union_find

    edges = [(5, 9), (9, 2), (7, 8), (3, 7), (2, 5)]
    comp = _cc_union_find(edges)
    assert comp == {5: 2, 9: 2, 2: 2, 7: 3, 8: 3, 3: 3}
    comp_rev = _cc_union_find(list(reversed(edges)))
    assert comp == comp_rev


def test_kmeans_inertia_nonincreasing(spark):
    """kmeans_fit: Lloyd iterations never increase inertia, and the
    assignment covers every vector exactly once."""
    from dbsink_spark.analytics import similarity

    assign, hist = similarity.kmeans_fit(spark, SF_DIR, n_iters=3)
    assert len(hist) == 3
    assert all(b <= a * (1 + 1e-9) for a, b in zip(hist, hist[1:]))
    n = similarity.Tables(spark, SF_DIR).embeddings.count()
    assert assign.count() == n
    assert assign.select("vec_id").distinct().count() == n


def test_curation_pipeline_composes(spark, tmp_path):
    """The full curation chain must run end-to-end, shrink monotonically
    per stage (scrub is 1:1), keep no duplicate texts, and land a
    split-partitioned lake."""
    from dbsink_spark.analytics.curation import curate_corpus

    out = str(tmp_path / "curated")
    curated, manifest = curate_corpus(spark, SF_DIR, out)
    m = {
        r["stage"]: (r["n_docs"], r["n_chars"], r["n_tokens"])
        for r in manifest.collect()
    }
    assert m["1_scrubbed"][0] == m["0_raw"][0]
    counts = [m[k][0] for k in sorted(m) if not k.startswith("1_")]
    assert counts == sorted(counts, reverse=True), m
    assert counts[-1] > 0
    # token budget shrinks with the doc set and stays positive
    tokens = [m[k][2] for k in sorted(m) if not k.startswith("1_")]
    assert tokens == sorted(tokens, reverse=True) and tokens[-1] > 0, m

    got = curated.select("doc_id", "text", "split").collect()
    texts = [r["text"] for r in got]
    assert len(texts) == len(set(texts))  # exact-dedup held through the chain
    assert {r["split"] for r in got} <= {"train", "val", "test"}

    # landed lake: partitioned by split, row count matches stage 5
    back = spark.read.parquet(out)
    assert back.count() == m["5_split_mixture"][0]
    import os

    assert any(p.startswith("split=") for p in os.listdir(out))

    # determinism: a rerun reproduces the same keep set
    curated2, _ = curate_corpus(spark, SF_DIR)
    assert {r["doc_id"] for r in got} == {
        r["doc_id"] for r in curated2.select("doc_id").collect()
    }


def test_bpe_token_budget_matches_python_twin(spark, tmp_path):
    """The bench's lake BPE budget segments the LANDED text exactly as
    ``text.bpe_token_counts`` specifies — pinned per split against a
    pure-python twin (word-spaced chars, ranked
    merge rules applied left-to-right non-overlapping, token count =
    spaces − 1), trained with the same t16 merge table."""
    import collections

    from dbsink_spark.analytics.curation import bpe_token_budget, curate_corpus
    from dbsink_spark.analytics.text import BPE_N_MERGES, t16_bpe_merge_step

    out = str(tmp_path / "lake")
    cleanup: list = []
    curate_corpus(spark, SF_DIR, out, cleanup=cleanup)
    for df in cleanup:
        df.unpersist()

    got = {
        r["split"]: (r["n_docs"], r["bpe_tokens"], r["ws_tokens"])
        for r in bpe_token_budget(spark, SF_DIR, out).collect()
    }

    merges = [
        r["pair"]
        for r in t16_bpe_merge_step(spark, SF_DIR).collect()[:BPE_N_MERGES]
    ]
    exp: dict = collections.defaultdict(lambda: [0, 0, 0])
    for r in spark.read.parquet(out).select("text", "split").collect():
        exp[r["split"]][0] += 1
        for w in r["text"].split(" "):
            if not w:
                continue
            seg = " " + "".join(c + " " for c in w)
            for p in merges:
                seg = seg.replace(f" {p[0]} {p[1]} ", f" {p} ")
            exp[r["split"]][1] += seg.count(" ") - 1
            exp[r["split"]][2] += 1
    assert got == {k: tuple(v) for k, v in exp.items()}
    # sanity: every landed split is budgeted and BPE never exceeds the
    # character count nor undercuts one token per word
    assert got
    for n, bpe, ws in got.values():
        assert 0 < ws <= bpe


def test_q128_ams_matches_python_twin(spark):
    """q128's AMS tug-of-war estimate pinned against a plain-python
    twin: same md5-half sign draws, same sign sums, same mean-of-K
    integer arithmetic — EXACT equality on both the sketch estimate
    and the exact-F2 audit column, plus the estimator sanity bound
    (mean-of-96 should land well within 3x of exact F2)."""
    import collections
    import hashlib

    from dbsink_spark.analytics.stats import AMS_BITS, AMS_HASHES, AMS_K

    keys = [
        r["l_partkey"]
        for r in analytics.ALL_QUERIES["q02_filter_project"].__globals__["Tables"](
            spark, SF_DIR
        )
        .lineitem.select("l_partkey")
        .collect()
    ]
    s = [[0] * AMS_BITS for _ in range(AMS_HASHES)]
    freq: dict = collections.Counter(keys)
    for key in keys:
        md = hashlib.md5(str(key).encode()).hexdigest()
        for j in range(AMS_HASHES):
            h = int(md[15 * j : 15 * (j + 1)], 16)
            for k in range(AMS_BITS):
                s[j][k] += 1 - 2 * ((h >> k) & 1)
    f2_ams = sum(x * x for row in s for x in row) // AMS_K
    f2_exact = sum(c * c for c in freq.values())

    got = analytics.ALL_QUERIES["q128_ams_f2"](spark, SF_DIR).collect()[0]
    assert got["f2_ams"] == f2_ams
    assert got["f2_exact"] == f2_exact
    assert got["n_rows"] == len(keys) and got["n_keys"] == len(freq)
    assert f2_exact / 3 <= f2_ams <= f2_exact * 3


def test_q129_decay_matches_python_twin(spark):
    """q129's quantized forward decay pinned against a plain-python
    twin (epoch-second truncation, integer half-life buckets, 1e6>>k
    weights) — exact equality per event type, and the weight table's
    intended properties: newest events carry full weight, weights
    never exceed 1e6 per event, and anything ≥ 20 half-lives old
    contributes zero."""
    import collections
    import duckdb

    from dbsink_spark.analytics.stats import Q129_HALF_LIFE_SEC

    con = duckdb.connect()
    rows = con.execute(
        "SELECT event_type, floor(epoch(ts))::BIGINT FROM "
        f"read_parquet('{SF_DIR}/events.parquet')"
    ).fetchall()
    t_now = max(sec for _, sec in rows)
    exp: dict = collections.defaultdict(lambda: [0, 0, None])
    for et, sec in rows:
        k = (t_now - sec) // Q129_HALF_LIFE_SEC
        w = 0 if k >= 20 else 1_000_000 >> k
        exp[et][0] += 1
        exp[et][1] += w
        age = t_now - sec
        exp[et][2] = age if exp[et][2] is None else min(exp[et][2], age)

    got = {
        r["event_type"]: (r["n_events"], r["decayed_micro"], r["newest_age_sec"])
        for r in analytics.ALL_QUERIES["q129_decayed_counts"](spark, SF_DIR).collect()
    }
    assert got == {k: tuple(v) for k, v in exp.items()}
    for n, dm, _ in got.values():
        assert 0 < dm <= n * 1_000_000


def test_countmin_one_sided_error(spark):
    """q51: count-min estimates are NEVER below the true count, and
    the top word's estimate is within the sketch's additive bound
    (N/W per row, min over D rows is far tighter in practice)."""
    rows = analytics.ALL_QUERIES["q51_countmin"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.est_n >= r.true_n, (r.word, r.true_n, r.est_n)


def test_incremental_near_dups_equals_batch_restriction(spark, tmp_path):
    """Processing a new batch against the signature store must find
    exactly the full-corpus d03 pairs that involve a batch doc, and
    the store must end up holding every doc's signatures."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics import dedup
    from dbsink_spark.analytics.ingest import (
        append_batch,
        incremental_near_dups,
        init_store,
    )
    from dbsink_spark.analytics.tables import Tables

    docs = Tables(spark, SF_DIR).documents
    history = docs.filter(F.col("doc_id") % 10 != 0)
    batch = docs.filter(F.col("doc_id") % 10 == 0)

    store = str(tmp_path / "sigstore")
    init_store(spark, store)
    append_batch(spark, store, history)

    got = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in incremental_near_dups(spark, store, batch).collect()
    }

    batch_ids = {r.doc_id for r in batch.select("doc_id").collect()}
    full = dedup.d03_minhash_lsh(spark, SF_DIR).collect()
    expect = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in full
        if r.doc_a in batch_ids or r.doc_b in batch_ids
    }
    assert got == expect
    assert expect, "fixture must produce at least one batch-involving pair"

    # store now covers the whole corpus
    import os

    n_sig = spark.read.parquet(os.path.join(store, "shingles")).count()
    n_docs = docs.withColumn("w", F.split("text", " ")).filter(
        F.size("w") >= 3
    ).count()
    assert n_sig == n_docs


def test_lsh_bucket_cap_bounds_degenerate_fanout(spark):
    """Skew guard (round-5 verdict #9): a pathological corpus with one
    large ~identical cluster must not fan the band self-join out
    quadratically when the bucket cap is on. Off by default, the cap
    drops band rows in over-full buckets BEFORE the join."""
    import random

    from pyspark.sql import functions as F

    from dbsink_spark.analytics import dedup

    rng = random.Random(42)
    vocab = [f"tok{i}" for i in range(300)]
    cluster_text = " ".join(rng.choice(vocab) for _ in range(40))
    rows = [(i, cluster_text, "s") for i in range(30)] + [
        (100 + i, " ".join(rng.choice(vocab) for _ in range(40)), "s")
        for i in range(30)
    ]
    docs = dedup.hash_docs(
        spark.createDataFrame(rows, ["doc_id", "text", "source"])
    ).persist()

    def candidates(banded):
        a, b = banded.alias("a"), banded.alias("b")
        return (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
            .dropDuplicates(["da", "db"])
            .count()
        )

    uncapped = candidates(dedup.banded_sigs(docs))
    assert uncapped >= 30 * 29 // 2  # the identical cluster alone

    capped = candidates(dedup.banded_sigs(docs, bucket_cap=8))
    # every surviving bucket has ≤ 8 members → ≤ 28 pairs per bucket;
    # the 30-member cluster buckets are gone entirely
    assert capped < 30 * 29 // 2
    assert capped <= 28 * dedup.BANDS * 60  # loose structural bound

    # default path unchanged: module default is None (off)
    assert dedup.LSH_BUCKET_CAP is None
    docs.unpersist()


def test_skyline_matches_brute_force(spark):
    """q86's window-sweep skyline == the O(n²) dominance definition on
    random points (the sweep's correctness argument is subtle enough
    to deserve an independent check beyond the oracle fixture)."""
    import random

    rng = random.Random(17)
    pts = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(120)]

    def dominated(p, qs):
        return any(
            (q[0] <= p[0] and q[1] <= p[1]) and q != p for q in qs
        )

    grid = sorted(set(pts))
    want = sorted(p for p in grid if not dominated(p, grid))

    from dbsink_spark.analytics.advanced import skyline_min2d

    df = spark.createDataFrame(pts, ["x", "y"]).groupBy("x", "y").count()
    got = skyline_min2d(df, "x", "y").select("x", "y").collect()
    assert sorted((r["x"], r["y"]) for r in got) == want


def test_skyline_prune_is_exact_and_effective(spark):
    """q86's sample prune (round-7): on a large random grid the
    broadcast sample-skyline prefilter must (a) never change the final
    skyline — exactness — and (b) kill >99% of the points before the
    global sweep — the scale property it exists for."""
    import random

    from dbsink_spark.analytics.advanced import skyline_min2d, skyline_sample_prune

    rng = random.Random(23)
    # independent dims → E[skyline] ≈ ln(n); a 1/64 sample's skyline
    # dominates nearly everything (survivor count grows ~log n while
    # the grid grows linearly, so the kill ratio IMPROVES with scale —
    # measured 98.1% at 20k, 99.3% at 100k)
    pts = [(rng.randint(0, 10**6), rng.randint(0, 10**6)) for _ in range(100_000)]
    df = spark.createDataFrame(pts, ["x", "y"]).groupBy("x", "y").count()
    n_grid = df.count()
    pruned = skyline_sample_prune(df, "x", "y")
    n_pruned = pruned.count()
    assert n_pruned < n_grid // 100, (n_pruned, n_grid)

    direct = sorted(
        (r["x"], r["y"]) for r in skyline_min2d(df, "x", "y").collect()
    )
    via_prune = sorted(
        (r["x"], r["y"]) for r in skyline_min2d(pruned, "x", "y").collect()
    )
    assert direct == via_prune


def test_q55_drill_path_equals_window_path(spark, monkeypatch):
    """q55's cardinality-gated strategies must be row-identical: force
    the drill path (gate at 0) and compare against the windowed-ntile
    plan on the same input — counts, quartile labels, and the exact
    parquet price doubles."""
    from dbsink_spark.analytics import relational
    from dbsink_spark.analytics.tables import Tables

    monkeypatch.setattr(relational, "Q55_WINDOW_MAX_ROWS", 0)
    got = relational.q55_ntile_quartiles(spark, SF_DIR)
    want = relational._q55_window_path(Tables(spark, SF_DIR).orders)
    assert got.columns == want.columns
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_grouped_running_sum_matches_window(spark):
    """bigwin.grouped_running_sum must equal the plain per-group
    exclusive cumulative window on every row — including each group's
    first row (0), single-row groups, and groups spanning several
    range partitions."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.bigwin import grouped_running_sum

    rng = random.Random(11)
    rows = [(f"g{rng.randint(0, 3)}", i, rng.randint(0, 100)) for i in range(5000)]
    rows.append(("lone", 0, 7))  # single-row group
    df = spark.createDataFrame(rows, ["g", "k", "v"]).repartition(16)
    got = grouped_running_sum(df, "g", ["k"], "v", "cum")
    w = Window.partitionBy("g").orderBy("k").rowsBetween(
        Window.unboundedPreceding, -1
    )
    want = df.withColumn(
        "cum", F.coalesce(F.sum("v").over(w), F.lit(0)).cast("long")
    )
    key = lambda r: (r["g"], r["k"])  # noqa: E731
    got_rows = sorted(got.select("g", "k", "v", "cum").collect(), key=key)
    want_rows = sorted(want.select("g", "k", "v", "cum").collect(), key=key)
    assert [tuple(r) for r in got_rows] == [tuple(r) for r in want_rows]


def test_skyline_sample_mod_derivation():
    """VERDICT_r07 #2: the sample mod must be DERIVED from the grid
    size — no fixed knob. The sample sweep's expected input
    n_grid/mod must stay under the target at every scale while tiny
    grids keep the historical 1/64 rate."""
    from dbsink_spark.analytics.advanced import (
        Q86_SAMPLE_TARGET_ROWS,
        _skyline_sample_mod,
    )

    assert _skyline_sample_mod(0) == 64
    assert _skyline_sample_mod(10_000) == 64
    assert _skyline_sample_mod(64 * Q86_SAMPLE_TARGET_ROWS) == 64
    assert _skyline_sample_mod(64 * Q86_SAMPLE_TARGET_ROWS + 1) == 128
    # a 100 TB-class grid: 10^10 distinct points → sample still bounded
    for n in (10**8, 10**10, 10**12):
        mod = _skyline_sample_mod(n)
        assert n / mod <= Q86_SAMPLE_TARGET_ROWS, (n, mod)
        assert mod & (mod - 1) == 0 and mod >= 64  # power of two, floored


def test_skyline_prune_large_grid_sample_bounded(spark, monkeypatch):
    """Force a grid larger than 64× a (shrunken) target and assert the
    derived mod actually bounds the sample-sweep input while the
    skyline stays exact — the integration half of the
    no-fixed-knob fix (the exactness property test above covers
    correctness at the default target)."""
    import random

    from pyspark.sql import functions as F

    from dbsink_spark.analytics import advanced
    from dbsink_spark.analytics.advanced import skyline_min2d, skyline_sample_prune
    from dbsink_spark.functions.hashing import h64

    monkeypatch.setattr(advanced, "Q86_SAMPLE_TARGET_ROWS", 8)
    rng = random.Random(7)
    pts = [(rng.randint(0, 10**6), rng.randint(0, 10**6)) for _ in range(3000)]
    df = spark.createDataFrame(pts, ["x", "y"]).groupBy("x", "y").count()
    n_grid = df.count()
    mod = advanced._skyline_sample_mod(n_grid)
    assert n_grid / mod <= 8  # derived, not the fixed 64
    assert mod > 64

    n_sample = df.filter(
        h64(F.concat_ws("|", F.col("x").cast("string"), F.col("y").cast("string")))
        % mod
        == 0
    ).count()
    # hash-uniform sample: expectation n/mod ≤ 8; allow generous slack
    assert n_sample <= 8 * 4, n_sample

    direct = sorted((r["x"], r["y"]) for r in skyline_min2d(df, "x", "y").collect())
    via = sorted(
        (r["x"], r["y"])
        for r in skyline_min2d(
            skyline_sample_prune(df, "x", "y"), "x", "y"
        ).collect()
    )
    assert direct == via


def test_merge_upsert_invariants(spark):
    """q85 semantic invariants beyond the oracle hash: deleted keys
    vanish, inserted keys appear exactly once, updated keys carry the
    +10% price, untouched keys are byte-identical to the snapshot."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import Q85_MOD
    from dbsink_spark.analytics.tables import Tables
    from dbsink_spark.functions.hashing import h64

    sf = "/root/testdata/sf0.001"
    t = Tables(spark, sf)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    snap = t.orders.select(
        F.col("o_orderkey").alias("key"),
        cents.alias("cents"),
        (h64(F.col("o_orderkey").cast("string")) % Q85_MOD).alias("cls"),
    ).collect()
    by_cls = {}
    for r in snap:
        by_cls.setdefault(r["cls"], []).append(r)
    n_del = len(by_cls.get(0, []))
    n_ins = len(by_cls.get(3, []))

    # reconstruct the merged per-status totals' row math from the class
    # counts: merged rows = snapshot - deletes + inserts (ONE
    # execution — the plan includes an eager checkpoint of the
    # classified snapshot, so don't run it twice for a derivable sum)
    from dbsink_spark.analytics.advanced import q85_merge_upsert

    out = {r["status"]: r for r in q85_merge_upsert(spark, sf).collect()}
    merged_rows = sum(r["n_rows"] for r in out.values())
    assert merged_rows == len(snap) - n_del + n_ins

    # status 'U' rows == update-classified keys; status 'I' == inserts
    n_upd = len(by_cls.get(1, [])) + len(by_cls.get(2, []))
    assert out.get("U") and out["U"]["n_rows"] == n_upd
    assert out.get("I") and out["I"]["n_rows"] == n_ins
    assert out["U"]["revenue_cents"] == sum(
        r["cents"] * 110 // 100 for c in (1, 2) for r in by_cls.get(c, [])
    )
    assert out["I"]["revenue_cents"] == sum(
        r["cents"] // 2 for r in by_cls.get(3, [])
    )


def test_histogram_quantile_estimate_within_bucket_bound(spark):
    """q84's estimate is the lower bound of the bucket containing the
    exact quantile, so est <= exact < 10*est must hold for every q
    (the log-scale grid's guaranteed resolution)."""
    from dbsink_spark.analytics.advanced import q84_histogram_quantiles

    rows = q84_histogram_quantiles(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 3
    for r in rows:
        assert r["est_cents"] <= r["exact_cents"] < 10 * r["est_cents"], r


def test_heavy_hitters_exact_with_truncation_across_partitions(spark, tmp_path):
    """q93 end-to-end on a 16-file corpus (16 REAL mapInPandas
    partitions) engineered so every partition's MG summary must
    TRUNCATE (400 local fillers >> K=200 counters) while the heavy
    tokens are spread uniformly across all partitions. Result must
    equal brute force exactly — if truncation ever over-subtracts (the
    superset-breaking bug class), heavy rows vanish from the answer.

    Note on adversarial limits: a corpus where a globally-frequent
    token is below the MG survival bound (share ≤ 1/(K+1)) in EVERY
    partition is mathematically impossible — summing the per-partition
    bound gives global count ≤ n/(K+1) < n/K, i.e. not frequent. That
    theorem IS the candidate-superset proof, so the testable surface
    is exactness under active truncation + multi-partition merge, not
    a constructible 'missed candidate' scenario."""
    import collections
    import os

    from dbsink_spark.analytics import advanced
    from dbsink_spark.analytics.advanced import q93_heavy_hitters

    import pandas as pd

    heavy = [f"heavy{i}" for i in range(5)]
    sf = str(tmp_path)
    os.makedirs(f"{sf}/documents.parquet")
    all_texts = []
    for p in range(16):
        # 400 private fillers × 2 occurrences force truncation (400 >
        # K=200); heavy tokens get 60 occurrences per partition → 960
        # globally, comfortably over the threshold n = 16·(800+300)
        # = 17600, n/K = 88 < 960
        texts = [
            " ".join(f"f{p}_{j} f{p}_{j}" for j in range(400)),
            " ".join(" ".join(heavy) for _ in range(60)),
        ]
        all_texts.extend(texts)
        pdf = pd.DataFrame(
            {"doc_id": [2 * p, 2 * p + 1], "text": texts}
        )
        pdf["lang"], pdf["source"] = "en", "syn"
        pdf["n_chars"] = pdf.text.str.len()
        # one file per slice: the local[8] test session combines the
        # 16 small files into ≥8 input partitions, so the MG pass
        # really runs on many partitions with truncation active in
        # each (≤2 files/partition → ≥800 local fillers >> K)
        pdf.to_parquet(f"{sf}/documents.parquet/part-{p:02d}.parquet")

    df_parts = q93_heavy_hitters.__globals__["Tables"](spark, sf).documents
    assert df_parts.rdd.getNumPartitions() >= 8

    got = [(r["token"], r["cnt"]) for r in q93_heavy_hitters(spark, sf).collect()]

    cnt = collections.Counter()
    for text in all_texts:
        cnt.update(text.split(" "))
    n = sum(cnt.values())
    want = sorted(
        ((w, c) for w, c in cnt.items() if c * advanced.Q93_K > n),
        key=lambda t: (-t[1], t[0]),
    )
    assert got == want
    # the synthetic math must actually put all 5 heavy tokens (and
    # nothing vacuous like an empty string) in the answer
    assert set(w for w, _ in want) == set(heavy), want


def test_weighted_median_drill_path_equals_window_path(spark, monkeypatch):
    """q68 cardinality gate (round-7): forcing the drill strategy (zero
    row threshold) must produce row-for-row the same result as the
    windowed path — the d13 both-branches rule."""
    from dbsink_spark.analytics import advanced

    window = advanced.q68_weighted_median(spark, SF_DIR).collect()
    monkeypatch.setattr(advanced, "Q68_WINDOW_MAX_ROWS", -1)
    drill = advanced.q68_weighted_median(spark, SF_DIR).collect()
    key = lambda r: tuple(r)  # noqa: E731
    assert sorted(map(key, window)) == sorted(map(key, drill))
    assert len(window) == 3  # one row per returnflag


def test_weighted_value_at_matches_brute_force(spark):
    """drill.weighted_value_at on random weighted data: per group, the
    returned (value, below) must equal the brute-force scan of the
    weight-ordered values — including duplicate values, weight ties,
    and targets at both extremes."""
    import random

    from dbsink_spark.analytics.drill import weighted_value_at

    rng = random.Random(41)
    rows = [
        (g, rng.randint(0, 5000), rng.randint(1, 9))
        for g in ("a", "b", "c")
        for _ in range(400)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "w"])
    per_g = {}
    for g, v, w in rows:
        per_g.setdefault(g, []).append((v, w))
    totals = {g: sum(w for _, w in vs) for g, vs in per_g.items()}
    for frac_num, frac_den in ((1, 2), (1, 100), (99, 100), (1, 1)):
        targets = {g: max(1, tw * frac_num // frac_den) for g, tw in totals.items()}
        got = weighted_value_at(df, "g", "v", "w", targets)
        for g, vs in per_g.items():
            acc, want = 0, None
            for v, w in sorted(vs):
                if acc + w >= targets[g]:
                    want = (v, acc)
                    break
                acc += w
            assert got[g][0] == want[0], (g, frac_num, frac_den)
            # `below` = weight strictly below the crossing value: the
            # brute-force acc stops at the first row OF that value, so
            # sum all duplicates' predecessors explicitly
            below = sum(w for v, w in vs if v < want[0])
            assert got[g][1] == below, (g, frac_num, frac_den)


def test_q96_pack_first_fit_matches_bruteforce(spark):
    """First-fit packing sweep vs a brute-force per-group packer on
    random file lists (varying group sizes incl. oversize files), plus
    the degenerate target=1 case where every file must sit alone."""
    import datetime
    import random

    from dbsink_spark.analytics.advanced import pack_first_fit

    rng = random.Random(7)
    for target in (1, 60, 10_000):
        rows = []
        for mi in range(6):
            month = datetime.date(2020, mi + 1, 1)
            for di in range(rng.randint(1, 28)):
                rows.append(
                    (month, datetime.date(2020, mi + 1, di + 1),
                     rng.randint(1, 90), target)
                )
        df = spark.createDataFrame(
            rows, "month date, day date, n_rows long, target long"
        )
        got = {
            (r["month"], r["day"]): r["bin_id"] for r in pack_first_fit(df).collect()
        }
        per = {}
        for m, d, n, t in rows:
            per.setdefault(m, []).append((d, n))
        for m, fs in per.items():
            bin_id, fill = 0, 0
            for d, n in sorted(fs):
                if bin_id == 0:
                    bin_id, fill = 1, n
                elif fill + n > target:
                    bin_id, fill = bin_id + 1, n
                else:
                    fill += n
                assert got[(m, d)] == bin_id, (target, m, d)


def test_q95_digest_drill_touches_only_divergent_buckets(spark):
    """The level-1 digest compare must (a) report NOTHING on identical
    sides and (b) confine the drill to exactly the three buckets that
    carry injected divergence, each showing its designed class."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics import advanced as A

    sf = "/root/testdata/sf0.001"
    source, _ = A._q95_sides(spark, sf)
    sd = A._q95_digests(source, "s")
    rd = A._q95_digests(source.alias("dup"), "r")
    clean = (
        sd.join(rd, "bucket", "full_outer")
        .filter(
            ~(
                F.col("s_n").eqNullSafe(F.col("r_n"))
                & F.col("s_x").eqNullSafe(F.col("r_x"))
            )
        )
        .count()
    )
    assert clean == 0

    out = A.q95_digest_diff(spark, sf).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], set()).add(r["diff_class"])
    assert set(by_bucket) == {A.Q95_CHANGED_B, A.Q95_MISSING_B, A.Q95_EXTRA_B}
    assert "changed" in by_bucket[A.Q95_CHANGED_B]
    assert "missing_in_replica" in by_bucket[A.Q95_MISSING_B]
    assert "extra_in_replica" in by_bucket[A.Q95_EXTRA_B]
    # the drill re-proves the surviving rows of a dirty bucket too
    assert all("match" in v for v in by_bucket.values())


def test_q97_zone_pruning_sound_and_layout_lesson(spark):
    """q97 (round-7): zone-map pruning must be SOUND — for every
    layout, rows_read must cover every row that actually satisfies the
    predicate (a zone test that skips a file containing a match is a
    wrong-results bug, not a perf bug; matches counted independently in
    DuckDB). And the layout lesson must hold: ingest skips nothing,
    the custkey sort skips only customer predicates, the Z-curve skips
    >85% of files on BOTH dims at once."""
    from dbsink_spark.analytics.advanced import Q97_EPOCH, q97_zone_map_skip

    out = {
        (r["layout"], r["pred"]): r for r in q97_zone_map_skip(spark, SF_DIR).collect()
    }
    assert len(out) == 9

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_DIR}/orders.parquet'"
    )
    matches = dict(
        con.execute(
            f"""
        WITH base AS (
            SELECT o_custkey AS c,
                   date_diff('day', DATE '{Q97_EPOCH}', o_orderdate::DATE)::BIGINT AS d
            FROM orders
        ), b AS (
            SELECT min(c) AS min_c, max(c) AS max_c,
                   min(d) AS min_d, max(d) AS max_d FROM base
        )
        SELECT 'p1_cust_point', count(*) FROM base, b
            WHERE c = (min_c + max_c) // 2
        UNION ALL
        SELECT 'p2_date_month', count(*) FROM base, b
            WHERE d BETWEEN min_d + (max_d - min_d + 1) * 2 // 5
                        AND min_d + (max_d - min_d + 1) * 2 // 5 + 29
        UNION ALL
        SELECT 'p3_cust_range_date', count(*) FROM base, b
            WHERE c BETWEEN min_c + (max_c - min_c + 1) // 4
                        AND min_c + (max_c - min_c + 1) // 2
              AND d BETWEEN min_d + (max_d - min_d + 1) * 2 // 5
                        AND min_d + (max_d - min_d + 1) * 2 // 5 + 29
        """
        ).fetchall()
    )
    total = con.execute("SELECT count(*) FROM orders").fetchone()[0]
    con.close()
    assert matches["p1_cust_point"] > 0 and matches["p2_date_month"] > 0

    for (layout, pred), r in out.items():
        # soundness: every actually-matching row lives in a read file
        assert r["rows_read"] >= matches[pred], (layout, pred)
        assert r["files_read"] <= r["files_total"] == 64

    # ingest order: random envelopes span everything, zero skipping
    for pred in matches:
        assert out[("ingest", pred)]["skip_bp"] == 0, pred
        assert out[("ingest", pred)]["rows_read"] == total
    # single-column sort: perfect on its own column (file ranges
    # partition custkey, so exactly one file can hold the point)...
    assert out[("sorted_cust", "p1_cust_point")]["files_read"] == 1
    # ...useless on the other dim, partial on the conjunction (the
    # custkey half of p3 prunes; the date half cannot)
    assert out[("sorted_cust", "p2_date_month")]["skip_bp"] == 0
    assert 0 < out[("sorted_cust", "p3_cust_range_date")]["skip_bp"] < 9000
    # z-order: multi-dim locality — >85% of files skipped on EVERY
    # predicate, including the date-only one a custkey sort can't touch
    for pred in matches:
        assert out[("zorder", pred)]["skip_bp"] > 8500, pred
    # and the conjunction beats the single-column sort's conjunction
    assert (
        out[("zorder", "p3_cust_range_date")]["skip_bp"]
        > out[("sorted_cust", "p3_cust_range_date")]["skip_bp"]
    )


def test_apriori_triples_match_bruteforce(spark):
    """apriori_triples on random synthetic baskets must equal the
    brute-force enumerate-all-triples path — including min_support
    boundary ties and items that are frequent in pairs but never
    complete a frequent triple."""
    import itertools
    import random

    from dbsink_spark.analytics.advanced import apriori_triples

    rng = random.Random(11)
    baskets = []
    for ok in range(120):
        # skewed item universe so some triples actually repeat
        k = rng.randint(2, 6)
        baskets.append((ok, sorted(rng.sample(range(30), k))))
    rows = [(ok, pk) for ok, items in baskets for pk in items]
    # inject duplicate rows: callers dedupe (ok, pk) before handing
    # items over (q98's dropDuplicates), mirrored here
    rows += rows[::7]
    df = (
        spark.createDataFrame(rows, "ok long, pk long")
        .repartition("ok")
        .dropDuplicates(["ok", "pk"])
    )

    for min_support in (2, 3):
        got = {
            (r["pa"], r["pb"], r["pc"]): (r["n_tri"], r["close_bp"])
            for r in apriori_triples(df, min_support).collect()
        }
        pair_n, tri_n = {}, {}
        for _, items in baskets:
            for p in itertools.combinations(items, 2):
                pair_n[p] = pair_n.get(p, 0) + 1
            for t in itertools.combinations(items, 3):
                tri_n[t] = tri_n.get(t, 0) + 1
        want = {}
        for (a, b, c), n in tri_n.items():
            if n >= min_support:
                weakest = min(pair_n[(a, b)], pair_n[(a, c)], pair_n[(b, c)])
                want[(a, b, c)] = (n, n * 10000 // weakest)
        assert got == want, min_support
        assert want, "vacuous corpus: no frequent triple to verify"


def test_q99_fd_audit_mixed_verdicts(spark):
    """The FD audit must be non-vacuous in BOTH directions on the
    harness data — key-implied FDs proven to hold, plausible-but-false
    FDs refuted with consistent violation accounting."""
    from dbsink_spark.analytics.advanced import q99_fd_audit

    out = {r["fd"]: r for r in q99_fd_audit(spark, SF_DIR).collect()}
    assert len(out) == 7
    for fd, r in out.items():
        assert r["n_keys"] > 0, fd
        assert (r["holds"] == 1) == (r["viol_keys"] == 0), fd
        assert r["excess_pairs"] >= r["viol_keys"], fd
    # determinant is a key (or a snowflake dimension): must hold
    for fd in (
        "custkey_to_name",
        "custkey_to_segment",
        "custkey_to_nationkey",
        "nationkey_to_nname",
        "nname_to_regionkey",
    ):
        assert out[fd]["holds"] == 1, fd
    # plausible but false: the profiler must refute from evidence
    for fd in ("nationkey_to_segment", "orderdate_to_priority"):
        assert out[fd]["holds"] == 0, fd
        assert out[fd]["excess_pairs"] > 0, fd


def test_s13_recall_curve_monotone_and_consistent(spark):
    """ANN recall audit invariants: deepening the probe can only add
    candidates (cand_rows strictly increases) and can only help recall
    (a probe-p candidate set is a superset of probe-(p-1), and top-k
    over a superset can only hit more of the exact set... which holds
    for hit COUNTS because the exact top-k is fixed); recall and scan
    fractions stay in [0, 10000]; probe 1 must already find something
    (the nearest cell carries the densest neighbors)."""
    from dbsink_spark.analytics.similarity import (
        S13_PROBE_LEVELS,
        s13_ann_recall,
    )

    rows = s13_ann_recall(spark, SF_DIR).collect()
    assert [r["n_probe"] for r in rows] == sorted(S13_PROBE_LEVELS)
    for r in rows:
        assert 0 <= r["recall_bp"] <= 10000
        assert 0 < r["scan_bp"] <= 10000
    for prev, cur in zip(rows, rows[1:]):
        assert cur["cand_rows"] > prev["cand_rows"]
        assert cur["recall_bp"] >= prev["recall_bp"]
        assert cur["scan_bp"] > prev["scan_bp"]
    assert rows[0]["recall_bp"] > 0
    assert rows[-1]["recall_bp"] > rows[0]["recall_bp"] or rows[0][
        "recall_bp"
    ] == 10000


def test_q100_quota_binds_and_plans_group_limit(spark):
    """Quota sampling must (a) actually bite (some stratum is over
    quota upstream), (b) never emit more than K per stratum, and
    (c) compile to a WindowGroupLimit plan — the map-side top-K
    pre-prune IS the scale claim, so losing it (e.g. by filtering on
    a non-literal rank) is a regression even while results stay
    correct."""
    import collections

    from dbsink_spark.analytics.advanced import Q100_QUOTA, q100_quota_sample
    from dbsink_spark.analytics.tables import Tables

    df = q100_quota_sample(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan

    rows = df.collect()
    per = collections.Counter((r["lang"], r["source"]) for r in rows)
    assert all(c <= Q100_QUOTA for c in per.values())
    full = collections.Counter(
        (r["lang"], r["source"])
        for r in Tables(spark, SF_DIR).documents.select("lang", "source").collect()
    )
    assert any(c > Q100_QUOTA for c in full.values()), "quota never binds"
    # capped strata emit exactly K; small strata pass through whole
    for k, c in per.items():
        assert c == min(Q100_QUOTA, full[k]), k


def test_q101_salted_join_equals_plain_and_spreads_keys(spark):
    """The salted join must be row-identical to the plain unsalted
    join (salting re-partitions pair formation, never membership),
    the compiled plan must keep the shuffle join with the salt in the
    join keys (broadcast would make the demo vacuous), and a single
    customer's orders must actually spread across multiple salt
    values — the straggler-splitting the op exists for."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import Q101_SALTS, q101_salted_join
    from dbsink_spark.analytics.tables import Tables
    from dbsink_spark.functions.hashing import h64

    df = q101_salted_join(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan
    assert "salt" in plan.split("SortMergeJoin")[1][:200], plan

    t = Tables(spark, SF_DIR)
    plain = (
        t.orders.join(
            t.customer, t.orders["o_custkey"] == t.customer["c_custkey"]
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("revenue_cents"),
        )
        .orderBy("c_mktsegment")
        .collect()
    )
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in plain]

    # the busiest customer's orders land on several distinct salts
    spread = (
        t.orders.select(
            "o_custkey", (h64(F.col("o_orderkey")) % Q101_SALTS).alias("salt")
        )
        .groupBy("o_custkey")
        .agg(
            F.countDistinct("salt").alias("n_salts"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(F.desc("n"))
        .first()
    )
    assert spread["n_salts"] > Q101_SALTS // 2, spread


def _spatial_pts(spark, table, key):
    """Brute-force twin of spatial._points using the Python md5 hash."""
    from dbsink_spark.analytics.spatial import WORLD, _h
    from dbsink_spark.analytics.tables import Tables

    rows = getattr(Tables(spark, SF_DIR), table).select(key).collect()
    return {
        r[key]: (_h(f"{r[key]}x") % WORLD, _h(f"{r[key]}y") % WORLD) for r in rows
    }


def test_q102_matches_gridless_bruteforce(spark):
    """Point-in-polygon counts must equal a gridless brute force over
    every (point, zone) pair — proving the cell blocking is lossless
    (bbox cover ⊇ containment) and the cross-product test correct,
    including boundary conventions."""
    import math

    from dbsink_spark.analytics.spatial import ZONES, q102_point_in_polygon
    from dbsink_spark.analytics.tables import Tables

    pts = _spatial_pts(spark, "customer", "c_custkey")
    cents = {
        r["c_custkey"]: math.floor(r["c_acctbal"] * 100 + 0.5)
        for r in Tables(spark, SF_DIR).customer.select(
            "c_custkey", "c_acctbal"
        ).collect()
    }

    def inside(px, py, verts):
        for (x1, y1), (x2, y2) in zip(verts, verts[1:] + verts[:1]):
            if (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1) < 0:
                return False
        return True

    want = {z: [0, 0] for z, _ in ZONES}
    for pid, (px, py) in pts.items():
        for z, verts in ZONES:
            if inside(px, py, verts):
                want[z][0] += 1
                want[z][1] += cents[pid]
    got = {
        r["zone_id"]: [r["n_customers"], r["acctbal_cents"]]
        for r in q102_point_in_polygon(spark, SF_DIR).collect()
    }
    assert got == want
    assert sum(v[0] for v in want.values()) > 0, "no zone ever hit: vacuous"


def test_q103_matches_gridless_bruteforce(spark):
    """Radius join per-nation counts must equal the gridless all-pairs
    brute force — with RADIUS <= CELL the 3x3 neighbourhood is a
    complete candidate set, and this test is the proof by example
    (any missed pair would show as an undercount)."""
    from dbsink_spark.analytics.spatial import RADIUS, q103_radius_join
    from dbsink_spark.analytics.tables import Tables

    cust = _spatial_pts(spark, "customer", "c_custkey")
    supp = _spatial_pts(spark, "supplier", "s_suppkey")
    s_nation = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in Tables(spark, SF_DIR).supplier.select(
            "s_suppkey", "s_nationkey"
        ).collect()
    }
    nation_name = {
        r["n_nationkey"]: r["n_name"]
        for r in Tables(spark, SF_DIR).nation.collect()
    }
    want = {}
    for sid, (sx, sy) in supp.items():
        for cid, (cx, cy) in cust.items():
            if (cx - sx) ** 2 + (cy - sy) ** 2 <= RADIUS * RADIUS:
                e = want.setdefault(nation_name[s_nation[sid]], [0, set(), set()])
                e[0] += 1
                e[1].add(sid)
                e[2].add(cid)
    got = {
        r["n_name"]: [r["n_pairs"], r["n_suppliers"], r["n_customers"]]
        for r in q103_radius_join(spark, SF_DIR).collect()
    }
    assert got == {k: [v[0], len(v[1]), len(v[2])] for k, v in want.items()}
    assert sum(v[0] for v in want.values()) > 0, "no pair in radius: vacuous"


def test_q104_matches_bruteforce_and_resolves_each_customer_once(spark):
    """The expanding-ring NN join must equal the gridless all-pairs
    argmin (ties by supplier key) AND resolve every customer exactly
    once — a double-resolution across rounds (broken anti-join) would
    inflate n_customers; a ring-invariant bug would flip a nearest
    assignment near a cell boundary."""
    from dbsink_spark.analytics.spatial import q104_nn_join
    from dbsink_spark.analytics.tables import Tables

    cust = _spatial_pts(spark, "customer", "c_custkey")
    supp = _spatial_pts(spark, "supplier", "s_suppkey")
    s_nation = {
        r["s_suppkey"]: r["s_nationkey"]
        for r in Tables(spark, SF_DIR).supplier.select(
            "s_suppkey", "s_nationkey"
        ).collect()
    }
    nation_name = {
        r["n_nationkey"]: r["n_name"]
        for r in Tables(spark, SF_DIR).nation.collect()
    }
    want = {}
    for cid, (cx, cy) in cust.items():
        d2, sid = min(
            ((sx - cx) ** 2 + (sy - cy) ** 2, s) for s, (sx, sy) in supp.items()
        )
        e = want.setdefault(
            nation_name[s_nation[sid]], [0, 0, float("inf"), -1]
        )
        e[0] += 1
        e[1] += d2
        e[2] = min(e[2], d2)
        e[3] = max(e[3], d2)
    got = {
        r["n_name"]: [r["n_customers"], r["sum_d2"], r["min_d2"], r["max_d2"]]
        for r in q104_nn_join(spark, SF_DIR).collect()
    }
    assert got == want
    assert sum(v[0] for v in want.values()) == len(cust), "resolution not 1:1"


def test_s14_rrf_internally_consistent_and_plan_pruned(spark):
    """The emitted rrf_micro must recompute EXACTLY from the emitted
    arm ranks (catches any drift between the fused score and the rank
    columns), every fused row must come from at least one arm, ranks
    stay within ARM_DEPTH, and rrf is non-increasing down each query's
    fused list. Plan check: the literal rank <= R filters must compile
    to WindowGroupLimit so arm candidate generation pre-prunes map-side."""
    import math

    from dbsink_spark.analytics.similarity import (
        ARM_DEPTH,
        FUSED_TOP,
        RRF_K,
        s14_rrf_fusion,
    )

    df = s14_rrf_fusion(spark, SF_DIR)
    rows = df.collect()
    assert rows, "empty fusion output"
    by_q = {}
    for r in rows:
        assert (r["lex_rank"] > 0) or (r["vec_rank"] > 0), r
        assert 0 <= r["lex_rank"] <= ARM_DEPTH
        assert 0 <= r["vec_rank"] <= ARM_DEPTH
        assert 1 <= r["fused_rank"] <= FUSED_TOP
        want = math.floor(
            (
                (1.0 / (RRF_K + r["lex_rank"]) if r["lex_rank"] else 0.0)
                + (1.0 / (RRF_K + r["vec_rank"]) if r["vec_rank"] else 0.0)
            )
            * 1_000_000
            + 0.5
        )
        assert r["rrf_micro"] == want, r
        by_q.setdefault(r["query_id"], []).append(r)
    for q, lst in by_q.items():
        lst.sort(key=lambda r: r["fused_rank"])
        micros = [r["rrf_micro"] for r in lst]
        assert micros == sorted(micros, reverse=True), (q, micros)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, "arm top-R not pre-pruned"


def test_q106_ivm_equals_full_recompute_and_paths_disjoint(spark):
    """The maintained aggregate must equal a direct Spark recompute of
    (base - deletes + inserts) group-for-group, and the two maintenance
    paths must partition the group space: no customer appears in both
    the combine path (recomputed=0) and the group-local recompute path
    (recomputed=1)."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import (
        Q106_CUTOFF,
        Q106_DELETE_MOD,
        q106_ivm_maintain,
    )
    from dbsink_spark.analytics.tables import Tables
    from dbsink_spark.functions.hashing import h64

    got = q106_ivm_maintain(spark, SF_DIR).collect()
    seen = {}
    for r in got:
        assert r["o_custkey"] not in seen, "customer in both paths"
        seen[r["o_custkey"]] = r

    o = Tables(spark, SF_DIR).orders.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    dead = (F.col("o_orderdate") < Q106_CUTOFF) & (
        h64(F.col("o_orderkey")) % Q106_DELETE_MOD == 0
    )
    want = {
        r["o_custkey"]: r
        for r in o.filter(~dead)
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("revenue_cents"),
            F.max("cents").alias("max_cents"),
        )
        .collect()
    }
    assert set(seen) == set(want)
    for k, w in want.items():
        g = seen[k]
        assert (g["n_orders"], g["revenue_cents"], g["max_cents"]) == (
            w["n_orders"],
            w["revenue_cents"],
            w["max_cents"],
        ), k
    assert any(r["recomputed"] == 1 for r in got), "delete path vacuous"
    assert any(r["recomputed"] == 0 for r in got), "combine path vacuous"


def test_s15_adc_equals_distance_to_reconstruction(spark):
    """ADC's defining identity: the table-lookup score of (query,
    corpus vector) equals the exact squared distance between the query
    and the vector's PQ RECONSTRUCTION (its codes decoded back to
    sub-centroids) — up to float regrouping. Verifies the (m, code)
    addressing end-to-end: any off-by-one in subvector slicing or a
    wrong code join would blow the identity apart, not perturb it."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.similarity import (
        N_QUERIES,
        PQ_DSUB,
        PQ_M,
        _pq_codes,
        _pq_sub_cent,
        _vectors,
        s15_pq_adc,
    )

    v = _vectors(spark, SF_DIR)
    sub, cent = _pq_sub_cent(v)
    cents = {
        (r["cent_label"], r["m"]): r["cv"] for r in cent.collect()
    }
    codes = {
        (r["vec_id"], r["m"]): r["code"]
        for r in _pq_codes(sub.filter(F.col("vec_id") >= N_QUERIES), cent).collect()
    }
    vecs = {r["vec_id"]: r["v"] for r in v.collect()}
    out = s15_pq_adc(spark, SF_DIR).collect()
    assert out, "empty ADC output"
    for r in out[:20]:
        q = vecs[r["query_id"]]
        recon = []
        for m in range(PQ_M):
            recon.extend(cents[(codes[(r["corpus_id"], m)], m)])
        x = vecs[r["corpus_id"]]
        assert len(recon) == len(q) == PQ_M * PQ_DSUB
        exact = sum((a - b) * (a - b) for a, b in zip(q, recon))
        assert abs(exact - r["adc_e4"] / 10000.0) < 5e-4, r


def test_q107_split_minimizes_sse_bruteforce(spark):
    """The reported changepoint must be the TRUE argmin of
    SSE(left)+SSE(right) computed directly (no prefix-sum algebra) over
    every possible split of each segment's series — proving the
    explained-sum reformulation and the argmax tie-break correct."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import q107_changepoint
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    monthly = (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("rev")
        )
        .collect()
    )
    series = {}
    for r in monthly:
        series.setdefault(r["seg"], []).append((r["month"], r["rev"]))
    got = {r["seg"]: r for r in q107_changepoint(spark, SF_DIR).collect()}
    assert set(got) == set(series)
    for seg, pts in series.items():
        pts.sort()
        vals = [v for _, v in pts]

        def sse(xs):
            mu = sum(xs) / len(xs)
            return sum((x - mu) ** 2 for x in xs)

        best = min(
            range(1, len(vals)),
            key=lambda k: (sse(vals[:k]) + sse(vals[k:]), pts[k - 1][0]),
        )
        assert got[seg]["cp_month"] == pts[best - 1][0], seg
        assert got[seg]["n_months"] == len(vals)
        n, stot = len(vals), sum(vals)
        tss_term = (stot / 1.0) * stot / n  # S^2/n in float
        s1 = sum(vals[:best])
        gain = (
            s1 * 1.0 * s1 / best
            + (stot - s1) * 1.0 * (stot - s1) / (n - best)
            - stot * 1.0 * stot / n
        )
        want_ppm = gain * 1000000.0 / tss_term
        assert abs(got[seg]["gain_rel_ppm"] - want_ppm) <= 1.0
        assert 0 <= got[seg]["gain_rel_ppm"] <= 1_000_000 * n
        assert got[seg]["left_mean_cents"] == sum(vals[:best]) // best
        assert got[seg]["right_mean_cents"] == sum(vals[best:]) // (
            len(vals) - best
        )


def test_q108_acf_matches_reference_pearson(spark):
    """acf_micro must equal the plain Pearson correlation of
    (x_t, x_{t-lag}) computed directly from the collected series —
    proving the lag stacking, pair alignment, and ordered-fold sums
    against an independent driver-side computation."""
    import math

    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import Q108_MAX_LAG, q108_acf
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    monthly = (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_mktsegment").alias("seg"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("rev")
        )
        .collect()
    )
    series = {}
    for r in monthly:
        series.setdefault(r["seg"], []).append((r["month"], r["rev"]))
    got = {(r["seg"], r["lag"]): r for r in q108_acf(spark, SF_DIR).collect()}
    for seg, pts in series.items():
        pts.sort()
        vals = [float(v) for _, v in pts]
        for lag in range(1, Q108_MAX_LAG + 1):
            pairs = [(vals[i], vals[i - lag]) for i in range(lag, len(vals))]
            if len(pairs) < 2:
                continue
            n = len(pairs)
            sx = sum(p[0] for p in pairs)
            sy = sum(p[1] for p in pairs)
            sxy = sum(p[0] * p[1] for p in pairs)
            sxx = sum(p[0] * p[0] for p in pairs)
            syy = sum(p[1] * p[1] for p in pairs)
            den = math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
            if den <= 0:
                assert (seg, lag) not in got
                continue
            ref = (n * sxy - sx * sy) / den
            row = got[(seg, lag)]
            assert row["n_pairs"] == n
            # driver-side sum() order differs from the month-ordered
            # fold; allow 1 micro of accumulated-rounding slack
            assert abs(row["acf_micro"] - math.floor(ref * 1e6 + 0.5)) <= 1, (
                seg,
                lag,
            )
            assert -1_000_000 <= row["acf_micro"] <= 1_000_000


def test_q109_benford_exact_counts_and_invariants(spark):
    """Digit counts must equal a direct driver-side count of leading
    digits; the spine is exactly 1..9; Benford constants sum to 1e6."""
    from collections import Counter

    from dbsink_spark.analytics.advanced import Q109_BENFORD_PPM, q109_benford
    from dbsink_spark.analytics.tables import Tables

    assert sum(Q109_BENFORD_PPM.values()) == 1_000_000
    t = Tables(spark, SF_DIR)
    prices = [r[0] for r in t.orders.select("o_totalprice").collect()]
    ref = Counter(int(str(int(p * 100 + 0.5))[0]) for p in prices)
    rows = q109_benford(spark, SF_DIR).collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    n = sum(r["obs"] for r in rows)
    assert n == len(prices)
    for r in rows:
        assert r["obs"] == ref.get(r["digit"], 0)
        assert r["obs_ppm"] == r["obs"] * 1_000_000 // n
        assert r["dev_ppm"] == r["obs_ppm"] - r["benford_ppm"]
    assert sum(r["benford_ppm"] for r in rows) == 1_000_000


def test_q110_interval_union_matches_bruteforce_merge(spark):
    """Per-supplier coverage must equal a direct Python interval-merge
    of the same [orderdate, shipdate] spans."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import q110_interval_union
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    spans = (
        t.lineitem.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(
            t.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_suppkey", "o_orderdate", "l_shipdate")
        .collect()
    )
    by_supp = {}
    for r in spans:
        by_supp.setdefault(r["l_suppkey"], []).append(
            (r["o_orderdate"].toordinal(), r["l_shipdate"].toordinal())
        )
    got = {r["l_suppkey"]: r for r in q110_interval_union(spark, SF_DIR).collect()}
    assert set(got) == set(by_supp)
    for supp, ivs in by_supp.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        row = got[supp]
        assert row["n_islands"] == len(merged), supp
        assert row["covered_days"] == sum(e - s + 1 for s, e in merged), supp
        assert row["span_days"] == sum(e - s + 1 for s, e in ivs), supp
        assert row["overlap_days"] == row["span_days"] - row["covered_days"]
        assert row["overlap_days"] >= 0


def test_q111_assoc_rules_scores_match_bruteforce(spark):
    """Every emitted rule's counts and integer scores must match a
    direct basket recount; every rule meets min support; ranking is
    the declared (conf desc, support desc, ante, cons) order."""
    from collections import Counter
    from itertools import combinations

    from dbsink_spark.analytics.advanced import (
        Q111_MIN_SUPPORT,
        q111_assoc_rules,
    )
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    items = (
        t.lineitem.select("l_orderkey", "l_partkey").distinct().collect()
    )
    baskets = {}
    for r in items:
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    n_orders = len(baskets)
    supp = Counter(p for b in baskets.values() for p in b)
    pair = Counter()
    for b in baskets.values():
        for x, y in combinations(sorted(b), 2):
            pair[(x, y)] += 1
    rows = q111_assoc_rules(spark, SF_DIR).collect()
    assert rows
    keys = [
        (-r["conf_ppm"], -r["n_ab"], r["ante"], r["cons"]) for r in rows
    ]
    assert keys == sorted(keys)
    for r in rows:
        a, b = r["ante"], r["cons"]
        n_ab = pair[(min(a, b), max(a, b))]
        assert n_ab == r["n_ab"] >= Q111_MIN_SUPPORT
        assert r["conf_ppm"] == n_ab * 1_000_000 // supp[a]
        assert r["base_ppm"] == supp[b] * 1_000_000 // n_orders
        assert r["lift_bp"] == n_ab * n_orders * 10_000 // (supp[a] * supp[b])


def test_q112_decile_lift_bruteforce(spark):
    """Decile boundaries, assignment, and shares must match a direct
    driver-side sort of per-customer spend."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import q112_decile_lift
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    spend = [
        r["spend"]
        for r in t.orders.groupBy("o_custkey")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
            ).alias("spend")
        )
        .collect()
    ]
    n, rev = len(spend), sum(spend)
    ranked = sorted(spend)
    bounds = [ranked[(k * n + 9) // 10 - 1] for k in range(1, 10)]
    buckets = {}
    for s in spend:
        d = 1 + sum(s > b for b in bounds)
        buckets.setdefault(d, []).append(s)
    rows = q112_decile_lift(spark, SF_DIR).collect()
    assert {r["decile"] for r in rows} == set(buckets)
    cum = 0
    for r in sorted(rows, key=lambda r: r["decile"]):
        ref = buckets[r["decile"]]
        assert r["n_customers"] == len(ref)
        assert r["rev_cents"] == sum(ref)
        assert r["share_ppm"] == sum(ref) * 1_000_000 // rev
        cum += sum(ref)
        assert r["cum_share_ppm"] == cum * 1_000_000 // rev
    # concentration sanity: top decile holds more than an equal share
    top = max(rows, key=lambda r: r["decile"])
    assert top["share_ppm"] > 1_000_000 // 10


def test_q113_mix_shift_bridge_closes(spark):
    """The bridge identity Δrev = volume + rate + residual must close
    EXACTLY per segment, and effects must match a direct recount."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import Q113_Y1, Q113_Y2, q113_mix_shift
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    per = (
        t.orders.join(
            t.customer.select("c_custkey", "c_mktsegment"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.year("o_orderdate").isin(Q113_Y1, Q113_Y2))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.year("o_orderdate").alias("y"),
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
        )
        .collect()
    )
    agg = {}
    for r in per:
        q, rev = agg.setdefault((r["seg"], r["y"]), [0, 0])
        agg[(r["seg"], r["y"])] = [q + 1, rev + r["v"]]
    rows = q113_mix_shift(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        q1, rev1 = agg[(r["seg"], Q113_Y1)]
        q2, rev2 = agg[(r["seg"], Q113_Y2)]
        assert (r["q1"], r["rev1"], r["q2"], r["rev2"]) == (q1, rev1, q2, rev2)
        assert r["volume_effect"] == (q2 - q1) * (rev1 // q1)
        assert r["rate_effect"] == q2 * (rev2 // q2 - rev1 // q1)
        assert (
            r["rev2"] - r["rev1"]
            == r["volume_effect"] + r["rate_effect"] + r["residual_cents"]
        )
        # residual is floor-rounding granularity: bounded by q1 + q2
        assert abs(r["residual_cents"]) <= q1 + q2


def test_q114_bootstrap_ci_bruteforce(spark):
    """Replicate means and the CI order statistics must match a direct
    Python recomputation of the hash-Poisson weights; the interval
    must bracket the point estimate."""
    import hashlib

    from pyspark.sql import functions as F

    from dbsink_spark.analytics.advanced import (
        Q114_B,
        Q114_POISSON_CDF_PPM,
        q114_bootstrap_ci,
    )
    from dbsink_spark.analytics.tables import Tables

    t = Tables(spark, SF_DIR)
    vals = {
        r["o_orderkey"]: int(r["v"])
        for r in t.orders.select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("v"),
        ).collect()
    }
    from dbsink_spark.analytics.advanced import (
        Q114_AFF_A0,
        Q114_AFF_B0,
        Q114_AFF_DA,
        Q114_AFF_DB,
    )
    from dbsink_spark.functions.hashing import AFFINE_MOD, REDUCE_MOD

    hr = {
        key: int(hashlib.md5(str(key).encode()).hexdigest()[:15], 16) % REDUCE_MOD
        for key in vals
    }
    means = []
    for b in range(Q114_B):
        wv = ww = 0
        for key, v in vals.items():
            u = (
                hr[key] * (Q114_AFF_A0 + Q114_AFF_DA * b)
                + (Q114_AFF_B0 + Q114_AFF_DB * b)
            ) % AFFINE_MOD
            w = next(
                (
                    k
                    for k, thr in enumerate(Q114_POISSON_CDF_PPM)
                    if u < thr * 1000
                ),
                len(Q114_POISSON_CDF_PPM),
            )
            wv += w * v
            ww += w
        means.append(wv * 100 // ww)
    means.sort()
    row = q114_bootstrap_ci(spark, SF_DIR).collect()[0]
    assert row["n"] == len(vals)
    assert row["n_reps"] == Q114_B
    assert row["point_c100"] == sum(vals.values()) * 100 // len(vals)
    assert row["ci_lo_c100"] == means[(25 * Q114_B + 999) // 1000 - 1]
    assert row["ci_hi_c100"] == means[(975 * Q114_B + 999) // 1000 - 1]
    assert row["ci_lo_c100"] <= row["point_c100"] <= row["ci_hi_c100"]


def test_s16_sq_search_matches_bruteforce(spark):
    """Codes and integer distances must match a direct Python
    requantization of the collected embeddings; ranking must be the
    exact (d2, corpus_id) order."""
    import math

    from dbsink_spark.analytics.similarity import (
        N_QUERIES,
        TOPK,
        s16_sq_search,
    )
    from dbsink_spark.analytics.tables import Tables

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in Tables(spark, SF_DIR).embeddings.collect()
    }
    dim = len(next(iter(vecs.values())))
    mn = [min(v[i] for v in vecs.values()) for i in range(dim)]
    mx = [max(v[i] for v in vecs.values()) for i in range(dim)]

    def code(v):
        out = []
        for i in range(dim):
            if mx[i] == mn[i]:
                c = 0
            else:
                c = math.floor((v[i] - mn[i]) * 255 / (mx[i] - mn[i]))
            out.append(max(0, min(255, c)))
        return out

    codes = {k: code(v) for k, v in vecs.items()}
    rows = s16_sq_search(spark, SF_DIR).collect()
    assert rows
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, got in by_q.items():
        qc = codes[qid]
        scored = sorted(
            (
                (sum((a - b) * (a - b) for a, b in zip(qc, codes[cid])), cid)
                for cid in codes
                if cid >= N_QUERIES
            )
        )
        want = scored[:TOPK]
        got.sort(key=lambda r: r["rank"])
        assert [(r["d2"], r["corpus_id"]) for r in got] == want, qid


def test_d18_novelty_curve_bruteforce(spark):
    """Novelty attribution must equal a direct Python first-seen scan
    over per-source shingle sets; the cumulative curve must sum the
    novel counts and end at the corpus-wide distinct total."""
    from dbsink_spark.analytics.dedup import d18_novelty_curve
    from dbsink_spark.analytics.tables import Tables

    docs = Tables(spark, SF_DIR).documents.select("source", "text").collect()
    per_source = {}
    for r in docs:
        words = r["text"].split(" ")
        sh = {
            " ".join(words[i : i + 3]) for i in range(len(words) - 2)
        }
        per_source.setdefault(r["source"], set()).update(sh)
    seen: set = set()
    want = []
    for src in sorted(per_source):
        s = per_source[src]
        novel = len(s - seen)
        seen |= s
        want.append((src, len(s), novel))
    rows = sorted(d18_novelty_curve(spark, SF_DIR).collect(), key=lambda r: r["source"])
    assert [(r["source"], r["n_shingles"], r["n_novel"]) for r in rows] == want
    cum = 0
    for r, (_, n_sh, novel) in zip(rows, want):
        cum += novel
        assert r["cum_distinct"] == cum
        assert r["novelty_ppm"] == novel * 1_000_000 // n_sh
    assert cum == len(seen)


def test_d19_sorted_neighborhood_bruteforce(spark):
    """The rank-window candidate set (and verified pairs) must equal a
    direct Python SNM: sort by (key, doc_id), pair ranks within W-1,
    verify with exact shingle Jaccard — regardless of how the global
    rank was assembled across partitions."""
    from dbsink_spark.analytics.dedup import (
        JACCARD_THRESHOLD,
        SNM_KEY_LEN,
        SNM_WINDOW,
        d19_sorted_neighborhood,
    )
    from dbsink_spark.analytics.tables import Tables

    docs = Tables(spark, SF_DIR).documents.select("doc_id", "text").collect()
    order = sorted(
        (r["text"].lower()[:SNM_KEY_LEN], r["doc_id"]) for r in docs
    )
    shingles = {}
    for r in docs:
        words = r["text"].split(" ")
        if len(words) >= 3:
            shingles[r["doc_id"]] = {
                " ".join(words[i : i + 3]) for i in range(len(words) - 2)
            }
    want = []
    for i, (_, a) in enumerate(order):
        for j in range(i + 1, min(i + SNM_WINDOW, len(order))):
            b = order[j][1]
            if a not in shingles or b not in shingles:
                continue
            sa, sb = shingles[a], shingles[b]
            jac = round(len(sa & sb) / len(sa | sb), 4)
            if jac >= JACCARD_THRESHOLD:
                want.append((a, b, jac))
    got = [
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in d19_sorted_neighborhood(spark, SF_DIR).collect()
    ]
    assert sorted(got) == sorted(want)
    assert got  # non-vacuous: the corpus has adjacent near-dups


def test_t30_quantile_norm_bruteforce(spark):
    """The histogram-CDF mapping must equal a direct Python quantile
    match over collected scores, and calibration must be monotone and
    idempotent at the extremes (a source's top score maps to the
    pooled top score actually attained at that percentile)."""
    from dbsink_spark.analytics.text import T30_BINS, t30_quantile_norm
    from dbsink_spark.analytics.tables import Tables

    docs = Tables(spark, SF_DIR).documents.select("source", "text").collect()

    def score_mil(text):
        words = text.split(" ")
        n = len(words)
        dr = len(set(words)) / n
        avg = sum(len(w) for w in words) / n
        s = 0.3 * min(n / 50.0, 1.0) + 0.4 * dr + 0.3 * min(avg / 8.0, 1.0)
        import math

        return max(0, min(T30_BINS, math.floor(s * T30_BINS)))

    per_source, pooled = {}, []
    for r in docs:
        s = score_mil(r["text"])
        per_source.setdefault(r["source"], []).append(s)
        pooled.append(s)
    n_total = len(pooled)
    from collections import Counter

    g_counts = sorted(Counter(pooled).items())
    g_cdf = []
    cum = 0
    for s, c in g_counts:
        cum += c
        g_cdf.append((s, cum * 1_000_000 // n_total))

    rows = t30_quantile_norm(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        scores = per_source[r["source"]]
        n_src = len(scores)
        cum_src = sum(1 for x in scores if x <= r["s"])
        p = cum_src * 1_000_000 // n_src
        assert r["cdf_ppm"] == p
        want = min(gs for gs, gp in g_cdf if gp >= p)
        assert r["s_mapped"] == want, (r, want)
    # monotone within each source
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["s"], r["s_mapped"]))
    for pairs in by_src.values():
        pairs.sort()
        mapped = [m for _, m in pairs]
        assert mapped == sorted(mapped)
        assert pairs[-1][1] == g_counts[-1][0]  # top percentile -> pooled max


def test_q115_theil_sen_bruteforce(spark):
    """Slope/intercept must equal a direct Python Theil-Sen over the
    collected monthly series: lower-median of pairwise slopes (ordered
    by ratio with (num, den) tiebreak), then lower-median intercept on
    the common denominator."""
    from dbsink_spark.analytics.advanced import q115_theil_sen
    from dbsink_spark.analytics.tables import Tables

    orders = Tables(spark, SF_DIR).orders.select("o_orderdate", "o_totalprice").collect()
    monthly = {}
    for r in orders:
        d = r["o_orderdate"]
        ti = d.year * 12 + d.month
        monthly[ti] = monthly.get(ti, 0) + int(round(r["o_totalprice"] * 100))
    pts = sorted(monthly.items())
    pairs = [
        (pts[j][1] - pts[i][1], pts[j][0] - pts[i][0])
        for i in range(len(pts))
        for j in range(i + 1, len(pts))
    ]
    pairs.sort(key=lambda p: (p[0] / p[1], p[0], p[1]))
    num, den = pairs[(len(pairs) + 1) // 2 - 1]
    bis = sorted(x * den - num * ti for ti, x in pts)
    bi = bis[(len(bis) + 1) // 2 - 1]

    row = q115_theil_sen(spark, SF_DIR).collect()[0]
    assert row["n_months"] == len(pts)
    assert row["n_pairs"] == len(pairs)
    assert (row["slope_num"], row["slope_den"]) == (num, den)
    assert row["icpt_num"] == bi
    assert row["slope_cents_per_month"] == round(num / den, 4)


def test_q116_kaplan_meier_bruteforce(spark):
    """The curve must equal a direct Python KM over collected orders:
    right-censored lifetimes, at-risk counts, left-fold product — and
    satisfy the KM invariants (survival non-increasing from 1.0;
    at-risk telescopes by n_at)."""
    from dbsink_spark.analytics.advanced import Q116_CHURN_GAP_M, q116_kaplan_meier
    from dbsink_spark.analytics.tables import Tables

    orders = Tables(spark, SF_DIR).orders.select("o_custkey", "o_orderdate").collect()
    by_cust = {}
    cut = 0
    for r in orders:
        mi = r["o_orderdate"].year * 12 + r["o_orderdate"].month
        cut = max(cut, mi)
        lo, hi = by_cust.get(r["o_custkey"], (mi, mi))
        by_cust[r["o_custkey"]] = (min(lo, mi), max(hi, mi))
    durs = []
    for first, last in by_cust.values():
        if last <= cut - Q116_CHURN_GAP_M:
            durs.append((last - first, 1))
        else:
            durs.append((cut - first, 0))
    grid = {}
    for dur, ev in durs:
        n, d = grid.get(dur, (0, 0))
        grid[dur] = (n + 1, d + ev)
    total = len(durs)
    rows = q116_kaplan_meier(spark, SF_DIR).collect()
    assert len(rows) == len(grid)
    cum_before, s = 0, 1.0
    prev_s = 1.0
    for r in rows:
        n_at, d = grid[r["dur"]]
        n_risk = total - cum_before
        s = s * (1 - d / n_risk)
        assert r["n_risk"] == n_risk
        assert r["d"] == d
        assert r["n_censored"] == n_at - d
        assert r["survival"] == s
        assert r["survival"] <= prev_s + 1e-15
        prev_s = r["survival"]
        cum_before += n_at
    assert rows[0]["survival"] <= 1.0


def test_q117_interp_join_bruteforce(spark):
    """Interpolated values must equal a direct Python bracketing scan
    per user (equal-ts readings bracket on both sides; unbracketed
    queries yield NULL)."""
    import bisect

    from dbsink_spark.analytics.advanced import q117_interp_join
    from dbsink_spark.analytics.tables import Tables

    ev = (
        Tables(spark, SF_DIR)
        .events.select("event_id", "user_id", "ts", "event_type", "value")
        .collect()
    )
    readings, queries = {}, []
    for r in ev:
        t = int(r["ts"].timestamp() * 1_000_000)
        if r["event_type"] == "view":
            readings.setdefault(r["user_id"], []).append((t, r["value"]))
        elif r["event_type"] == "purchase":
            queries.append((r["event_id"], r["user_id"], t))
    for v in readings.values():
        v.sort()
    want = {}
    for eid, uid, t in queries:
        rs = readings.get(uid, [])
        ts_list = [x[0] for x in rs]
        i = bisect.bisect_right(ts_list, t)
        prev = rs[i - 1] if i > 0 else None
        j = bisect.bisect_left(ts_list, t)
        nxt = rs[j] if j < len(rs) else None
        if prev is None or nxt is None:
            want[eid] = None
        elif prev[0] == nxt[0]:
            want[eid] = prev[1]
        else:
            want[eid] = prev[1] + (nxt[1] - prev[1]) * (
                (t - prev[0]) / (nxt[0] - prev[0])
            )
    rows = q117_interp_join(spark, SF_DIR).collect()
    assert len(rows) == len(queries)
    n_interp = 0
    for r in rows:
        assert r["v_interp"] == want[r["event_id"]], r
        if r["v_interp"] is not None:
            n_interp += 1
    assert n_interp > 0


def test_q118_mutual_info_bruteforce(spark):
    """MI/entropy values must equal a direct Python contingency
    computation with the same left-fold order, and satisfy the
    information inequalities 0 <= MI <= min(H_a, H_b)."""
    from dbsink_spark.analytics.advanced import Q118_PAIRS, q118_mutual_info
    from dbsink_spark.analytics.tables import Tables

    import math

    t = Tables(spark, SF_DIR)
    rows = {r["pair"]: r for r in q118_mutual_info(spark, SF_DIR).collect()}
    assert len(rows) == len(Q118_PAIRS)
    for table, a, b in Q118_PAIRS:
        data = [(x[a], x[b]) for x in getattr(t, table).select(a, b).collect()]
        n = len(data)
        from collections import Counter

        joint = Counter(data)
        ma = Counter(x for x, _ in data)
        mb = Counter(y for _, y in data)
        mi = 0.0
        for k in sorted(joint):
            nij = joint[k]
            mi += (nij / n) * math.log((nij * n) / (ma[k[0]] * mb[k[1]]))
        ha = 0.0
        for k in sorted(ma):
            ha += -(ma[k] / n) * math.log(ma[k] / n)
        hb = 0.0
        for k in sorted(mb):
            hb += -(mb[k] / n) * math.log(mb[k] / n)
        r = rows[f"{a}|{b}"]
        assert r["n_cells"] == len(joint)
        # JVM Math.log and CPython libm log may differ in the last ulp,
        # so the brute-force check is tolerance-based; the CROSS-ENGINE
        # gate (Spark vs DuckDB) stays exact-hash
        assert math.isclose(r["mi_nats"], mi, rel_tol=1e-12)
        assert math.isclose(r["h_a_nats"], ha, rel_tol=1e-12)
        assert math.isclose(r["h_b_nats"], hb, rel_tol=1e-12)
        assert -1e-12 <= r["mi_nats"] <= min(ha, hb) + 1e-12


def test_t31_kl_drift_bruteforce(spark):
    """KL values must match a direct Python computation (ln tolerance
    for the 1-ulp JVM/libm gap) and be non-negative; totals must
    partition the corpus token count."""
    import math
    from collections import Counter

    from dbsink_spark.analytics.text import t31_kl_drift
    from dbsink_spark.analytics.tables import Tables

    docs = Tables(spark, SF_DIR).documents.select("source", "text").collect()
    src_w, corp_w = {}, Counter()
    for r in docs:
        c = src_w.setdefault(r["source"], Counter())
        for w in r["text"].split(" "):
            c[w] += 1
            corp_w[w] += 1
    n = sum(corp_w.values())
    rows = t31_kl_drift(spark, SF_DIR).collect()
    assert {r["source"] for r in rows} == set(src_w)
    assert sum(r["n_tokens"] for r in rows) == n
    for r in rows:
        c = src_w[r["source"]]
        ns = sum(c.values())
        assert r["n_tokens"] == ns
        assert r["vocab_s"] == len(c)
        kl = 0.0
        for w in sorted(c):
            kl += (c[w] / ns) * math.log((c[w] * n) / (ns * corp_w[w]))
        assert math.isclose(r["kl_nats"], kl, rel_tol=1e-10)
        assert r["kl_nats"] >= -1e-12


def test_s17_rocchio_prf_bruteforce(spark):
    """Re-ranked lists must equal a direct Python Rocchio pass with
    the same fold order (index-order sums are bit-identical), and the
    feedback must actually change at least one query's ranking."""
    from dbsink_spark.analytics.similarity import (
        N_QUERIES,
        S17_BETA,
        S17_PRF_K,
        TOPK,
        s17_rocchio_prf,
    )
    from dbsink_spark.analytics.tables import Tables

    import math

    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in Tables(spark, SF_DIR).embeddings.collect()
    }

    def norm(v):
        acc = 0.0
        for x in v:
            acc += x * x
        return math.sqrt(acc)

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    queries = {k: v for k, v in vecs.items() if k < N_QUERIES}
    corpus = {k: v for k, v in vecs.items() if k >= N_QUERIES}
    cn = {k: norm(v) for k, v in corpus.items()}
    want, changed = {}, False
    for qid, qv in queries.items():
        qn = norm(qv)
        p1 = sorted(
            ((-(dot(qv, cv) / (qn * cn[cid])), cid) for cid, cv in corpus.items())
        )
        base_ids = [cid for _, cid in p1[:TOPK]]
        top = [cid for _, cid in p1[:S17_PRF_K]]
        cent = [
            sum(corpus[cid][i] for cid in top) / S17_PRF_K
            for i in range(len(qv))
        ]
        q2 = [a + S17_BETA * b for a, b in zip(qv, cent)]
        q2n = norm(q2)
        p2 = sorted(
            ((-(dot(q2, cv) / (q2n * cn[cid])), cid) for cid, cv in corpus.items())
        )
        want[qid] = [(cid, round(-s, 4)) for s, cid in p2[:TOPK]]
        if [cid for _, cid in p2[:TOPK]] != base_ids:
            changed = True
    rows = s17_rocchio_prf(spark, SF_DIR).collect()
    got = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append((r["rank"], r["corpus_id"], r["cosine"]))
    for qid, lst in got.items():
        lst.sort()
        assert [(c, cs) for _, c, cs in lst] == want[qid], qid
    assert changed  # PRF is non-vacuous on this corpus


def test_q119_kcore_bruteforce(spark):
    """Core membership counts must equal a direct Python peel, the
    peel must converge well inside the oracle's unroll depth, and
    every core node must have induced degree >= K (the defining
    invariant)."""
    from dbsink_spark.analytics.advanced import (
        Q119_K,
        Q119_MAX_ROUNDS,
        Q119_MIN_ORDERS,
        q119_kcore,
    )
    from dbsink_spark.analytics.graph import kcore_members
    from dbsink_spark.analytics.tables import Tables

    from collections import defaultdict

    t = Tables(spark, SF_DIR)
    li = t.lineitem.select("l_orderkey", "l_suppkey").collect()
    om = {r["o_orderkey"]: r["o_custkey"] for r in t.orders.collect()}
    pair_orders = defaultdict(set)
    for r in li:
        pair_orders[(om[r["l_orderkey"]] * 2, r["l_suppkey"] * 2 + 1)].add(
            r["l_orderkey"]
        )
    adj = defaultdict(set)
    for (c, s), os_ in pair_orders.items():
        if len(os_) >= Q119_MIN_ORDERS:
            adj[c].add(s)
            adj[s].add(c)
    alive = {n: set(v) for n, v in adj.items()}
    rounds = 0
    while True:
        doomed = [n for n, nb in alive.items() if len(nb) < Q119_K]
        if not doomed:
            break
        rounds += 1
        for n in doomed:
            for m in alive[n]:
                alive[m].discard(n)
            del alive[n]
    assert rounds <= Q119_MAX_ROUNDS // 2  # generous oracle headroom
    rows = {r["node_type"]: r for r in q119_kcore(spark, SF_DIR).collect()}
    for typ, par in (("customer", 0), ("supplier", 1)):
        want_all = sum(1 for n in adj if n % 2 == par)
        want_core = sum(1 for n in alive if n % 2 == par)
        want_ends = sum(len(v) for n, v in alive.items() if n % 2 == par)
        assert rows[typ]["n_nodes"] == want_all
        assert rows[typ]["n_core"] == want_core
        assert rows[typ]["n_core_edge_ends"] == want_ends
    for n, nb in alive.items():
        assert len(nb) >= Q119_K


def test_q120_mann_whitney_bruteforce(spark):
    """AUC and z must match a direct rank-based U computation over the
    collected rows (midranks for ties), and AUC must satisfy the
    U_A + U_B = n_a*n_b identity."""
    from dbsink_spark.analytics.stats import q120_mann_whitney
    from dbsink_spark.analytics.tables import Tables

    rows = (
        Tables(spark, SF_DIR)
        .lineitem.select("l_returnflag", "l_quantity")
        .collect()
    )
    a = [int(r["l_quantity"]) for r in rows if r["l_returnflag"] == "A"]
    b = [int(r["l_quantity"]) for r in rows if r["l_returnflag"] == "R"]
    na, nb = len(a), len(b)
    from collections import Counter

    ca, cb = Counter(a), Counter(b)
    u = 0.0
    cumb = 0
    for v in sorted(set(ca) | set(cb)):
        u += ca.get(v, 0) * (cumb + cb.get(v, 0) / 2.0)
        cumb += cb.get(v, 0)
    n = na + nb
    t3 = sum(
        (ca.get(v, 0) + cb.get(v, 0)) ** 3 - (ca.get(v, 0) + cb.get(v, 0))
        for v in set(ca) | set(cb)
    )
    mu = na * nb / 2.0
    var = na * nb / 12.0 * ((n + 1.0) - t3 / (n * (n - 1.0)))
    import math

    row = q120_mann_whitney(spark, SF_DIR).collect()[0]
    assert row["n_a"] == na and row["n_b"] == nb
    assert abs(row["auc_ppm"] - u * 1e6 / (na * nb)) <= 1.0
    assert abs(row["z_milli"] - (u - mu) / math.sqrt(var) * 1000) <= 1.0
    # symmetry identity: U_A + U_B == n_a * n_b (AUC_A + AUC_B == 1)
    ub = 0.0
    cuma = 0
    for v in sorted(set(ca) | set(cb)):
        ub += cb.get(v, 0) * (cuma + ca.get(v, 0) / 2.0)
        cuma += ca.get(v, 0)
    assert abs((u + ub) - na * nb) < 1e-6


def test_q121_kendall_tau_bruteforce(spark):
    """tau-b must match a direct contingency computation and scipy-free
    invariants: C+D <= total pairs, |tau| <= 1, and the
    grid-dominance C equals a quadratic per-pair count on a sample."""
    from dbsink_spark.analytics.stats import q121_kendall_tau
    from dbsink_spark.analytics.tables import Tables

    import math
    from collections import Counter

    rows = (
        Tables(spark, SF_DIR)
        .lineitem.select("l_quantity", "l_discount")
        .collect()
    )
    pts = [
        (int(r["l_quantity"]), int(math.floor(r["l_discount"] * 100 + 0.5)))
        for r in rows
    ]
    cells = Counter(pts)
    keys = sorted(cells)
    c_sum = d_sum = 0.0
    for q1, d1 in keys:
        ngg = sum(n for (q2, d2), n in cells.items() if q2 > q1 and d2 > d1)
        ngl = sum(n for (q2, d2), n in cells.items() if q2 > q1 and d2 < d1)
        c_sum += cells[(q1, d1)] * float(ngg)
        d_sum += cells[(q1, d1)] * float(ngl)
    n = len(pts)
    t_all = n * (n - 1) / 2.0
    tx = sum(t * (t - 1) / 2.0 for t in Counter(q for q, _ in pts).values())
    ty = sum(t * (t - 1) / 2.0 for t in Counter(d for _, d in pts).values())
    tau = (c_sum - d_sum) / math.sqrt((t_all - tx) * (t_all - ty))

    row = q121_kendall_tau(spark, SF_DIR).collect()[0]
    assert row["n"] == n
    assert row["n_cells"] == len(cells)
    assert abs(row["concordant_ppm"] - c_sum * 1e6 / t_all) <= 1.0
    assert abs(row["discordant_ppm"] - d_sum * 1e6 / t_all) <= 1.0
    assert abs(row["tau_micro"] - tau * 1e6) <= 1.0
    assert abs(row["tau_micro"]) <= 1_000_000
    assert c_sum + d_sum <= t_all


def test_q122_ks_bruteforce(spark):
    """D must equal the max ppm-CDF gap computed directly, at the
    correct argmax value, and satisfy D >= |AUC-based lower bound| of
    zero and <= 1e6."""
    from dbsink_spark.analytics.stats import q122_ks_test
    from dbsink_spark.analytics.tables import Tables

    from collections import Counter

    rows = (
        Tables(spark, SF_DIR)
        .lineitem.select("l_returnflag", "l_quantity")
        .collect()
    )
    ca = Counter(int(r["l_quantity"]) for r in rows if r["l_returnflag"] == "A")
    cb = Counter(int(r["l_quantity"]) for r in rows if r["l_returnflag"] == "R")
    na, nb = sum(ca.values()), sum(cb.values())
    cuma = cumb = 0
    best = (-1, None)
    for v in sorted(set(ca) | set(cb)):
        cuma += ca.get(v, 0)
        cumb += cb.get(v, 0)
        d = abs(cuma * 1_000_000 // na - cumb * 1_000_000 // nb)
        if d > best[0]:
            best = (d, v)
    row = q122_ks_test(spark, SF_DIR).collect()[0]
    assert (row["n_a"], row["n_b"]) == (na, nb)
    assert row["d_ppm"] == best[0]
    assert row["at_v"] == best[1]
    assert 0 <= row["d_ppm"] <= 1_000_000


def test_q122_domain_guard_fails_loudly(spark, tmp_path):
    """ADVICE_r10: the at_v tie-break encoding (d_ppm*1000 + (999-v))
    silently mis-decodes if v ever leaves [0,999], and because BOTH
    engines share the encoding, oracle parity cannot catch it. The
    guard must turn that silent corruption into a loud job abort on a
    dataset whose quantity domain exceeds 999."""
    import pandas as pd

    from dbsink_spark.analytics.stats import q122_ks_test

    sf_dir = tmp_path / "wide_domain"
    sf_dir.mkdir()
    pd.DataFrame(
        {
            "l_returnflag": ["A", "A", "R", "R"],
            "l_quantity": [5.0, 5000.0, 7.0, 5000.0],
        }
    ).to_parquet(sf_dir / "lineitem.parquet")
    with pytest.raises(Exception, match="q122"):
        q122_ks_test(spark, str(sf_dir)).collect()


@pytest.mark.parametrize("qname", ["q120_mann_whitney", "q122_ks_test"])
def test_q120_q122_null_quantity_parity(spark, tmp_path, qname):
    """ADVICE_r11: a NULL l_quantity previously (a) fell through
    q122's domain guard to raise_error — NULL BETWEEN 0 AND 999 is
    NULL — aborting the job with a NULL message, and (b) would have
    formed a NULL grid group whose cumulative-window position DIVERGES
    cross-engine (Spark orders NULLS FIRST, DuckDB NULLS LAST). Both
    statistics now exclude NULL quantities (rank/CDF statistics are
    over observed values), and q122's guard carries an explicit NULL
    arm as defense. Pin: on a NULL-bearing dataset neither engine
    aborts and both agree exactly."""
    import pandas as pd

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

    sf_dir = tmp_path / "null_qty"
    sf_dir.mkdir()
    pd.DataFrame(
        {
            "l_returnflag": ["A", "A", "A", "R", "R", "R", "N"],
            "l_quantity": [5.0, None, 9.0, 7.0, None, 9.0, 1.0],
        }
    ).to_parquet(sf_dir / "lineitem.parquet")

    sdf = analytics.ALL_QUERIES[qname](spark, str(sf_dir))
    srows = [tuple(r) for r in sdf.collect()]  # must not abort
    scols = sdf.columns

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{sf_dir}/lineitem.parquet')"
    )
    cur = con.execute(analytics.ALL_ORACLE[qname])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()

    assert sorted(scols) == sorted(ocols)
    key = lambda row, cols: [  # noqa: E731
        _norm(row[i]) for i in sorted(range(len(cols)), key=lambda j: cols[j])
    ]
    assert sorted(key(r, scols) for r in srows) == sorted(
        key(r, ocols) for r in orows
    )
    # the NULL rows must be excluded, not counted into either group
    na = next(r[scols.index("n_a")] for r in srows)
    nb = next(r[scols.index("n_b")] for r in srows)
    assert (na, nb) == (2, 2)


def test_d03_untracked_cache_is_bounded(spark):
    """ADVICE_r11: minhash_lsh_pairs persists its hashed-docs frame;
    untracked callers (the plain d03 registry path) used to leak one
    cached frame PER INVOCATION for the session's lifetime. The fix
    bounds the leak: each untracked call releases the previous
    untracked cache, so repeated d03 invocations hold at most ONE
    resident frame from this path."""
    from dbsink_spark.analytics import dedup

    def _n_cached():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    base = _n_cached()
    for _ in range(3):
        dedup.d03_minhash_lsh(spark, SF_DIR).count()
    assert _n_cached() - base <= 1
    # a tracked caller still owns its lifecycle
    from dbsink_spark.analytics.tables import Tables

    tracked: list = []
    dedup.minhash_lsh_pairs(
        Tables(spark, SF_DIR).documents, persisted=tracked
    ).count()
    for df in tracked:
        df.unpersist()


def test_m05_cdc_boundaries_shift_resistant(spark):
    """The property content-defined chunking exists for: inserting
    bytes early in a blob must leave every chunk after the first
    post-edit boundary IDENTICAL (fixed-size blocking re-chunks the
    whole tail). Stride-lattice probing guarantees this for
    insertions of CDC_STRIDE multiples — pinned here with an 8-byte
    insertion; a counter-check asserts the edit actually changed the
    early chunks (the test isn't vacuous)."""
    import random
    import string

    from dbsink_spark.analytics.multimodal import CDC_STRIDE, cdc_chunks

    rng = random.Random(41)
    body = "".join(rng.choice(string.ascii_lowercase + " ") for _ in range(4000))
    edited = body[:50] + "INSERTXY" + body[50:]  # 8 bytes = CDC_STRIDE
    assert len("INSERTXY") == CDC_STRIDE

    df = spark.createDataFrame(
        [("orig", body), ("edit", edited)], ["source", "text"]
    )
    rows = cdc_chunks(df).collect()
    orig = [r["chash"] for r in rows if r["source"] == "orig"]
    edit = [r["chash"] for r in rows if r["source"] == "edit"]
    # collect() order within one partition follows row order; chunks
    # were exploded in boundary order per doc
    assert len(orig) > 3, "blob must split into several chunks"
    # every chunk hash from the second original chunk on must appear
    # as a SUFFIX of the edited chunking (first chunk absorbed the
    # edit; realigned lattice reproduces the rest bit-for-bit)
    k = 1
    while orig[k] not in edit:
        k += 1
        assert k < len(orig), "no shared suffix — shift resistance broken"
    assert edit[edit.index(orig[k]) :] == orig[k:]
    # non-vacuous: the pre-edit prefix differs
    assert orig[:k] != edit[: edit.index(orig[k])]


def test_m05_probe_lattice_computed_once(spark):
    """Round-8 review: the md5 probe lattice must appear exactly once
    in the optimized plan (the boundary array is a materialized
    column) — inlining it into size() + element_at() re-evaluates the
    whole lattice per chunk pair, which is quadratic in blob size.
    The only other md5 is the per-chunk fingerprint."""
    from dbsink_spark.analytics.multimodal import cdc_chunks

    df = spark.createDataFrame([("s", "hello world " * 40)], ["source", "text"])
    plan = cdc_chunks(df)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("md5(") == 2, plan.count("md5(")


def test_t33_boilerplate_bruteforce(spark):
    """Positional boilerplate coverage must equal a direct Python
    recount: per-source 3-shingle doc frequency, threshold, per-doc
    covered positions. Runs at sf0.01 — sf0.001's corpus has too few
    same-source shingle collisions to exercise the threshold."""
    from collections import defaultdict

    from dbsink_spark.analytics.tables import Tables
    from dbsink_spark.analytics.text import (
        BOILER_MIN_DOCS,
        BOILER_SHINGLE_W,
        t33_boilerplate,
    )

    sf = "/root/testdata/sf0.01"
    docs = Tables(spark, sf).documents.select("doc_id", "source", "text").collect()
    per_doc = {}
    docfreq = defaultdict(set)
    for r in docs:
        w = r["text"].split(" ")
        if len(w) < BOILER_SHINGLE_W:
            continue
        sh = [" ".join(w[i : i + BOILER_SHINGLE_W]) for i in range(len(w) - BOILER_SHINGLE_W + 1)]
        per_doc[r["doc_id"]] = (r["source"], sh)
        for s in set(sh):
            docfreq[(r["source"], s)].add(r["doc_id"])
    boiler = {k for k, v in docfreq.items() if len(v) >= BOILER_MIN_DOCS}
    want = []
    for doc_id, (source, sh) in sorted(per_doc.items()):
        n_boiler = sum(1 for s in sh if (source, s) in boiler)
        want.append((doc_id, len(sh), n_boiler, 1000000 * n_boiler // len(sh)))
    got = [
        (r["doc_id"], r["n_pos"], r["n_boiler_pos"], r["boiler_ppm"])
        for r in t33_boilerplate(spark, sf).collect()
    ]
    assert got == want
    # non-vacuous: sf0.01 has cross-doc repeated phrases AND clean docs
    assert any(g[2] > 0 for g in got) and any(g[2] == 0 for g in got)


def test_t34_dataset_card_bruteforce(spark):
    """Every card column must equal a direct Python recount (exact
    integers, pack-based top lang, grid order statistics)."""
    from collections import Counter, defaultdict

    from dbsink_spark.analytics.text import t34_dataset_card
    from dbsink_spark.analytics.tables import Tables

    docs = Tables(spark, SF_DIR).documents.select(
        "doc_id", "source", "lang", "n_chars", "text"
    ).collect()
    by_src = defaultdict(list)
    for r in docs:
        by_src[r["source"]].append(r)
    want = []
    for src in sorted(by_src):
        rows = by_src[src]
        n = len(rows)
        uniq = len({r["text"] for r in rows})
        words = sum(len(r["text"].split(" ")) for r in rows)
        langs = {r["lang"] for r in rows}
        lc = Counter(r["lang"] for r in rows)
        top = max(lc, key=lambda l: (lc[l], l))
        lens = sorted(r["n_chars"] for r in rows)
        cum, med, p90 = 0, None, None
        for length, c in sorted(Counter(lens).items()):
            cum += c
            if med is None and 2 * cum >= n:
                med = length
            if p90 is None and 10 * cum >= 9 * n:
                p90 = length
        want.append(
            (src, n, 1000000 * uniq // n, words, len(langs), top, med, p90)
        )
    got = [tuple(r) for r in t34_dataset_card(spark, SF_DIR).collect()]
    assert got == want


def test_s19_nn_descent_improves_recall(spark):
    """One descent round (``_nn_descent_round`` over the two-view base
    graph) must (a) produce a neighbor list whose exact brute-force
    recall@K is >= each single-view base graph's, and (b) actually
    recover cross-bucket neighbors (edges absent from the base graph)
    — a single-view base fails (b) by construction."""
    import numpy as np
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.similarity import (
        KNN_K,
        N_GRAPH_PLANES,
        _knn_block_apply,
        _nn_base_graph,
        _nn_descent_round,
        _norm,
        _vectors,
        _view_bucket,
        hyperplane_weights,
    )

    v = _vectors(spark, SF_DIR)
    vu = v.select(
        F.col("vec_id").alias("u"), F.col("v").alias("uv"), _norm(F.col("v")).alias("un")
    )
    vc = v.select(
        F.col("vec_id").alias("c"), F.col("v").alias("cv"), _norm(F.col("v")).alias("cn")
    )
    g = _nn_base_graph(spark, SF_DIR)
    base_edges = {(r["vec_id"], r["neighbor_id"]) for r in g.collect()}
    out = _nn_descent_round(g, vu, vc).collect()
    got = {}
    for r in out:
        got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
    new_edges = sum((r["vec_id"], r["neighbor_id"]) not in base_edges for r in out)
    assert new_edges > 0

    vecs = _vectors(spark, SF_DIR).collect()
    ids = np.array([r["vec_id"] for r in vecs])
    m = np.array([r["v"] for r in vecs], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    true_k = {
        int(ids[i]): set(ids[np.argsort(-sims[i], kind="stable")[:KNN_K]])
        for i in range(len(ids))
    }
    vv = _vectors(spark, SF_DIR)
    for lo, hi in ((0, N_GRAPH_PLANES), (N_GRAPH_PLANES, 2 * N_GRAPH_PLANES)):
        planes = hyperplane_weights()[lo:hi]
        base = _knn_block_apply(
            vv.selectExpr("vec_id", "v", _view_bucket(planes) + " AS bucket")
        ).collect()
        base_n = {}
        for r in base:
            base_n.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        base_recall = sum(
            len(base_n.get(u, set()) & true_k[u]) for u in true_k
        )
        ref_recall = sum(len(got.get(u, set()) & true_k[u]) for u in true_k)
        assert ref_recall >= base_recall


def test_s19_candidates_bounded_by_fanout(spark):
    """The scale claim that makes NN-descent viable at 100 TB: one
    round's candidate generation is three joins on the O(n·k) edge
    list whose ROW COUNTS are edge-bounded — direct = E, reverse = E,
    2-hop ≤ E·K (each edge (a,c) contributes once per in-edge of a,
    and out-degree ≤ K on a top-k graph) — never a function of n²."""
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.similarity import (
        KNN_K,
        _nn_base_graph,
        _nn_descent_round,
        _norm,
        _vectors,
    )

    v = _vectors(spark, SF_DIR)
    vu = v.select(
        F.col("vec_id").alias("u"), F.col("v").alias("uv"), _norm(F.col("v")).alias("un")
    )
    vc = v.select(
        F.col("vec_id").alias("c"), F.col("v").alias("cv"), _norm(F.col("v")).alias("cn")
    )
    # round-1 output: a proper top-k graph (out-degree <= KNN_K)
    g1 = _nn_descent_round(_nn_base_graph(spark, SF_DIR), vu, vc)
    e = g1.select("vec_id", "neighbor_id").persist()
    E = e.count()
    out_deg = e.groupBy("vec_id").count().agg(F.max("count")).collect()[0][0]
    assert out_deg <= KNN_K
    a, b = e.alias("a"), e.alias("b")
    hop2_rows = (
        a.join(b, F.col("a.neighbor_id") == F.col("b.vec_id"))
        .filter(F.col("b.neighbor_id") != F.col("a.vec_id"))
        .count()
    )
    assert hop2_rows <= E * KNN_K, (hop2_rows, E, KNN_K)
    # total pre-distinct candidate rows: direct + reverse + 2-hop
    assert E + E + hop2_rows <= E * (2 + KNN_K)
    e.unpersist()


def test_s19_iterated_recall_monotone(spark):
    """VERDICT_r08 #3's property: across descent rounds, exact
    recall@K vs the brute-force kNN graph is monotone non-decreasing
    (each node's candidate set contains its current list, so the
    per-node (cosine, id) key-sequence only improves), and the
    registered convergence loop terminates under its update-rate rule
    within the fail-loud bound. Also pins the fail-loud path and the
    sampled-recall probe's direction."""
    import numpy as np
    import pytest as _pytest
    from pyspark.sql import functions as F

    from dbsink_spark.analytics.similarity import (
        KNN_K,
        S22_MAX_ROUNDS,
        _nn_base_graph,
        _nn_descent_round,
        _norm,
        _vectors,
        nn_descent_converge,
        nn_descent_sampled_recall,
    )

    vecs = _vectors(spark, SF_DIR).collect()
    ids = np.array([r["vec_id"] for r in vecs])
    m = np.array([r["v"] for r in vecs], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    sims = m @ m.T
    np.fill_diagonal(sims, -np.inf)
    true_k = {
        int(ids[i]): set(ids[np.argsort(-sims[i], kind="stable")[:KNN_K]])
        for i in range(len(ids))
    }
    denom = sum(len(s) for s in true_k.values())

    def recall(df):
        got = {}
        for r in df.select("vec_id", "neighbor_id").collect():
            got.setdefault(r["vec_id"], set()).add(r["neighbor_id"])
        return sum(len(got.get(u, set()) & true_k[u]) for u in true_k) / denom

    v = _vectors(spark, SF_DIR)
    vu = v.select(
        F.col("vec_id").alias("u"), F.col("v").alias("uv"), _norm(F.col("v")).alias("un")
    )
    vc = v.select(
        F.col("vec_id").alias("c"), F.col("v").alias("cv"), _norm(F.col("v")).alias("cn")
    )
    g = _nn_base_graph(spark, SF_DIR).localCheckpoint()
    recalls = []
    for _ in range(4):
        g = _nn_descent_round(g, vu, vc).localCheckpoint()
        recalls.append(recall(g))
    assert all(b >= a for a, b in zip(recalls, recalls[1:])), recalls

    stats: dict = {}
    final = nn_descent_converge(spark, SF_DIR, stats=stats)
    assert 2 <= stats["rounds"] <= S22_MAX_ROUNDS
    assert recall(final) >= recalls[0]
    # sampled probe agrees in direction with the exact measurement
    assert nn_descent_sampled_recall(final, v) >= nn_descent_sampled_recall(
        _nn_descent_round(_nn_base_graph(spark, SF_DIR), vu, vc), v
    ) - 1e-9
    # fail-loud bound: a 1-round budget can never satisfy the r>=2 rule
    with _pytest.raises(RuntimeError, match="update rate"):
        nn_descent_converge(spark, SF_DIR, max_rounds=1)


def test_s20_mmr_greedy_matches_pure_python(spark):
    """The selected ids and round-4 scores must equal a from-scratch
    Python MMR over sequential-fold cosines (the same fold order the
    engine and oracle use, so the comparison is exact)."""
    from dbsink_spark.analytics.similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_POOL,
        N_QUERIES,
        s20_mmr_diversify,
        _vectors,
    )

    vecs = {r["vec_id"]: r["v"] for r in _vectors(spark, SF_DIR).collect()}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc += x * x
        return acc ** 0.5

    q = vecs[0]
    qn = norm(q)
    rel = {
        cid: fold_dot(q, v) / (qn * norm(v))
        for cid, v in vecs.items()
        if cid >= N_QUERIES
    }
    pool = sorted(rel, key=lambda c: (-rel[c], c))[:MMR_POOL]
    sim = {
        (a, b): fold_dot(vecs[a], vecs[b]) / (norm(vecs[a]) * norm(vecs[b]))
        for a in pool
        for b in pool
        if a != b
    }
    chosen, want = [], []
    for step in range(1, MMR_K + 1):
        best = None
        for cid in sorted(pool):
            if cid in chosen:
                continue
            pen = max((sim[(cid, s)] for s in chosen), default=0.0)
            score = MMR_LAMBDA * rel[cid] - (1 - MMR_LAMBDA) * pen
            if best is None or score > best[0]:
                best = (score, cid)
        chosen.append(best[1])
        want.append((step, best[1], round(best[0], 4), round(rel[best[1]], 4)))
    got = [tuple(r) for r in s20_mmr_diversify(spark, SF_DIR).collect()]
    assert got == want


def test_d20_decisions_are_consistent(spark):
    """Per-doc decision invariants at sf0.01: every new doc decided
    exactly once; match ids precede the doc and come from the class
    the decision names; exact corpus dups really share text with their
    match; priority means an exact corpus dup is never reported as
    anything else."""
    from dbsink_spark.analytics.dedup import (
        D20_NEW_DEN,
        D20_NEW_NUM,
        d20_incremental_dedup,
    )
    from dbsink_spark.analytics.tables import Tables

    sf = "/root/testdata/sf0.01"
    docs = {r["doc_id"]: r["text"] for r in Tables(spark, sf).documents.collect()}
    max_id = max(docs)
    cutoff = (D20_NEW_NUM * (max_id + 1) + D20_NEW_DEN - 1) // D20_NEW_DEN
    out = d20_incremental_dedup(spark, sf).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(
        d for d in docs if d >= cutoff
    )
    classes = {r["decision"] for r in out}
    assert len(classes) >= 2  # non-vacuous: dup classes + keeps present
    old_texts = {docs[d] for d in docs if d < cutoff}
    for r in out:
        if r["decision"] == "keep":
            assert r["match_id"] is None
            assert docs[r["doc_id"]] not in old_texts
            continue
        assert r["match_id"] is not None and r["match_id"] < r["doc_id"]
        if r["decision"].endswith("corpus"):
            assert r["match_id"] < cutoff
        else:
            assert r["match_id"] >= cutoff
        if r["decision"] == "exact_dup_corpus":
            assert docs[r["match_id"]] == docs[r["doc_id"]]
        if r["decision"].startswith("near"):
            assert docs[r["match_id"]] != docs[r["doc_id"]] or r[
                "decision"
            ] == "near_dup_batch"
    # any new doc whose text exists in the corpus must be exact_dup_corpus
    for r in out:
        if docs[r["doc_id"]] in old_texts:
            assert r["decision"] == "exact_dup_corpus"


def test_m06_entropy_bruteforce(spark):
    """Entropy/count columns must match a direct Python recount; the
    triage class must be the documented cut of the engine's own
    rounded entropy (ln is <= 1 ulp per engine, so the float compare
    uses rel_tol — integers and symbols stay exact)."""
    import math
    from collections import Counter

    from dbsink_spark.analytics.multimodal import (
        M06_LOW_BITS,
        M06_MID_BITS,
        m06_payload_entropy,
    )
    from dbsink_spark.analytics.tables import Tables

    texts = {
        r["doc_id"]: r["text"]
        for r in Tables(spark, SF_DIR).documents.select("doc_id", "text").collect()
    }
    out = m06_payload_entropy(spark, SF_DIR).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(texts)
    for r in out:
        t = texts[r["doc_id"]]
        c = Counter(t)
        assert r["n_bytes"] == len(t)
        assert r["n_distinct"] == len(c)
        assert r["top_sym"] == max(c, key=lambda ch: (c[ch], ch))
        s = 0.0
        for ch in sorted(c):
            s += c[ch] * math.log(c[ch])
        ent = (math.log(len(t)) - s / len(t)) / math.log(2)
        assert math.isclose(r["entropy_bits"], ent, rel_tol=1e-9, abs_tol=1e-4)
        want_cls = (
            "low"
            if r["entropy_bits"] < M06_LOW_BITS
            else "mid" if r["entropy_bits"] < M06_MID_BITS else "high"
        )
        assert r["triage"] == want_cls


def test_d20_cutoff_formula_matches_duckdb():
    """Python computes the engine's cutoff, DuckDB the oracle's; the
    two division semantics differ on negatives (Python floors, DuckDB
    truncates), so the ceiling MUST use positive operands only — the
    negated-floor idiom diverged on any doc count not divisible by the
    denominator (round-8 review finding)."""
    import duckdb

    from dbsink_spark.analytics.dedup import D20_NEW_DEN, D20_NEW_NUM

    for max_id in range(1, 64):
        py = (D20_NEW_NUM * (max_id + 1) + D20_NEW_DEN - 1) // D20_NEW_DEN
        sql = duckdb.sql(
            f"select ({D20_NEW_NUM}*({max_id}+1)+{D20_NEW_DEN}-1)//{D20_NEW_DEN}"
        ).fetchone()[0]
        assert py == sql, max_id


def test_s21_kcenter_matches_pure_python_greedy(spark):
    """Selection order and covering radii must equal a from-scratch
    Python farthest-point traversal over sequential-fold squared
    distances (identical IEEE op order → exact compare)."""
    from dbsink_spark.analytics.similarity import (
        KCENTER_K,
        _vectors,
        s21_kcenter_select,
    )

    vecs = {r["vec_id"]: list(r["v"]) for r in _vectors(spark, SF_DIR).collect()}

    def dist_sq(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    centers = [0]
    want = [(1, 0, None)]
    for step in range(2, KCENTER_K + 1):
        best = None
        for cid in sorted(vecs):
            if cid in centers:
                continue
            d = min(dist_sq(vecs[cid], vecs[c]) for c in centers)
            # ties break to the SMALLER vec_id (ascending scan keeps first)
            if best is None or d > best[0]:
                best = (d, cid)
        centers.append(best[1])
        want.append((step, best[1], round(best[0], 4)))
    got = [tuple(r) for r in s21_kcenter_select(spark, SF_DIR).collect()]
    assert got == want
    assert len(set(c for _, c, _ in got)) == KCENTER_K  # all distinct


def test_s23_hamming_equals_bruteforce(spark):
    """s23's packed-word popcount hamming must equal the naive per-dim
    bit-disagreement count against the same midrange thresholds, and
    the served ranking must follow (hamming, corpus_id)."""
    from collections import defaultdict

    from dbsink_spark.analytics.similarity import (
        N_QUERIES,
        TOPK,
        s23_binary_hamming_search,
    )
    from dbsink_spark.analytics.tables import Tables

    rows = Tables(spark, SF_DIR).embeddings.collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]] for r in rows}
    dim = len(next(iter(vecs.values())))
    mn = [min(v[i] for v in vecs.values()) for i in range(dim)]
    mx = [max(v[i] for v in vecs.values()) for i in range(dim)]
    bits = {
        vid: [1 if v[i] > (mn[i] + mx[i]) / 2 else 0 for i in range(dim)]
        for vid, v in vecs.items()
    }

    def ham(a, b):
        return sum(x != y for x, y in zip(bits[a], bits[b]))

    want = defaultdict(list)
    qids = sorted(v for v in vecs if v < N_QUERIES)
    cids = sorted(v for v in vecs if v >= N_QUERIES)
    for q in qids:
        ranked = sorted(cids, key=lambda c: (ham(q, c), c))[:TOPK]
        want[q] = [(c, ham(q, c)) for c in ranked]

    got = defaultdict(list)
    for r in s23_binary_hamming_search(spark, SF_DIR).collect():
        got[r["query_id"]].append((r["corpus_id"], r["hamming"]))
    assert dict(got) == dict(want)


def test_t35_folds_equal_counter_bruteforce(spark):
    """t35's sorted run-length folds (dominant-gram char mass,
    duplicated-gram char mass) must equal a Counter-based brute force
    per document, and the served per-source ppm aggregates must
    follow."""
    from collections import Counter, defaultdict

    from dbsink_spark.analytics.tables import Tables
    from dbsink_spark.analytics.text import (
        T35_DUP5_PPM,
        T35_TOP2_PPM,
        T35_TOP3_PPM,
        t35_gopher_repetition,
    )

    docs = Tables(spark, SF_DIR).documents.collect()

    def grams(ws, n):
        return [" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)]

    per_source = defaultdict(lambda: [0, 0, 0, 0, 0])  # n, s2, s3, s5, flagged
    for r in docs:
        ws = r["text"].split(" ")
        nc = len(r["text"])
        c2, c3, c5 = (Counter(grams(ws, n)) for n in (2, 3, 5))
        m2 = max((c * len(g) for g, c in c2.items()), default=0)
        m3 = max((c * len(g) for g, c in c3.items()), default=0)
        m5 = sum(c * len(g) for g, c in c5.items() if c >= 2)
        p2, p3, p5 = (m * 1_000_000 // nc for m in (m2, m3, m5))
        agg = per_source[r["source"]]
        agg[0] += 1
        agg[1] += p2
        agg[2] += p3
        agg[3] += p5
        agg[4] += int(p2 > T35_TOP2_PPM or p3 > T35_TOP3_PPM or p5 > T35_DUP5_PPM)

    want = {
        src: (n, s2 // n, s3 // n, s5 // n, fl)
        for src, (n, s2, s3, s5, fl) in per_source.items()
    }
    got = {
        r["source"]: (
            r["n_docs"],
            r["avg_top2_ppm"],
            r["avg_top3_ppm"],
            r["avg_dup5_ppm"],
            r["n_flagged"],
        )
        for r in t35_gopher_repetition(spark, SF_DIR).collect()
    }
    assert got == want
