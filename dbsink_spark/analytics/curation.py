"""End-to-end corpus curation: the composed training-data pipeline.

The registry proves each operator in isolation; this module proves
they COMPOSE — the pass ordering a real pretraining data pipeline
runs (PII scrub → quality filter → exact dedup → near-dedup →
split/mixture → partitioned lake), built entirely from the operator
library's building blocks, one lazy plan until the final write.

Pass ordering follows practice: scrub before anything else sees text;
exact dedup before the (more expensive) near-dedup so identical
bodies never reach MinHash; split/mixture last so sampling never
biases dedup. Every decision is deterministic (hash-bucket, min-id
keeper), so reruns are idempotent and the pipeline is resumable at
any stage boundary — the property that matters when stage 4 of a
100 TB run fails.

The composition is LITERAL (VERDICT_r10 #3): each stage consumes the
previous stage's output — in particular the near-dedup MinHash pass
runs over stage 3's surviving SCRUBBED text, not the raw corpus
(scrubbing changes text and therefore signatures; a raw-corpus pair
list is a different pipeline).

Scale: stages 1-2 are map-only; dedup stages shuffle 8-byte hashes
(never bodies); the near-dup prune set is pairs-sized and broadcasts;
the lake write partitions by split so trainers prune to one split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h64
from .dedup import d03_pairs_sql, minhash_lsh_pairs
from .tables import Tables
from .litdf import local_df
from .text import (
    PII_EMAIL,
    PII_IPV4,
    PII_PHONE,
    SPLIT_TRAIN_PCT,
    SPLIT_VAL_PCT,
    _mixture_weight_expr,
)

MIN_WORDS = 30  # quality floor (t08's lower Gopher bound)
MAX_WORDS = 100_000


def _scrub_expr():
    """The stage-1 redaction as a bare Column over ``text`` — shared by
    :func:`_scrubbed` and the fused stage-0/1 manifest scan."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>"
        ),
        PII_PHONE,
        "<PHONE>",
    )


def _scrubbed(d: DataFrame) -> DataFrame:
    """Stage 1 — PII scrub (email, IPv4 and phone patterns, in place)."""
    return d.withColumn("text", _scrub_expr())


def _top_word_freq(w):
    """Max token frequency as a sorted run-length fold: the count of
    the most frequent token equals the longest run in the SORTED token
    array, so one ``array_sort`` + one ``aggregate`` pass computes it
    in O(n log n) per doc, map-only, whole-stage-codegen — replacing
    the r10 O(distinct·n) HOF probe (VERDICT_r10 #3's flagged slowest
    stage). This beats the docstring's suggested t09 vocab join too:
    no token explode, no shuffle, no join — the per-doc fold shape
    already gate-proven by t27/q87's array_sort+aggregate discipline.
    """
    return F.aggregate(
        F.array_sort(w),
        F.struct(
            F.lit(None).cast("string").alias("p"),  # previous token
            F.lit(0).alias("r"),  # current run length
            F.lit(0).alias("b"),  # best run length so far
        ),
        lambda acc, x: F.struct(
            x.alias("p"),
            F.when(x == acc["p"], acc["r"] + F.lit(1)).otherwise(F.lit(1)).alias("r"),
            F.greatest(
                acc["b"],
                F.when(x == acc["p"], acc["r"] + F.lit(1)).otherwise(F.lit(1)),
            ).alias("b"),
        ),
        lambda acc: acc["b"],
    )


def _quality_pass(d: DataFrame) -> DataFrame:
    """Stage 2 — quality floor: word-count bounds + a repetition cap
    (top word ≤ 20% of tokens), integer arithmetic only (t08's
    rules)."""
    w = F.split(F.col("text"), " ")
    return (
        d.withColumn("_n", F.size(w))
        .filter((F.col("_n") >= MIN_WORDS) & (F.col("_n") <= MAX_WORDS))
        .withColumn("_top", _top_word_freq(w))
        .filter(F.col("_top") * 5 <= F.col("_n"))
        .drop("_top")
    )


def _content_hash_expr():
    """The stage-3 content-hash key as a bare Column over ``text`` —
    shared by :func:`_exact_dedup` and the fused stage-2/3 manifest
    aggregate (ADVICE_r12: the two sites must never drift apart, or
    the manifest's 3_exact_dedup row silently diverges from the d3
    the caller receives)."""
    return h64(F.col("text"))


def _exact_dedup(d: DataFrame) -> DataFrame:
    """Stage 3 — d01's keeper rule: min doc_id per content hash."""
    hashed = d.withColumn("_h", _content_hash_expr())
    keep = hashed.groupBy("_h").agg(F.min("doc_id").alias("_keep"))
    return (
        hashed.join(keep, "_h")
        .filter(F.col("doc_id") == F.col("_keep"))
        .drop("_h", "_keep")
    )


def _near_dedup(d: DataFrame, persisted: list) -> DataFrame:
    """Stage 4 — d03's MinHash+LSH pair list computed OVER THE STAGE-3
    SURVIVORS' scrubbed text (the literal composition, VERDICT_r10
    #3), applied SemDeDup-style: prune the higher-id member of every
    verified near-dup pair. The pair list is survivor-sized, so the
    prune set broadcasts."""
    pairs = minhash_lsh_pairs(d, persisted=persisted, ordered=False)
    pruned = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return d.join(F.broadcast(pruned), "doc_id", "left_anti")


def _mix_keep_expr():
    """The stage-5 mixture keep-predicate as a bare BooleanType Column
    over ``doc_id`` — shared by :func:`_assign_split` and the fused
    stage-4/5 manifest aggregate (ADVICE_r12: a future edit to either
    site must not desync the manifest's 5_split_mixture row from the
    d5 the caller receives)."""
    mix = h64(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
    return mix < _mixture_weight_expr()


def _assign_split(d: DataFrame) -> DataFrame:
    """Stage 5 — t12's hash split + the per-source mixture keep-flag."""
    b = h64(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return d.withColumn("split", split).filter(_mix_keep_expr())


def curate_corpus(
    spark: SparkSession,
    sf_dir: str,
    out_path: str | None = None,
    cleanup: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run the full curation pipeline over ``documents``.

    Returns ``(curated, manifest)``: the curated corpus (with its
    ``split`` column) and the per-stage count manifest a pipeline
    writes next to the output. If ``out_path`` is given, the corpus
    lands as parquet partitioned by ``split``.

    ``cleanup`` (a caller-supplied list) collects every internally
    persisted frame so callers can ``unpersist()`` after materializing
    — without it repeated invocations (fuzz sweeps, oracle replicas)
    leak cached blocks for the session's lifetime (ADVICE_r10).
    """
    if cleanup is None:
        cleanup = []  # caller opted out; frames stay session-cached
    d0 = Tables(spark, sf_dir).documents
    d1 = _scrubbed(d0)
    # persist at the two expensive stage boundaries: the manifest
    # materializes SIX per-stage aggregates, and without a cache each
    # one re-runs everything upstream — the quality fold would execute
    # five times and the near-dup pair generation twice. persist (not
    # localCheckpoint) so the blocks are RELEASABLE via ``cleanup``;
    # at lake scale the same boundary is a parquet write (the
    # docstring's resumability point).
    d2 = _quality_pass(d1).persist()
    cleanup.append(d2)
    d3 = _exact_dedup(d2)
    d4 = _near_dedup(d3, persisted=cleanup).persist()
    cleanup.append(d4)
    d5 = _assign_split(d4).persist()
    cleanup.append(d5)

    # Stage-0/1 manifest rows FUSED into one corpus scan (r12, the q52
    # scan-fusion pattern, guide §2.3): the scrub drops no rows, so the
    # raw and scrubbed char/token masses aggregate in a single pass
    # (regexes evaluated once per row) and a 2-element explode re-emits
    # them as the same two rows — one full-corpus subtree instead of
    # two. Values are the identical aggregates, verified vs the
    # unchanged DuckDB oracle.
    st = _scrub_expr()
    head = (
        d0.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length(F.col("text"))).alias("c0"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("t0"),
            # recomputed, not read from the stored n_chars column
            # (ADVICE_r10): the PII replacements change text length
            F.sum(F.length(st)).alias("c1"),
            F.sum(F.size(F.split(st, " "))).alias("t1"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("0_raw").alias("stage"),
                        F.col("n").alias("n_docs"),
                        F.col("c0").alias("n_chars"),
                        F.col("t0").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("1_scrubbed").alias("stage"),
                        F.col("n").alias("n_docs"),
                        F.col("c1").alias("n_chars"),
                        F.col("t1").alias("n_tokens"),
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
    )
    # Stage-2 AND stage-3 rows from ONE pass over the cached stage-2
    # frame (r12): the stage-3 keeper is the min-doc_id row per content
    # hash, so a single groupBy(hash) computes the per-group totals
    # (stage-2 mass) alongside min_by of the keeper's stats (stage-3
    # mass — equivalent to the join-back even under a hash collision),
    # and one global fold emits both rows. The join-based d3 still
    # materializes once as d4's input; the manifest no longer
    # re-executes its shuffle-join. Empty-input semantics preserved
    # exactly: the n_docs counts coalesce to 0 (count() semantics) and
    # the char/token sums stay NULL, matching the per-stage agg rows
    # and the DuckDB oracle on degenerate corpora.
    #
    # Assumption (ADVICE_r12, documented): doc_id is unique and
    # non-null — the corpus' primary key, guaranteed by ingest and by
    # every upstream stage here (stages 1-2 are row-filters/maps; they
    # never duplicate or null the key). Under that invariant the
    # min_by keeper below is exactly _exact_dedup's join-back keeper
    # and n3 = count-of-hash-groups = |d3|. A corpus with duplicate or
    # all-NULL doc_ids would make the join-back keep both/zero rows
    # per degenerate group while n3 reports one; if ingest ever drops
    # the invariant, this fusion must revert to aggregating d3 itself.
    # The hash key is _content_hash_expr() — the SAME expression
    # _exact_dedup keys on, factored so the two sites cannot drift.
    mid = (
        d2.groupBy(_content_hash_expr().alias("_h"))
        .agg(
            F.count(F.lit(1)).alias("gn"),
            F.sum(F.length(F.col("text"))).alias("gc"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("gt"),
            F.min_by(
                F.struct(
                    F.length(F.col("text")).alias("c"),
                    F.size(F.split(F.col("text"), " ")).alias("t"),
                ),
                F.col("doc_id"),
            ).alias("k"),
        )
        .agg(
            F.coalesce(F.sum("gn"), F.lit(0).cast("long")).alias("n2"),
            F.sum("gc").alias("c2"),
            F.sum("gt").alias("t2"),
            F.count(F.lit(1)).alias("n3"),
            F.sum("k.c").alias("c3"),
            F.sum("k.t").alias("t3"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("2_quality").alias("stage"),
                        F.col("n2").alias("n_docs"),
                        F.col("c2").alias("n_chars"),
                        F.col("t2").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("3_exact_dedup").alias("stage"),
                        F.col("n3").alias("n_docs"),
                        F.col("c3").alias("n_chars"),
                        F.col("t3").alias("n_tokens"),
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
    )
    # Stage-4 AND stage-5 rows from ONE pass over the cached stage-4
    # frame (r12): stage 5 is stage 4 filtered by the deterministic
    # mixture hash, so its mass aggregates as conditional sums in the
    # same scan (count() of a conditional is 0 on empty, matching the
    # old filtered-count; conditional sums stay NULL). The d5 the
    # caller receives is unchanged — only the manifest stops scanning
    # its cache separately.
    mixp = _mix_keep_expr()  # the SAME predicate _assign_split filters on
    tail = (
        d4.agg(
            F.count(F.lit(1)).alias("n4"),
            F.sum(F.length(F.col("text"))).alias("c4"),
            F.sum(F.size(F.split(F.col("text"), " "))).alias("t4"),
            F.count(F.when(mixp, F.lit(1))).alias("n5"),
            F.sum(F.when(mixp, F.length(F.col("text")))).alias("c5"),
            F.sum(F.when(mixp, F.size(F.split(F.col("text"), " ")))).alias("t5"),
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("4_near_dedup").alias("stage"),
                        F.col("n4").alias("n_docs"),
                        F.col("c4").alias("n_chars"),
                        F.col("t4").alias("n_tokens"),
                    ),
                    F.struct(
                        F.lit("5_split_mixture").alias("stage"),
                        F.col("n5").alias("n_docs"),
                        F.col("c5").alias("n_chars"),
                        F.col("t5").alias("n_tokens"),
                    ),
                )
            ).alias("s")
        )
        .select("s.*")
    )
    manifest = head.unionAll(mid).unionAll(tail)

    if out_path is not None:
        d5.select("doc_id", "text", "lang", "source", "n_chars", "split").write.mode(
            "overwrite"
        ).partitionBy("split").parquet(out_path)
    return d5, manifest


def bpe_token_budget(
    spark: SparkSession, sf_dir: str, lake_path: str
) -> DataFrame:
    """BPE-accurate token budget of the LANDED lake, per split
    (VERDICT_r11 #8): the manifest's ``n_tokens`` is deliberately
    t04's whitespace counter (cheap, per-stage); the budget a trainer
    actually consumes is tokenizer tokens over the text that actually
    landed. This trains t16's merge rules on the raw corpus, applies
    them to the curated parquet via :func:`text.bpe_token_counts`, and
    returns one row per split with BPE and whitespace totals side by
    side.

    Scale: the merge table is k-sized literals; the only corpus-sized
    work is a word count + an equi-join on the word, over the
    (smaller) curated corpus."""
    from .text import BPE_N_MERGES, bpe_token_counts, t16_bpe_merge_step

    merges = [
        r["pair"]
        for r in t16_bpe_merge_step(spark, sf_dir).collect()[:BPE_N_MERGES]
    ]
    lake = spark.read.parquet(lake_path)
    counts = bpe_token_counts(lake.select("doc_id", "text"), merges)
    return (
        lake.select("doc_id", "split")
        .join(counts, "doc_id", "left")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # left join: a doc whose text has no non-empty words has no
            # counts row — budget 0, not a dropped doc
            F.sum(F.coalesce(F.col("n_tokens"), F.lit(0)))
            .cast("long")
            .alias("bpe_tokens"),
            F.sum(F.coalesce(F.col("n_words"), F.lit(0)))
            .cast("long")
            .alias("ws_tokens"),
        )
        .orderBy("split")
    )


# ---------------------------------------------------------------------------
# c01: the composed pipeline as an oracle-checked registry row
# ---------------------------------------------------------------------------

QUERIES: dict = {}
ORACLE: dict = {}


def c01_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-stage manifest of the COMPOSED curation pipeline — the
    registry proves each operator in isolation and the bench times the
    composition; this row hash-verifies the composition itself: every
    stage's doc count, char mass, and whitespace-token budget must
    match a DuckDB twin of the full scrub → quality → exact-dedup →
    near-dedup → split/mixture chain. A pass-ordering or keeper-rule
    regression in ANY stage moves a downstream count and fails here,
    even when each stage's own registry row still passes.

    Materializes the 6-row manifest, then unpersists every internal
    cache (ADVICE_r10: the registry path used to leak cached blocks on
    every fuzz/oracle invocation).

    Plan-budget note (ADVICE_r11): because of that eager collect the
    frame THIS function returns is a LocalRelation — its entry in
    tests/plan_budget.json (0 exchanges) describes the returned frame,
    not the pipeline. The REAL composed plan's shuffle shape is
    budget-checked separately: tests/test_plans.py::
    test_c01_internal_pipeline_plan compiles ``curate_corpus``'s
    internal stages without collecting and asserts their exchange
    count, so a pass-ordering or join regression inside the pipeline
    still trips a budget even though c01's registry row is local.
    """
    cleanup: list = []
    _, manifest = curate_corpus(spark, sf_dir, cleanup=cleanup)
    rows = manifest.orderBy("stage").collect()
    out = local_df(spark, rows, manifest.schema)
    for df in cleanup:
        df.unpersist()
    return out


def _c01_oracle() -> str:
    from ..functions.casts import spark_try_int_sql
    from ..functions.hashing import h64_sql
    from .text import PII_EMAIL, PII_IPV4, PII_PHONE

    scrub = (
        "regexp_replace(regexp_replace(regexp_replace(text, "
        f"'{PII_EMAIL}', '<EMAIL>', 'g'), "
        f"'{PII_IPV4}', '<IP>', 'g'), "
        f"'{PII_PHONE}', '<PHONE>', 'g')"
    )
    mix_weight = (
        f"CASE WHEN {spark_try_int_sql('substr(source, 4)', 'INT')} % 2 = 0 "
        "THEN 25 ELSE 75 END"
    )
    stage = (
        "SELECT '{name}' AS stage, count(*)::BIGINT AS n_docs, "
        "sum(length(text))::BIGINT AS n_chars, "
        "sum(len(string_split(text, ' ')))::BIGINT AS n_tokens FROM {src}"
    )
    stages = "\n    UNION ALL ".join(
        stage.format(name=name, src=src)
        for name, src in [
            ("0_raw", "documents"),
            ("1_scrubbed", "scrub"),
            ("2_quality", "quality"),
            ("3_exact_dedup", "exact"),
            ("4_near_dedup", "near"),
            ("5_split_mixture", "mixed"),
        ]
    )
    return f"""
    WITH scrub AS (
        SELECT doc_id, {scrub} AS text, lang, source, n_chars FROM documents
    ),
    -- top-word frequency as a SORTED RUN-LENGTH scan (VERDICT_r11 #6:
    -- the same algorithm class as the engine's array_sort+aggregate
    -- fold, replacing the O(distinct·n) list probe the engine side
    -- retired in round 11): sort the tokens, find run-start indices,
    -- max run = max gap between consecutive starts. O(n log n)/doc.
    -- (A literal list_reduce struct fold is NOT usable here: DuckDB
    -- 1.0's lambda evaluates struct fields sequentially with the
    -- updated accumulator visible, so a prev/run/best struct fold
    -- double-counts — verified against this build.)
    runs AS (
        SELECT *, [i FOR i IN generate_series(1, len(_w))
                   IF i = 1 OR _w[i] <> _w[i-1]] AS _bs
        FROM (SELECT *, list_sort(string_split(text, ' ')) AS _w FROM scrub)
    ),
    quality AS (
        SELECT doc_id, text, lang, source, n_chars FROM (
            SELECT *, list_max(list_transform(generate_series(1, len(_bs)),
                       j -> coalesce(_bs[j+1], len(_w) + 1) - _bs[j])) AS _top
            FROM runs
        )
        WHERE len(string_split(text, ' ')) BETWEEN {MIN_WORDS} AND {MAX_WORDS}
          AND _top * 5 <= len(string_split(text, ' '))
    ),
    exact AS (
        SELECT q.* FROM quality q
        JOIN (SELECT {h64_sql('text')} AS h, min(doc_id) AS keep
              FROM quality GROUP BY 1) k
          ON {h64_sql('q.text')} = k.h AND q.doc_id = k.keep
    ),
    -- near-dup prune set: d03's verified pair spec over the STAGE-3
    -- SURVIVORS' scrubbed text (the literal composition — the engine
    -- runs minhash_lsh_pairs over the same survivor relation)
    prune AS (
        SELECT DISTINCT doc_b FROM ({d03_pairs_sql("exact")}) p
    ),
    near AS (
        SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_b FROM prune)
    ),
    mixed AS (
        SELECT * FROM near
        WHERE {h64_sql("'mix:' || doc_id::VARCHAR")} % 100 < ({mix_weight})
    )
    SELECT * FROM (
    {stages}
    ) ORDER BY stage
"""


QUERIES["c01_curation_manifest"] = c01_curation_manifest
ORACLE["c01_curation_manifest"] = _c01_oracle()
