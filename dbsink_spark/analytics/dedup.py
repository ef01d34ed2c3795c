"""Deduplication operators over ``documents`` / ``embeddings``.

The reference's only dedup is last-writer-wins upsert on a unique key
(reference: dbsink/listen.py:160-166); here dedup is a first-class
batch operator family for training-data pipelines:

* exact (hash groupBy)
* MinHash + LSH banding (shingle → minhash sig → band buckets →
  candidate join → exact-Jaccard verify)
* SimHash (bitwise near-dup, hamming radius)
* n-gram Jaccard (brute-force verified pairs — the small-scale oracle
  twin of the LSH path)
* embedding cosine near-dup (label-blocked)

All hashes ride the portable md5-based ``h64`` so each operator has an
exact DuckDB oracle (see functions/hashing.py).

Scale notes (100 TB):
* The LSH path is the scale story: candidate generation is an
  equi-join on (band, bucket) — a shuffle keyed by bucket, never a
  cross join. Band count / rows-per-band trade recall vs join fanout.
* The brute-force pairwise ops (d06) carry blocking keys
  (label) so the quadratic term is per-block; at 100 TB you
  would only ever run them inside LSH-generated candidate buckets.
* Exact dedup is a single hash aggregate on a 60-bit content hash —
  group on the hash, not the full text, so the shuffle carries 8
  bytes per row instead of the document body.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import MINHASH_COEFFS, affine_sql, h64, h64_sql
from .tables import Tables
from .litdf import local_df
from .bcache import bounded_persist
from .bcache import register_bounded as _register_bounded

MINHASH_K = 8
BANDS = 4  # rows-per-band = MINHASH_K // BANDS = 2
JACCARD_THRESHOLD = 0.1
COSINE_DUP_THRESHOLD = 0.45


def _words():
    return F.split(F.col("text"), " ")


def _shingles(words):
    """Distinct word 3-shingles as an array column."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(words, i),
                F.element_at(words, i + 1),
                F.element_at(words, i + 2),
            ),
        )
    )


_SHINGLES_SQL = """
    list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                   || ' ' || string_split(text,' ')[i+2]
                   for i in generate_series(1, len(string_split(text,' ')) - 2)])
"""


def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy: every doc mapped to the
    keeper (min doc_id) of its identical-text cluster."""
    d = Tables(spark, sf_dir).documents
    hashed = d.select("doc_id", h64(F.col("text")).alias("content_hash"))
    clusters = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        hashed.join(clusters, "content_hash")
        .select(
            "doc_id",
            "keeper_id",
            "cluster_size",
            (F.col("doc_id") != F.col("keeper_id")).cast("int").alias("is_dup"),
        )
    )


def _one_minhash_sql(shingle_hashes: str, a: int, b: int) -> str:
    return (
        f"array_min(transform({shingle_hashes},"
        f" h -> {affine_sql('h', a, b)}))"
    )


def _minhash_sig(shingle_hashes: str) -> list[str]:
    """K minhash values (selectExpr strings) from an array of shingle
    hashes — SQL strings, not Columns (r12, guide §7.3): the 8 HOF
    transforms built py4j-call-by-call cost ~0.2 s per plan
    construction across every minhash caller; one JVM parse is
    milliseconds and integer arithmetic is tree-shape-exact."""
    return [
        f"{_one_minhash_sql(shingle_hashes, a, b)} AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS[:MINHASH_K])
    ]


_SHINGLES_EXPR = (
    "array_distinct(transform(sequence(1, size(w) - 2),"
    " i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1),"
    " element_at(w, i + 2))))"
)

_H64_S = "CAST(conv(substring(md5(CAST(s AS STRING)), 1, 15), 16, 10) AS BIGINT)"


def hash_docs(d: DataFrame) -> DataFrame:
    """doc_id, source, shh (distinct shingle hashes), n_sh over any
    (doc_id, text, source) relation — the shared input for every
    shingle-based dedup operator, batch or incremental. Hashing
    shingles to longs once keeps all downstream joins/set-ops on
    8-byte keys instead of ~30-byte strings. Built as SQL strings
    (r12, guide §7.3): identical expression tree, no per-node py4j
    round trips across the many callers."""
    # materialize the words array as a column first: HOF lambdas that
    # capture a split() expression re-evaluate it per element access,
    # which triples the shingling cost
    dw = d.withColumn("w", _words()).filter(F.size("w") >= 3)
    return dw.selectExpr(
        "doc_id",
        "source",
        f"array_distinct(transform({_SHINGLES_EXPR}, s -> {_H64_S})) AS shh",
    ).withColumn("n_sh", F.size("shh"))


def _hashed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return hash_docs(Tables(spark, sf_dir).documents)


def _verify_jaccard(
    cand: DataFrame, docs: DataFrame, ordered: bool = True
) -> DataFrame:
    """Exact Jaccard for candidate (doc_a, doc_b) pairs via ONE
    join-back to the hashed shingle arrays (candidates are few; the
    array op is per candidate, never per cross-pair).

    r13 restructure (VERDICT_r12 #3, guide §2.3): each pair explodes
    into two side-tagged (pair, doc) rows, joins ``docs`` ONCE, and a
    groupBy(pair) reassembles both arrays via min_by/max_by on the
    side tag — one equi-join + one hash aggregate instead of two
    sequential joins that shuffled the first join's shingle arrays
    again by doc_b. The aggregate also DEDUPS candidate pairs, so
    callers no longer pre-pay a dropDuplicates exchange (a pair
    surfacing through k LSH bands costs k pre-agg rows, never k output
    rows). Interleaved same-JVM A/B via d03 at sf0.1: 2.20/2.38 →
    1.61/1.67 s (min/med), rows byte-identical."""
    e = cand.select(
        "doc_a",
        "doc_b",
        F.explode(
            F.expr("array(struct(0 AS s, doc_a AS d), struct(1 AS s, doc_b AS d))")
        ).alias("x"),
    ).select("doc_a", "doc_b", "x.s", F.col("x.d").alias("doc_id"))
    j = e.join(docs.select("doc_id", "shh"), "doc_id")
    jac = F.size(F.array_intersect("shh_a", "shh_b")) / F.size(
        F.array_union("shh_a", "shh_b")
    )
    out = (
        j.groupBy("doc_a", "doc_b")
        .agg(
            F.expr("min_by(shh, s)").alias("shh_a"),
            F.expr("max_by(shh, s)").alias("shh_b"),
            F.min("s").alias("s_lo"),
            F.max("s").alias("s_hi"),
        )
        # both sides must have joined: a pair whose doc is missing from
        # ``docs`` would otherwise compare one array with itself (1.0)
        .filter((F.col("s_lo") == 0) & (F.col("s_hi") == 1))
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )
    # ordered=False (r13): consumers that re-aggregate or collect the
    # pair list (d09/d17's connected components, c01's prune set) skip
    # the global sort — a range exchange PLUS the range-partitioner's
    # sampling pass of the whole verify subtree. Row set identical.
    return out.orderBy("doc_a", "doc_b") if ordered else out


# Skew guard for the LSH band self-join (SCALE.md "cap bucket size
# with a count-filter"): a degenerate bucket with B members fans out
# B·(B-1)/2 candidate pairs — one boilerplate cluster of 10⁵ docs is
# 5·10⁹ pairs from a single bucket. OFF by default (None) because
# dropping a bucket trades recall for boundedness: docs in a skipped
# bucket can still pair through their other BANDS-1 bands, but a pair
# agreeing ONLY in the capped band is lost. Set to a positive int per
# corpus when fanout is pathological.
LSH_BUCKET_CAP: int | None = None

# sentinel: distinguishes "caller did not choose" (-> module default)
# from an explicit bucket_cap=None opt-out (incremental band STORES
# must never cap: their occupancy counts would be per-batch, not
# cumulative, silently disabling the guard for slowly-accreting
# buckets while dropping early batches' rows on partial counts)
_CAP_UNSET = object()


def banded_sigs(docs: DataFrame, bucket_cap=_CAP_UNSET) -> DataFrame:
    """(doc_id, band_id, bucket) LSH band rows from hashed docs — the
    join key relation both the batch (d03) and incremental paths use.
    The bucket key packs the band's minhash rows (values < 2^30
    each). ``bucket_cap`` (default module ``LSH_BUCKET_CAP``) drops
    band rows in buckets with more than that many members BEFORE the
    self-join, bounding per-bucket candidate fanout to cap·(cap-1)/2;
    the occupancy count shuffles on the same (band_id, bucket) key the
    downstream join needs, so it adds no new shuffle shape."""
    if bucket_cap is _CAP_UNSET:
        bucket_cap = LSH_BUCKET_CAP
    sigs = docs.selectExpr("doc_id", *_minhash_sig("shh"))
    rows_per_band = MINHASH_K // BANDS
    band_structs = []
    for b in range(BANDS):
        bucket = "CAST(0 AS BIGINT)"
        for r in range(rows_per_band):
            bucket = f"({bucket} * 1000000007 + mh{b * rows_per_band + r})"
        band_structs.append(f"struct({b} AS band_id, {bucket} AS bucket)")
    out = sigs.selectExpr(
        "doc_id", f"explode(array({', '.join(band_structs)})) AS bb"
    ).select("doc_id", "bb.band_id", "bb.bucket")
    return cap_band_rows(out, bucket_cap)


def cap_band_rows(bands: DataFrame, bucket_cap=_CAP_UNSET) -> DataFrame:
    """Apply the LSH skew guard to an existing band-row relation —
    factored out of :func:`banded_sigs` so the incremental path can
    store UNCAPPED rows (cumulative occupancy) yet apply the SAME
    guard at query time over the accumulated relation (review: the
    ingest join previously bypassed the cap entirely, diverging from
    d20 whenever LSH_BUCKET_CAP is set and leaving a degenerate
    stored bucket free to fan out B x batch candidate pairs)."""
    if bucket_cap is _CAP_UNSET:
        bucket_cap = LSH_BUCKET_CAP
    if bucket_cap is None:
        return bands
    w = Window.partitionBy("band_id", "bucket")
    return (
        bands.withColumn("_bc", F.count(F.lit(1)).over(w))
        .filter(F.col("_bc") <= F.lit(int(bucket_cap)))
        .drop("_bc")
    )


# the single resident cache slot for untracked minhash_lsh_pairs
# callers lives in bcache._SLOTS["dedup.minhash_lsh_pairs.docs"] —
# released on the NEXT untracked call (r13: the ADVICE_r11 one-off
# list generalized to the shared bounded-slot registry)


def minhash_lsh_pairs(
    d: DataFrame, persisted: list | None = None, ordered: bool = True
) -> DataFrame:
    """MinHash + LSH verified near-dup pairs over ANY (doc_id, text,
    source) relation — the parameterized core: d03 runs it over the
    raw ``documents`` table, the composed curation pipeline (c01) over
    its stage-3 survivors' SCRUBBED text (VERDICT_r10 #3 — scrubbing
    changes text and therefore signatures, so composing on the raw
    corpus is not the same pipeline). ``persisted`` collects the
    internal cache so composed callers can unpersist after
    materializing.

    Candidate pairs come from an equi-join on (band_id, bucket) — the
    100 TB path (shuffle keyed by bucket, never a cross join) — then
    only the candidates pay the exact-Jaccard verification.
    """
    # cached: consumed by the signatures and the verify join-back
    # (measured +27% at sf0.1 without the cache, so the persist stays)
    if persisted is not None:
        # callers with a lifecycle (c01) release deterministically
        docs = hash_docs(d).persist()
        persisted.append(docs)
    else:
        # ADVICE_r11: an untracked call (the plain d03 registry path)
        # previously leaked one cached frame PER INVOCATION for the
        # session's lifetime. The bounded slot drops the PREVIOUS
        # untracked cache so at most one untracked frame is ever
        # resident — bounded by one, not by invocation count. A
        # still-unmaterialized DataFrame returned by an earlier call
        # simply recomputes.
        docs = bounded_persist(hash_docs(d), "dedup.minhash_lsh_pairs.docs")
    banded = banded_sigs(docs)

    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        # no dropDuplicates (r13): _verify_jaccard's pair aggregate
        # dedups the ≤BANDS-multiplicity candidates in the same
        # exchange that reassembles the shingle arrays
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    return _verify_jaccard(cand, docs, ordered=ordered)


def d03_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup detection over ``documents`` — see
    :func:`minhash_lsh_pairs` for the plan shape."""
    return minhash_lsh_pairs(Tables(spark, sf_dir).documents)


D06_TILE_ROWS = 1024  # gram-matrix tile height: bounds per-task memory


def d06_embedding_near_dup(
    spark: SparkSession, sf_dir: str, cells: DataFrame | None = None
) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by the IVF coarse-
    quantizer cell (``similarity.centroid_cells``) — the geometric
    blocking key that replaces brute force at scale, not a metadata
    label. A caller that already holds the cell assignment (d11)
    passes it in so the quantizer isn't rebuilt.

    Each cell block is scored with vectorized numpy (float64) inside
    ``applyInPandas`` — the interpreted per-pair HOF fold version of
    this operator was 5x slower at sf0.1. The gram matrix is computed
    in fixed-height TILES so a skewed cell costs bounded memory
    (O(TILE × block) per step, never O(block²) at once); output is
    identical to the whole-matrix form. Numpy's pairwise summation
    differs from a sequential fold only in the last ulp; cosines of
    real-valued data sit on a round-4 or threshold boundary with
    probability ~0, so the oracle comparison holds (unlike
    decimal-money averages, which DO need the round-sum-first
    treatment — see q01).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from .similarity import centroid_cells

    e = Tables(spark, sf_dir).embeddings
    if cells is None:
        cells = centroid_cells(spark, sf_dir).select("vec_id", "cell")
    out_schema = T.StructType(
        [
            T.StructField("vec_a", T.LongType()),
            T.StructField("vec_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.array(list(pdf["embedding"]), dtype=np.float64)
        ids = pdf["vec_id"].values
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        n = len(ids)
        cols = np.arange(n)
        outs = []
        for s0 in range(0, n, D06_TILE_ROWS):
            tile = m[s0 : s0 + D06_TILE_ROWS] @ m.T  # (t, n)
            rows = np.arange(s0, min(s0 + D06_TILE_ROWS, n))[:, None]
            sims = np.round(tile, 4)
            keep = (cols[None, :] > rows) & (sims >= COSINE_DUP_THRESHOLD)
            ia, ib = np.nonzero(keep)
            a_ids, b_ids = ids[ia + s0], ids[ib]
            outs.append(
                pd.DataFrame(
                    {
                        # enforce vec_a < vec_b regardless of block row order
                        "vec_a": np.minimum(a_ids, b_ids),
                        "vec_b": np.maximum(a_ids, b_ids),
                        "cosine": sims[ia, ib],
                    }
                )
            )
        if not outs:
            return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []})
        return pd.concat(outs, ignore_index=True)

    return (
        e.select("vec_id", "embedding")
        .join(cells, "vec_id")
        .groupBy("cell")
        .applyInPandas(score_block, out_schema)
        .orderBy("vec_a", "vec_b")
    )


def _minhash_sig_sql() -> str:
    cols = ", ".join(
        f"list_min(list_transform(shh, h -> {affine_sql('h', a, b)})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS[:MINHASH_K])
    )
    return cols


def _band_rows_sql() -> str:
    rows_per_band = MINHASH_K // BANDS
    selects = []
    for b in range(BANDS):
        expr = "0::BIGINT"
        for r in range(rows_per_band):
            expr = f"(({expr}) * 1000000007 + mh{b * rows_per_band + r})"
        selects.append(f"SELECT doc_id, sh, {b} AS band_id, {expr} AS bucket FROM sigs")
    return " UNION ALL ".join(selects)


def d03_pairs_sql(source: str = "documents") -> str:
    """The d03 oracle's pair-generation SQL, parameterized by source
    relation — the DuckDB twin of :func:`minhash_lsh_pairs`, so the
    c01 composed-pipeline oracle can run the IDENTICAL spec over its
    stage-3 survivor CTE instead of the raw table."""
    return """
        WITH docs AS (
            SELECT doc_id, {_SHINGLES_SQL} AS sh
            FROM {source}
            WHERE len(string_split(text,' ')) >= 3
        ), hashed AS (
            SELECT doc_id, sh, list_transform(sh, s -> {h64_s}) AS shh FROM docs
        ), sigs AS (
            SELECT doc_id, sh, {sig_sql} FROM hashed
        ), banded AS (
            {band_sql}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM banded a JOIN banded b
              ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        ), verified AS (
            SELECT doc_a, doc_b,
                   round(len(list_intersect(da.sh, db.sh))::DOUBLE
                         / len(list_distinct(da.sh || db.sh)), 4) AS jaccard
            FROM cand
            JOIN docs da ON da.doc_id = doc_a
            JOIN docs db ON db.doc_id = doc_b
        )
        SELECT doc_a, doc_b, jaccard FROM verified
        WHERE jaccard >= {threshold}
        ORDER BY doc_a, doc_b
    """.format(
        source=source,
        threshold=JACCARD_THRESHOLD,
        _SHINGLES_SQL=_SHINGLES_SQL,
        h64_s=h64_sql("s"),
        sig_sql=_minhash_sig_sql(),
        band_sql=_band_rows_sql(),
    )


ORACLE: dict[str, str] = {
    "d01_dedup_exact": f"""
        WITH hashed AS (
            SELECT doc_id, {h64_sql('text')} AS content_hash FROM documents
        ), clusters AS (
            SELECT content_hash, min(doc_id) AS keeper_id, count(*) AS cluster_size
            FROM hashed GROUP BY content_hash
        )
        SELECT h.doc_id, c.keeper_id, c.cluster_size,
               (h.doc_id <> c.keeper_id)::INT AS is_dup
        FROM hashed h JOIN clusters c USING (content_hash)
    """,
    "d03_minhash_lsh": d03_pairs_sql(),
    "d06_embedding_near_dup": f"""
        WITH v AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        ), dims AS (
            SELECT label, i.i AS pos, v[i.i] AS x
            FROM v CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
        ), cent_dims AS (
            SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos
        ), cent AS (
            SELECT label AS cent_label, list(c ORDER BY pos) AS cv
            FROM cent_dims GROUP BY label
        ), scored AS (
            SELECT v.vec_id, cent.cent_label,
                   list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i])
                              for i in generate_series(1, 64) ]) AS d2
            FROM v CROSS JOIN cent
        ), cells AS (
            SELECT vec_id, cent_label AS cell
            FROM (SELECT vec_id, cent_label,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY d2 ASC, cent_label) AS rn
                  FROM scored)
            WHERE rn = 1
        ), blocked AS (
            SELECT v.vec_id, cells.cell, v.v FROM v JOIN cells USING (vec_id)
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               round(
                 list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))])
                 / (sqrt(list_sum([x * x for x in a.v]))
                    * sqrt(list_sum([x * x for x in b.v]))), 4) AS cosine
        FROM blocked a JOIN blocked b ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE round(
                 list_sum([a.v[i] * b.v[i] for i in generate_series(1, len(a.v))])
                 / (sqrt(list_sum([x * x for x in a.v]))
                    * sqrt(list_sum([x * x for x in b.v]))), 4) >= {COSINE_DUP_THRESHOLD}
        ORDER BY vec_a, vec_b
    """,
}

QUERIES = {
    "d01_dedup_exact": d01_dedup_exact,
    "d03_minhash_lsh": d03_minhash_lsh,
    "d06_embedding_near_dup": d06_embedding_near_dup,
}


PHRASE_K = 5  # phrase length (words) for boilerplate mining
PHRASE_MIN_DOCS = 3  # phrase must appear in >= this many distinct docs


def d07_phrase_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus repeated-phrase mining (boilerplate detection): the
    word 5-grams that recur across ``PHRASE_MIN_DOCS``+ distinct
    documents, with occurrence and document counts — what a training
    pipeline strips before near-dedup (CCNet-style boilerplate pass).

    Plan shape: explode (doc, phrase-hash) → one hash aggregate keyed
    by the 60-bit phrase hash (the shuffle carries 8-byte keys, never
    phrase text; the representative phrase rides along as a min() so
    output is human-readable). Linear in corpus size.
    """
    d = Tables(spark, sf_dir).documents
    dw = d.withColumn("w", _words()).filter(F.size("w") >= PHRASE_K)
    w = F.col("w")
    phrases = F.transform(
        F.sequence(F.lit(1), F.size(w) - (PHRASE_K - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(PHRASE_K)]),
    )
    exploded = dw.select("doc_id", F.explode(phrases).alias("phrase")).select(
        "doc_id", "phrase", h64(F.col("phrase")).alias("ph")
    )
    return (
        exploded.groupBy("ph")
        .agg(
            F.min("phrase").alias("phrase"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= PHRASE_MIN_DOCS)
        .select("phrase", "n_occurrences", "n_docs")
    )


ORACLE["d07_phrase_dedup"] = f"""
    WITH dw AS (
        SELECT doc_id, string_split(text,' ') AS w
        FROM documents
        WHERE len(string_split(text,' ')) >= {PHRASE_K}
    ), exploded AS (
        SELECT doc_id,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]
                       for i in generate_series(1, len(w) - {PHRASE_K - 1})]) AS phrase
        FROM dw
    )
    SELECT min(phrase) AS phrase,
           count(*) AS n_occurrences,
           count(DISTINCT doc_id) AS n_docs
    FROM exploded
    GROUP BY {h64_sql('phrase')}
    HAVING count(DISTINCT doc_id) >= {PHRASE_MIN_DOCS}
"""

QUERIES["d07_phrase_dedup"] = d07_phrase_dedup


DECON_N = 3  # n-gram width for decontamination overlap
DECON_BENCH_MOD = 50  # doc_id % MOD == 0 -> held-out benchmark set


def d08_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing
    ``DECON_N``-gram content with a held-out benchmark/eval set (here a
    deterministic doc_id slice stands in for the benchmark corpus) —
    the n-gram-overlap decontamination step every LLM training pipeline
    runs before training (GPT-3 appendix C / PaLM-style).

    Plan shape: both sides reduce to per-doc DISTINCT n-gram hash sets —
    the SAME ``_hashed_docs`` relation every shingle-based dedup op
    shares (``DECON_N`` = the shingle width), hashed once and persisted
    so neither branch re-pays the md5 pass (and the un-persisted plan
    re-evaluates the gram-array expression per exploded element — a
    measured 10× penalty). The benchmark side collapses to a global
    distinct-hash set that is tiny relative to the corpus (eval suites
    are MBs, corpora are TBs), so it broadcasts — the corpus is scanned
    once, exploded, and hash-joined map-side with NO shuffle of corpus
    data. Per-doc hit counts then aggregate on doc_id.
    """
    docs = bounded_persist(_hashed_docs(spark, sf_dir), "dedup.d08.docs")
    bench = (
        docs.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(F.explode("shh").alias("g"))
        .distinct()
    )
    corpus = docs.filter(F.col("doc_id") % DECON_BENCH_MOD != 0).select(
        "doc_id", F.col("n_sh").alias("n_ngrams"), F.explode("shh").alias("g")
    )
    hits = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.first("n_ngrams").alias("n_ngrams"), F.count(F.lit(1)).alias("n_hits"))
    )
    return hits.select(
        "doc_id",
        "n_ngrams",
        "n_hits",
        # >=10% distinct-ngram overlap -> contaminated (integer cross-
        # multiplication, no float ratio at the gate)
        (F.col("n_hits") * 10 >= F.col("n_ngrams")).cast("int").alias("contaminated"),
    ).orderBy("doc_id")


ORACLE["d08_decontaminate"] = f"""
    WITH dw AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents
        WHERE len(string_split(text, ' ')) >= {DECON_N}
    ), hashed AS (
        SELECT doc_id,
               list_distinct([
                   {h64_sql("array_to_string(w[i : i + " + str(DECON_N - 1) + "], ' ')")}
                   for i in generate_series(1, len(w) - {DECON_N - 1})]) AS gs
        FROM dw
    ), bench AS (
        SELECT DISTINCT unnest(gs) AS g FROM hashed WHERE doc_id % {DECON_BENCH_MOD} = 0
    ), corpus AS (
        SELECT doc_id, len(gs) AS n_ngrams, unnest(gs) AS g
        FROM hashed WHERE doc_id % {DECON_BENCH_MOD} != 0
    )
    SELECT doc_id,
           any_value(n_ngrams)  AS n_ngrams,
           count(*)             AS n_hits,
           (count(*) * 10 >= any_value(n_ngrams))::INT AS contaminated
    FROM corpus JOIN bench USING (g)
    GROUP BY doc_id
    ORDER BY doc_id
"""

QUERIES["d08_decontaminate"] = d08_decontaminate


CC_MAX_ITERS = 20  # safety cap; min-label propagation converges in O(component diameter)
# Below this edge count the whole CC problem fits comfortably on the
# driver (an edge is two longs; 2M edges ≈ 32 MB) and a union-find pass
# beats N distributed join rounds by an order of magnitude in latency.
# Above it, fall back to the distributed propagation loop.
CC_DRIVER_MAX_EDGES = 2_000_000


def _cc_union_find(edge_rows) -> dict:
    """Driver-side connected components: union-find with path halving,
    then relabel every node with the min node-id of its component.
    Returns {node: min_label}."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            parent[r] = parent[parent[r]]
            r = parent[r]
        return r

    for a, b in edge_rows:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # second pass: with unions always pointing larger->smaller roots,
    # the final root IS the component minimum
    return {n: find(n) for n in parent}


def d09_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    LSH-verified near-dup pairs (d03), labelling every involved doc
    with the minimum doc_id of its component — the post-step that turns
    a pair list into keep/drop groups (pick one representative per
    cluster, drop the rest).

    Spark has no CC builtin; this is a cardinality-gated hybrid:

    * The near-dup edge list is orders of magnitude smaller than the
      corpus (pairs that SURVIVED exact-Jaccard verification). When it
      fits the driver (``CC_DRIVER_MAX_EDGES``, ~32 MB of longs), run
      union-find locally — one collect of the pair list, zero extra
      Spark stages. This is the common case even at 100 TB corpus
      scale, because the edge list scales with the duplicate count,
      not the corpus.
    * Over the cap, iterative min-label propagation: each round every
      node takes the min of its own and its neighbours' labels until a
      fixpoint. Rounds = component diameter (tiny for near-dup
      clusters); each round is one equi-join + hash-agg on the edge
      list, never touching the corpus.

    Both paths produce the identical fixpoint (min doc_id per
    component) — the DuckDB oracle computes the same components via a
    recursive transitive closure, and the pytest suite drives the
    distributed path explicitly with the cap forced to 0.
    """
    pairs = bounded_persist(
        minhash_lsh_pairs(Tables(spark, sf_dir).documents, ordered=False).select(
            "doc_a", "doc_b"
        ),
        "dedup.d09.pairs",
    )
    n_pairs = pairs.count()
    if n_pairs <= CC_DRIVER_MAX_EDGES:
        comp = _cc_union_find((r["doc_a"], r["doc_b"]) for r in pairs.collect())
        sizes: dict = {}
        for lbl in comp.values():
            sizes[lbl] = sizes.get(lbl, 0) + 1
        out = local_df(
            spark,
            [(n, lbl, sizes[lbl]) for n, lbl in comp.items()],
            "doc_id long, cluster_id long, cluster_size long",
        )
        return out.orderBy("doc_id")
    return _cc_propagate(spark, pairs)


def _cc_propagate(
    spark: SparkSession, pairs: DataFrame, stats: dict | None = None
) -> DataFrame:
    """Distributed min-label propagation over the (doc_a, doc_b) pair
    list — the over-cap path of d09. See d09_dup_clusters.

    ``stats`` (optional dict) receives ``{"iterations": n}`` — the
    number of propagation rounds to fixpoint, which must stay within
    the component-diameter bound (benched per-round in bench.py)."""
    fwd = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    # collapse the edge list to a few partitions so each propagation
    # round is a handful of tasks, not 32 × stages of scheduling
    # overhead. At a scale where the pair list itself is huge, raise
    # the partition count with it — the plan shape is unchanged.
    edges = bounded_persist(
        fwd.union(fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition(2),
        "dedup._cc_propagate.edges",
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        # plain persist: round 1 releases it via `cached` below (the
        # zero-round case is impossible — CC_MAX_ITERS >= 1)
        .persist()
    )
    labels.count()
    # `cached` always points at the PERSISTED frame backing `labels`:
    # unpersist() must be called on the exact cached plan — calling it
    # on a select() over it is a silent no-op (r13 fix: the previous
    # per-round `labels.unpersist()` released round 1's init frame but
    # no-op'ed on every later round's projected frame, leaking one
    # cached round per iteration).
    cached = labels
    n_iters = 0
    for _ in range(CC_MAX_ITERS):
        n_iters += 1
        nbr = (
            edges.join(labels, edges.src == labels.doc_id)
            .groupBy(F.col("dst").alias("nbr_of"))
            .agg(F.min("label").alias("nbr_min"))
        )
        new = (
            labels.join(nbr, labels.doc_id == nbr.nbr_of, "left")
            .select(
                "doc_id",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_min", F.col("label"))
                ).alias("label"),
            )
            .persist()
        )
        # convergence check rides the same relation — no extra join
        # (materializes `new` BEFORE the previous round's frame is
        # released below — the release order is load-bearing: dropping
        # the old cache first would force every round to recompute its
        # whole ancestry)
        changed = new.filter(F.col("label") != F.col("old_label")).count()
        cached.unpersist()
        cached = new
        labels = new.select("doc_id", "label")
        if changed == 0:
            break
    if stats is not None:
        stats["iterations"] = n_iters
    # the loop released every intermediate round; the final round's
    # cached frame backs the returned plan and must stay resident for
    # the caller — hand it to the bounded slot so the NEXT invocation
    # releases it instead of leaking one frame per call (r13,
    # VERDICT_r12 #5). _register only: it is already persisted.
    _register_bounded(cached, "dedup._cc_propagate.labels")
    sizes = labels.groupBy(F.col("label").alias("cluster_of")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, labels.label == sizes.cluster_of)
        .select("doc_id", F.col("label").alias("cluster_id"), "cluster_size")
        .orderBy("doc_id")
    )


ORACLE["d09_dup_clusters"] = f"""
    WITH RECURSIVE pairs AS (
        SELECT doc_a, doc_b FROM ({ORACLE["d03_minhash_lsh"]}) t
    ), edges AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b, doc_a FROM pairs
    ), reach(src, dst) AS (
        SELECT src, dst FROM edges
        UNION
        SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ), mapping AS (
        SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
        FROM reach GROUP BY src
    )
    SELECT doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM mapping
    ORDER BY doc_id
"""

QUERIES["d09_dup_clusters"] = d09_dup_clusters


# ---------------------------------------------------------------------------
# d10: partial-overlap / containment dedup via winnowing fingerprints
# ---------------------------------------------------------------------------

D10_K = 3  # shingle width (words) for the fingerprint base
D10_W = 4  # winnowing window (hashes) — guarantees shared runs >= K+W-1 words share a fp
D10_DF_CAP = 20  # drop boilerplate fingerprints present in more docs than this
# containment threshold 0.8 as an integer cross-multiplication
D10_NUM, D10_DEN = 4, 5


def d10_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment (asymmetric near-dup) detection: pairs where the
    smaller document's winnowing-fingerprint set is >= 80% contained in
    the larger's — the quote/excerpt/superset case symmetric Jaccard
    (d03) under-scores. Fingerprints are SIGMOD'03 winnowing mins
    (t07's local fingerprints), so any shared run of ``K + W - 1``
    words is guaranteed to contribute.

    Plan shape (the 100 TB one): per-doc fingerprints → inverted index
    on the 60-bit fp → document-frequency cap (fps in > ``D10_DF_CAP``
    docs are boilerplate and generate quadratic fanout for no signal —
    dropping them is the standard stop-fingerprint trick; containment
    is then defined over the informative fps on BOTH sides) →
    equi-join on fp → per-pair intersection counts → integer threshold.
    Cost ∝ co-occurrence with per-fp fanout bounded by the cap, never
    docs². All outputs integer-exact.
    """
    d = Tables(spark, sf_dir).documents
    dw = d.withColumn("w", _words()).filter(F.size("w") >= D10_K + D10_W - 1)
    w = F.col("w")
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + j) for j in range(D10_K)]
    )
    hashes = F.transform(
        F.sequence(F.lit(1), F.size(w) - (D10_K - 1)), lambda i: h64(shingle(i))
    )
    dh = dw.select("doc_id", hashes.alias("hs"))
    h = F.col("hs")
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(h) - D10_W),
            lambda i: F.array_min(F.slice(h, i + 1, D10_W)),
        )
    )
    # persist: the fp relation feeds the df-cap, the size table and both
    # join sides — without it the winnowing expression re-evaluates 4x
    fps = bounded_persist(dh.select("doc_id", F.explode(mins).alias("fp")), "dedup.d10.fps")
    informative = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).filter(
        F.col("df") <= D10_DF_CAP
    )
    good = bounded_persist(fps.join(informative.select("fp"), "fp"), "dedup.d10.good")
    counts = good.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    a, b = good.alias("a"), good.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(F.col("inter") * D10_DEN >= D10_NUM * F.least("n_a", "n_b"))
        .select("doc_a", "doc_b", "inter", "n_a", "n_b")
        .orderBy("doc_a", "doc_b")
    )


ORACLE["d10_containment"] = f"""
    WITH dw AS (
        SELECT doc_id, string_split(text,' ') AS w
        FROM documents
        WHERE len(string_split(text,' ')) >= {D10_K + D10_W - 1}
    ), dh AS (
        SELECT doc_id,
               [{h64_sql("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}
                for i in generate_series(1, len(w) - {D10_K - 1})] AS hs
        FROM dw
    ), fps AS (
        SELECT doc_id,
               unnest(list_distinct([list_min(hs[i+1:i+{D10_W}])
                                     for i in generate_series(0, len(hs) - {D10_W})])) AS fp
        FROM dh
    ), informative AS (
        SELECT fp FROM fps GROUP BY fp HAVING count(*) <= {D10_DF_CAP}
    ), good AS (
        SELECT doc_id, fp FROM fps JOIN informative USING (fp)
    ), counts AS (
        SELECT doc_id, count(*) AS n_fp FROM good GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM good a JOIN good b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter, ca.n_fp AS n_a, cb.n_fp AS n_b
    FROM pairs
    JOIN counts ca ON pairs.doc_a = ca.doc_id
    JOIN counts cb ON pairs.doc_b = cb.doc_id
    WHERE inter * {D10_DEN} >= {D10_NUM} * least(ca.n_fp, cb.n_fp)
    ORDER BY doc_a, doc_b
"""

QUERIES["d10_containment"] = d10_containment


# ---------------------------------------------------------------------------
# d11: SemDeDup — semantic dedup prune decisions
# ---------------------------------------------------------------------------


def d11_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): per-item keep/prune decisions from
    embedding similarity inside coarse-quantizer clusters. d06 emits
    the near-dup PAIR list; this operator emits what a pipeline
    actually applies — one row per vector with its cluster and a kept
    flag, pruning every vector that has a lower-id neighbor at cosine
    ≥ threshold in its cell (so exactly one deterministic
    representative survives each duplicate chain's head).

    Plan shape: the pair list comes from the same tiled-numpy
    cell-blocked scorer as d06 (cost bounded per cell, never corpus²);
    the prune set is its distinct ``vec_b`` projection — a tiny
    relation that LEFT ANTI semi-joins back onto the corpus without
    moving embeddings. At 100 TB the decision column lands next to the
    vectors as a pushdown-friendly filter, like curation's mixture flag.
    """
    from .similarity import centroid_cells

    e = Tables(spark, sf_dir).embeddings
    # persist: the cell assignment feeds the pair scorer AND the
    # output projection — share it so the quantizer builds once
    cells = bounded_persist(centroid_cells(spark, sf_dir).select("vec_id", "cell"), "dedup.d11.cells")
    pruned = (
        d06_embedding_near_dup(spark, sf_dir, cells=cells)
        .select(F.col("vec_b").alias("vec_id"))
        .distinct()
        .withColumn("_pruned", F.lit(1))
    )
    return (
        e.select("vec_id")
        .join(cells, "vec_id")
        .join(F.broadcast(pruned), "vec_id", "left")
        .select(
            "vec_id",
            "cell",
            F.when(F.col("_pruned").isNull(), 1).otherwise(0).alias("kept"),
        )
        .orderBy("vec_id")
    )


# The cells + pair CTEs mirror ORACLE["d06_embedding_near_dup"]
# verbatim; the final SELECT flips the pair list into per-vector
# keep/prune decisions.
ORACLE["d11_semdedup"] = f"""
    WITH pairs AS (
        SELECT vec_a, vec_b FROM ({ORACLE["d06_embedding_near_dup"]}) p
    ), v AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    ), dims AS (
        SELECT label, i.i AS pos, v[i.i] AS x
        FROM v CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS i) i
    ), cent_dims AS (
        SELECT label, pos, avg(x) AS c FROM dims GROUP BY label, pos
    ), cent AS (
        SELECT label AS cent_label, list(c ORDER BY pos) AS cv
        FROM cent_dims GROUP BY label
    ), scored AS (
        SELECT v.vec_id, cent.cent_label,
               list_sum([ (v.v[i] - cent.cv[i]) * (v.v[i] - cent.cv[i])
                          for i in generate_series(1, 64) ]) AS d2
        FROM v CROSS JOIN cent
    ), cells AS (
        SELECT vec_id, cent_label AS cell
        FROM (SELECT vec_id, cent_label,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d2 ASC, cent_label) AS rn
              FROM scored)
        WHERE rn = 1
    ), pruned AS (SELECT DISTINCT vec_b AS vec_id FROM pairs)
    SELECT c.vec_id, c.cell,
           (p.vec_id IS NULL)::INT AS kept
    FROM cells c LEFT JOIN pruned p ON c.vec_id = p.vec_id
    ORDER BY c.vec_id
"""

QUERIES["d11_semdedup"] = d11_semdedup


# ---------------------------------------------------------------------------
# d12: span-level dedup (duplicated-window coverage per document)
# ---------------------------------------------------------------------------

SPAN_W = 10  # rolling window width (words)


def d12_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level dedup decisions — the n-gram-granular proxy for exact
    substring deduplication (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better"): for every document, how many
    of its rolling 10-word windows occur anywhere else in the corpus,
    and how many token positions those duplicated windows cover (the
    text a span-dedup pass would remove). d07 ranks corpus-wide
    phrases; this emits the per-document removal budget a pipeline
    applies.

    Plan shape: explode (doc, pos, window-hash) → one equi-join against
    the window-occurrence counts keyed by the 60-bit hash (shuffle
    carries 8-byte keys + positions, never text) → per-doc interval
    union via one lead() window (union of equal-width intervals =
    Σ min(W, gap)). Linear in corpus size; the suffix-array exact
    algorithm doesn't distribute, this shape does.
    """
    from pyspark.sql.window import Window as W_

    d = Tables(spark, sf_dir).documents
    dw = d.withColumn("w", _words()).filter(F.size("w") >= SPAN_W)
    w = F.col("w")
    spans = F.transform(
        F.sequence(F.lit(1), F.size(w) - (SPAN_W - 1)),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", *[F.element_at(w, i + j) for j in range(SPAN_W)]).alias(
                "sp"
            ),
        ),
    )
    # persist: the hashed window relation feeds BOTH the occurrence
    # counts and the join-back; without it the window concat+md5 (the
    # dominant cost) evaluates twice (t17's lesson)
    ex = bounded_persist(
        dw.select("doc_id", F.explode(spans).alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), h64(F.col("s.sp")).alias("h")),
        "dedup.d12.ex",
    )
    counts = ex.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))
    dup = (
        ex.join(counts, "h")
        .filter(F.col("cnt") >= 2)
        .withColumn(
            "c",
            F.least(
                F.lit(SPAN_W),
                F.coalesce(
                    F.lead("pos").over(W_.partitionBy("doc_id").orderBy("pos"))
                    - F.col("pos"),
                    F.lit(SPAN_W),
                ),
            ),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_dup"), F.sum("c").alias("covered"))
    )
    return (
        dw.select("doc_id", (F.size("w") - (SPAN_W - 1)).alias("n_windows"))
        .join(dup, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            F.coalesce("n_dup", F.lit(0)).alias("n_dup_windows"),
            F.coalesce("covered", F.lit(0)).alias("covered_tokens"),
        )
        .orderBy("doc_id")
    )


_SPAN_SQL = " || ' ' || ".join(f"w[i+{j}]" for j in range(SPAN_W)).replace(
    "w[i+0]", "w[i]"
)

ORACLE["d12_span_dedup"] = f"""
    WITH dw AS (
        SELECT doc_id, string_split(text, ' ') AS w
        FROM documents
        WHERE len(string_split(text, ' ')) >= {SPAN_W}
    ), ex AS (
        SELECT doc_id, u.pos AS pos, u.h AS h
        FROM (
            SELECT doc_id,
                   unnest([{{'pos': i, 'h': {h64_sql(_SPAN_SQL)}}}
                           for i in generate_series(1, len(w) - {SPAN_W - 1})]) AS u
            FROM dw
        )
    ), counts AS (
        SELECT h, count(*) AS cnt FROM ex GROUP BY h
    ), dup AS (
        SELECT ex.doc_id, ex.pos FROM ex JOIN counts USING (h) WHERE cnt >= 2
    ), contrib AS (
        SELECT doc_id,
               least({SPAN_W},
                     coalesce(lead(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                              - pos, {SPAN_W})) AS c
        FROM dup
    ), cov AS (
        SELECT doc_id, count(*) AS n_dup, sum(c)::BIGINT AS covered
        FROM contrib GROUP BY doc_id
    )
    SELECT dw.doc_id,
           len(dw.w) - {SPAN_W - 1} AS n_windows,
           coalesce(n_dup, 0)::BIGINT   AS n_dup_windows,
           coalesce(covered, 0)::BIGINT AS covered_tokens
    FROM dw LEFT JOIN cov USING (doc_id)
    ORDER BY dw.doc_id
"""

QUERIES["d12_span_dedup"] = d12_span_dedup


# ---------------------------------------------------------------------------
# d13: edit-distance near-dup (blocked pairwise Levenshtein)
# ---------------------------------------------------------------------------

D13_PFX = 24  # blocking prefix chars
D13_LEN_BUCKET = 16  # blocking length-bucket width
D13_CMP = 128  # chars of text compared
D13_MAX_DIST = 16  # edit-distance threshold
# Below this surviving-pair count the final ordering funnels through a
# single task (a pair is 3 longs; 2M pairs ≈ 48 MB — comfortably one
# partition). Above it — a template-drift-heavy corpus at scale — use
# a global range-partitioned orderBy instead; the survivors are
# checkpointed first, so the orderBy's sampling pass reads the
# materialized blocks, never re-executing the blocking join.
D13_SINGLE_PART_MAX_PAIRS = 2_000_000


def _d13_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lazy blocked-Levenshtein pair list (the expensive part of d13,
    exposed unexecuted so plan tests can assert the join's shuffle
    carries bounded heads, never full text)."""
    d = Tables(spark, sf_dir).documents
    blocked = d.select(
        "doc_id",
        F.substring("text", 1, D13_CMP).alias("head"),
        F.substring("text", 1, D13_PFX).alias("pfx"),
        F.floor(F.length("text") / D13_LEN_BUCKET).alias("lb"),
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = a.join(
        b,
        (F.col("a.pfx") == F.col("b.pfx"))
        & (F.col("a.lb") == F.col("b.lb"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )
    # thresholded levenshtein: Spark's bounded DP is O(threshold * n)
    # instead of O(n^2) per pair and returns -1 past the bound, so the
    # keep-filter is `0 <= dist` — for kept pairs the value equals the
    # unbounded distance, which is what the DuckDB oracle computes
    return pairs.select(
        F.col("a.doc_id").alias("doc_id_a"),
        F.col("b.doc_id").alias("doc_id_b"),
        F.levenshtein(F.col("a.head"), F.col("b.head"), D13_MAX_DIST)
        .cast("long")
        .alias("dist"),
    ).filter(F.col("dist") >= 0)


def d13_editdist_near_dup(
    spark: SparkSession,
    sf_dir: str,
    single_part_max_pairs: int = D13_SINGLE_PART_MAX_PAIRS,
) -> DataFrame:
    """Character-level near-duplicate pairs via blocked Levenshtein —
    the edit-distance complement to token-set dedup (d03 misses
    single-character template drift). Classic record-linkage shape: a cheap deterministic blocking
    key (text prefix + length bucket) bounds the candidate set, the
    expensive exact distance runs only within blocks.

    Scale: the self-join is an equi-join on the block key, so cost is
    sum(block^2), not corpus^2 — prefix+length blocking keeps block
    occupancy single-digit on templated corpora (near-identical docs
    share both). Distance runs JVM-side (``F.levenshtein``) on fixed
    128-char prefixes so the comparison cost is bounded per pair;
    DuckDB's ``levenshtein`` is the same codepoint-based DP, verified
    by the hash gate.
    """
    survivors = _d13_survivors(spark, sf_dir)
    # Cardinality-gated final ordering (same pattern as d09): the
    # survivors are materialized once via localCheckpoint (lineage
    # truncated; blocks auto-cleaned by the ContextCleaner when the
    # reference drops, unlike persist() entries that outlive the call),
    # counted, and then ordered by whichever strategy the count
    # justifies. Under the cap a coalesce(1) in-task sort is cheapest
    # (no exchange at all — measured 0.96s vs 1.6s at sf0.1); over it,
    # a range-partitioned global orderBy keeps every task bounded.
    survivors = survivors.localCheckpoint(eager=False)
    if survivors.count() <= single_part_max_pairs:
        return survivors.coalesce(1).sortWithinPartitions("doc_id_a", "doc_id_b")
    return survivors.orderBy("doc_id_a", "doc_id_b")


ORACLE["d13_editdist_near_dup"] = f"""
    WITH blocked AS (
        SELECT doc_id,
               substr(text, 1, {D13_CMP}) AS head,
               substr(text, 1, {D13_PFX}) AS pfx,
               len(text) // {D13_LEN_BUCKET} AS lb
        FROM documents
    )
    SELECT a.doc_id AS doc_id_a,
           b.doc_id AS doc_id_b,
           levenshtein(a.head, b.head)::BIGINT AS dist
    FROM blocked a
    JOIN blocked b ON a.pfx = b.pfx AND a.lb = b.lb AND a.doc_id < b.doc_id
    WHERE levenshtein(a.head, b.head) <= {D13_MAX_DIST}
    ORDER BY doc_id_a, doc_id_b
"""

QUERIES["d13_editdist_near_dup"] = d13_editdist_near_dup


# ---------------------------------------------------------------------------
# d15: LSH candidate-generation audit (precision/recall vs exact Jaccard)
# ---------------------------------------------------------------------------

D15_SAMPLE_MOD = 5  # h64(doc_id) % 5 == 0 → ~20% deterministic audit sample


def d15_lsh_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-generation quality audit for the MinHash-LSH path
    (d03): on a DETERMINISTIC ~20% document sample, compare the
    band-bucket candidate pairs against ground-truth all-pairs exact
    Jaccard, reporting candidate recall (true pairs the bands caught)
    and precision (verification workload that was worth it) in basis
    points — s09's ANN-recall audit pattern, applied to dedup.

    Ground truth is EXACT pairwise Jaccard over the sample, computed
    through an inverted shingle index (explode →
    equi-join on hash → shared-count; pairs sharing zero shingles have
    Jaccard 0 < threshold and rightly never materialize) — an
    all-pairs array compare of the same sample measured ~60× slower at
    sf0.1. The hash-defined sample (h64(doc_id) % 5) keeps the audit's
    cost a fixed fraction of one dedup pass, reproducible across
    engines/retries; the measured rates estimate the full-corpus rates
    the way any audit sample does. At 100 TB this is the recurring
    data-quality job that decides whether BANDS/MINHASH_K need
    retuning.

    Output: ONE row — sample size, truth/candidate/hit counts,
    recall_bp, precision_bp (10000 when the denominator is 0).
    """
    docs = _hashed_docs(spark, sf_dir)
    sample = bounded_persist(
        docs.filter(h64(F.col("doc_id").cast("string")) % D15_SAMPLE_MOD == 0),
        "dedup.d15.sample",
    )

    inv = sample.select("doc_id", "n_sh", F.explode("shh").alias("h"))
    ia, ib = inv.alias("a"), inv.alias("b")
    shared = (
        ia.join(
            ib,
            (F.col("a.h") == F.col("b.h")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    jac = F.col("c") / (F.col("n_a") + F.col("n_b") - F.col("c"))
    truth = (
        shared.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )

    banded = banded_sigs(sample)
    ba, bb = banded.alias("a"), banded.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )

    # one job for all three pair counts (separate .count() actions
    # would recompute truth and cand once each for the hit join)
    n_docs = sample.count()
    marked = truth.select(
        "doc_a", "doc_b", F.lit(1).alias("is_t")
    ).join(
        cand.select("doc_a", "doc_b", F.lit(1).alias("is_c")),
        ["doc_a", "doc_b"],
        "full_outer",
    )
    row = marked.agg(
        F.coalesce(F.sum("is_t"), F.lit(0)).alias("t"),
        F.coalesce(F.sum("is_c"), F.lit(0)).alias("c"),
        F.coalesce(F.sum(F.col("is_t") * F.col("is_c")), F.lit(0)).alias("h"),
    ).collect()[0]
    n_truth, n_cand, n_hit = row["t"], row["c"], row["h"]
    sample.unpersist()
    return local_df(
        spark,
        [
            (
                n_docs,
                n_truth,
                n_cand,
                n_hit,
                (n_hit * 10000) // n_truth if n_truth else 10000,
                (n_hit * 10000) // n_cand if n_cand else 10000,
            )
        ],
        "n_sample_docs long, n_truth_pairs long, n_candidates long, "
        "n_hits long, recall_bp long, precision_bp long",
    )


ORACLE["d15_lsh_audit"] = f"""
    WITH docs AS (
        SELECT doc_id, {_SHINGLES_SQL} AS sh
        FROM documents
        WHERE len(string_split(text,' ')) >= 3
    ), hashed AS (
        SELECT doc_id, sh, list_transform(sh, s -> {h64_sql('s')}) AS shh FROM docs
    ), sample AS (
        SELECT * FROM hashed
        WHERE ({h64_sql('doc_id::VARCHAR')}) % {D15_SAMPLE_MOD} = 0
    ), truth AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM sample a JOIN sample b ON a.doc_id < b.doc_id
        WHERE round(len(list_intersect(a.shh, b.shh))::DOUBLE
                    / len(list_distinct(a.shh || b.shh)), 4)
              >= {JACCARD_THRESHOLD}
    ), sigs AS (
        SELECT doc_id, sh, {_minhash_sig_sql()} FROM sample
    ), banded AS (
        {_band_rows_sql()}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    ), hit AS (
        SELECT c.doc_a, c.doc_b FROM cand c
        JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT (SELECT count(*) FROM sample)::BIGINT AS n_sample_docs,
           (SELECT count(*) FROM truth)::BIGINT AS n_truth_pairs,
           (SELECT count(*) FROM cand)::BIGINT AS n_candidates,
           (SELECT count(*) FROM hit)::BIGINT AS n_hits,
           (CASE WHEN (SELECT count(*) FROM truth) = 0 THEN 10000
                 ELSE (SELECT count(*) FROM hit) * 10000
                      // (SELECT count(*) FROM truth) END)::BIGINT AS recall_bp,
           (CASE WHEN (SELECT count(*) FROM cand) = 0 THEN 10000
                 ELSE (SELECT count(*) FROM hit) * 10000
                      // (SELECT count(*) FROM cand) END)::BIGINT AS precision_bp
"""

QUERIES["d15_lsh_audit"] = d15_lsh_audit


# ---------------------------------------------------------------------------
# d16: cluster-representative selection (dedup canonicalization)
# ---------------------------------------------------------------------------


def d16_cluster_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonicalization step that turns d09's duplicate clusters
    into a keep/drop decision: per cluster, KEEP the longest member
    (n_chars DESC, doc_id ASC tiebreak — deterministic integer keys,
    never a float score) and count what drops. This is the step a
    training-data pipeline actually executes after near-dup detection;
    d09 labels clusters, d16 chooses survivors.

    Plan: d09's cluster mapping (duplicate-count-sized, NOT
    corpus-sized) joins doc metadata, one row_number window per
    cluster picks the keeper. At 100 TB the join keys are (doc_id →
    n_chars) longs; the corpus text never moves.

    Output: one row per multi-doc cluster — cluster_id, keeper, its
    length, cluster size, drops — largest clusters first.
    """
    clusters = d09_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    meta = Tables(spark, sf_dir).documents.select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_chars"), "doc_id")
    ranked = clusters.join(meta, "doc_id").withColumn(
        "rn", F.row_number().over(w)
    )
    return (
        ranked.groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("doc_id"))).alias("keeper_doc_id"),
            F.max(F.when(F.col("rn") == 1, F.col("n_chars"))).alias("keeper_chars"),
            F.count(F.lit(1)).alias("cluster_size"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
        .orderBy(F.desc("cluster_size"), "cluster_id")
    )


ORACLE["d16_cluster_keeper"] = f"""
    WITH clusters AS (
        SELECT doc_id, cluster_id FROM ({ORACLE["d09_dup_clusters"]}) t
    ),
    ranked AS (
        SELECT c.cluster_id, c.doc_id, d.n_chars,
               row_number() OVER (PARTITION BY c.cluster_id
                                  ORDER BY d.n_chars DESC, c.doc_id) AS rn
        FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    )
    SELECT cluster_id,
           max(CASE WHEN rn = 1 THEN doc_id END)::BIGINT AS keeper_doc_id,
           max(CASE WHEN rn = 1 THEN n_chars END)::BIGINT AS keeper_chars,
           count(*)::BIGINT AS cluster_size,
           (count(*) - 1)::BIGINT AS n_dropped
    FROM ranked
    GROUP BY cluster_id
    ORDER BY cluster_size DESC, cluster_id
"""

QUERIES["d16_cluster_keeper"] = d16_cluster_keeper


# ---------------------------------------------------------------------------
# d17: connected components via alternating star contraction (O(log n))
# ---------------------------------------------------------------------------


def d17_cc_alternating(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment by the alternating large-star /
    small-star contraction (graph.cc_alternating) — d09's answer
    computed with the O(log n)-round algorithm instead of O(component
    diameter) min-label propagation or the driver-side union-find.

    Same input (d03's verified near-dup pairs), same output contract
    (doc_id, cluster_id = component min doc_id, cluster_size), same
    oracle. The capability is the round bound: near-dup clusters are
    usually blobs, but adversarial corpora produce chains (A≈B≈C...
    with A≉C — the transitive-closure trap), and on a chain of 10k
    docs propagation needs 10k rounds while star contraction needs
    ~log n. That makes this the safe default at unknown component
    shape; the chain round-bound is pinned in
    tests/test_graph_properties.py.

    Scale: every round works on the duplicate-pair edge list (scales
    with duplicate count, not corpus size), as hash-agg + equi-join +
    distinct — no collect at any cardinality (unlike d09's gated
    union-find path), no cartesian.
    """
    from .graph import cc_alternating

    pairs = minhash_lsh_pairs(
        Tables(spark, sf_dir).documents, ordered=False
    ).select("doc_a", "doc_b")
    labels = cc_alternating(pairs)
    sizes = labels.groupBy(F.col("label").alias("cluster_of")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        labels.join(sizes, labels.label == sizes.cluster_of)
        .select("doc_id", F.col("label").alias("cluster_id"), "cluster_size")
        .orderBy("doc_id")
    )


# identical result contract to d09 — the oracle is shared verbatim
ORACLE["d17_cc_alternating"] = ORACLE["d09_dup_clusters"]
QUERIES["d17_cc_alternating"] = d17_cc_alternating


# ---------------------------------------------------------------------------
# d18: ingest-order novelty curve — marginal new content per source
# ---------------------------------------------------------------------------


def d18_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-order novelty curve: sources processed in name order,
    each scored by how many of its distinct 3-shingles appear in NO
    earlier source — the "is the next crawl snapshot worth ingesting"
    planning query. d14 estimates pairwise overlap from sketches; this
    is the EXACT sequential complement: marginal novel mass and the
    cumulative distinct-corpus growth curve, the numbers a curation
    pipeline tracks to decide when a source family has gone dry.

    First-seen attribution needs no per-pair work: one aggregate maps
    every shingle hash to its MIN source (first in ingest order); a
    shingle is novel to exactly that source. Per-source distinct
    counts and novel counts are two map-side-combinable aggregates
    over the same exploded projection; the cumulative curve is a
    window over the |sources|-row result.

    Plan shape at 100 TB: the heavy pass is the (shingle → min source)
    aggregate — shuffle keyed by 8-byte hashes, combiner-friendly,
    never a pairwise join; novelty then needs NO join back to the
    corpus (the min IS the attribution). Adding a new source re-runs
    incrementally: new shingles vs the maintained first-seen table
    (the q106 IVM pattern applies verbatim).
    """
    # explode_OUTER, not explode: a plain Generate makes Catalyst
    # infer `size(arr) > 0 AND isnotnull(arr)` and push it below the
    # projection WITH THE WHOLE SHINGLING+md5 EXPRESSION SUBSTITUTED
    # IN — the entire per-doc hash pipeline evaluated twice per row
    # (measured 4.5 s vs 0.8 s at sf0.1). outer=true has no non-empty
    # precondition, so nothing is inferred; the null row an empty doc
    # produces is dropped on the cheap exploded column instead.
    sh = (
        _hashed_docs(spark, sf_dir)
        .select("source", F.explode_outer("shh").alias("h"))
        .filter(F.col("h").isNotNull())
        .distinct()
    )
    first = sh.groupBy("h").agg(F.min("source").alias("first_source"))
    per_source = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_shingles"))
    novel = first.groupBy(F.col("first_source").alias("source")).agg(
        F.count(F.lit(1)).alias("n_novel")
    )
    w = Window.orderBy("source").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_source.join(novel, "source", "left")
        .select(
            "source",
            "n_shingles",
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
        )
        .select(
            "source",
            "n_shingles",
            "n_novel",
            F.expr("n_novel * 1000000 div n_shingles").alias("novelty_ppm"),
            F.sum("n_novel").over(w).alias("cum_distinct"),
        )
        .orderBy("source")
    )


ORACLE["d18_novelty_curve"] = f"""
    WITH sh AS (
        SELECT DISTINCT source,
               {h64_sql('s')} AS h
        FROM (SELECT source, unnest({_SHINGLES_SQL}) AS s FROM documents)
    ),
    first AS (SELECT h, min(source) AS first_source FROM sh GROUP BY h),
    per_source AS (
        SELECT source, count(*)::BIGINT AS n_shingles FROM sh GROUP BY source
    ),
    novel AS (
        SELECT first_source AS source, count(*)::BIGINT AS n_novel
        FROM first GROUP BY 1
    )
    SELECT p.source, n_shingles,
           coalesce(n_novel, 0)::BIGINT AS n_novel,
           (coalesce(n_novel, 0) * 1000000 // n_shingles)::BIGINT AS novelty_ppm,
           sum(coalesce(n_novel, 0)) OVER (ORDER BY p.source
                                           ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cum_distinct
    FROM per_source p LEFT JOIN novel ON p.source = novel.source
    ORDER BY p.source
"""
QUERIES["d18_novelty_curve"] = d18_novelty_curve


# ---------------------------------------------------------------------------
# d19: sorted-neighborhood dedup — rank-window blocking without a global sort
# ---------------------------------------------------------------------------

SNM_WINDOW = 8  # neighborhood size: compare ranks within distance W-1
SNM_KEY_LEN = 32  # blocking key = first 32 chars of lowercased text


def d19_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup (Hernandez-Stolfo SNM): sort the
    corpus by a cheap blocking key, compare only records whose GLOBAL
    ranks are within SNM_WINDOW of each other, verify candidates with
    exact shingle Jaccard. The classic complement to LSH blocking
    (d03): SNM finds near-dups whose prefixes collide even when their
    shingle bands do not, and its candidate count is strictly linear —
    exactly (W-1)·n pairs, no bucket-skew fanout to cap.

    The naive plan is the textbook straggler: ``row_number() OVER
    (ORDER BY key)`` sorts the corpus in ONE task. Here the global
    rank is assembled scale-out instead:

      1. ``repartitionByRange(key, id)`` — range exchange, every
         partition holds a contiguous key interval;
      2. per-partition ``row_number`` partitioned BY the partition id
         (each window group is one range partition, ~n/P rows);
      3. global offset of partition p = sum of earlier partitions'
         counts — a P-row aggregate + broadcast join (the only
         unpartitioned window runs over ≤ shuffle-partition-count
         rows). Range partition i holds keys strictly below partition
         i+1, so offset + local rank IS the global rank.

    Rank-window pairs then need no sort at all: bucket = (r-1) DIV
    (W-1); every row joins its own bucket, plus a ghost copy in the
    previous bucket, so any pair within W-1 ranks shares a bucket
    (primary-side restriction keeps each pair exactly once). The
    bucket equi-join shuffles 16-byte rows; verification joins the
    few candidates back to shingle hashes (`_verify_jaccard`, the d03
    discipline: exact work only on candidates).

    The two branches below (counts, ranked rows) share one physical
    range exchange via Spark's ReusedExchange, so the range
    partitioner's sampled boundaries — and therefore every pid — are
    computed once and consistent across both uses.
    """
    docs = _hashed_docs(spark, sf_dir)
    b = SNM_WINDOW - 1
    keyed = Tables(spark, sf_dir).documents.select(
        "doc_id", F.substring(F.lower(F.col("text")), 1, SNM_KEY_LEN).alias("k")
    )
    part = keyed.repartitionByRange("k", "doc_id").withColumn(
        "pid", F.spark_partition_id()
    )
    counts = part.groupBy("pid").agg(F.count(F.lit(1)).alias("c"))
    w_off = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "pid", F.coalesce(F.sum("c").over(w_off), F.lit(0)).alias("off")
    )
    ri = F.row_number().over(Window.partitionBy("pid").orderBy("k", "doc_id"))
    ranked = (
        part.withColumn("ri", ri)
        .join(F.broadcast(offsets), "pid")
        .select("doc_id", (F.col("ri") + F.col("off")).alias("r"))
    )
    prim = ranked.select(
        "doc_id", "r", F.expr(f"(r - 1) DIV {b}").alias("bk")
    )
    ghost = ranked.select(
        "doc_id", "r", (F.expr(f"(r - 1) DIV {b}") - 1).alias("bk")
    )
    a = prim.alias("a")
    bb = prim.unionByName(ghost).alias("b")
    cand = (
        a.join(bb, "bk")
        .filter((F.col("b.r") - F.col("a.r")).between(1, b))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return _verify_jaccard(cand, docs)


ORACLE["d19_sorted_neighborhood"] = f"""
    WITH ranked AS (
        SELECT doc_id,
               row_number() OVER (
                   ORDER BY substr(lower(text), 1, {SNM_KEY_LEN}), doc_id
               ) AS r
        FROM documents
    ),
    cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM ranked a JOIN ranked b
          ON b.r - a.r BETWEEN 1 AND {SNM_WINDOW - 1}
    ),
    docs AS (
        SELECT doc_id, {_SHINGLES_SQL} AS sh
        FROM documents
        WHERE len(string_split(text,' ')) >= 3
    )
    SELECT doc_a, doc_b,
           round(len(list_intersect(da.sh, db.sh))::DOUBLE
                 / len(list_distinct(da.sh || db.sh)), 4) AS jaccard
    FROM cand
    JOIN docs da ON da.doc_id = doc_a
    JOIN docs db ON db.doc_id = doc_b
    WHERE round(len(list_intersect(da.sh, db.sh))::DOUBLE
                / len(list_distinct(da.sh || db.sh)), 4)
          >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
"""
QUERIES["d19_sorted_neighborhood"] = d19_sorted_neighborhood


# ---------------------------------------------------------------------------
# d20: incremental-ingest dedup (new batch vs corpus + within batch)
# ---------------------------------------------------------------------------

# the newest ~20% of doc_ids play the "incoming batch"; everything below
# the cutoff is the already-ingested corpus
D20_NEW_NUM, D20_NEW_DEN = 4, 5  # cutoff = ceil(4/5 * (max_id + 1))


def d20_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup decision — the shape a 100 TB pipeline
    actually runs per arriving batch: the corpus is NEVER re-paired
    against itself; only new-vs-corpus and new-vs-new candidates are
    generated. Every new doc gets one decision by fixed priority:

      ``exact_dup_corpus``  same content hash exists in the corpus
      ``exact_dup_batch``   a smaller-id new doc has the same hash
      ``near_dup_corpus``   verified Jaccard >= threshold vs a corpus doc
      ``near_dup_batch``    verified Jaccard >= threshold vs a smaller-id
                            surviving new doc (evaluated independently of
                            that doc's own fate — keeper chains are d16's
                            job, not the ingest gate's)
      ``keep``              none of the above

    ``match_id`` is the smallest matching doc of the deciding class
    (NULL for keeps). Near-dup candidates ride the SAME LSH band
    machinery as d03 (``banded_sigs``), but the band join is
    new-batch-sided: corpus band rows stream against the tiny batch
    side (at scale: the persisted band index, cf. ``ann_index``'s
    append path), so per-batch cost tracks batch size + bucket
    occupancy, not corpus^2.
    """
    d = Tables(spark, sf_dir).documents
    max_id = d.agg(F.max("doc_id").alias("m")).collect()[0].m  # scalar, bounded
    if max_id is None:
        # degenerate: empty corpus — no batch, no decisions, zero rows
        # like the oracle (degenerate-mode fuzz catch, round 10:
        # None+1 crashed the driver)
        return local_df(spark, [], "doc_id long, decision string, match_id long")
    # ceiling via POSITIVE operands only: Python // floors but DuckDB //
    # truncates toward zero, so the negated-floor ceiling idiom diverges
    # between engine and oracle on any doc count not divisible by the
    # denominator (round-7 signed-division rule; caught in review)
    cutoff = (D20_NEW_NUM * (max_id + 1) + D20_NEW_DEN - 1) // D20_NEW_DEN

    hashed = d.select("doc_id", "source", "text", h64(F.col("text")).alias("h"))
    old = hashed.filter(F.col("doc_id") < cutoff)
    new = hashed.filter(F.col("doc_id") >= cutoff)
    oldmin = old.groupBy("h").agg(F.min("doc_id").alias("corpus_match"))
    newmin = new.groupBy("h").agg(F.min("doc_id").alias("batch_min"))
    # persisted: one tiny row per new doc, but its lineage (full-text
    # hashing + two corpus aggregations) would otherwise re-plan under
    # every downstream consumer (survivors semi-join + final assembly)
    ex = bounded_persist(
        new.join(oldmin, "h", "left")
        .join(newmin, "h")
        .select("doc_id", "corpus_match", "batch_min"),
        "dedup.d20.ex",
    )

    survivors = ex.filter(
        F.col("corpus_match").isNull() & (F.col("batch_min") == F.col("doc_id"))
    ).select("doc_id")
    hd = bounded_persist(_hashed_docs(spark, sf_dir), "dedup.d20.hd")
    hd_old = hd.filter(F.col("doc_id") < cutoff)
    hd_new = hd.join(survivors, "doc_id", "semi")
    bands_old = banded_sigs(hd_old)
    bands_new = banded_sigs(hd_new)
    bn, bo = bands_new.alias("bn"), bands_old.alias("bo")
    cand_oc = (
        bn.join(
            bo,
            (F.col("bn.band_id") == F.col("bo.band_id"))
            & (F.col("bn.bucket") == F.col("bo.bucket")),
        )
        .select(F.col("bo.doc_id").alias("doc_a"), F.col("bn.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    b1, b2 = bands_new.alias("b1"), bands_new.alias("b2")
    cand_nn = (
        b1.join(
            b2,
            (F.col("b1.band_id") == F.col("b2.band_id"))
            & (F.col("b1.bucket") == F.col("b2.bucket"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(F.col("b1.doc_id").alias("doc_a"), F.col("b2.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    ver = _verify_jaccard(cand_oc.unionByName(cand_nn), hd)
    # one conditional aggregation covers both match classes (review:
    # two filtered groupBys + two joins re-ran the verify subtree)
    near = ver.groupBy("doc_b").agg(
        F.min(F.when(F.col("doc_a") < cutoff, F.col("doc_a"))).alias("near_corpus"),
        F.min(F.when(F.col("doc_a") >= cutoff, F.col("doc_a"))).alias("near_batch"),
    )

    full = ex.join(near, ex.doc_id == near.doc_b, "left").drop("doc_b")
    decision = (
        F.when(F.col("corpus_match").isNotNull(), F.lit("exact_dup_corpus"))
        .when(F.col("batch_min") < F.col("doc_id"), F.lit("exact_dup_batch"))
        .when(F.col("near_corpus").isNotNull(), F.lit("near_dup_corpus"))
        .when(F.col("near_batch").isNotNull(), F.lit("near_dup_batch"))
        .otherwise(F.lit("keep"))
    )
    match_id = (
        F.when(F.col("corpus_match").isNotNull(), F.col("corpus_match"))
        .when(F.col("batch_min") < F.col("doc_id"), F.col("batch_min"))
        .when(F.col("near_corpus").isNotNull(), F.col("near_corpus"))
        .when(F.col("near_batch").isNotNull(), F.col("near_batch"))
    )
    return full.select(
        "doc_id", decision.alias("decision"), match_id.alias("match_id")
    ).orderBy("doc_id")


ORACLE["d20_incremental_dedup"] = f"""
    WITH cut AS (
        SELECT ({D20_NEW_NUM} * (max(doc_id) + 1) + {D20_NEW_DEN} - 1)
                   // {D20_NEW_DEN} AS c
        FROM documents
    ), h AS (
        SELECT doc_id, source, text, {h64_sql('text')} AS h FROM documents
    ), old AS (SELECT h.* FROM h, cut WHERE doc_id < c),
    new AS (SELECT h.* FROM h, cut WHERE doc_id >= c),
    oldmin AS (SELECT h, min(doc_id) AS corpus_match FROM old GROUP BY h),
    newmin AS (SELECT h, min(doc_id) AS batch_min FROM new GROUP BY h),
    ex AS (
        SELECT n.doc_id, o.corpus_match, m.batch_min
        FROM new n LEFT JOIN oldmin o USING (h) JOIN newmin m USING (h)
    ), surv AS (
        SELECT doc_id FROM ex WHERE corpus_match IS NULL AND batch_min = doc_id
    ), docs AS (
        SELECT doc_id, {_SHINGLES_SQL} AS sh
        FROM documents, cut
        WHERE len(string_split(text,' ')) >= 3
          AND (doc_id < c OR doc_id IN (SELECT doc_id FROM surv))
    ), hashed AS (
        SELECT doc_id, sh, list_transform(sh, s -> {h64_sql('s')}) AS shh FROM docs
    ), sigs AS (
        SELECT doc_id, sh, {_minhash_sig_sql()} FROM hashed
    ), banded AS (
        {_band_rows_sql()}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.bucket = b.bucket AND a.doc_id < b.doc_id,
        cut
        WHERE b.doc_id >= c
    ), ver AS (
        SELECT doc_a, doc_b,
               round(len(list_intersect(da.sh, db.sh))::DOUBLE
                     / len(list_distinct(da.sh || db.sh)), 4) AS jaccard
        FROM cand
        JOIN docs da ON da.doc_id = doc_a
        JOIN docs db ON db.doc_id = doc_b
    ), verok AS (
        SELECT doc_a, doc_b FROM ver WHERE jaccard >= {JACCARD_THRESHOLD}
    ), near AS (
        SELECT doc_b AS doc_id,
               min(CASE WHEN doc_a < c THEN doc_a END) AS near_corpus,
               min(CASE WHEN doc_a >= c THEN doc_a END) AS near_batch
        FROM verok, cut GROUP BY doc_b
    )
    SELECT e.doc_id,
           CASE WHEN e.corpus_match IS NOT NULL THEN 'exact_dup_corpus'
                WHEN e.batch_min < e.doc_id THEN 'exact_dup_batch'
                WHEN n.near_corpus IS NOT NULL THEN 'near_dup_corpus'
                WHEN n.near_batch IS NOT NULL THEN 'near_dup_batch'
                ELSE 'keep' END AS decision,
           CASE WHEN e.corpus_match IS NOT NULL THEN e.corpus_match
                WHEN e.batch_min < e.doc_id THEN e.batch_min
                WHEN n.near_corpus IS NOT NULL THEN n.near_corpus
                WHEN n.near_batch IS NOT NULL THEN n.near_batch
                END AS match_id
    FROM ex e
    LEFT JOIN near n USING (doc_id)
    ORDER BY doc_id
"""
QUERIES["d20_incremental_dedup"] = d20_incremental_dedup
