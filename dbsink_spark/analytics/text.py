"""Text-analysis operators over the ``documents`` table.

Training-data-pipeline style text ops: per-document statistics,
quality scoring, language identification, tokenization, and
fingerprinting. All column-expression based (zero Python UDFs — every
expression runs in WholeStageCodegen), all with exact DuckDB oracles.

Scale notes (100 TB): every operator here is a narrow map over
documents followed by at most one aggregation — embarrassingly
parallel, no multi-stage shuffles. Word splitting happens once per
query; at scale you would materialize the token array as a column
(or bucketed intermediate table) shared across downstream ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.hashing import h64_sql
from .tables import Tables
from .bcache import bounded_persist

# tiny per-language stopword lexicons for the n-gram-free lang-id
# heuristic; deterministic and identical on the oracle side
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "it", "that", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "dans", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "nicht"],
}

def _words():
    return F.split(F.col("text"), " ")


def t02_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (length / lexical-diversity / word-shape
    mix) bucketed into low/medium/high, aggregated per source."""
    d = Tables(spark, sf_dir).documents
    words = _words()
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)) / n_words
    avg_len = (
        F.aggregate(F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x)
        / n_words
    )
    score = (
        0.3 * F.least(n_words / F.lit(50.0), F.lit(1.0))
        + 0.4 * distinct_ratio
        + 0.3 * F.least(avg_len / F.lit(8.0), F.lit(1.0))
    )
    bucket = (
        F.when(score >= 0.7, "high").when(score >= 0.5, "medium").otherwise("low")
    )
    return (
        d.select("source", score.alias("score"), bucket.alias("bucket"))
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.round(F.avg("score"), 4).alias("avg_score"))
        .orderBy("source", "bucket")
    )


def t04_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex tokenization totals per source."""
    d = Tables(spark, sf_dir).documents
    re_tokens = F.regexp_extract_all(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), 0)
    return (
        d.select(
            "source",
            F.size(_words()).alias("ws"),
            F.size(re_tokens).alias("re"),
            F.length("text").alias("nc"),
        )
        .groupBy("source")
        .agg(
            F.sum("ws").alias("ws_tokens"),
            F.sum("re").alias("re_tokens"),
            F.sum("nc").alias("total_chars"),
            F.count(F.lit(1)).alias("n_docs"),
            # integer-exact scaled average: float
            # round(avg) drifted a ulp between engines; div never does.
            F.expr("(10000 * sum(ws)) div count(1)").alias("avg_ws_e4"),
        )
        .orderBy("source")
    )


ORACLE: dict[str, str] = {
    "t02_quality_score": """
        WITH scored AS (
            SELECT source,
                   0.3 * least(len(string_split(text,' ')) / 50.0, 1.0)
                 + 0.4 * (len(list_distinct(string_split(text,' ')))::DOUBLE / len(string_split(text,' ')))
                 + 0.3 * least((list_sum(list_transform(string_split(text,' '), w -> length(w)))::DOUBLE
                                / len(string_split(text,' '))) / 8.0, 1.0) AS score
            FROM documents
        )
        SELECT source,
               CASE WHEN score >= 0.7 THEN 'high'
                    WHEN score >= 0.5 THEN 'medium'
                    ELSE 'low' END AS bucket,
               count(*)            AS n_docs,
               round(avg(score),4) AS avg_score
        FROM scored
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "t04_token_count": """
        SELECT source,
               sum(len(string_split(text,' ')))::BIGINT               AS ws_tokens,
               sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))::BIGINT AS re_tokens,
               sum(length(text))::BIGINT                              AS total_chars,
               count(*)                                               AS n_docs,
               ((10000 * sum(len(string_split(text,' ')))) // count(*))::BIGINT AS avg_ws_e4
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
}

QUERIES = {
    "t02_quality_score": t02_quality_score,
    "t04_token_count": t04_token_count,
}


def t06_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition / boilerplate signal: lexical
    diversity (distinct/total words) and the dominance of the single
    most-frequent word — the cheap filters a training pipeline runs
    before expensive dedup. Integer-exact outputs (scaled by 1e4 via
    integral div) so the gate never sees float rendering.

    Pure column expressions; one narrow map + one aggregation.
    """
    d = Tables(spark, sf_dir).documents
    w = F.col("w")
    dw = d.withColumn("w", _words())
    # frequency of the most common word: count occurrences of each
    # distinct word via filter() inside a transform over the distinct set
    top_freq = F.array_max(
        F.transform(
            F.array_distinct(w),
            lambda u: F.size(F.filter(w, lambda x: x == u)),
        )
    )
    per_doc = dw.select(
        "doc_id",
        "source",
        F.size(w).alias("n_words"),
        F.size(F.array_distinct(w)).alias("n_distinct"),
        top_freq.alias("top_freq"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("(10000 * sum(n_distinct)) div sum(n_words)").alias("diversity_e4"),
            F.expr("(10000 * sum(top_freq)) div sum(n_words)").alias("dominance_e4"),
            F.sum(
                (F.col("top_freq") * 5 > F.col("n_words")).cast("int")
            ).alias("n_repetitive"),
        )
        .orderBy("source")
    )


ORACLE["t06_repetition"] = """
    WITH per_doc AS (
        SELECT doc_id, source,
               len(string_split(text,' ')) AS n_words,
               len(list_distinct(string_split(text,' '))) AS n_distinct,
               list_max(list_transform(list_distinct(string_split(text,' ')),
                        u -> len(list_filter(string_split(text,' '), x -> x = u)))) AS top_freq
        FROM documents
    )
    SELECT source,
           count(*) AS n_docs,
           ((10000 * sum(n_distinct)) // sum(n_words))::BIGINT AS diversity_e4,
           ((10000 * sum(top_freq)) // sum(n_words))::BIGINT   AS dominance_e4,
           sum((top_freq * 5 > n_words)::INT)::BIGINT          AS n_repetitive
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""

QUERIES["t06_repetition"] = t06_repetition


WINNOW_K = 3  # shingle width (words)
WINNOW_W = 4  # winnowing window (hashes)


def t07_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS local fingerprinting algorithm): min-hash of
    every ``WINNOW_W``-length window over the word-shingle hash
    sequence, deduplicated per doc. Guarantees any shared run of
    ``WINNOW_W + WINNOW_K - 1`` words between two docs shares a
    fingerprint — the partial-overlap detector that whole-doc
    fingerprints can't provide.

    Emits per-doc fingerprint counts + the corpus-wide most-shared
    fingerprint count per source. Column expressions only.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    dw = d.withColumn("w", _words()).filter(F.size("w") >= WINNOW_K + WINNOW_W - 1)
    w = F.col("w")
    shingle = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + j) for j in range(WINNOW_K)]
    )
    hashes = F.transform(
        F.sequence(F.lit(1), F.size(w) - (WINNOW_K - 1)), lambda i: h64(shingle(i))
    )
    dh = dw.select("doc_id", "source", hashes.alias("hs"))
    h = F.col("hs")
    mins = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(h) - WINNOW_W),
            lambda i: F.array_min(F.slice(h, i + 1, WINNOW_W)),
        )
    )
    per_doc = dh.select("doc_id", "source", F.explode(mins).alias("fp"))
    return (
        per_doc.groupBy("source")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.countDistinct("fp").alias("n_distinct_fp"),
        )
        .orderBy("source")
    )


# union of all per-language lexicons — the language-agnostic stoplist
# the Gopher-style quality rules use
ALL_STOPWORDS = sorted({w for ws in STOPWORDS.values() for w in ws})


def t08_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021 §A1.1 shape:
    word-count bounds, mean-word-length bounds, stopword presence,
    lexical diversity), aggregated per language.

    Every rule is rewritten in integer arithmetic (``3·n ≤ Σlen ≤ 10·n``
    instead of ``3 ≤ Σlen/n ≤ 10``) so the gate never sees a float:
    predicates on float ratios can straddle rounding boundaries between
    engines, integer cross-multiplication cannot.

    Scale: narrow map + one aggregation on a low-cardinality key —
    embarrassingly parallel, map-side partials carry 6 longs per lang.
    """
    d = Tables(spark, sf_dir).documents
    dw = d.withColumn("w", _words())
    w = F.col("w")
    n_words = F.size(w)
    sum_len = F.aggregate(
        F.transform(w, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    n_distinct = F.size(F.array_distinct(w))
    stop_hits = F.size(F.filter(w, lambda x: x.isin(*ALL_STOPWORDS)))
    rules = dw.select(
        "lang",
        ((n_words >= 10) & (n_words <= 1000)).cast("int").alias("r_len"),
        ((sum_len >= 3 * n_words) & (sum_len <= 10 * n_words)).cast("int").alias("r_wordlen"),
        (stop_hits >= 2).cast("int").alias("r_stop"),
        (5 * n_distinct >= n_words).cast("int").alias("r_div"),
    )
    return (
        rules.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("r_len").alias("pass_len"),
            F.sum("r_wordlen").alias("pass_wordlen"),
            F.sum("r_stop").alias("pass_stop"),
            F.sum("r_div").alias("pass_diversity"),
            F.sum(
                F.col("r_len") * F.col("r_wordlen") * F.col("r_stop") * F.col("r_div")
            ).alias("pass_all"),
        )
        .orderBy("lang")
    )


def _sql_all_stoplist() -> str:
    return "[" + ", ".join(f"'{w}'" for w in ALL_STOPWORDS) + "]"


ORACLE["t08_quality_rules"] = f"""
    WITH rules AS (
        SELECT lang,
               (len(string_split(text,' ')) BETWEEN 10 AND 1000)::INT AS r_len,
               (list_sum(list_transform(string_split(text,' '), w -> length(w)))
                    BETWEEN 3 * len(string_split(text,' '))
                        AND 10 * len(string_split(text,' ')))::INT    AS r_wordlen,
               (len(list_filter(string_split(text,' '),
                                w -> list_contains({_sql_all_stoplist()}, w))) >= 2)::INT AS r_stop,
               (5 * len(list_distinct(string_split(text,' ')))
                    >= len(string_split(text,' ')))::INT              AS r_div
        FROM documents
    )
    SELECT lang,
           count(*)                                   AS n_docs,
           sum(r_len)::BIGINT                         AS pass_len,
           sum(r_wordlen)::BIGINT                     AS pass_wordlen,
           sum(r_stop)::BIGINT                        AS pass_stop,
           sum(r_div)::BIGINT                         AS pass_diversity,
           sum(r_len * r_wordlen * r_stop * r_div)::BIGINT AS pass_all
    FROM rules
    GROUP BY lang
    ORDER BY lang
"""

QUERIES["t08_quality_rules"] = t08_quality_rules


def t09_vocab_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: per-term corpus statistics — total term
    frequency, document frequency, and language spread. The first step
    of any tokenizer/embedding-vocab training run.

    Scale: explode + hash-aggregate on the term — the canonical
    word-count shuffle. Map-side partial aggregation collapses each
    partition to its local vocabulary before the exchange, so shuffle
    volume is O(|vocab| × partitions), not O(tokens).
    """
    d = Tables(spark, sf_dir).documents
    ex = d.select("doc_id", "lang", F.explode(_words()).alias("term"))
    return (
        ex.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
            F.countDistinct("lang").alias("n_langs"),
        )
        .orderBy("term")
    )


ORACLE["t09_vocab_df"] = """
    WITH ex AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
        FROM documents
    )
    SELECT term,
           count(*)               AS tf,
           count(DISTINCT doc_id) AS df,
           count(DISTINCT lang)   AS n_langs
    FROM ex
    GROUP BY term
    ORDER BY term
"""

QUERIES["t09_vocab_df"] = t09_vocab_df


PACK_BUDGET = 2048  # context-window token budget per packed sequence


def t11_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concat-then-split assembly of documents into
    fixed token-budget bins (how training pipelines pack short docs
    into full context windows). Documents are laid out in doc_id order
    within each source shard; a running token offset assigns each doc
    to ``offset div budget``, and docs straddling a bin boundary are
    counted (they get split across two windows).

    Scale (round-8 rework): the cumulative sum is per SOURCE — but a
    plain ``PARTITION BY source`` window funnels corpus/|sources| rows
    into ONE task (4 sources here: the q68 straggler class, caught by
    the round-8 low-cardinality-window tripwire). The running offset
    is instead assembled scale-out by ``bigwin.grouped_running_sum``:
    range-partition on (source, doc_id), local cumsum per (partition,
    source) window (~n/P rows per window group), per-group partition
    offsets from a ≤ P·|sources|-row totals table, broadcast back.
    Exact same cumulative sums, no corpus-sized window group anywhere.
    """
    from .bigwin import grouped_running_sum

    d = Tables(spark, sf_dir).documents
    per = d.select(
        "source", "doc_id", F.size(_words()).cast("long").alias("n_tokens")
    )
    per = grouped_running_sum(per, "source", ["doc_id"], "n_tokens", "cum_before")
    per = per.withColumn("bin", F.expr(f"cum_before div {PACK_BUDGET}")).withColumn(
        "crosses",
        F.expr(
            f"(cum_before div {PACK_BUDGET}) != "
            f"((cum_before + n_tokens - 1) div {PACK_BUDGET})"
        ).cast("int"),
    )
    return (
        per.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.sum("crosses").alias("n_split_docs"),
        )
        .orderBy("source", "bin")
    )


ORACLE["t11_pack"] = f"""
    WITH per AS (
        SELECT source, doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), cum AS (
        SELECT source, doc_id, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        FROM per
    ), binned AS (
        SELECT source,
               (cum_before // {PACK_BUDGET})::BIGINT AS bin,
               n_tokens,
               ((cum_before // {PACK_BUDGET}) !=
                ((cum_before + n_tokens - 1) // {PACK_BUDGET}))::INT AS crosses
        FROM cum
    )
    SELECT source, bin,
           count(*)            AS n_docs,
           sum(n_tokens)::BIGINT AS n_tokens,
           sum(crosses)::BIGINT  AS n_split_docs
    FROM binned
    GROUP BY source, bin
    ORDER BY source, bin
"""

QUERIES["t11_pack"] = t11_pack


ORACLE["t07_winnowing"] = f"""
    WITH dw AS (
        SELECT doc_id, source, string_split(text,' ') AS w
        FROM documents
        WHERE len(string_split(text,' ')) >= {WINNOW_K + WINNOW_W - 1}
    ), dh AS (
        SELECT doc_id, source,
               [{h64_sql("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}
                for i in generate_series(1, len(w) - {WINNOW_K - 1})] AS hs
        FROM dw
    ), fps AS (
        SELECT doc_id, source,
               unnest(list_distinct([list_min(hs[i+1:i+{WINNOW_W}])
                                     for i in generate_series(0, len(hs) - {WINNOW_W})])) AS fp
        FROM dh
    )
    SELECT source,
           count(DISTINCT doc_id) AS n_docs,
           count(*)               AS n_fingerprints,
           count(DISTINCT fp)     AS n_distinct_fp
    FROM fps
    GROUP BY source
    ORDER BY source
"""

QUERIES["t07_winnowing"] = t07_winnowing


SPLIT_TRAIN_PCT = 80  # train < 80, val < 90, test otherwise
SPLIT_VAL_PCT = 90


def t12_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: every document assigned by
    its content-independent hash bucket (``h64(doc_id) % 100``) — the
    standard reshuffle-free split that stays stable as the corpus
    grows and never needs a global sort or random state. Emits the
    per-(lang, split) manifest (doc + char counts) a pipeline would
    write next to the split datasets.

    Scale: pure map + low-cardinality aggregate; the split column
    doubles as a partition key when landing the split lake
    (``partitionBy(split)``) so downstream trainers prune to one split.
    """
    d = Tables(spark, sf_dir).documents
    from ..functions.hashing import h64

    b = h64(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(b < SPLIT_TRAIN_PCT, "train")
        .when(b < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        d.select("lang", split.alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
        .orderBy("lang", "split")
    )


ORACLE["t12_split"] = f"""
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE WHEN {h64_sql("doc_id::VARCHAR")} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
                    WHEN {h64_sql("doc_id::VARCHAR")} % 100 < {SPLIT_VAL_PCT} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    )
    SELECT lang, split,
           count(*)            AS n_docs,
           sum(n_chars)::BIGINT AS n_chars
    FROM assigned
    GROUP BY lang, split
    ORDER BY lang, split
"""

QUERIES["t12_split"] = t12_split


def _mixture_weight_expr():
    """Per-source keep-percentage: even-numbered sources 25%, odd 75%
    (a stand-in for the tuned per-domain mixture weights a training
    run ships)."""
    # try_cast: an unparseable source tag must fall to the otherwise
    # branch (75), not ANSI-abort the job. substr(...,4) unbounded, not
    # substring(4,10): a >10-digit suffix must overflow to NULL on BOTH
    # engines, not get silently truncated to a valid int here only.
    num = F.expr("substr(source, 4)").try_cast("int")
    return F.when(num % 2 == 0, F.lit(25)).otherwise(F.lit(75))


# ---------------------------------------------------------------------------
# PII patterns (the curation chain's redaction stage)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax valid in BOTH Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, \b/\d — no
# lookaround, no backreferences.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\b\d{3}-\d{4}\b"


def t15_common_token_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical-commonness scoring: join each document's tokens against
    the corpus document-frequency table (t09's vocabulary) and emit the
    integer sufficient statistics — token count and summed df — plus a
    rare-token count (df below 5% of the corpus). Low total df flags
    gibberish / OOV-heavy docs; a near-1 rare ratio is a standard
    quality filter signal.

    Scale: the df table is bounded by |vocab|, not corpus size, so it
    broadcasts; the corpus explode never re-shuffles (map-side join +
    per-doc re-aggregation on the already-carried doc_id key). Outputs
    are integer-exact — no float ratio crosses the gate.
    """
    d = Tables(spark, sf_dir).documents
    total = d.agg(F.count(F.lit(1)).alias("n_docs"))  # 1-row, broadcast
    ex = d.select("doc_id", F.explode(_words()).alias("term"))
    df_tbl = ex.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return (
        ex.join(F.broadcast(df_tbl), "term")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("df").alias("sum_df"),
            F.sum((F.col("df") * 20 <= F.col("n_docs")).cast("int")).alias("n_rare"),
        )
        .orderBy("doc_id")
    )


ORACLE["t15_common_token_score"] = """
    WITH ex AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ), df_tbl AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY term
    ), total AS (SELECT count(*) AS n_docs FROM documents)
    SELECT ex.doc_id,
           count(*)        AS n_tokens,
           sum(df)::BIGINT AS sum_df,
           sum((df * 20 <= n_docs)::INT)::BIGINT AS n_rare
    FROM ex JOIN df_tbl USING (term) CROSS JOIN total
    GROUP BY ex.doc_id
    ORDER BY ex.doc_id
"""

QUERIES["t15_common_token_score"] = t15_common_token_score


# ---------------------------------------------------------------------------
# t16: BPE tokenizer-training merge step
# ---------------------------------------------------------------------------

BPE_TOP_K = 20  # merge candidates emitted per iteration


def t16_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer training at corpus scale: count
    every adjacent character-pair occurrence (weighted by word
    frequency) and emit the top-K merge candidates — the inner loop of
    training a tokenizer on the corpus the engine curates.

    Plan shape is the trick that makes BPE training feasible at 100 TB:
    aggregate the corpus down to the DISTINCT-word frequency table
    first (one shuffle, map-side combinable, output bounded by |vocab|
    not corpus size), then explode character bigrams over that tiny
    relation. The corpus-sized pass is a plain word count; the
    per-symbol work never touches full documents. Subsequent merge
    iterations would re-run only the vocab-sized half with the merged
    symbol table broadcast.

    Counts are integers; the (count DESC, pair ASC) order is total, so
    the top-K is deterministic on both engines.
    """
    d = Tables(spark, sf_dir).documents
    wf = (
        d.select(F.explode(_words()).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") >= 2)
    )
    pairs = wf.select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(BPE_TOP_K)
    )


ORACLE["t16_bpe_merge_step"] = f"""
    WITH w AS (
        SELECT unnest(string_split(text, ' ')) AS word FROM documents
    ), wf AS (
        SELECT word, count(*) AS freq FROM w
        GROUP BY word HAVING len(word) >= 2
    ), p AS (
        SELECT freq,
               unnest([substr(word, i, 2)
                       for i in generate_series(1, len(word) - 1)]) AS pair
        FROM wf
    )
    SELECT pair, sum(freq)::BIGINT AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT {BPE_TOP_K}
"""

QUERIES["t16_bpe_merge_step"] = t16_bpe_merge_step


# ---------------------------------------------------------------------------
# t17: DSIR-style importance discriminant (data selection)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 4096  # hashed n-gram feature space (DSIR's hash trick)
DSIR_TARGET_LANG = "en"  # the in-domain "target" distribution


def t17_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection with importance weights (DSIR, Xie et al. 2023):
    score every document by how target-like its hashed-bigram feature
    counts are, against the raw-corpus feature distribution. DSIR's
    weight is Σ_f c_f(doc)·log(p_target(f)/p_raw(f)); engines disagree
    in the last ulp of ``log``, so the score here is the integer-
    linearized discriminant with the same sign structure and ordering
    intent:

        score = Σ_f c_f(doc) · (cnt_target(f)·N_raw − cnt_raw(f)·N_target)

    — positive when the doc leans toward target-distribution features.
    All-integer, so partitioning/engine independent. Magnitude bound:
    cnt·N ≤ (7.5e7)² ≈ 5.6e15 at sf10, × ~200 features/doc ≈ 1e18 —
    inside int64; beyond that, swap the sum to DECIMAL(38,0)/HUGEINT.

    Plan shape: one corpus pass builds the 4096-row hashed feature
    table (map-side combinable), which then BROADCASTS back onto the
    exploded corpus — the per-doc rescore never shuffles feature
    counts, matching DSIR's two-pass design at scale.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    dw = d.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).cast("long").alias("is_t"),
        _words().alias("w"),
    ).filter(F.size("w") >= 2)
    # persist: the hashed-feature relation feeds BOTH the feature-table
    # build and the rescore join; without it the md5 bigram hashing
    # (the dominant cost) runs twice (2.7 s -> 1.5 s at sf0.1)
    ex = (
        dw.select(
            "doc_id",
            "is_t",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"
                )
            ).alias("bg"),
        )
        .select("doc_id", "is_t", (h64(F.col("bg")) % DSIR_BUCKETS).alias("f"))
    )
    ex = bounded_persist(ex, "text.t17.ex")
    feat = ex.groupBy("f").agg(
        F.sum("is_t").alias("cnt_t"), F.count(F.lit(1)).alias("cnt_r")
    )
    totals = feat.agg(
        F.sum("cnt_t").alias("n_t"), F.sum("cnt_r").alias("n_r")
    )
    return (
        ex.join(F.broadcast(feat), "f")
        .join(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.first("is_t").cast("int").alias("is_target"),
            F.count(F.lit(1)).alias("n_feats"),
            F.sum(
                F.col("cnt_t") * F.col("n_r") - F.col("cnt_r") * F.col("n_t")
            ).alias("score"),
        )
        .orderBy("doc_id")
    )


ORACLE["t17_importance_weights"] = f"""
    WITH dw AS (
        SELECT doc_id, (lang = '{DSIR_TARGET_LANG}')::BIGINT AS is_t,
               string_split(text, ' ') AS w
        FROM documents
        WHERE len(string_split(text, ' ')) >= 2
    ), ex AS (
        SELECT doc_id, is_t,
               {h64_sql("bg")} % {DSIR_BUCKETS} AS f
        FROM (
            SELECT doc_id, is_t,
                   unnest([w[i] || ' ' || w[i + 1]
                           for i in generate_series(1, len(w) - 1)]) AS bg
            FROM dw
        )
    ), feat AS (
        SELECT f, sum(is_t)::BIGINT AS cnt_t, count(*)::BIGINT AS cnt_r
        FROM ex GROUP BY f
    ), totals AS (
        SELECT sum(cnt_t)::BIGINT AS n_t, sum(cnt_r)::BIGINT AS n_r FROM feat
    )
    SELECT ex.doc_id,
           any_value(ex.is_t)::INT AS is_target,
           count(*)                AS n_feats,
           sum(cnt_t * n_r - cnt_r * n_t)::BIGINT AS score
    FROM ex JOIN feat USING (f) CROSS JOIN totals
    GROUP BY ex.doc_id
    ORDER BY ex.doc_id
"""

QUERIES["t17_importance_weights"] = t17_importance_weights


# ---------------------------------------------------------------------------
# t18: distinctive-term extraction (TF-IDF-style keywords)
# ---------------------------------------------------------------------------

TOP_TERMS_K = 3


def t18_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: the top-3 distinctive terms per document,
    ranked by (term frequency DESC, document frequency ASC, term) —
    the integer-exact ordering TF-IDF induces when idf is monotone in
    1/df (same winners, no ``log`` crossing the engine boundary; the
    float playbook forbids libm in gate outputs).

    Plan shape: one exploded (doc, term, tf) aggregate; the df table is
    vocab-bounded and BROADCASTS back (t15's shape); the per-doc top-3
    is a window whose partial top-K pushes below the shuffle
    (WindowGroupLimit). At 100 TB the tf relation shuffles once on
    doc_id — already its grouping key from the explode.
    """
    d = Tables(spark, sf_dir).documents
    from pyspark.sql.window import Window

    ex = d.select("doc_id", F.explode(_words()).alias("term"))
    tf = ex.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = ex.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tf"), F.asc("df"), F.asc("term")
    )
    return (
        tf.join(F.broadcast(df_tbl), "term")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_TERMS_K)
        .select("doc_id", "rank", "term", "tf", "df")
        .orderBy("doc_id", "rank")
    )


ORACLE["t18_top_terms"] = f"""
    WITH ex AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT doc_id, term, count(*) AS tf FROM ex GROUP BY doc_id, term
    ), df_tbl AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM ex GROUP BY term
    ), ranked AS (
        SELECT doc_id, term, tf, df,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tf DESC, df ASC, term) AS rank
        FROM tf JOIN df_tbl USING (term)
    )
    SELECT doc_id, rank::INT AS rank, term, tf, df
    FROM ranked WHERE rank <= {TOP_TERMS_K}
    ORDER BY doc_id, rank
"""

QUERIES["t18_top_terms"] = t18_top_terms


# ---------------------------------------------------------------------------
# BPE tokenizer apply (segment text with t16's trained merges)
# ---------------------------------------------------------------------------

BPE_N_MERGES = 8  # merge rules applied (top of t16's ranked candidates)


def bpe_token_counts(d: DataFrame, merges: list[str]) -> DataFrame:
    """Merge application over ANY (doc_id, text) relation: per-document
    BPE token counts under an already-trained merge list — the
    curation pipeline budgets its LANDED lake output with it. Merges
    apply over the DISTINCT-word table, documents join back on the
    word; the merge table is k-sized and lives in the plan as
    literals."""
    wf = (
        d.select(F.explode(_words()).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # (?s): Java's bare `.` skips ALL line terminators (\r included)
    # while RE2's skips only \n — a word containing \r\n spaced
    # differently per engine until DOTALL made both match everything
    # (text-mode fuzz catch, round 9)
    seg = F.concat(F.lit(" "), F.regexp_replace(F.col("word"), "(?s)(.)", "$1 "))
    for p in merges:
        seg = F.replace(seg, F.lit(f" {p[0]} {p[1]} "), F.lit(f" {p} "))
    tok = wf.select(
        "word",
        (F.length(seg) - F.length(F.replace(seg, F.lit(" "), F.lit(""))) - 1).alias(
            "n_tok"
        ),
    )
    dw = d.select("doc_id", F.explode(_words()).alias("word")).filter(
        F.col("word") != ""
    )
    return (
        dw.join(tok, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
        )
    )


# ---------------------------------------------------------------------------
# t20: inverted-index (posting-list) materialization
# ---------------------------------------------------------------------------

T20_HEAD = 20  # posting-list head length materialized per term


def t20_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize term -> sorted posting list (the retrieval-side
    inverted index a curated corpus feeds): distinct (term, doc) pairs,
    grouped per term into a sorted doc_id posting array plus its full
    df. Postings are capped to the sorted head (T20_HEAD) — the
    impact-ordered-index pattern: the head ships in the index row,
    the full list stays in the lake for the rare deep query (and
    stopword-scale terms would get q56-style bitmap postings instead).

    One corpus-sized distinct + one term-keyed aggregate; at 100 TB
    the output lands partitioned by a term-hash bucket
    (``partitionBy(pmod(h64(term), N))``) so query-time term lookups
    prune to one partition. Posting arrays are sorted, so the whole
    relation is deterministic (value-hashed by the gate, q35\'s
    array-column precedent).
    """
    d = Tables(spark, sf_dir).documents
    td = (
        d.select("doc_id", F.explode(F.array_distinct(_words())).alias("term"))
        .filter(F.col("term") != "")
    )
    return (
        td.groupBy("term")
        .agg(
            F.slice(F.sort_array(F.collect_list("doc_id")), 1, T20_HEAD).alias(
                "postings"
            ),
            F.count(F.lit(1)).cast("long").alias("df"),
        )
        .orderBy("term")
    )


ORACLE["t20_inverted_index"] = f"""
    WITH td AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, \' \')) AS term
        FROM documents
    )
    SELECT term,
           (list(doc_id ORDER BY doc_id))[1:{T20_HEAD}] AS postings,
           count(*)::BIGINT AS df
    FROM td WHERE term <> \'\'
    GROUP BY term
    ORDER BY term
"""

QUERIES["t20_inverted_index"] = t20_inverted_index


# ---------------------------------------------------------------------------
# t21: BM25 retrieval ranking
# ---------------------------------------------------------------------------

BM25_TERMS = ["spark", "vector", "stream", "merge", "window", "hash"]
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20


def t21_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 document ranking for a fixed query-term set — the lexical
    retrieval scorer (Robertson/Spärck Jones) behind quality-filter
    and retrieval-augmented curation passes. Uses the RATIONAL idf
    (N - df + 0.5)/(df + 0.5) instead of its log: engines disagree in
    the last ulp of ``ln`` (t17's note), while +,*,/ over
    integer-derived doubles are IEEE-deterministic, so the score is
    bit-identical cross-engine; the log is monotone in the rational
    idf per-term, and swapping it in at production changes only the
    inter-term weighting, not the machinery.

    Plan shape at 100 TB: ZERO shuffles over documents for scoring —
    per-doc tf/dl are narrow map-side expressions, corpus stats
    (N, avgdl, per-term df) reduce to ONE row that broadcast-joins
    back, and the final top-k is a TakeOrdered, not a global sort.
    """
    d = Tables(spark, sf_dir).documents
    words = _words()
    def _tf(term):
        # closure (NOT a default arg: pyspark derives HOF arity from
        # the python signature)
        return F.size(F.filter(words, lambda w: w == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{t}") for t in BM25_TERMS]
    per_doc = d.select("doc_id", F.size(words).alias("dl"), *tf_cols)
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sdl"),
        *[
            F.sum((F.col(f"tf_{t}") > 0).cast("long")).alias(f"df_{t}")
            for t in BM25_TERMS
        ],
    )
    avgdl = F.col("sdl") * 1.0 / F.col("n_docs")
    norm = 1 - BM25_B + BM25_B * F.col("dl") / avgdl
    score = None
    for t in BM25_TERMS:
        tf, df = F.col(f"tf_{t}"), F.col(f"df_{t}")
        idf = (F.col("n_docs") - df + 0.5) / (df + 0.5)
        term = idf * (tf * (BM25_K1 + 1)) / (tf + BM25_K1 * norm)
        score = term if score is None else score + term
    return (
        per_doc.join(F.broadcast(stats))
        .select(
            "doc_id",
            (F.floor(score * 10000 + 0.5) / 10000.0).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP)
    )


def _t21_oracle() -> str:
    tf_exprs = ",\n               ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{t}" for t in BM25_TERMS
    )
    df_exprs = ",\n               ".join(
        f"sum((tf_{t} > 0)::INT) AS df_{t}" for t in BM25_TERMS
    )
    score = " + ".join(
        f"((n_docs - df_{t} + 0.5) / (df_{t} + 0.5))"
        f" * (tf_{t} * ({BM25_K1} + 1))"
        f" / (tf_{t} + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / (sdl * 1.0 / n_docs)))"
        for t in BM25_TERMS
    )
    return f"""
    WITH per_doc AS (
        SELECT doc_id,
               len(w) AS dl,
               {tf_exprs}
        FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
    ), stats AS (
        SELECT count(*) AS n_docs,
               sum(dl) AS sdl,
               {df_exprs}
        FROM per_doc
    )
    SELECT doc_id,
           floor(({score}) * 10000 + 0.5) / 10000.0 AS bm25
    FROM per_doc, stats
    ORDER BY bm25 DESC, doc_id
    LIMIT {BM25_TOP}
    """


ORACLE["t21_bm25_rank"] = _t21_oracle()
QUERIES["t21_bm25_rank"] = t21_bm25_rank


# ---------------------------------------------------------------------------
# t22: collocation mining — integer-scaled PMI over adjacent bigrams
# ---------------------------------------------------------------------------

T22_MIN_PAIR = 5        # bigram support floor
T22_SCALE = 1000        # fixed-point PMI-ratio scale
T22_TOPK = 25


def t22_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: rank adjacent word pairs by a fixed-point
    pointwise-mutual-information score — `n_ab·N·SCALE DIV (n_a·n_b)`,
    a strictly monotone transform of PMI (log of the same ratio) kept
    in BIGINT so the oracle matches exactly (libm ``log`` differs in
    the last ulp between JVM and C and would break the value hash).

    Plan shape: one explode produces positions, a self-free bigram
    expansion via ``transform(sequence(...))`` (no join needed for
    adjacency — the array is already ordered), then two word-count
    aggregations (unigrams, bigrams) joined back on each side of the
    pair. Both lookup joins are vocabulary-sized — broadcastable at
    any corpus scale since vocab ≪ corpus — and map-side partial
    aggregation bounds shuffle volume by vocab × partitions.

    LLM-pipeline use: multi-word-expression detection for tokenizer
    vocab curation and boilerplate phrase discovery.
    """
    d = Tables(spark, sf_dir).documents.select(_words().alias("w"))
    bi = d.filter(F.size("w") >= 2).select(
        F.explode(
            F.expr("transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i+1] AS w2))")
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = (
        Tables(spark, sf_dir)
        .documents.select(F.explode(_words()).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n_term"))
    )
    tot = uni.agg(F.sum("n_term").alias("n_total"))
    pairs = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n_ab")).filter(
        F.col("n_ab") >= T22_MIN_PAIR
    )
    return (
        pairs.join(F.broadcast(uni.select(F.col("term").alias("w1"), F.col("n_term").alias("n_a"))), "w1")
        .join(F.broadcast(uni.select(F.col("term").alias("w2"), F.col("n_term").alias("n_b"))), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_ab",
            "n_a",
            "n_b",
            F.expr(f"n_ab * n_total * {T22_SCALE} DIV (n_a * n_b)").alias("pmi_scaled"),
        )
        .orderBy(F.desc("pmi_scaled"), "w1", "w2")
        .limit(T22_TOPK)
    )


ORACLE["t22_pmi_collocations"] = f"""
    WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
    bi AS (
        SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
        FROM t WHERE len(w) >= 2
    ),
    pairs AS (
        SELECT w[i] AS w1, w[i + 1] AS w2, count(*)::BIGINT AS n_ab
        FROM bi GROUP BY 1, 2
        HAVING count(*) >= {T22_MIN_PAIR}
    ),
    uni AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    cnt AS (SELECT term, count(*)::BIGINT AS n_term FROM uni GROUP BY term),
    tot AS (SELECT sum(n_term)::BIGINT AS n_total FROM cnt)
    SELECT p.w1, p.w2, p.n_ab,
           a.n_term AS n_a, b.n_term AS n_b,
           (p.n_ab * t.n_total * {T22_SCALE} // (a.n_term * b.n_term))::BIGINT AS pmi_scaled
    FROM pairs p
    JOIN cnt a ON p.w1 = a.term
    JOIN cnt b ON p.w2 = b.term
    CROSS JOIN tot t
    ORDER BY pmi_scaled DESC, w1, w2
    LIMIT {T22_TOPK}
"""

QUERIES["t22_pmi_collocations"] = t22_pmi_collocations


# ---------------------------------------------------------------------------
# t23: leakage-free train/eval split (near-dup clusters stay together)
# ---------------------------------------------------------------------------

T23_TRAIN_PCT = 80


def t23_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-aware dataset split: the unit of assignment is
    the NEAR-DUP CLUSTER (d09's connected components over verified
    d03 pairs), not the document — so two near-duplicates can never
    land on opposite sides of a train/eval split, the leakage mode
    that silently inflates every eval metric (t12's plain hash split
    has exactly this hole, which this operator closes).

    Assignment is deterministic: split = h64(cluster-representative)
    band, so the split is reproducible across engines/runs and
    documents ADDED to an existing cluster later inherit its side
    (stable under incremental ingest — the d03 signature-store
    property). Emits the audit alongside: n_leaky_pairs counts
    verified near-dup pairs crossing the split boundary and MUST be
    zero — the oracle proves it, not just asserts it.

    Scale: cluster labels are pair-list-sized (d09), the split is a
    map-side hash on an 8-byte group id, and the audit join is
    pair-list-sized — corpus cost is one broadcast-joined projection.
    """
    from ..functions.hashing import h64
    from .dedup import d09_dup_clusters, minhash_lsh_pairs

    d = Tables(spark, sf_dir).documents.select("doc_id")
    clusters = d09_dup_clusters(spark, sf_dir).select("doc_id", "cluster_id")
    assign = (
        d.join(F.broadcast(clusters), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", F.col("doc_id")).alias("gid"),
        )
        .select(
            "doc_id",
            "gid",
            F.when(
                F.pmod(h64(F.col("gid")), 100) < T23_TRAIN_PCT, F.lit("train")
            )
            .otherwise(F.lit("eval"))
            .alias("split"),
        )
        .localCheckpoint(eager=False)
    )
    # unordered pairs (r13): the leak join needs no order, and this is
    # the EXACT plan d09 just persisted for its own cluster pass — the
    # cache manager serves it from that slot, so the d03 pipeline runs
    # once per t23 invocation, not twice
    pairs = minhash_lsh_pairs(
        Tables(spark, sf_dir).documents, ordered=False
    ).select("doc_a", "doc_b")
    leak = (
        pairs.join(
            assign.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")),
            "doc_a",
        )
        .join(
            assign.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")),
            "doc_b",
        )
        .agg(
            F.sum((F.col("sa") != F.col("sb")).cast("long")).alias("n_leaky_pairs"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
    )
    per = assign.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("gid").alias("n_groups"),
    )
    return per.crossJoin(leak).orderBy("split")


def _t23_oracle() -> str:
    from ..functions.hashing import h64_sql
    from .dedup import ORACLE as DEDUP_ORACLE

    h = h64_sql("gid::VARCHAR")
    return f"""
    WITH clusters AS (
        SELECT doc_id, cluster_id FROM ({DEDUP_ORACLE["d09_dup_clusters"]}) c
    ),
    assign AS (
        SELECT d.doc_id,
               coalesce(c.cluster_id, d.doc_id) AS gid
        FROM documents d LEFT JOIN clusters c ON d.doc_id = c.doc_id
    ),
    split AS (
        SELECT doc_id, gid,
               CASE WHEN ((({h}) % 100) + 100) % 100 < {T23_TRAIN_PCT}
                    THEN 'train' ELSE 'eval' END AS split
        FROM assign
    ),
    pairs AS (SELECT doc_a, doc_b FROM ({DEDUP_ORACLE["d03_minhash_lsh"]}) p),
    leak AS (
        SELECT sum((sa.split <> sb.split)::INT)::BIGINT AS n_leaky_pairs,
               count(*)::BIGINT AS n_pairs
        FROM pairs
        JOIN split sa ON pairs.doc_a = sa.doc_id
        JOIN split sb ON pairs.doc_b = sb.doc_id
    ),
    per AS (
        SELECT split, count(*)::BIGINT AS n_docs,
               count(DISTINCT gid)::BIGINT AS n_groups
        FROM split GROUP BY split
    )
    SELECT split, n_docs, n_groups, n_leaky_pairs, n_pairs
    FROM per, leak
    ORDER BY split
    """


ORACLE["t23_leakage_free_split"] = _t23_oracle()
QUERIES["t23_leakage_free_split"] = t23_leakage_free_split


# ---------------------------------------------------------------------------
# t24: positional phrase search over the inverted index
# ---------------------------------------------------------------------------

T24_PHRASES = ("table hash", "merge group", "the fast key")


def t24_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval from a POSITIONAL index: build (term,
    doc_id, pos) postings once, then resolve each query phrase by
    joining its terms' postings with the position offsets aligned
    (pos₂ = pos₁+1, …) — the classic phrase-query plan every search
    engine runs, completing the retrieval family (t20 index → t21
    BM25 ranking → t24 phrase semantics).

    Per phrase: the first term's postings are the driver; each further
    term is an equi-join on (doc_id, pos−offset). Join input is
    postings-of-the-phrase-terms only (term-pruned — at 100 TB the
    positional index is term-hash-partitioned like t20, so each term's
    postings read one partition). Emits per phrase: matching docs,
    total occurrences — deterministic integers.
    """
    d = Tables(spark, sf_dir).documents
    pos = (
        d.select("doc_id", F.posexplode(_words()).alias("pos", "term"))
        .filter(F.col("term") != "")
        .localCheckpoint(eager=False)
    )

    out = None
    for phrase in T24_PHRASES:
        terms = phrase.split(" ")
        cur = pos.filter(F.col("term") == terms[0]).select(
            "doc_id", F.col("pos").alias("p0")
        )
        for k, t in enumerate(terms[1:], start=1):
            nxt = pos.filter(F.col("term") == t).select(
                "doc_id", (F.col("pos") - k).alias("p0")
            )
            cur = cur.join(nxt, ["doc_id", "p0"])
        agg = cur.agg(
            F.lit(phrase).alias("phrase"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        out = agg if out is None else out.unionAll(agg)
    return out.orderBy("phrase")


def _t24_oracle() -> str:
    parts = []
    for phrase in T24_PHRASES:
        terms = phrase.split(" ")
        joins = []
        for k, t in enumerate(terms):
            joins.append(
                f"(SELECT doc_id, i - {k} AS p0 FROM pos WHERE term = '{t}') t{k}"
            )
        frm = joins[0]
        for k in range(1, len(terms)):
            frm += f" JOIN {joins[k]} USING (doc_id, p0)"
        parts.append(
            f"""SELECT '{phrase}' AS phrase,
               count(DISTINCT doc_id)::BIGINT AS n_docs,
               count(*)::BIGINT AS n_occurrences
            FROM {frm}"""
        )
    body = " UNION ALL ".join(parts)
    return f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    pos AS (
        SELECT doc_id, w[i] AS term, i
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM t)
        WHERE w[i] <> ''
    )
    {body}
    ORDER BY phrase
    """


ORACLE["t24_phrase_search"] = _t24_oracle()
QUERIES["t24_phrase_search"] = t24_phrase_search


# ---------------------------------------------------------------------------
# t25: n-gram LM familiarity scoring (CCNet-style quality filter)
# ---------------------------------------------------------------------------

T25_REF_SOURCE = "src0"  # the curated reference corpus (CCNet: Wikipedia)
T25_PPM = 1_000_000  # probability scale (parts per million)
T25_LOW_PPM = 20_000  # per-doc mean familiarity below this = low quality


def t25_lm_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality scoring: train a bigram language model on
    a curated REFERENCE source, score every document's bigrams by
    Laplace-smoothed conditional probability, and report per-source
    familiarity + low-quality counts — the "does this text look like
    the reference distribution" filter LLM pipelines run before
    training (CCNet scores against a Wikipedia KenLM).

    Integer-exact by construction: instead of float log-perplexity,
    each bigram scores ``(c12 + 1) · 1e6 div (c1 + V)`` — the
    Laplace-smoothed probability in parts-per-million, floor-divided on
    BIGINT counts, so every per-doc and per-source statistic is exact
    across engines (no libm ln, no summation-order drift). Monotone in
    the smoothed probability, so the FILTERING behavior matches the
    log-space formulation rank-for-rank per bigram.

    Scale: the LM is reference-vocab-bounded (reference corpus is
    curated and small by design — CCNet's is one language's Wikipedia)
    and BROADCAST twice (bigram counts, unigram counts); the scored
    corpus never shuffles for scoring — map-side broadcast joins — and
    aggregates shuffle (source, doc_id) partials only. Docs with < 2
    tokens have no bigrams and are excluded (documented; CCNet drops
    them too).
    """
    d = Tables(spark, sf_dir).documents
    w = _words()
    bigrams = F.expr(
        "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
        "         slice(w, 2, greatest(size(w) - 1, 0)),"
        "         (a, b) -> struct(a AS w1, b AS w2))"
    )
    bg = (
        d.select("doc_id", "source", F.col("text"))
        .withColumn("w", w)
        .select("doc_id", "source", F.explode(bigrams).alias("g"))
        .select("doc_id", "source", F.col("g.w1").alias("w1"), F.col("g.w2").alias("w2"))
    )

    ref_tok = (
        d.filter(F.col("source") == T25_REF_SOURCE)
        .select(F.explode(w).alias("t"))
    )
    lm1 = ref_tok.groupBy(F.col("t").alias("u1")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    lm2 = (
        bg.filter(F.col("source") == T25_REF_SOURCE)
        .groupBy(F.col("w1").alias("b1"), F.col("w2").alias("b2"))
        .agg(F.count(F.lit(1)).alias("c12"))
    )
    vocab = lm1.agg(F.count(F.lit(1)).alias("v"))

    scored = (
        bg.join(
            F.broadcast(lm2),
            (F.col("w1") == F.col("b1")) & (F.col("w2") == F.col("b2")),
            "left",
        )
        .join(F.broadcast(lm1), F.col("w1") == F.col("u1"), "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            "source",
            # nullif: with an EMPTY reference corpus (v=0, no unigrams)
            # the smoothed probability is undefined — degrade to NULL
            # instead of an ANSI divide-by-zero job abort (degenerate-
            # mode fuzz catch, round 10); the oracle mirrors nullif
            F.expr(
                f"((coalesce(c12, 0) + 1) * {T25_PPM})"
                " div nullif(coalesce(c1, 0) + v, 0)"
            ).alias("p_ppm"),
        )
    )
    per_doc = scored.groupBy("source", "doc_id").agg(
        F.count(F.lit(1)).alias("n_bg"),
        F.sum("p_ppm").alias("p_sum"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bg").alias("n_bigrams"),
            F.sum("p_sum").alias("fam_sum"),
            F.expr("sum(p_sum) div sum(n_bg)").alias("fam_ppm"),
            F.sum(
                (F.expr("p_sum div n_bg") < T25_LOW_PPM).cast("long")
            ).alias("n_low_quality"),
        )
        .orderBy("source")
    )


ORACLE["t25_lm_familiarity"] = f"""
    WITH t AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    bg AS (
        SELECT doc_id, source, w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT doc_id, source, w,
                     unnest(generate_series(1, len(w) - 1)) AS i
              FROM t)
    ),
    lm1 AS (
        SELECT u1, count(*)::BIGINT AS c1
        FROM (SELECT unnest(w) AS u1 FROM t WHERE source = '{T25_REF_SOURCE}')
        GROUP BY u1
    ),
    lm2 AS (
        SELECT w1 AS b1, w2 AS b2, count(*)::BIGINT AS c12
        FROM bg WHERE source = '{T25_REF_SOURCE}'
        GROUP BY 1, 2
    ),
    vocab AS (SELECT count(*)::BIGINT AS v FROM lm1),
    scored AS (
        SELECT bg.doc_id, bg.source,
               ((coalesce(lm2.c12, 0) + 1) * {T25_PPM})
                 // nullif(coalesce(lm1.c1, 0) + vocab.v, 0) AS p_ppm
        FROM bg
        LEFT JOIN lm2 ON bg.w1 = lm2.b1 AND bg.w2 = lm2.b2
        LEFT JOIN lm1 ON bg.w1 = lm1.u1
        CROSS JOIN vocab
    ),
    per_doc AS (
        SELECT source, doc_id, count(*)::BIGINT AS n_bg,
               sum(p_ppm)::BIGINT AS p_sum
        FROM scored GROUP BY source, doc_id
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_bg)::BIGINT AS n_bigrams,
           sum(p_sum)::BIGINT AS fam_sum,
           (sum(p_sum) // sum(n_bg))::BIGINT AS fam_ppm,
           sum((p_sum // n_bg < {T25_LOW_PPM})::INT)::BIGINT AS n_low_quality
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""
QUERIES["t25_lm_familiarity"] = t25_lm_familiarity


# ---------------------------------------------------------------------------
# t26: RAKE keyphrase extraction (gaps-and-islands phrase mining)
# ---------------------------------------------------------------------------

T26_TOP = 15
T26_SCALE = 10_000  # word-score fixed-point scale


def t26_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (gaps-and-islands over token
    positions), each word scores ``degree/freq`` over the phrase
    corpus (degree = summed length of phrases containing the word —
    its co-occurrence mass; freq = its phrase occurrences), and a
    phrase scores the sum of its words — the classic unsupervised
    keyword extractor, all from counts.

    Integer-exact: word scores are fixed-point
    ``degree·10⁴ div freq`` (floor-div on BIGINT counts), phrase
    scores are integer sums of those — no float ratio crosses an
    engine boundary. Identical phrase TEXT implies identical word
    multiset implies identical score, so the final group-by-phrase is
    well-defined; ordering (score desc, phrase) is total.

    Scale: tokenize+islands is one window pass per doc partition;
    word stats are a vocab-sized aggregate BROADCAST back onto
    occurrences (corpus never shuffles for scoring — t25's shape);
    phrase assembly groups on (doc, island), co-partitioned with the
    island window's shuffle. Top-K is a TakeOrdered, not a global
    sort.
    """
    d = Tables(spark, sf_dir).documents
    tok = d.select(
        "doc_id", F.posexplode(_words()).alias("pos", "term")
    ).withColumn(
        "is_stop",
        F.col("term").isin(*STOPWORDS["en"]) | (F.col("term") == ""),
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    ns = (
        tok.filter(~F.col("is_stop"))
        .withColumn("grp", F.col("pos") - F.row_number().over(w))
        .select("doc_id", "grp", "pos", "term")
    )
    plen = ns.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    occ = ns.join(plen, ["doc_id", "grp"])
    stats = occ.groupBy(F.col("term").alias("s_term")).agg(
        F.count(F.lit(1)).alias("freq"), F.sum("len").alias("degree")
    )
    scored = occ.join(F.broadcast(stats), F.col("term") == F.col("s_term")).select(
        "doc_id",
        "grp",
        "pos",
        "term",
        F.expr(f"degree * {T26_SCALE} div freq").alias("s"),
    )
    phrases = scored.groupBy("doc_id", "grp").agg(
        F.expr(
            "array_join(transform(sort_array(collect_list(struct(pos, term))),"
            " x -> x.term), ' ')"
        ).alias("phrase"),
        F.count(F.lit(1)).alias("n_words"),
        F.sum("s").alias("score"),
    )
    return (
        phrases.filter(F.col("n_words") >= 2)
        .groupBy("phrase")
        .agg(
            F.max("n_words").alias("n_words"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score").alias("score"),
        )
        .orderBy(F.desc("score"), "phrase")
        .limit(T26_TOP)
    )


ORACLE["t26_rake_keyphrases"] = f"""
    WITH tok AS (
        SELECT doc_id, i AS pos, w[i] AS term
        FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
              FROM (SELECT doc_id, string_split(text, ' ') AS w
                    FROM documents))
    ),
    ns AS (
        SELECT doc_id, pos, term,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS grp
        FROM tok
        WHERE term <> '' AND term NOT IN ({{stoplist}})
    ),
    plen AS (
        SELECT doc_id, grp, count(*)::BIGINT AS len
        FROM ns GROUP BY doc_id, grp
    ),
    occ AS (
        SELECT ns.doc_id, ns.grp, ns.pos, ns.term, plen.len
        FROM ns JOIN plen USING (doc_id, grp)
    ),
    stats AS (
        SELECT term, count(*)::BIGINT AS freq, sum(len)::BIGINT AS degree
        FROM occ GROUP BY term
    ),
    scored AS (
        SELECT occ.doc_id, occ.grp, occ.pos, occ.term,
               (stats.degree * {T26_SCALE} // stats.freq)::BIGINT AS s
        FROM occ JOIN stats USING (term)
    ),
    phrases AS (
        SELECT doc_id, grp,
               string_agg(term, ' ' ORDER BY pos) AS phrase,
               count(*)::BIGINT AS n_words,
               sum(s)::BIGINT AS score
        FROM scored GROUP BY doc_id, grp
    )
    SELECT phrase,
           max(n_words)::BIGINT AS n_words,
           count(*)::BIGINT AS n_occurrences,
           max(score)::BIGINT AS score
    FROM phrases
    WHERE n_words >= 2
    GROUP BY phrase
    ORDER BY score DESC, phrase
    LIMIT {T26_TOP}
"""
ORACLE["t26_rake_keyphrases"] = ORACLE["t26_rake_keyphrases"].replace(
    "{stoplist}", ", ".join(f"'{w}'" for w in STOPWORDS["en"])
)
QUERIES["t26_rake_keyphrases"] = t26_rake_keyphrases


# ---------------------------------------------------------------------------
# t27: Zipf-law fit + Heaps vocabulary-growth statistics
# ---------------------------------------------------------------------------

T27_TOP = 100  # rank-frequency fit over the top-100 terms


def t27_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-distribution diagnostics: fit ln(freq) = a + s·ln(rank)
    over the top-100 terms (Zipf's law predicts s ≈ −1 for natural
    language) and report Heaps'-law inputs (total tokens, vocabulary
    size). A corpus whose Zipf slope drifts between snapshots has a
    changed generator — boilerplate floods flatten it, dedup bugs
    steepen it — so this is the drift alarm a training-data pipeline
    keeps on every ingest batch, next to t02's per-doc quality gates.

    The heavy pass is the vocabulary count (t09's word-count shuffle,
    map-side combinable). The OLS fit runs over exactly 100
    (rank, freq) pairs and uses the ordered-fold float discipline
    (q87): per-term ln() is computed row-wise, the five regression
    sums fold a rank-SORTED list, so both engines produce identical
    doubles. Rank ties break by term text — deterministic.

    Output: ONE row — n_tokens, vocab_size, top-N mass, Zipf slope
    and intercept (6 dp).
    """
    d = Tables(spark, sf_dir).documents
    ex = d.select(F.explode(_words()).alias("term"))
    vocab = ex.groupBy("term").agg(F.count(F.lit(1)).alias("tf"))
    totals = vocab.agg(
        F.sum("tf").alias("n_tokens"), F.count(F.lit(1)).alias("vocab_size")
    )
    w = Window.orderBy(F.desc("tf"), "term")
    top = (
        vocab.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= T27_TOP)
        .select(
            "rank",
            "tf",
            F.log(F.col("rank").cast("double")).alias("x"),
            F.log(F.col("tf").cast("double")).alias("y"),
        )
    )
    cells = top.select(F.struct("rank", "x", "y", "tf").alias("c"))
    folded = cells.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("c.tf").alias("top_mass"),
        F.aggregate(
            F.array_sort(F.collect_list("c")), F.lit(0.0), lambda a, s: a + s["x"]
        ).alias("sx"),
        F.aggregate(
            F.array_sort(F.collect_list("c")), F.lit(0.0), lambda a, s: a + s["y"]
        ).alias("sy"),
        F.aggregate(
            F.array_sort(F.collect_list("c")),
            F.lit(0.0),
            lambda a, s: a + s["x"] * s["y"],
        ).alias("sxy"),
        F.aggregate(
            F.array_sort(F.collect_list("c")),
            F.lit(0.0),
            lambda a, s: a + s["x"] * s["x"],
        ).alias("sxx"),
    )
    # guards (degenerate-mode fuzz catch, round 10): an empty corpus
    # has k=0 (every division aborts under ANSI) and a 1-term vocab
    # has a zero OLS denominator. DuckDB NULLs float /0 lazily, so the
    # guarded NULLs match the oracle case-for-case; the when-nesting
    # keeps each division unevaluated until its denominator is proven
    # nonzero.
    slope_raw = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("k")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k")
    )
    slope = F.when(
        F.col("k") > 0,
        F.when(F.col("sxx") - F.col("sx") * F.col("sx") / F.col("k") != 0.0, slope_raw),
    )
    intercept = F.when(
        F.col("k") > 0, (F.col("sy") - slope * F.col("sx")) / F.col("k")
    )
    return folded.crossJoin(F.broadcast(totals)).select(
        "n_tokens",
        "vocab_size",
        F.col("top_mass").alias("top100_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
    )


ORACLE["t27_zipf_fit"] = f"""
    WITH ex AS (
        SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    vocab AS (SELECT term, count(*)::BIGINT AS tf FROM ex GROUP BY term),
    totals AS (
        SELECT sum(tf)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab_size
        FROM vocab
    ),
    top AS (
        SELECT rank, tf, ln(rank::DOUBLE) AS x, ln(tf::DOUBLE) AS y
        FROM (
            SELECT tf, row_number() OVER (ORDER BY tf DESC, term) AS rank
            FROM vocab
        )
        WHERE rank <= {T27_TOP}
    ),
    folded AS (
        SELECT count(*)::BIGINT AS k,
               sum(tf)::BIGINT AS top_mass,
               list_sum(list(x ORDER BY rank)) AS sx,
               list_sum(list(y ORDER BY rank)) AS sy,
               list_sum(list(x * y ORDER BY rank)) AS sxy,
               list_sum(list(x * x ORDER BY rank)) AS sxx
        FROM top
    )
    SELECT n_tokens, vocab_size, top_mass AS top100_tokens,
           round((sxy - sx * sy / k) / (sxx - sx * sx / k), 6) AS zipf_slope,
           round((sy - ((sxy - sx * sy / k) / (sxx - sx * sx / k)) * sx) / k, 6)
               AS zipf_intercept
    FROM folded, totals
"""
QUERIES["t27_zipf_fit"] = t27_zipf_fit


# ---------------------------------------------------------------------------
# t28: cross-lingual alignment candidates (bitext mining, lexical tier)
# ---------------------------------------------------------------------------

T28_DF_MIN, T28_DF_MAX = 2, 3  # "rare phrase": appears in 2-3 docs corpus-wide
T28_MIN_SHARED = 3             # candidate pairs share >= 3 rare phrases
T28_TOP = 20


def t28_crosslingual_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual document-alignment candidates — the lexical tier
    of bitext mining (Resnik & Smith's STRAND lineage): documents in
    DIFFERENT languages that share rare 3-word phrases (names, codes,
    quoted strings survive translation verbatim) are candidate
    translation pairs, the recall stage an embedding aligner (s-ops)
    would re-rank.

    Plan shape is the inverted-index discipline every dedup op uses:
    distinct (doc, shingle) pairs → corpus-wide document frequency →
    keep only RARE shingles (df 2-3; the df cap kills boilerplate
    fanout exactly like d10's stop-fingerprint trick) → equi-join on
    the shingle restricted to cross-language pairs → per-pair shared
    counts. Cost tracks rare-phrase co-occurrence, never |docs|².

    Output: top-20 pairs by shared-phrase count (ties by ids), with
    both languages carried for the downstream aligner.
    """
    from .dedup import _shingles

    d = Tables(spark, sf_dir).documents
    dw = d.withColumn("w", _words()).filter(F.size("w") >= 3)
    sh = dw.select(
        "doc_id",
        "lang",
        F.explode(F.array_distinct(_shingles(F.col("w")))).alias("s"),
    )
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rare = dfreq.filter(
        (F.col("df") >= T28_DF_MIN) & (F.col("df") <= T28_DF_MAX)
    ).select("s")
    rsh = sh.join(rare, "s")
    a, b = rsh.alias("a"), rsh.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.lang") != F.col("b.lang")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.lang").alias("lang_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.lang").alias("lang_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared_rare_phrases"))
        .filter(F.col("shared_rare_phrases") >= T28_MIN_SHARED)
    )
    return (
        pairs.orderBy(F.desc("shared_rare_phrases"), "doc_a", "doc_b")
        .limit(T28_TOP)
    )


ORACLE["t28_crosslingual_align"] = f"""
    WITH d AS (
        SELECT doc_id, lang, string_split(text, ' ') AS w
        FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    sh AS (
        SELECT DISTINCT doc_id, lang,
               unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                       for i in generate_series(1, len(w) - 2)]) AS s
        FROM d
    ),
    dfreq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
    rare AS (
        SELECT s FROM dfreq WHERE df BETWEEN {T28_DF_MIN} AND {T28_DF_MAX}
    ),
    rsh AS (SELECT sh.* FROM sh JOIN rare USING (s)),
    pairs AS (
        SELECT a.doc_id AS doc_a, a.lang AS lang_a,
               b.doc_id AS doc_b, b.lang AS lang_b,
               count(*)::BIGINT AS shared_rare_phrases
        FROM rsh a JOIN rsh b
          ON a.s = b.s AND a.doc_id < b.doc_id AND a.lang <> b.lang
        GROUP BY 1, 2, 3, 4
        HAVING count(*) >= {T28_MIN_SHARED}
    )
    SELECT * FROM pairs
    ORDER BY shared_rare_phrases DESC, doc_a, doc_b
    LIMIT {T28_TOP}
"""
QUERIES["t28_crosslingual_align"] = t28_crosslingual_align


# ---------------------------------------------------------------------------
# t29: train/test n-gram overlap profile (contamination curve)
# ---------------------------------------------------------------------------

T29_NS = (3, 5, 8)   # the curve: overlap rate at each n-gram width
T29_TEST_MOD = 10    # doc_id % 10 == 0 → held-out split (d08's slice rule)


def t29_overlap_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination CURVE: for each n in T29_NS, the share of held-out
    documents that share at least one n-gram with the training split —
    the multi-width profile behind d08's single-width decision. Short
    n-grams overlap by chance, long ones only by true duplication;
    pipelines read the curve's knee to pick the decontamination width
    (GPT-3 appendix C uses 13-grams; the knee justifies the number).

    Plan per width: both splits reduce to per-doc DISTINCT n-gram
    hashes (the d08/winnowing shingle expression, 8-byte keys); a
    left-semi hash join marks held-out docs with ≥1 training hit, then
    two scalar counts. Nothing vocabulary-sized is collected; the
    semi join shuffles hashes, not text. One pass per width by
    construction (different n → disjoint gram sets — no reuse exists).

    Output: one row per n — held-out docs, overlapping docs, basis
    points.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    out = None
    for n in T29_NS:
        dw = d.withColumn("w", _words()).filter(F.size("w") >= n)
        w = F.col("w")
        shingle = lambda i, n=n: F.concat_ws(  # noqa: E731
            " ", *[F.element_at(w, i + j) for j in range(n)]
        )
        grams = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (n - 1)), lambda i: h64(shingle(i))
            )
        )
        g = dw.select("doc_id", F.explode(grams).alias("g"))
        test = g.filter(F.col("doc_id") % T29_TEST_MOD == 0)
        train = g.filter(F.col("doc_id") % T29_TEST_MOD != 0).select("g").distinct()
        hit = test.join(train, "g", "left_semi").select("doc_id").distinct()
        row = (
            test.select("doc_id")
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_test_docs"))
            .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_overlap_docs")))
            .select(
                F.lit(n).cast("long").alias("ngram_n"),
                "n_test_docs",
                "n_overlap_docs",
                # nullif: zero test docs → NULL share, not an ANSI
                # divide-by-zero abort (degenerate-mode fuzz catch,
                # round 10); DuckDB's bare // 0 already NULLs, matching
                F.expr("n_overlap_docs * 10000 DIV nullif(n_test_docs, 0)").alias(
                    "overlap_bp"
                ),
            )
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("ngram_n")


def _t29_block(n: int) -> str:
    return f"""
    SELECT {n}::BIGINT AS ngram_n,
           (SELECT count(DISTINCT doc_id) FROM grams_{n}
            WHERE doc_id % {T29_TEST_MOD} = 0)::BIGINT AS n_test_docs,
           (SELECT count(DISTINCT t.doc_id)
            FROM grams_{n} t
            WHERE t.doc_id % {T29_TEST_MOD} = 0
              AND EXISTS (SELECT 1 FROM grams_{n} tr
                          WHERE tr.doc_id % {T29_TEST_MOD} != 0
                            AND tr.g = t.g))::BIGINT AS n_overlap_docs"""


def _t29_gram_cte(n: int) -> str:
    return f"""
    grams_{n} AS (
        SELECT doc_id, unnest(list_distinct([
            {h64_sql("array_to_string(w[i : i + " + str(n - 1) + "], ' ')")}
            for i in generate_series(1, len(w) - {n - 1})])) AS g
        FROM dw WHERE len(w) >= {n}
    )"""


ORACLE["t29_overlap_profile"] = (
    """
    WITH dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),"""
    + ",".join(_t29_gram_cte(n) for n in T29_NS)
    + """
    SELECT ngram_n, n_test_docs, n_overlap_docs,
           (n_overlap_docs * 10000 // n_test_docs)::BIGINT AS overlap_bp
    FROM ("""
    + " UNION ALL ".join(_t29_block(n) for n in T29_NS)
    + """)
    ORDER BY ngram_n
"""
)
QUERIES["t29_overlap_profile"] = t29_overlap_profile


# ---------------------------------------------------------------------------
# t30: cross-source quantile normalization of quality scores
# ---------------------------------------------------------------------------

T30_BINS = 1000  # score domain: floor(score * 1000) clamped to [0, 1000]


def _t30_score_mil():
    """t02's quality score quantized to an integer in [0, T30_BINS] —
    identical operand order to t02 so both engines produce the same
    doubles, then an explicit floor() on BOTH sides (Spark CAST
    truncates, DuckDB ::BIGINT rounds — floor is the portable form)."""
    words = _words()
    n_words = F.size(words)
    distinct_ratio = F.size(F.array_distinct(words)) / n_words
    avg_len = (
        F.aggregate(
            F.transform(words, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
        )
        / n_words
    )
    score = (
        0.3 * F.least(n_words / F.lit(50.0), F.lit(1.0))
        + 0.4 * distinct_ratio
        + 0.3 * F.least(avg_len / F.lit(8.0), F.lit(1.0))
    )
    return F.least(
        F.greatest(F.floor(score * T30_BINS).cast("long"), F.lit(0)),
        F.lit(T30_BINS),
    )


_T30_SCORE_SQL = f"""
    least(greatest(floor((
        0.3 * least(len(string_split(text,' ')) / 50.0, 1.0)
      + 0.4 * (len(list_distinct(string_split(text,' ')))::DOUBLE
               / len(string_split(text,' ')))
      + 0.3 * least((list_sum(list_transform(string_split(text,' '),
                                             w -> length(w)))::DOUBLE
                     / len(string_split(text,' '))) / 8.0, 1.0)
    ) * {T30_BINS})::BIGINT, 0), {T30_BINS})
"""


def t30_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source quality-score calibration by quantile (CDF)
    matching: every source's score distribution is mapped onto the
    pooled corpus distribution, so a "0.62 from source A" and a "0.48
    from source B" that sit at the same within-source percentile land
    on the same calibrated value. The curation problem this solves:
    per-source quality heuristics drift (different boilerplate,
    different length profiles), so a single global threshold keeps
    all of one source and none of another; calibrated scores make one
    threshold mean the same thing everywhere.

    Scale shape — the whole operator runs on HISTOGRAMS, never ranks:
    the score domain is bounded (T30_BINS+1 integer cells), so the
    global CDF is a ≤1001-row aggregate (map-side combinable counts +
    a window over the tiny grid) and each source's CDF is the same
    aggregate keyed by source. The mapping — smallest global score
    whose pooled CDF reaches the source CDF — is a broadcast
    inequality join between two histogram tables (≤ |sources|·1001 ×
    1001); the corpus is touched exactly once, by the counting pass.
    This is the bounded-domain form of quantile normalization: at
    100 TB nothing downstream of the histograms grows with the data.

    Exactness: CDFs are integer ppm (cum·1e6 DIV n — floor in both
    engines); the mapped score is a min over an integer comparison.
    """
    d = Tables(spark, sf_dir).documents
    scored = d.select("source", _t30_score_mil().alias("s"))
    src_hist = scored.groupBy("source", "s").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    src_cdf = src_hist.select(
        "source",
        "s",
        "n_docs",
        F.expr(
            "sum(n_docs) OVER (PARTITION BY source ORDER BY s "
            "ROWS UNBOUNDED PRECEDING) * 1000000 "
            "DIV sum(n_docs) OVER (PARTITION BY source)"
        ).alias("cdf_ppm"),
    )
    g_hist = scored.groupBy("s").agg(F.count(F.lit(1)).alias("n"))
    g_cdf = g_hist.select(
        F.col("s").alias("gs"),
        F.expr(
            "sum(n) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING) * 1000000 "
            "DIV sum(n) OVER ()"
        ).alias("g_cdf_ppm"),
    )
    return (
        src_cdf.join(
            F.broadcast(g_cdf), F.col("g_cdf_ppm") >= F.col("cdf_ppm")
        )
        .groupBy("source", "s", "n_docs", "cdf_ppm")
        .agg(F.min("gs").alias("s_mapped"))
        .orderBy("source", "s")
    )


ORACLE["t30_quantile_norm"] = f"""
    WITH scored AS (
        SELECT source, {_T30_SCORE_SQL} AS s FROM documents
    ),
    src_cdf AS (
        SELECT source, s, count(*)::BIGINT AS n_docs,
               (sum(count(*)) OVER (PARTITION BY source ORDER BY s
                                    ROWS UNBOUNDED PRECEDING) * 1000000
                // sum(count(*)) OVER (PARTITION BY source))::BIGINT AS cdf_ppm
        FROM scored GROUP BY source, s
    ),
    g_cdf AS (
        SELECT s AS gs,
               (sum(count(*)) OVER (ORDER BY s ROWS UNBOUNDED PRECEDING)
                * 1000000 // sum(count(*)) OVER ())::BIGINT AS g_cdf_ppm
        FROM scored GROUP BY s
    )
    SELECT source, s, n_docs, cdf_ppm, min(gs)::BIGINT AS s_mapped
    FROM src_cdf JOIN g_cdf ON g_cdf_ppm >= cdf_ppm
    GROUP BY source, s, n_docs, cdf_ppm
    ORDER BY source, s
"""
QUERIES["t30_quantile_norm"] = t30_quantile_norm


# ---------------------------------------------------------------------------
# t31: per-source KL divergence from the corpus unigram distribution
# ---------------------------------------------------------------------------


def t31_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distribution drift: KL(P_source ‖ P_corpus) over the
    unigram distribution — the "which source stopped looking like the
    rest of the corpus" diagnostic. t27 fits each source to a Zipf
    law (shape); this measures pairwise divergence from the pooled
    mixture (content), the quantity curation alarms threshold on.
    P's support is a subset of Q's by construction (the corpus
    includes every source), so no smoothing is needed and KL is
    finite and exact.

    Scale shape: the heavy pass is the (source, word) count —
    map-side combinable, shuffle keyed by (source, word); the
    corpus-marginal join is vocab-keyed (vocab-bounded, the t09/t27
    discipline), per-source totals broadcast (|sources| rows), and
    the KL sum is an ordered left fold over each source's word-sorted
    term list (q118's float discipline, including its documented
    ≤1-ulp ln() caveat). The log-ratio products are DOUBLE (q118's
    overflow rule): exact below 2^53, scale-safe and identically
    rounded in both engines above it — no BIGINT product at any
    corpus size.
    """
    d = Tables(spark, sf_dir).documents
    tok = d.select("source", F.explode(_words()).alias("w"))
    src_w = tok.groupBy("source", "w").agg(F.count(F.lit(1)).alias("nsw"))
    tot_s = src_w.groupBy("source").agg(
        F.sum("nsw").alias("ns"), F.count(F.lit(1)).alias("vocab_s")
    )
    corp_w = src_w.groupBy("w").agg(F.sum("nsw").alias("nw"))
    tot = corp_w.agg(F.sum("nw").alias("n"))
    terms = (
        src_w.join(corp_w, "w")
        .join(F.broadcast(tot_s), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "w",
            (
                (F.col("nsw") / F.col("ns"))
                * F.log(
                    (F.col("nsw").cast("double") * F.col("n"))
                    / (F.col("ns").cast("double") * F.col("nw"))
                )
            ).alias("term"),
        )
    )
    kl = terms.groupBy("source").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("w", "term"))),
            F.lit(0.0),
            lambda acc, x: acc + x["term"],
        ).alias("kl_nats")
    )
    return (
        tot_s.join(kl, "source")
        .select("source", F.col("ns").alias("n_tokens"), "vocab_s", "kl_nats")
        .orderBy("source")
    )


ORACLE["t31_kl_drift"] = """
    WITH tok AS (
        SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    src_w AS (
        SELECT source, w, count(*)::BIGINT AS nsw FROM tok GROUP BY 1, 2
    ),
    tot_s AS (
        SELECT source, sum(nsw)::BIGINT AS ns, count(*)::BIGINT AS vocab_s
        FROM src_w GROUP BY source
    ),
    corp_w AS (SELECT w, sum(nsw)::BIGINT AS nw FROM src_w GROUP BY w),
    tot AS (SELECT sum(nw)::BIGINT AS n FROM corp_w),
    terms AS (
        SELECT source, w,
               (nsw / ns) * ln((nsw::DOUBLE * n) / (ns::DOUBLE * nw)) AS term
        FROM src_w JOIN corp_w USING (w) JOIN tot_s USING (source), tot
    ),
    kl AS (
        SELECT source,
               list_reduce(list_prepend(0.0::DOUBLE,
                   [x.term FOR x IN list({'w': w, 'term': term} ORDER BY w)]),
                   (p, q) -> p + q) AS kl_nats
        FROM terms GROUP BY source
    )
    SELECT source, ns AS n_tokens, vocab_s, kl_nats
    FROM tot_s JOIN kl USING (source)
    ORDER BY source
"""
QUERIES["t31_kl_drift"] = t31_kl_drift


# ---------------------------------------------------------------------------
# t32: vocabulary estimation (Good-Turing unseen mass + Chao1 richness)
# ---------------------------------------------------------------------------


def t32_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus COVERAGE estimation — the "how much vocabulary haven't
    we seen yet" member of the text family (t09 counts the observed
    vocabulary; this estimates the unobserved part). From the term
    frequency spectrum (frequency-of-frequencies f_r):

    * Good-Turing unseen probability mass P0 = f1/N — the chance the
      NEXT token is a never-seen type (Good 1953), in exact ppm;
    * Chao1 richness lower bound V + f1·(f1−1)/(2·(f2+1)) — the
      bias-corrected estimator (Chao 1984) of how many types exist
      including unseen ones, with integer floor division.

    Both estimators are pure integer arithmetic over three combinable
    aggregates (token count, vocab size, spectrum head), so the gate
    hash-matches bit-for-bit.

    Scale: explode → term counts (one hash shuffle on the term) →
    frequency-of-frequencies (one shuffle on the FREQUENCY — the
    spectrum is at most |distinct frequencies| rows, ≪ vocab) →
    single-row residue. Nothing wider than the term-count exchange
    every tf/df operator (t09/t21) already pays.
    """
    d = Tables(spark, sf_dir).documents
    tok = d.select(F.explode(_words()).alias("w"))
    counts = tok.groupBy("w").agg(F.count(F.lit(1)).alias("r"))
    spectrum = counts.groupBy("r").agg(F.count(F.lit(1)).alias("f"))
    return (
        spectrum.agg(
            F.sum(F.col("r") * F.col("f")).alias("n_tokens"),
            F.sum("f").alias("vocab_seen"),
            F.sum(F.when(F.col("r") == 1, F.col("f")).otherwise(0)).alias("f1"),
            F.sum(F.when(F.col("r") == 2, F.col("f")).otherwise(0)).alias("f2"),
        )
        .select(
            "n_tokens",
            "vocab_seen",
            "f1",
            "f2",
            F.expr("(1000000 * f1) DIV n_tokens").alias("unseen_ppm"),
            F.expr("vocab_seen + (f1 * (f1 - 1)) DIV (2 * (f2 + 1))").alias(
                "chao1_vocab"
            ),
        )
    )


ORACLE["t32_vocab_estimate"] = """
    WITH tok AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    counts AS (SELECT w, count(*)::BIGINT AS r FROM tok GROUP BY w),
    spectrum AS (SELECT r, count(*)::BIGINT AS f FROM counts GROUP BY r),
    s AS (
        SELECT sum(r * f)::BIGINT AS n_tokens,
               sum(f)::BIGINT AS vocab_seen,
               sum(CASE WHEN r = 1 THEN f ELSE 0 END)::BIGINT AS f1,
               sum(CASE WHEN r = 2 THEN f ELSE 0 END)::BIGINT AS f2
        FROM spectrum
    )
    SELECT n_tokens, vocab_seen, f1, f2,
           ((1000000 * f1) // n_tokens)::BIGINT AS unseen_ppm,
           (vocab_seen + (f1 * (f1 - 1)) // (2 * (f2 + 1)))::BIGINT
               AS chao1_vocab
    FROM s
    """
QUERIES["t32_vocab_estimate"] = t32_vocab_estimate


# ---------------------------------------------------------------------------
# t33: boilerplate detection (source-frequent shingle coverage)
# ---------------------------------------------------------------------------

BOILER_SHINGLE_W = 3  # words per positional shingle
BOILER_MIN_DOCS = 3  # shingle is boilerplate if in >= this many docs of a source


def t33_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate detection — the CCNet-style "same phrase repeated
    across many documents of one source" profile (headers, footers,
    navigation chrome). A positional word 3-shingle is *boilerplate*
    within its source when it occurs in >= ``BOILER_MIN_DOCS`` distinct
    documents of that source; every document (with >= W words) then
    reports how many of its shingle POSITIONS are covered by
    boilerplate shingles (exact integer ppm) — zero-coverage documents
    emit an explicit 0-ppm row, so thresholding consumers can tell
    "clean" from "absent". Dedup (d-family) asks "is this whole
    document a copy"; this asks "how much of this document is chrome"
    — the removal signal an LLM ingest pipeline thresholds on.

    Plan shape: shingles are hashed to 8-byte keys INSIDE the
    ``transform`` lambda before the explode (generated rows never carry
    text), doc-frequency is one (source, h) hash aggregation over the
    distinct-per-doc projection, and the per-position count is an
    equi-join back on the same (source, h) key — two shuffles on 8-byte
    keys, both combinable map-side. The exploded relation feeds both
    branches, so it is persisted (multi-consumer house rule — without
    it the corpus scan + shingle hashing pipeline compiles twice). At
    100 TB the boilerplate set is corpus-frequent-only (df >= threshold
    keeps it tiny relative to the shingle universe) so AQE turns the
    join-back into a broadcast.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    dw = d.withColumn("w", _words()).filter(F.size("w") >= BOILER_SHINGLE_W)
    sh = F.transform(
        F.sequence(F.lit(1), F.size("w") - (BOILER_SHINGLE_W - 1)),
        lambda i: h64(
            F.concat_ws(
                " ",
                F.element_at(F.col("w"), i),
                F.element_at(F.col("w"), i + 1),
                F.element_at(F.col("w"), i + 2),
            )
        ),
    )
    pos = (
        dw.select(
            "doc_id",
            "source",
            F.size("w").alias("nw"),
            F.explode(sh).alias("h"),
        )
        .withColumn("n_pos", F.col("nw") - (BOILER_SHINGLE_W - 1))
    )
    pos = bounded_persist(pos, "text.t33.pos")
    df = (
        pos.select("source", "h", "doc_id")
        .distinct()
        .groupBy("source", "h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= BOILER_MIN_DOCS)
        .select("source", "h")
    )
    covered = (
        pos.join(df, ["source", "h"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_boiler_pos"))
    )
    base = dw.select(
        "doc_id", (F.size("w") - (BOILER_SHINGLE_W - 1)).alias("n_pos")
    )
    return (
        base.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_pos",
            F.coalesce("n_boiler_pos", F.lit(0)).alias("n_boiler_pos"),
        )
        .select(
            "doc_id",
            "n_pos",
            "n_boiler_pos",
            F.expr("(1000000 * n_boiler_pos) DIV n_pos").alias("boiler_ppm"),
        )
        .orderBy("doc_id")
    )


ORACLE["t33_boilerplate"] = f"""
    WITH docs AS (
        SELECT doc_id, source,
               [string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                || ' ' || string_split(text,' ')[i+2]
                for i in generate_series(1, len(string_split(text,' ')) - 2)] AS sh
        FROM documents
        WHERE len(string_split(text,' ')) >= {BOILER_SHINGLE_W}
    ), pos AS (
        SELECT doc_id, source, len(sh) AS n_pos, {h64_sql('unnest(sh)')} AS h
        FROM docs
    ), df AS (
        SELECT source, h
        FROM (SELECT DISTINCT source, h, doc_id FROM pos)
        GROUP BY source, h
        HAVING count(*) >= {BOILER_MIN_DOCS}
    ), covered AS (
        SELECT p.doc_id, count(*)::BIGINT AS n_boiler_pos
        FROM pos p JOIN df USING (source, h)
        GROUP BY p.doc_id
    ), base AS (
        SELECT doc_id, len(sh) AS n_pos FROM docs
    )
    SELECT b.doc_id,
           b.n_pos::INT AS n_pos,
           coalesce(c.n_boiler_pos, 0)::BIGINT AS n_boiler_pos,
           ((1000000 * coalesce(c.n_boiler_pos, 0)) // b.n_pos)::BIGINT AS boiler_ppm
    FROM base b LEFT JOIN covered c USING (doc_id)
    ORDER BY doc_id
"""
QUERIES["t33_boilerplate"] = t33_boilerplate


# ---------------------------------------------------------------------------
# t34: per-source dataset card (corpus composition summary)
# ---------------------------------------------------------------------------


def t34_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source *dataset card*: the one-row-per-source composition
    summary a training-data pipeline publishes next to each corpus
    slice — volume (docs, tokens), exact-duplicate rate, language mix
    (distinct langs + dominant lang), and length distribution cuts
    (low-median and p90 of n_chars). Integer-exact throughout: ratios
    are ppm floor-divisions, the dominant lang rides a zero-padded
    count-pack (ties break toward the lexicographically greatest
    lang), and the length cuts are grid order statistics.

    Plan shape: three small aggregates joined on source — (1) one
    combinable groupBy(source) pass over the corpus, (2) a
    (source, lang) count re-aggregated to the dominant lang, (3) a
    (source, n_chars) GRID whose windowed cumsum input is bounded by
    |sources| x |distinct lengths|, never corpus-sized (the q68/q84
    discipline: windows only over grid-sized relations). All three
    shuffle on the same tiny source key; the final joins broadcast.
    """
    from ..functions.hashing import h64

    d = Tables(spark, sf_dir).documents
    base = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(h64(F.col("text"))).alias("n_uniq"),
        F.sum(F.size(_words())).alias("total_words"),
        F.countDistinct("lang").alias("n_langs"),
    )
    lang_mode = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("source")
        .agg(
            F.max(
                F.concat(F.lpad(F.col("c").cast("string"), 12, "0"), F.lit("|"), F.col("lang"))
            ).alias("packed")
        )
        .select("source", F.substring_index("packed", "|", -1).alias("top_lang"))
    )
    grid = d.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    w_cum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("source")
    cuts = (
        grid.withColumn("cum", F.sum("c").over(w_cum))
        .withColumn("tot", F.sum("c").over(w_tot))
        .groupBy("source")
        .agg(
            F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("n_chars"))).alias(
                "median_chars"
            ),
            F.min(F.when(10 * F.col("cum") >= 9 * F.col("tot"), F.col("n_chars"))).alias(
                "p90_chars"
            ),
        )
    )
    return (
        base.join(lang_mode, "source")
        .join(cuts, "source")
        .select(
            "source",
            "n_docs",
            F.expr("(1000000 * n_uniq) DIV n_docs").alias("uniq_ppm"),
            "total_words",
            "n_langs",
            "top_lang",
            "median_chars",
            "p90_chars",
        )
        .orderBy("source")
    )


ORACLE["t34_dataset_card"] = f"""
    WITH base AS (
        SELECT source,
               count(*)::BIGINT AS n_docs,
               count(DISTINCT {h64_sql('text')})::BIGINT AS n_uniq,
               sum(len(string_split(text, ' ')))::BIGINT AS total_words,
               count(DISTINCT lang)::BIGINT AS n_langs
        FROM documents GROUP BY source
    ), lc AS (
        SELECT source, lang, count(*)::BIGINT AS c
        FROM documents GROUP BY source, lang
    ), lang_mode AS (
        SELECT source,
               string_split(max(lpad(c::VARCHAR, 12, '0') || '|' || lang), '|')[2]
                   AS top_lang
        FROM lc GROUP BY source
    ), grid AS (
        SELECT source, n_chars, count(*)::BIGINT AS c
        FROM documents GROUP BY source, n_chars
    ), cum AS (
        SELECT source, n_chars, c,
               sum(c) OVER (PARTITION BY source ORDER BY n_chars
                            ROWS UNBOUNDED PRECEDING) AS cum,
               sum(c) OVER (PARTITION BY source) AS tot
        FROM grid
    ), cuts AS (
        SELECT source,
               min(CASE WHEN 2 * cum >= tot THEN n_chars END) AS median_chars,
               min(CASE WHEN 10 * cum >= 9 * tot THEN n_chars END) AS p90_chars
        FROM cum GROUP BY source
    )
    SELECT source, n_docs,
           ((1000000 * n_uniq) // n_docs)::BIGINT AS uniq_ppm,
           total_words, n_langs, top_lang, median_chars, p90_chars
    FROM base JOIN lang_mode USING (source) JOIN cuts USING (source)
    ORDER BY source
"""
QUERIES["t34_dataset_card"] = t34_dataset_card


# ---------------------------------------------------------------------------
# t35: Gopher repetition signals (Rae et al. 2021, Table A1)
# ---------------------------------------------------------------------------

# ppm thresholds from the published Gopher repetition filters: a doc is
# repetition-flagged when the top 2-gram exceeds 20% of its chars, the
# top 3-gram 18%, or duplicated 5-grams 15%.
T35_TOP2_PPM = 200_000
T35_TOP3_PPM = 180_000
T35_DUP5_PPM = 150_000


def _t35_grams(words, n: int):
    """Word n-grams (joined by spaces), [] when the doc has < n words.
    The size guard matters: Spark's sequence() DESCENDS when stop <
    start, so an unguarded sequence(1, size-n+1) fabricates grams for
    short docs instead of none."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + k) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _t35_top_mass(grams):
    """max over distinct n-grams of count(g)·len(g) — the char mass of
    the dominant n-gram — as a sorted run-length fold (the c01 quality
    fold's discipline): O(n log n) per doc, map-only, no explode, no
    shuffle. Tracking the maximal count·len product instead of an
    argmax gram needs NO tie-break at all: it is a pure integer max."""
    return F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("p"),
            F.lit(0).alias("r"),
            F.lit(0).alias("b"),
        ),
        lambda acc, x: F.struct(
            x.alias("p"),
            F.when(x == acc["p"], acc["r"] + F.lit(1)).otherwise(F.lit(1)).alias("r"),
            F.greatest(
                acc["b"],
                F.when(x == acc["p"], acc["r"] + F.lit(1)).otherwise(F.lit(1))
                * F.length(x),
            ).alias("b"),
        ),
        lambda acc: acc["b"],
    )


def _t35_dup_mass(grams):
    """Σ over n-grams occurring ≥ 2 times of count(g)·len(g) — the
    char mass inside duplicated n-grams — same sorted fold: when a run
    reaches 2 the first occurrence is charged retroactively (2·len),
    every further repeat adds len."""
    return F.aggregate(
        F.array_sort(grams),
        F.struct(
            F.lit(None).cast("string").alias("p"),
            F.lit(0).alias("r"),
            F.lit(0).alias("s"),
        ),
        lambda acc, x: F.struct(
            x.alias("p"),
            F.when(x == acc["p"], acc["r"] + F.lit(1)).otherwise(F.lit(1)).alias("r"),
            (
                acc["s"]
                + F.when(
                    (x == acc["p"]) & (acc["r"] + F.lit(1) == F.lit(2)),
                    F.length(x) * 2,
                )
                .when((x == acc["p"]) & (acc["r"] + F.lit(1) > F.lit(2)), F.length(x))
                .otherwise(F.lit(0))
            ).alias("s"),
        ),
        lambda acc: acc["s"],
    )


def t35_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The published Gopher repetition-filter signals (Rae et al.
    2021, "Scaling Language Models", Table A1), per source: char mass
    of the dominant 2-gram and 3-gram, char mass inside duplicated
    5-grams — each as an integer ppm of the doc's characters — plus
    the count of docs breaching any published threshold. Extends t06
    (top WORD dominance) with the n-gram family the paper actually
    filters on; the signals are what a curation pipeline tunes before
    committing to expensive near-dedup.

    Everything is integer ppm (BIGINT multiply before an integral DIV
    guarded by nullif) — the gate never sees a float. Per-doc signals
    are sorted run-length folds over the gram arrays: map-only, no
    explode, no shuffle; the only shuffle in the plan is the final
    per-source hash aggregate. At 100 TB that is one pass over the
    corpus with combinable partials — the same budget as t06.
    """
    d = Tables(spark, sf_dir).documents
    # materialize the words array AND each gram array as real columns
    # before the folds: a HOF lambda that captures a split()/transform
    # EXPRESSION re-evaluates it per element access (the hash_docs
    # rule) — with ~550 grams × 5 element_at accesses each, the
    # unmaterialized version re-split the text O(n²) times per doc
    # (first bench: 12.6 s, slowest row in the registry; materialized:
    # sub-second)
    w = F.col("w")
    per_doc = (
        d.withColumn("w", _words())
        .withColumn("g2", _t35_grams(w, 2))
        .withColumn("g3", _t35_grams(w, 3))
        .withColumn("g5", _t35_grams(w, 5))
        .select(
            "source",
            F.length(F.col("text")).alias("n_chars_txt"),
            _t35_top_mass(F.col("g2")).alias("m2"),
            _t35_top_mass(F.col("g3")).alias("m3"),
            _t35_dup_mass(F.col("g5")).alias("m5"),
        )
    ).select(
        "source",
        F.expr(
            "CAST(m2 AS BIGINT) * 1000000 DIV nullif(n_chars_txt, 0)"
        ).alias("top2_ppm"),
        F.expr(
            "CAST(m3 AS BIGINT) * 1000000 DIV nullif(n_chars_txt, 0)"
        ).alias("top3_ppm"),
        F.expr(
            "CAST(m5 AS BIGINT) * 1000000 DIV nullif(n_chars_txt, 0)"
        ).alias("dup5_ppm"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("sum(top2_ppm) DIV count(1)").alias("avg_top2_ppm"),
            F.expr("sum(top3_ppm) DIV count(1)").alias("avg_top3_ppm"),
            F.expr("sum(dup5_ppm) DIV count(1)").alias("avg_dup5_ppm"),
            F.sum(
                F.expr(
                    f"CASE WHEN top2_ppm > {T35_TOP2_PPM} "
                    f"OR top3_ppm > {T35_TOP3_PPM} "
                    f"OR dup5_ppm > {T35_DUP5_PPM} THEN 1 ELSE 0 END"
                )
            ).cast("long").alias("n_flagged"),
        )
        .orderBy("source")
    )


def _t35_grams_sql(n: int) -> str:
    joined = " || ' ' || ".join(f"ws[i+{k}]" for k in range(n))
    return (
        f"[{joined} for i in generate_series(1, len(ws) - {n - 1})]"
    )


ORACLE["t35_gopher_repetition"] = f"""
    WITH docs AS (
        SELECT source, length(text) AS n_chars_txt,
               string_split(text, ' ') AS ws
        FROM documents
    ),
    grams AS (
        SELECT source, n_chars_txt,
               {_t35_grams_sql(2)} AS g2,
               {_t35_grams_sql(3)} AS g3,
               {_t35_grams_sql(5)} AS g5
        FROM docs
    ),
    masses AS (
        SELECT source, n_chars_txt,
               coalesce(list_max(list_transform(list_distinct(g2),
                   u -> len(list_filter(g2, x -> x = u)) * length(u))), 0) AS m2,
               coalesce(list_max(list_transform(list_distinct(g3),
                   u -> len(list_filter(g3, x -> x = u)) * length(u))), 0) AS m3,
               coalesce(list_sum(list_transform(list_distinct(g5),
                   u -> CASE WHEN len(list_filter(g5, x -> x = u)) >= 2
                        THEN len(list_filter(g5, x -> x = u)) * length(u)
                        ELSE 0 END)), 0) AS m5
        FROM grams
    ),
    per_doc AS (
        SELECT source,
               m2::BIGINT * 1000000 // nullif(n_chars_txt, 0) AS top2_ppm,
               m3::BIGINT * 1000000 // nullif(n_chars_txt, 0) AS top3_ppm,
               m5::BIGINT * 1000000 // nullif(n_chars_txt, 0) AS dup5_ppm
        FROM masses
    )
    SELECT source,
           count(*)::BIGINT AS n_docs,
           (sum(top2_ppm) // count(*))::BIGINT AS avg_top2_ppm,
           (sum(top3_ppm) // count(*))::BIGINT AS avg_top3_ppm,
           (sum(dup5_ppm) // count(*))::BIGINT AS avg_dup5_ppm,
           sum(CASE WHEN top2_ppm > {T35_TOP2_PPM}
                    OR top3_ppm > {T35_TOP3_PPM}
                    OR dup5_ppm > {T35_DUP5_PPM} THEN 1 ELSE 0 END)::BIGINT
               AS n_flagged
    FROM per_doc
    GROUP BY source
    ORDER BY source
"""
QUERIES["t35_gopher_repetition"] = t35_gopher_repetition
