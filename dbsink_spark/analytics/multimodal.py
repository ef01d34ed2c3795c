"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Media (image/audio/video) is modeled as a ``binary`` column plus a JSON
metadata column — the pattern a 100 TB training-data pipeline uses:
parquet carries the bytes, Spark moves them by reference, and all
decode / feature-extraction happens in Arrow-batched ``mapInPandas``
UDFs at the executors.

The actual codec step is STUBBED (no image/audio libraries in this
environment): ``decode_image``/``decode_audio`` raise
``NotImplementedError``, and the tested path uses
``fake_decode_features`` — a deterministic byte-level featurizer whose
results the DuckDB oracle can verify (length, md5-derived content
hash, fixed-size frame count). The Spark-side plumbing — schema,
binary handling, Arrow batch shape, partition parallelism — is real.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hashing import h64_sql
from .tables import Tables
from .bcache import bounded_persist

FRAME_BYTES = 256  # fake "frame" granularity for frame-sampling stub


def decode_image(data: bytes):  # pragma: no cover - stub
    """Decode an image payload to HxWxC pixels. STUB: requires an image
    codec library not present in this environment."""
    raise NotImplementedError("image decoding requires an image codec library")


def decode_audio(data: bytes):  # pragma: no cover - stub
    """Decode an audio payload to PCM samples. STUB: see decode_image."""
    raise NotImplementedError("audio decoding requires an audio codec library")


def fake_decode_features(data: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for a media featurizer: (n_bytes,
    content_hash, n_frames). Byte-level only, so it runs anywhere and
    is oracle-verifiable."""
    n_bytes = len(data)
    content_hash = int(hashlib.md5(data).hexdigest()[:15], 16)
    n_frames = math.ceil(n_bytes / FRAME_BYTES) if n_bytes else 0
    return n_bytes, content_hash, n_frames


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_hash", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def _featurize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: one Arrow batch in, one feature frame out."""
    for pdf in batches:
        feats = [fake_decode_features(b) for b in pdf["blob"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "n_bytes": [f[0] for f in feats],
                "content_hash": [f[1] for f in feats],
                "n_frames": [f[2] for f in feats],
            }
        )


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize the media table shape from documents: binary payload
    + JSON metadata column (what a real ingest would carry)."""
    d = Tables(spark, sf_dir).documents
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("blob"),
        F.to_json(F.struct("source", "lang", "n_chars")).alias("meta"),
    )


def m01_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column featurization via Arrow-batched mapInPandas.

    The stub featurizer is byte-deterministic, so the oracle verifies
    the full plumbing (binary encode → Arrow transfer → python decode →
    typed result) value-for-value.
    """
    media = media_table(spark, sf_dir)
    return media.select("doc_id", "blob").mapInPandas(_featurize_batches, FEATURES_SCHEMA)


def m02_media_meta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join extracted features back to parsed metadata — the typed-
    metadata half of the multimodal model (JSON → typed columns)."""
    media = media_table(spark, sf_dir)
    feats = m01_media_features(spark, sf_dir)
    meta = media.select(
        "doc_id",
        F.get_json_object("meta", "$.source").alias("source"),
        F.get_json_object("meta", "$.n_chars").cast("long").alias("n_chars"),
    )
    return (
        feats.join(meta, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("n_bytes").alias("total_bytes"),
            F.sum("n_frames").alias("total_frames"),
            F.sum((F.col("n_bytes") == F.col("n_chars")).cast("int")).alias("n_len_match"),
        )
        .orderBy("source")
    )


ORACLE: dict[str, str] = {
    "m01_media_features": f"""
        SELECT doc_id,
               octet_length(encode(text))                       AS n_bytes,
               {h64_sql('text')}                              AS content_hash,
               CASE WHEN octet_length(encode(text)) = 0 THEN 0
                    ELSE ceil(octet_length(encode(text)) / {FRAME_BYTES}.0)::BIGINT END AS n_frames
        FROM documents
    """,
    "m02_media_meta_join": f"""
        SELECT source,
               count(*)                 AS n_media,
               sum(octet_length(encode(text)))::BIGINT  AS total_bytes,
               sum(CASE WHEN octet_length(encode(text)) = 0 THEN 0
                        ELSE ceil(octet_length(encode(text)) / {FRAME_BYTES}.0)::BIGINT END)::BIGINT AS total_frames,
               sum((octet_length(encode(text)) = n_chars)::INT)::BIGINT AS n_len_match
        FROM documents
        GROUP BY source
        ORDER BY source
    """,
}

QUERIES = {
    "m01_media_features": m01_media_features,
    "m02_media_meta_join": m02_media_meta_join,
}


# ---------------------------------------------------------------------------
# m04: binary near-dup via piecewise chunk-signature (perceptual-hash shape)
# ---------------------------------------------------------------------------

SIG_CHUNKS = 60  # signature width: one bit per fixed-position chunk (60 keeps the
# value strictly below 2^63 so it rides a signed BIGINT in both engines)
M04_BANDS = 4  # 15-bit pigeonhole bands
M04_RADIUS = 3  # hamming radius: <= 3 differing bits -> near-dup


def chunk_signature(data: bytes) -> int:
    """60-bit piecewise signature over a binary payload: the payload is
    cut into ``SIG_CHUNKS`` fixed-position chunks and bit *i* is the
    parity of chunk *i*'s md5 — ssdeep-style piecewise hashing, so a
    localized byte edit flips only the bits of the chunks it touches
    (locality at chunk granularity). A real image pipeline would swap
    this for a perceptual pHash/aHash over decoded pixels
    (``decode_image`` is the stubbed seam); the signature WIDTH, the
    banding and the verify are identical either way.
    """
    n = len(data)
    width = max(1, -(-n // SIG_CHUNKS))
    sig = 0
    for i in range(SIG_CHUNKS):
        chunk = data[i * width : (i + 1) * width]
        if chunk:
            bit = int(hashlib.md5(chunk).hexdigest()[:15], 16) & 1
            sig |= bit << i
    return sig


SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sig", T.LongType()),
    ]
)


def _sig_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].values,
                "sig": [chunk_signature(b) for b in pdf["blob"]],
            }
        )


def m04_binary_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate detection over BINARY media payloads: piecewise
    chunk signatures (computed executor-side in Arrow-batched
    mapInPandas — the multimodal decode seam) + the same pigeonhole
    band candidate generation as text simhash: hamming ≤ 3
    across 4 disjoint 15-bit bands means at least one band matches
    exactly, so candidates come from an equi-join on (band_id,
    band_value) — never an O(n²) self-join — and the exact
    ``bit_count`` verify runs on candidates only. Each pair is emitted
    once via the first-matching-band map-side filter (no dedup
    shuffle). Provably equal to the brute-force oracle pair set.
    """
    media = media_table(spark, sf_dir)
    # persist: both sides of the band self-join read the signatures;
    # without it the Arrow-batched python featurizer runs twice
    sigs = bounded_persist(
        media.select("doc_id", "blob").mapInPandas(_sig_batches, SIG_SCHEMA),
        "multimodal.m04.sigs",
    )

    width = SIG_CHUNKS // M04_BANDS
    mask = (1 << width) - 1
    banded = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_id"),
                        F.shiftright("sig", j * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for j in range(M04_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band_id", "bb.band_val")

    a, b = banded.alias("a"), banded.alias("b")
    joined = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("a.sig").alias("sig_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("b.sig").alias("sig_b"),
        F.col("a.band_id").alias("band_id"),
    )
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    conds = []
    for j in range(M04_BANDS):
        c = F.lit(True)
        for i in range(j):
            c = c & (F.shiftright(xor, i * width).bitwiseAND(F.lit(mask)) != 0)
        conds.append((F.col("band_id") == j) & c)
    first_match = conds[0]
    for c in conds[1:]:
        first_match = first_match | c
    return (
        joined.filter(first_match)
        .select("doc_a", "doc_b", F.bit_count(xor).alias("hamming"))
        .filter(F.col("hamming") <= M04_RADIUS)
        .orderBy("doc_a", "doc_b")
    )


ORACLE["m04_binary_near_dup"] = f"""
    WITH sized AS (
        SELECT doc_id, text,
               greatest(1, ceil(length(text) / {SIG_CHUNKS}.0)::BIGINT) AS w
        FROM documents
    ), sigs AS (
        SELECT doc_id,
               list_sum([
                   CASE WHEN length(substring(text, (i * w)::INT + 1, w::INT)) > 0
                        THEN (({h64_sql("substring(text, (i * w)::INT + 1, w::INT)")}) % 2)
                             << i
                        ELSE 0 END
                   for i in generate_series(0, {SIG_CHUNKS - 1})])::BIGINT AS sig
        FROM sized
    )
    -- brute force: the engine's banded plan must equal this pair set
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {M04_RADIUS}
    ORDER BY doc_a, doc_b
"""

QUERIES["m04_binary_near_dup"] = m04_binary_near_dup


# ---------------------------------------------------------------------------
# m05: content-defined chunking (storage-dedup estimation over binary)
# ---------------------------------------------------------------------------

CDC_STRIDE = 8   # bytes between boundary probes
CDC_WINDOW = 8   # probe window bytes (16 hex chars)
CDC_MOD = 64     # P(cut) per probe -> E[chunk] ~ 512 bytes


def m05_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over BINARY payloads — the
    storage-level dedup estimator every training-data lake wants
    before deciding how to store a multimodal corpus: boundaries are
    chosen by CONTENT (a rolling window hash hitting a modulus), so
    an insertion early in a blob shifts only the chunks it touches —
    unlike fixed-size blocks, where everything downstream re-chunks
    (the rsync/LBFS/FastCDC insight). Per source: chunk count,
    distinct-chunk count, total vs unique bytes, and the duplicated-
    byte ppm the lake would save with chunk-level dedup.

    This variant probes every CDC_STRIDE bytes and cuts wherever
    h64(window) % CDC_MOD == 0 — the pure content-predicate form,
    which is embarrassingly parallel and engine-exact. (Production
    FastCDC adds min/max chunk bounds, which makes the scan
    sequential per blob; the boundary-shift-resistance property this
    operator exists to measure is already present without them.)
    Blobs shorter than one window are excluded (no probe fits).

    Everything is built-in HOFs over the BINARY payload —
    transform/filter/sequence for the probe lattice, byte-indexed
    binary substr (O(1) seek; the hex-string form would pay an
    O(position) UTF-8 scan per window — quadratic) for windows and
    chunks, hex+h64 for both the boundary predicate and the chunk
    fingerprint, chunks hashed INSIDE the per-row array so the blob
    never rides the explode. Linear in blob size (measured flat
    ~200 us/probe, interpreter-bound: HOF lambdas don't codegen); for
    MB-class media blobs that is ~5 MB/s/core — raise CDC_STRIDE or
    swap the probe kernel for an Arrow/numpy rolling hash (m-family
    mapInPandas plumbing) when chunking dominates; the HOF form stays
    the oracle-exact reference. The only exploded granularity is
    per-CHUNK (~512-byte expected), so the shuffle carries
    corpus_bytes/512 narrow rows.

    Scale: the probe/chunk construction is a per-row map (pushed
    projection over the blob column); the two-level aggregate
    (per (source, chunk_hash), then per source) is map-side
    combinable. At 100 TB the (source, chunk_hash) exchange is the
    only corpus-order shuffle — 16-byte keys, no payload bytes ever
    shuffle.
    """
    return _cdc_aggregate(cdc_chunks(Tables(spark, sf_dir).documents))


def cdc_chunks(d: DataFrame) -> DataFrame:
    """(source, clen, chash) chunk rows for every text payload in
    ``d`` — the factored CDC core, so property tests can chunk
    synthetic blobs. Stride-lattice probing is shift-resistant to
    insertions whose byte length is a MULTIPLE of CDC_STRIDE (the
    probe lattice realigns after the edit; per-byte probing — stride
    1 — gives full resistance at 8x probe cost), which the
    boundary-shift property test pins."""
    from ..functions.hashing import h64

    # Spark side operates on the raw BINARY: substring on BinaryType is
    # BYTE-indexed (O(1) seek + O(len) copy), where substr on the hex
    # STRING pays an O(position) UTF-8 character scan per window — on a
    # 256 KB blob that is quadratic (round-8 review #2: 64 KB blobs
    # effectively hung). hex() is applied to the 8-byte window / chunk
    # slices only, and hex(substring(blob,a,l)) == substr(hex(blob),
    # 2a-1, 2l), so the hashed strings — and the oracle, which keeps
    # the hex-string form DuckDB can express — are value-identical.
    base = d.select(
        "source",
        F.encode("text", "utf-8").alias("bb"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n"),
    ).filter(F.col("n") >= CDC_WINDOW)
    cuts = F.filter(
        F.transform(
            F.sequence(
                F.lit(CDC_STRIDE).cast("long"), F.col("n"), F.lit(CDC_STRIDE).cast("long")
            ),
            lambda p: F.when(
                h64(
                    F.hex(
                        F.col("bb").substr(
                            (p - F.lit(CDC_WINDOW) + 1).cast("int"),
                            F.lit(CDC_WINDOW),
                        )
                    )
                )
                % CDC_MOD
                == 0,
                p,
            ),
        ),
        lambda x: x.isNotNull() & (x < F.col("n")),
    )
    # MATERIALIZE the boundary array as a named column before it is
    # referenced again (round-8 review #2): inlining the expression
    # into size() + two element_at()s re-evaluates the ENTIRE md5
    # probe lattice per pair index — quadratic in blob size (a 64 KB
    # blob effectively hung). CollapseProject keeps a projection
    # boundary for multi-referenced non-cheap aliases, so the lattice
    # computes once per row; the plan shape is pinned by
    # test_m05_probe_lattice_computed_once.
    bounded = base.withColumn(
        "b",
        F.concat(F.array(F.lit(0).cast("long")), cuts, F.array(F.col("n"))),
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size(F.col("b")) - 1),
        lambda i: F.struct(
            F.element_at(F.col("b"), i).alias("a"),
            F.element_at(F.col("b"), i + 1).alias("z"),
        ),
    )
    # hash chunks INSIDE the per-row array, then explode the small
    # (clen, chash) structs: exploding the pairs FIRST would make every
    # generated row carry the full blob to its substr — O(chunks x
    # blob) bytes, quadratic again at MB blobs (round-8 review #2,
    # second leg). The blob is touched once per row, never rides the
    # Generate.
    chunk_arr = F.transform(
        pairs,
        lambda c: F.struct(
            (c["z"] - c["a"]).alias("clen"),
            h64(
                F.hex(
                    F.col("bb").substr(
                        (c["a"] + 1).cast("int"),
                        (c["z"] - c["a"]).cast("int"),
                    )
                )
            ).alias("chash"),
        ),
    )
    chunks = bounded.select("source", F.explode(chunk_arr).alias("c")).select(
        "source", F.col("c.clen").alias("clen"), F.col("c.chash").alias("chash")
    )
    return chunks


def _cdc_aggregate(chunks: DataFrame) -> DataFrame:
    per = chunks.groupBy("source", "chash").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("clen").alias("clen")
    )
    return (
        per.groupBy("source")
        .agg(
            F.sum("cnt").alias("n_chunks"),
            F.count(F.lit(1)).alias("n_distinct_chunks"),
            F.sum(F.col("cnt") * F.col("clen")).alias("bytes_total"),
            F.sum("clen").alias("bytes_unique"),
        )
        .select(
            "source",
            "n_chunks",
            "n_distinct_chunks",
            "bytes_total",
            "bytes_unique",
            F.expr(
                "(1000000 * (bytes_total - bytes_unique)) DIV bytes_total"
            ).alias("dup_ppm"),
        )
        .orderBy("source")
    )


ORACLE["m05_cdc_chunks"] = f"""
    WITH h AS (
        SELECT source, hex(encode(text)) AS hx,
               octet_length(encode(text))::BIGINT AS n
        FROM documents
        WHERE octet_length(encode(text)) >= {CDC_WINDOW}
    ),
    cuts AS (
        SELECT source, hx, n,
               [0::BIGINT]
               || list_filter(
                      [CASE WHEN {h64_sql(f"substr(hx, ((p - {CDC_WINDOW}) * 2 + 1)::INT, {2 * CDC_WINDOW})")}
                                 % {CDC_MOD} = 0
                            THEN p::BIGINT END
                       for p in generate_series({CDC_STRIDE}, n, {CDC_STRIDE})],
                      x -> x IS NOT NULL AND x < n)
               || [n] AS b
        FROM h
    ),
    chunks AS (
        SELECT source, hx,
               unnest([{{'a': b[i], 'z': b[i + 1]}}
                       for i in generate_series(1, len(b) - 1)]) AS c
        FROM cuts
    ),
    hashed AS (
        SELECT source, (c.z - c.a)::BIGINT AS clen,
               {h64_sql("substr(hx, (c.a * 2 + 1)::INT, ((c.z - c.a) * 2)::INT)")} AS chash
        FROM chunks
    ),
    per AS (
        SELECT source, chash, count(*)::BIGINT AS cnt, min(clen)::BIGINT AS clen
        FROM hashed GROUP BY source, chash
    )
    SELECT source,
           sum(cnt)::BIGINT AS n_chunks,
           count(*)::BIGINT AS n_distinct_chunks,
           sum(cnt * clen)::BIGINT AS bytes_total,
           sum(clen)::BIGINT AS bytes_unique,
           ((1000000 * (sum(cnt * clen) - sum(clen))) // sum(cnt * clen))::BIGINT
               AS dup_ppm
    FROM per GROUP BY source ORDER BY source
"""
QUERIES["m05_cdc_chunks"] = m05_cdc_chunks


# ---------------------------------------------------------------------------
# m06: payload entropy triage (byte-distribution profile per blob)
# ---------------------------------------------------------------------------

# class cuts applied to the ROUNDED entropy (both engines classify the
# identical round-4 double, so the thresholds carry no ulp boundary risk)
M06_LOW_BITS = 4.05
M06_MID_BITS = 4.15


def m06_payload_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Payload triage by byte-distribution entropy — the cheap
    first-pass filter a multimodal ingest runs on opaque blobs before
    paying for a real decoder: near-uniform byte histograms
    (entropy -> 8 bits) mean already-compressed/encrypted payloads a
    text pipeline should skip, low-entropy histograms mean repetitive
    filler. Per blob: size, distinct symbols, dominant symbol (ties
    break toward the greatest symbol via a zero-padded count-pack),
    Shannon entropy in bits, and the triage class cut on the ROUNDED
    entropy. This corpus's synthetic blobs are UTF-8 text, so symbol ==
    byte; the plumbing (binary column -> decode -> histogram) is the
    real multimodal path.

    Plan shape: explode to (doc, symbol) -> one combinable count
    aggregation -> one per-doc fold over the <= |alphabet|-sized
    histogram. Entropy uses the sequential ln-fold ordered by symbol
    (the q118/t27 float discipline), H = (ln n - sum c*ln c / n)/ln 2,
    so values hash-match the oracle exactly. Both shuffles key on
    8-byte-ish (doc_id, symbol) — no wide rows move.
    """
    media = media_table(spark, sf_dir)
    # empty payloads carry nothing to triage — and must be SKIPPED
    # explicitly: Spark's split("", "") yields [""] (one phantom
    # symbol) while the oracle's generate_series(1, 0) unnests to zero
    # rows (text-mode fuzz catch, round 9)
    txt = media.filter(F.octet_length("blob") > 0).select(
        "doc_id", F.decode(F.col("blob"), "utf-8").alias("t")
    )
    grp = (
        txt.select("doc_id", F.explode(F.split("t", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    folded = grp.groupBy("doc_id").agg(
        F.sum("c").alias("n_bytes"),
        F.count(F.lit(1)).alias("n_distinct"),
        # fixed-width pack, NOT a delimiter split: the symbol domain is
        # arbitrary payload bytes, so any chosen delimiter could BE the
        # dominant symbol (review finding) — the suffix after the
        # 12-digit count is always exactly the symbol
        F.expr(
            "substring(max(concat(lpad(cast(c as string), 12, '0'), ch)), 13)"
        ).alias("top_sym"),
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("ch", "c"))),
            F.lit(0.0),
            lambda acc, s: acc + s["c"] * F.log(s["c"]),
        ).alias("s"),
    )
    ent = F.round((F.log("n_bytes") - F.col("s") / F.col("n_bytes")) / F.log(F.lit(2.0)), 4)
    out = folded.withColumn("entropy_bits", ent)
    cls = (
        F.when(F.col("entropy_bits") < M06_LOW_BITS, F.lit("low"))
        .when(F.col("entropy_bits") < M06_MID_BITS, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    return out.select(
        "doc_id", "n_bytes", "n_distinct", "top_sym", "entropy_bits", cls.alias("triage")
    ).orderBy("doc_id")


ORACLE["m06_payload_entropy"] = f"""
    WITH pos AS (
        SELECT doc_id,
               unnest([substr(text, i, 1) for i in generate_series(1, len(text))]) AS ch
        FROM documents
    ), grp AS (
        SELECT doc_id, ch, count(*)::BIGINT AS c FROM pos GROUP BY doc_id, ch
    ), folded AS (
        SELECT doc_id,
               sum(c)::BIGINT AS n_bytes,
               count(*)::BIGINT AS n_distinct,
               substr(max(lpad(c::VARCHAR, 12, '0') || ch), 13) AS top_sym,
               list_sum(list(c * ln(c) ORDER BY ch)) AS s
        FROM grp GROUP BY doc_id
    ), scored AS (
        SELECT doc_id, n_bytes, n_distinct, top_sym,
               round((ln(n_bytes) - s / n_bytes) / ln(2), 4) AS entropy_bits
        FROM folded
    )
    SELECT doc_id, n_bytes, n_distinct, top_sym, entropy_bits,
           CASE WHEN entropy_bits < {M06_LOW_BITS} THEN 'low'
                WHEN entropy_bits < {M06_MID_BITS} THEN 'mid'
                ELSE 'high' END AS triage
    FROM scored
    ORDER BY doc_id
"""
QUERIES["m06_payload_entropy"] = m06_payload_entropy
