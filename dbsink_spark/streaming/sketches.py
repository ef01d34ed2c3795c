"""Incrementally-maintained count-min sketch — the streaming twin of
the batch sketch query (analytics.stats.q51_countmin).

Count-min's defining property is MERGEABILITY: grids over disjoint
data merge by cell-wise addition. That makes it the canonical
streaming summary — each micro-batch reduces to its own (row, bucket)
partial grid (a map-side-combinable aggregate over 8-byte pairs), and
the merge is an additive upsert touching only the cells present in
the batch, exactly the RollupMaintainer pattern. The maintained grid
is at all times the exact grid a batch build over everything streamed
so far would produce (asserted cell-for-cell in tests).

Every maintainer here writes through ``MergeMaintainer.merge_batch``:
the batch's partials are staged and merged in one statement and one
transaction by ``sink.write_once``, the same primitive the sink
writes with. The additive ones (count-min, histogram, rollup) take a
replay marker keyed by (table, query id, batch id) in that
transaction; the absorbing ones (bitmap OR, HLL max) need none.

At 100 TB/day the grid stays D×W cells regardless of stream volume —
the whole point of a sketch — and estimates are served from the
target store without touching the stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..ddl import quoted
from ..functions.hashing import AFFINE_MOD, MINHASH_COEFFS, REDUCE_MOD, h64
from ..functions.sketch import CM_D, CM_W, Q62_NUM, Q62_SHIFT, countmin_cells, hll_cells
from ..sink import STAGE, batch_marker, exec_ddl, stage_sql, write_once
from .pipeline import start_foreach_batch


class MergeMaintainer:
    """A summary table in a DBAPI target, maintained by merging each
    micro-batch's partial rows, staged, with one ``INSERT … SELECT … ON
    CONFLICT (KEYS) DO UPDATE SET MERGE_SET`` (``sink.write_once``, the
    sink's own write primitive).

    A subclass declares four things: ``COLUMNS`` as (name, SQL type)
    pairs, ``KEYS`` (the primary key), ``MERGE_SET`` (the update
    assignments; ``{t}`` is the quoted table) and ``ADDITIVE``. An
    additive merge (+) doubles under foreachBatch's at-least-once
    replay, so a batch with a ``batch_id`` takes a ledger marker in the
    merge's transaction; an absorbing merge (OR, max) is
    replay-idempotent and takes none. Either way one batch commits in
    one transaction. Partials are grouped by key, so no key repeats in
    the staged batch. Key columns are never NULL: each function that
    builds partials (``batch_*``, ``RollupMaintainer.partials``) drops
    NULL-key rows, because a NULL key violates the primary key and the
    same batch would then fail on every replay."""

    COLUMNS: tuple[tuple[str, str], ...] = ()
    KEYS: tuple[str, ...] = ()
    MERGE_SET: str = ""
    ADDITIVE: bool = True

    def __init__(self, connect, table: str, dialect: str = "duckdb"):
        self.connect = connect
        self.table = table
        self.dialect = dialect

    def ensure_table(self) -> None:
        cols = ", ".join(f"{name} {typ}" for name, typ in self.COLUMNS)
        exec_ddl(
            self.connect,
            self.dialect,
            f"CREATE TABLE IF NOT EXISTS {quoted(self.table)} ("
            f"{cols}, PRIMARY KEY ({', '.join(self.KEYS)}))",
        )

    def _batch(self, df: DataFrame):
        """The partials as ``write_once`` stages them."""
        return df.toArrow() if self.dialect == "duckdb" else df.collect()

    def merge_batch(self, df: DataFrame, batch_id: int | None = None) -> int:
        """Merge one batch's partials; returns the rows merged (0 for a
        replayed additive batch)."""
        names = [name for name, _ in self.COLUMNS]
        t, cols = quoted(self.table), ", ".join(names)
        merge = (
            f"INSERT INTO {t} ({cols}) SELECT {cols} FROM {STAGE} "
            f"ON CONFLICT ({', '.join(self.KEYS)}) "
            f"DO UPDATE SET {self.MERGE_SET.format(t=t)}"
        )
        marker = batch_marker(df, self.table, batch_id) if self.ADDITIVE else None
        return write_once(
            self.connect, self.dialect, self._batch(df.select(*names)), merge,
            stage_sql(t, names, ["%s"] * len(names)), marker,
        )


def batch_grid(df: DataFrame, item_col: str) -> DataFrame:
    """(d, bucket, cnt) partial grid for one batch of items.

    NULL items are dropped, not counted: h64(NULL) is NULL, so a NULL
    row would land a NULL-bucket partial that violates the sink's
    (d, bucket) primary key — and under at-least-once replay the same
    poisoned batch fails forever. Count-min counts items; a NULL is
    the absence of one."""
    wh = df.select(h64(F.col(item_col)).alias("h")).filter(F.col("h").isNotNull())
    return (
        wh.select(F.explode(countmin_cells(F.col("h"))).alias("c"))
        .groupBy(F.col("c.d").alias("d"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


class CountMinMaintainer(MergeMaintainer):
    """Maintains an additive count-min grid in a DBAPI target from a
    streaming source of items."""

    COLUMNS = (("d", "INTEGER"), ("bucket", "INTEGER"), ("cnt", "BIGINT"))
    KEYS = ("d", "bucket")
    MERGE_SET = "cnt = {t}.cnt + excluded.cnt"

    def __init__(self, connect, table: str = "countmin", dialect: str = "duckdb"):
        super().__init__(connect, table, dialect)

    def estimate_sql(self, item_hash: int) -> str:
        """SQL that serves the point estimate for one item (by its h64
        hash) straight from the maintained grid: min over the item's
        CM_D cells, where an ABSENT grid row counts as ZERO — a plain
        `min(cnt) WHERE (d,bucket) IN (...)` sees only rows that exist,
        so an item whose d=0 bucket collides with a hot item while its
        other cells are empty would serve the hot count, and a
        never-streamed item with no collisions at all would serve NULL.
        One COALESCEd scalar subquery per cell keeps the
        missing-row-is-zero semantics in both dialects."""
        cells = ", ".join(
            "COALESCE((SELECT cnt FROM "
            f"{quoted(self.table)} WHERE d = {i} AND "
            f"bucket = {(item_hash % REDUCE_MOD * a + b) % AFFINE_MOD % CM_W}), 0)"
            for i, (a, b) in enumerate(MINHASH_COEFFS[:CM_D])
        )
        return f"SELECT least({cells})"

    def run(
        self,
        source: DataFrame,
        item_col: str,
        checkpoint: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        self.ensure_table()
        return start_foreach_batch(
            source,
            lambda df, bid: self.merge_batch(batch_grid(df, item_col), bid),
            checkpoint, trigger,
        )


# ---------------------------------------------------------------------------
# Incrementally-maintained distinct-count bitmaps (q56's streaming twin)
# ---------------------------------------------------------------------------


def batch_bitmap(df: DataFrame, group_col: str, id_col: str) -> DataFrame:
    """(grp, word_idx, bits) partial bitmap for one batch: each integer
    id sets bit (id & 63) of 64-bit word (id >> 6), OR-combined per
    (group, word) — the same map-side-combinable aggregate q56 runs.

    Id-domain contract: ids must be NON-NEGATIVE int64. For a negative
    id, ``shiftright`` sign-extends and the JVM masks shift amounts
    (``id % 64`` is negative), so distinct ids would silently collide
    into the same bit and the "EXACT" served count would undercount.
    Rather than mis-count, a negative id fails the batch loudly: the
    word-index expression raises inside the projection (embedded in the
    used column so the optimizer cannot prune the check away)."""
    def _word_idx(c: str):
        return F.when(F.col(c) >= 0, F.shiftright(F.col(c), 6)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "batch_bitmap: negative id violates the non-negative "
                        "id-domain contract: "
                    ),
                    F.col(c).cast("string"),
                )
            )
        )
    return (
        # NULL ids and NULL groups are dropped (the batch_grid rule: a
        # NULL grp or word_idx violates the sink PK; a NULL id would
        # also dodge the negative-id tripwire — NULL >= 0 is NULL).
        # The id is re-aliased to a FIXED internal name before the
        # F.expr shift (shiftleft's amount must be a literal in the
        # column API), so an id column whose name needs quoting can't
        # break or mis-resolve inside the interpolated SQL.
        df.filter(F.col(id_col).isNotNull() & F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("grp"), F.col(id_col).alias("_id"))
        .select(
            "grp",
            _word_idx("_id").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_id % 64 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("grp", "word_idx")
        .agg(F.bit_or("bit").alias("bits"))
    )


class BitmapMaintainer(MergeMaintainer):
    """Maintains exact distinct-count bitmaps in a DBAPI target from a
    streaming source — the streaming twin of q56's batch bitmap
    aggregate.

    Bitmap OR is mergeable like count-min's addition, but also
    IDEMPOTENT: re-merging a replayed micro-batch leaves the store
    unchanged, so the maintained state is correct under at-least-once
    delivery without any batch-id bookkeeping (asserted in tests; the
    additive maintainers need the batch ledger for exactly-once). State
    size is |groups| x |id_space|/64 words regardless of stream volume,
    and the served count is EXACT, not an estimate.

    Id-domain contract: ids must be non-negative int64 (see
    ``batch_bitmap`` — a negative id fails the micro-batch loudly
    instead of silently colliding bits and undercounting)."""

    COLUMNS = (("grp", "VARCHAR"), ("word_idx", "BIGINT"), ("bits", "BIGINT"))
    KEYS = ("grp", "word_idx")
    MERGE_SET = "bits = {t}.bits | excluded.bits"
    ADDITIVE = False

    def __init__(self, connect, table: str = "bitmaps", dialect: str = "duckdb"):
        super().__init__(connect, table, dialect)

    def distinct_sql(self) -> str:
        """SQL serving the exact per-group distinct count from the
        maintained bitmaps. Dialect-aware popcount: PostgreSQL defines
        bit_count only for bit/bytea (PG14+), not bigint."""
        pop = (
            "bit_count(bits::bit(64))"
            if self.dialect == "postgres"
            else "bit_count(bits)"
        )
        return (
            f"SELECT grp, sum({pop})::BIGINT AS n_distinct "
            f"FROM {quoted(self.table)} GROUP BY grp ORDER BY grp"
        )

    def run(
        self,
        source: DataFrame,
        group_col: str,
        id_col: str,
        checkpoint: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        self.ensure_table()
        return start_foreach_batch(
            source,
            lambda df, bid: self.merge_batch(batch_bitmap(df, group_col, id_col), bid),
            checkpoint, trigger,
        )


# ---------------------------------------------------------------------------
# Incrementally-maintained HyperLogLog registers (q62's streaming twin)
# ---------------------------------------------------------------------------


def batch_hll(df: DataFrame, item_col: str) -> DataFrame:
    """(bucket, m_j) partial HLL register table for one batch — the
    same bucket/rho algebra as the batch sketch
    (analytics.advanced.q62_hll_distinct), reduced per-batch by
    map-side-combinable ``max``. NULL items are dropped (the
    batch_grid rule — and SQL count-distinct semantics: a NULL is the
    absence of an item): h64(NULL) is NULL, so a NULL row would land
    a NULL-bucket register that violates the sink's PRIMARY KEY
    (bucket), and under at-least-once replay the same poisoned batch
    fails forever."""
    bucket, w, rho = hll_cells(F.col("h"))
    d = df.select(h64(F.col(item_col)).alias("h")).filter(
        F.col("h").isNotNull()
    ).select(bucket, w)
    return d.groupBy("bucket").agg(F.max(rho).alias("m_j"))


class HLLMaintainer(MergeMaintainer):
    """Maintains HyperLogLog registers in a DBAPI target from a
    streaming source of items — the streaming twin of q62.

    Register-wise ``max`` is mergeable AND idempotent (like
    BitmapMaintainer's OR, unlike count-min's addition): replaying a
    micro-batch leaves the registers unchanged, so the maintained
    state is correct under at-least-once delivery with no batch-id
    bookkeeping. State is a fixed m-row table regardless of stream
    volume, and at all times equals what a batch q62 over everything
    streamed so far would build (asserted register-for-register in
    tests). Daily register tables union+max into monthly ones without
    rescanning — the sketch-rollup property exact distinct lacks."""

    COLUMNS = (("bucket", "BIGINT"), ("m_j", "BIGINT"))
    KEYS = ("bucket",)
    MERGE_SET = "m_j = greatest({t}.m_j, excluded.m_j)"
    ADDITIVE = False

    def __init__(self, connect, table: str = "hll_registers", dialect: str = "duckdb"):
        super().__init__(connect, table, dialect)

    def estimate_sql(self) -> str:
        """SQL serving the HLL distinct estimate straight from the
        maintained registers — identical formula to q62 (raw estimate;
        same inlined numerator literal)."""
        # ::INT on the shift amount: Postgres defines bigint << integer
        # but NOT bigint << bigint; DuckDB accepts both forms
        return (
            f"SELECT {Q62_NUM} / sum(1::BIGINT << ({Q62_SHIFT} - m_j)::INT) AS est_distinct "
            f"FROM {quoted(self.table)}"
        )

    def run(
        self,
        source: DataFrame,
        item_col: str,
        checkpoint: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        self.ensure_table()
        return start_foreach_batch(
            source,
            lambda df, bid: self.merge_batch(batch_hll(df, item_col), bid),
            checkpoint, trigger,
        )


# ---------------------------------------------------------------------------
# Incrementally-maintained fixed-bin histogram
# — additive like count-min, but also serves approx QUANTILES
# ---------------------------------------------------------------------------

HIST_BIN_WIDTH = 50.0


def batch_histogram(df: DataFrame, value_col: str,
                    bin_width: float = HIST_BIN_WIDTH) -> DataFrame:
    """(bin, cnt) partial histogram for one batch — floor(value/width)
    binning, map-side combinable. NULL values are dropped (a NULL bin would
    violate the sink's PK and brick the stream under replay — the
    batch_grid rule)."""
    return (
        df.select(F.floor(F.col(value_col) / bin_width).cast("long").alias("bin"))
        .filter(F.col("bin").isNotNull())
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


class HistogramMaintainer(MergeMaintainer):
    """Maintains an additive fixed-bin histogram in a DBAPI target —
    the distribution-statistics member of
    the maintainer family (Rollup=sums, CountMin=frequency,
    Bitmap/HLL=distinct, Histogram=quantiles).

    Bin counts merge by addition — NOT replay-idempotent, so
    merge_batch dedups via the transactional batch ledger
    (``sink.write_once``), like CountMin and unlike the absorbing
    OR/max maintainers. State is |occupied bins| rows
    regardless of volume. ``quantile_sql`` serves an approximate
    quantile by walking the cumulative histogram — error bounded by
    one bin width, the classic NDV-free equi-width scheme; tighten by
    shrinking bin width, whose only cost is state rows."""

    COLUMNS = (("bin", "BIGINT"), ("cnt", "BIGINT"))
    KEYS = ("bin",)
    MERGE_SET = "cnt = {t}.cnt + excluded.cnt"

    def __init__(self, connect, table: str = "histogram",
                 dialect: str = "duckdb", bin_width: float = HIST_BIN_WIDTH):
        super().__init__(connect, table, dialect)
        self.bin_width = bin_width

    def quantile_sql(self, q: float) -> str:
        """SQL serving the approximate q-quantile from the maintained
        bins: the left edge of the first bin whose cumulative count
        reaches q · total (error ≤ one bin width)."""
        t = quoted(self.table)
        return (
            # DOUBLE PRECISION, not DOUBLE: Postgres has no bare DOUBLE
            # type; DuckDB accepts both spellings
            f"SELECT CAST(min(bin) * {self.bin_width} AS DOUBLE PRECISION) AS q_approx FROM ("
            f"  SELECT bin, sum(cnt) OVER (ORDER BY bin) AS cum,"
            f"         (SELECT sum(cnt) FROM {t}) AS total"
            f"  FROM {t}) AS cumhist WHERE cum >= {q} * total"
        )

    def run(
        self,
        source: DataFrame,
        value_col: str,
        checkpoint: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        self.ensure_table()
        return start_foreach_batch(
            source,
            lambda df, bid: self.merge_batch(
                batch_histogram(df, value_col, self.bin_width), bid),
            checkpoint, trigger,
        )
