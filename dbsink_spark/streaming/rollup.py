"""Incremental rollup maintenance — a continuous aggregate whose
count + sum partials compose across batches.

Each micro-batch is reduced to (bucket, key) partial aggregates
(count + sum — the composable partials), then MERGED into a target
table with an additive ``ON CONFLICT DO UPDATE SET n = n + excluded.n``
— so the table always holds the exact aggregate over everything
streamed so far. Additive merge is at-least-once sensitive (a replayed
micro-batch would double-count), so merge_batch dedups replays through
the batch ledger of ``sink.write_once``, the one write primitive the
sink and every ``sketches.MergeMaintainer`` share: the marker, keyed
by (table, query id, batch id), commits in the same transaction as
the staged merge, exactly the idempotent-writer pattern Spark's own
``foreachBatch`` docs prescribe.

At 100 TB this is the materialized-view maintenance pattern: the
micro-batch partial agg is map-side combined (tiny shuffle keyed by
bucket), the merge touches only the buckets present in the batch, and
derived metrics (avg = sum/n) are computed at READ time from exact
partials — never stored, so they are always consistent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .pipeline import start_foreach_batch
from .sketches import MergeMaintainer


class RollupMaintainer(MergeMaintainer):
    """Maintains an additive (bucket, key) rollup table in a DBAPI
    target from a streaming source of (ts_col, key, value) rows."""

    COLUMNS = (
        ("bucket", "TIMESTAMP"), ("key", "VARCHAR"),
        ("n", "BIGINT"), ("sv", "DOUBLE PRECISION"),
    )
    KEYS = ("bucket", "key")
    MERGE_SET = "n = {t}.n + excluded.n, sv = {t}.sv + excluded.sv"

    def __init__(
        self,
        connect,
        table: str = "rollup_hourly",
        bucket: str = "1 hour",
        dialect: str = "duckdb",
        max_partial_rows: int = 1_000_000,
    ):
        super().__init__(connect, table, dialect)
        self.bucket = bucket
        # merge_batch fetches partials to the driver — bounded by
        # bucket×key cardinality, NOT batch size, which is what makes
        # the fetch safe. The guard turns a silent driver OOM (e.g. a
        # high-cardinality key column chosen by mistake) into an error.
        self.max_partial_rows = max_partial_rows

    def partials(self, df: DataFrame, ts_col: str, key: str, value: str) -> DataFrame:
        """(bucket, key, n, sv) partials for one batch. A NULL bucket or
        key is dropped: it would violate the table's primary key (the
        sketches' batch_grid rule)."""
        return (
            df.groupBy(
                F.date_trunc(self.bucket.split()[1], F.col(ts_col)).alias("bucket"),
                F.col(key).alias("key"),
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum(value).alias("sv"))
            .filter(F.col("bucket").isNotNull() & F.col("key").isNotNull())
        )

    def _batch(self, df: DataFrame):
        cap = self.max_partial_rows
        batch = super()._batch(df.limit(cap + 1))
        if len(batch) > cap:
            raise ValueError(
                f"rollup partials exceed max_partial_rows={cap}: the "
                "bucket×key cardinality is too high for a driver-merged "
                "rollup — coarsen the bucket, reduce key cardinality, or "
                "raise the cap"
            )
        return batch

    def run(
        self,
        source: DataFrame,
        ts_col: str,
        key: str,
        value: str,
        checkpoint: str,
        trigger: dict | None = None,
    ) -> StreamingQuery:
        self.ensure_table()
        return start_foreach_batch(
            source,
            lambda df, bid: self.merge_batch(self.partials(df, ts_col, key, value), bid),
            checkpoint, trigger,
        )
