"""Incremental view maintenance (IVM) for aggregate views.

Maintains a grouped-aggregate materialized view (count / sum / sum of
squares per group — the sufficient statistics for count, sum, avg,
variance) against a stream of INSERTS AND DELETES (retractions),
without ever rescanning the base table: each change batch reduces to a
group-sized partial delta, and only the store buckets containing
touched groups are rewritten.

This is the batch-lake twin of ``streaming.RollupMaintainer`` (which
additively upserts into a DBAPI target but cannot retract): the
retraction algebra here is the standard signed-multiset construction —
every change row carries ``op`` ∈ {+1, −1}, partials are
``sum(op)``, ``sum(op·v)``, ``sum(op·v²)``, and a group whose
maintained count reaches zero is DELETED from the view, so the view
after any change sequence equals a fresh aggregate over the net base
table (the equivalence pytest proves exactly that, including
insert→delete→reinsert round-trips).

Store layout: parquet partitioned by ``bucket = pmod(h64(group), N)``.
A maintenance step reads ONLY the buckets its delta touches (partition
pruning on the bucket key), merges state+delta with a full-outer join
on the group, and dynamically overwrites just those buckets — cost
scales with the change batch, not the view, and untouched bucket files
are byte-identical afterwards (tested). At 100 TB the view is
group-cardinality-sized and a daily CDC batch touches the buckets of
its own groups only — the Materialize/Flink-SQL cost model on plain
parquet.

Serving: ``serve()`` derives avg/variance from the sufficient
statistics — no base-table access.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import h64

N_BUCKETS = 16

_STATE_COLS = ("grp", "bucket", "n", "s", "s2")


class AggView:
    """A bucket-partitioned, retraction-capable aggregate view."""

    def __init__(self, spark: SparkSession, path: str, n_buckets: int = N_BUCKETS):
        self.spark = spark
        self.path = path
        self.n_buckets = n_buckets

    # -- construction ------------------------------------------------------

    def _bucket(self, grp_col) -> F.Column:
        return F.pmod(h64(grp_col), F.lit(self.n_buckets)).cast("int")

    def init(self, base: DataFrame | None, group_col: str, value_col: str) -> None:
        """Build the view from an optional initial base table (pass
        ``None`` to start empty)."""
        if base is None:
            # empty store: just the directory — a partitioned write of
            # zero rows emits no readable footer, so reads go through
            # _read_state()'s empty fallback until the first maintain()
            os.makedirs(self.path, exist_ok=True)
            return
        state = (
            base.select(
                F.col(group_col).cast("string").alias("grp"),
                F.col(value_col).cast("double").alias("v"),
            )
            .groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("v").alias("s"),
                F.sum(F.col("v") * F.col("v")).alias("s2"),
            )
            .withColumn("bucket", self._bucket(F.col("grp")))
            .select(*_STATE_COLS)
        )
        state.write.mode("overwrite").partitionBy("bucket").parquet(self.path)

    # -- maintenance -------------------------------------------------------

    def delta_partials(self, changes: DataFrame, group_col: str, value_col: str,
                       op_col: str = "op") -> DataFrame:
        """Reduce a change batch (rows with op ∈ {+1, −1}) to per-group
        signed partials — batch-sized work, map-side combinable."""
        return (
            changes.select(
                F.col(group_col).cast("string").alias("grp"),
                F.col(value_col).cast("double").alias("v"),
                F.col(op_col).cast("long").alias("op"),
            )
            .groupBy("grp")
            .agg(
                F.sum("op").alias("dn"),
                F.sum(F.col("op") * F.col("v")).alias("ds"),
                F.sum(F.col("op") * F.col("v") * F.col("v")).alias("ds2"),
            )
            .withColumn("bucket", self._bucket(F.col("grp")))
        )

    def maintain(self, changes: DataFrame, group_col: str, value_col: str,
                 op_col: str = "op", batch_id: int | None = None) -> dict:
        """Apply one change batch. Reads and rewrites ONLY the buckets
        the batch touches. Returns maintenance stats.

        Replay safety: signed-delta application is NOT idempotent, so
        when ``batch_id`` is given (the foreachBatch contract), an
        already-applied (stream query id, batch id) is detected via a
        marker under ``_applied_batches/`` and skipped; a second stream
        on a fresh checkpoint restarts its batch ids at 0 under a new
        query id. The marker is created after
        the state write commits; the residual window (crash between
        data commit and marker creation) is the plain-parquet
        limitation a table format's atomic commit closes — documented,
        not hidden.
        """
        if batch_id is not None and self._batch_applied(batch_id):
            return {"buckets_rewritten": 0, "groups_touched": 0, "skipped": True}
        delta = self.delta_partials(changes, group_col, value_col, op_col)
        delta = delta.localCheckpoint(eager=False)  # tiny; read 3×
        buckets = [r["bucket"] for r in delta.select("bucket").distinct().collect()]
        if not buckets:
            if batch_id is not None:
                self._mark_applied(batch_id)
            return {"buckets_rewritten": 0, "groups_touched": 0}

        state = self._read_state().filter(F.col("bucket").isin(buckets))
        merged = (
            state.join(delta, ["grp", "bucket"], "full_outer")
            .select(
                "grp",
                "bucket",
                (F.coalesce("n", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias("n"),
                (F.coalesce("s", F.lit(0.0)) + F.coalesce("ds", F.lit(0.0))).alias("s"),
                (F.coalesce("s2", F.lit(0.0)) + F.coalesce("ds2", F.lit(0.0))).alias("s2"),
            )
        )
        # Rows reaching n == 0 stay in the write as TOMBSTONES: dynamic
        # overwrite only replaces partitions PRESENT in the write, so a
        # touched bucket whose every group was deleted needs at least
        # one row or its stale files would survive. Tombstones are
        # dropped again at the next rewrite of their bucket
        # (_read_state filters n > 0), so they never accumulate beyond
        # one batch's deletions — and unlike an fs delete, this works
        # identically on any filesystem (s3a/hdfs/local) and is atomic
        # with the state write itself.
        merged = merged.localCheckpoint(eager=False)
        (
            merged.repartition(max(1, len(buckets)), "bucket")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(self.path)
        )
        if batch_id is not None:
            self._mark_applied(batch_id)
        return {
            "buckets_rewritten": len(buckets),
            "groups_touched": delta.count(),
        }

    # -- replay ledger ------------------------------------------------------
    #
    # SCOPE: the marker files live via local filesystem APIs, which is
    # correct exactly when `path` is driver-visible storage (this
    # environment, NFS, fuse mounts). On an object store the markers
    # would need the same fs client as the state — or, better, the
    # table format's atomic commit (Delta/Iceberg txn id) which also
    # closes the commit-window caveat in maintain(). Markers are
    # never pruned: maintain()'s dedup promise holds for ANY batch_id
    # (backfill re-runs, checkpoint restored from an old backup), and
    # a marker is a ~10-byte file.

    def _marker(self, batch_id: int) -> str:
        """Marker path of ``batch_id`` under the running stream's query
        id, a local property of the foreachBatch thread (``''``, the
        ledger root, outside a stream)."""
        qid = self.spark.sparkContext.getLocalProperty("sql.streaming.queryId") or ""
        d = os.path.join(self.path, "_applied_batches", qid)
        os.makedirs(d, exist_ok=True)
        return os.path.join(d, str(batch_id))

    def _batch_applied(self, batch_id: int) -> bool:
        return os.path.exists(self._marker(batch_id))

    def _mark_applied(self, batch_id: int) -> None:
        with open(self._marker(batch_id), "w") as f:
            f.write("applied\n")

    # -- streaming ---------------------------------------------------------

    def run(self, source: DataFrame, group_col: str, value_col: str,
            checkpoint: str, op_col: str = "op", trigger: dict | None = None):
        """Maintain the view from a streaming CDC source (rows carry
        op ∈ {+1, −1}) — each micro-batch applies one maintain() step.

        Delivery: foreachBatch is AT-LEAST-ONCE (a batch whose effects
        committed but whose checkpoint offset didn't is replayed on
        restart), and signed-partial addition is not idempotent — so
        ``batch_id`` is forwarded to maintain(), which dedups replays
        via the applied-batches ledger. Effectively-once up to the
        ledger's documented commit window."""

        from ..streaming.pipeline import start_foreach_batch

        return start_foreach_batch(
            source,
            lambda df, bid: self.maintain(df, group_col, value_col, op_col, batch_id=bid),
            checkpoint, trigger,
        )

    # -- serving -----------------------------------------------------------

    def _read_state(self) -> DataFrame:
        # Distinguish "store initialized empty, never maintained" from a
        # genuine read failure: maintain() merges deltas INTO this frame,
        # so silently treating a transient parquet error (corrupt file,
        # storage hiccup) as empty state would destructively rewrite the
        # touched buckets with delta-only values. Only the known
        # empty-store case (no parquet files at the path →
        # AnalysisException at plan time) falls back to the empty frame;
        # every other error propagates so maintain() aborts.
        from pyspark.errors import AnalysisException

        try:
            df = self.spark.read.parquet(self.path)
        except AnalysisException:
            # path missing / empty — store never maintained
            from .litdf import local_df

            return local_df(
                self.spark, [], "grp string, bucket int, n long, s double, s2 double"
            )
        # OUTSIDE the try: a readable path whose files lack the state
        # columns (schema drift, foreign parquet) is NOT an empty store
        # — the unresolved-column AnalysisException must surface, or
        # maintain() would rewrite buckets against fabricated state.
        df = df.select(*_STATE_COLS)
        # n > 0 drops tombstones: deleted groups awaiting their
        # bucket's next rewrite (see maintain())
        return df.filter(F.col("n") > 0)

    def state(self) -> DataFrame:
        return self._read_state()

    def serve(self) -> DataFrame:
        """Aggregates derived from the sufficient statistics alone."""
        st = self.state()
        return st.select(
            "grp",
            F.col("n").alias("cnt"),
            F.col("s").alias("total"),
            (F.col("s") / F.col("n")).alias("avg"),
            F.when(
                F.col("n") > 1,
                (F.col("s2") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - 1),
            ).alias("var_samp"),
        ).orderBy("grp")


def full_recompute(base: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """The non-incremental truth: a fresh aggregate over the net base
    table, shaped like ``AggView.serve()`` (for equivalence tests)."""
    return (
        base.select(
            F.col(group_col).cast("string").alias("grp"),
            F.col(value_col).cast("double").alias("v"),
        )
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("v").alias("total"),
            F.avg("v").alias("avg"),
            F.var_samp("v").alias("var_samp"),
        )
        .orderBy("grp")
    )
