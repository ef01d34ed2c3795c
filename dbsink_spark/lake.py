"""Data-lake sink: partitioned parquet landing for the 100 TB path.

The reference only ever sinks to Postgres. At 100 TB the raw/typed
stream lands in object storage first (parquet partitioned by event
date + source), and the database holds only serving-layer rollups.
This module is that landing writer — usable both as a batch write and
inside ``foreachBatch``.

Partitioning contract: date-partition on the mapping's time column
(daily folders → partition pruning for every time-ranged query) plus an
optional low-cardinality secondary key (source/topic). Writer uses
dynamic partition overwrite so replaying a day is idempotent at the
partition level.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .functions.sketch import with_zvalue
from .sources import arrow_frame


def last_writer_wins(df: DataFrame, keys, order_col: str | None = None) -> DataFrame:
    """Reduce ``df`` to one row per ``keys``: the row with the highest
    ``order_col`` (e.g. a Kafka or CDC offset), or, when ``order_col``
    is None, the last row to arrive within the batch."""
    if order_col is None:
        df = df.withColumn("__ord", F.monotonically_increasing_id())
        order_col = "__ord"
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__ord" if "__ord" in df.columns else "__rn")
    )


def with_partition_cols(df: DataFrame, ts_col: str = "time") -> DataFrame:
    return df.withColumn("ingest_date", F.col(ts_col).cast("date"))


def write_lake(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("ingest_date",),
    mode: str = "append",
    coalesce_files: int | None = None,
) -> None:
    """Write a typed batch to the lake.

    ``coalesce_files`` bounds files-per-partition (small-file control:
    a micro-batch writing 32 shuffle partitions × N date partitions
    would otherwise emit 32·N tiny files).
    """
    if coalesce_files:
        df = df.coalesce(coalesce_files)
    (
        # per-write option, NOT a session conf: a session-level
        # partitionOverwriteMode=dynamic would silently change the
        # semantics of every later overwrite write in the same session
        df.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def foreach_batch_lake(path: str, ts_col: str = "time", coalesce_files: int = 4):
    """foreachBatch adapter: stream → partitioned lake."""

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        write_lake(
            with_partition_cols(batch_df, ts_col),
            path,
            coalesce_files=coalesce_files,
        )

    return fn


def compact_lake(
    spark,
    path: str,
    partition_cols: tuple[str, ...] = ("ingest_date",),
    target_rows_per_file: int = 1_000_000,
) -> dict:
    """Small-file compaction: rewrite every lake partition so each holds
    ``ceil(rows / target_rows_per_file)`` files — the maintenance job
    that keeps a streaming-written lake scannable (thousands of
    micro-batch files per partition destroy scan throughput and
    driver planning time at 100 TB).

    Mechanics: a tiny per-partition count decides the file budget; rows
    get a deterministic ``file_idx`` within their partition and one
    shuffle keyed by (partition, file_idx) lands each output file in
    exactly one task. Dynamic partition overwrite swaps partitions
    atomically-per-partition, so compaction is idempotent and safe to
    re-run; untouched partitions are left alone.

    Returns {partition_tuple: n_files} for observability.
    """
    import math

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    counts = df.groupBy(*partition_cols).count().collect()
    plan = {
        tuple(r[c] for c in partition_cols): max(
            1, math.ceil(r["count"] / target_rows_per_file)
        )
        for r in counts
    }
    if not plan:
        return {}
    budget = arrow_frame(
        spark,
        [(*k, v) for k, v in plan.items()],
        T.StructType(
            [df.schema[c] for c in partition_cols] + [T.StructField("__n_files", T.LongType())]
        ),
    )
    data_cols = [c for c in df.columns if c not in partition_cols]
    row_hash = F.abs(F.xxhash64(*[F.col(c).cast("string") for c in data_cols]))
    out = (
        df.join(F.broadcast(budget), list(partition_cols))
        .withColumn("__file_idx", (row_hash % F.col("__n_files")).cast("int"))
        .repartition(sum(plan.values()), *partition_cols, F.col("__file_idx"))
        .drop("__n_files", "__file_idx")
    )
    (
        out.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    return plan


def zorder_lake(
    df: DataFrame,
    path: str,
    dims: tuple[str, str],
    bits: int = 8,
    n_files: int = 64,
) -> None:
    """Z-order-clustered lake write (Delta ``OPTIMIZE ZORDER BY`` /
    Iceberg sort-order equivalent): range-partition rows by the Morton
    interleave of the two dimension columns and sort within partitions,
    so every parquet file's footer min/max is tight on BOTH dimensions
    — predicates on either column skip most files.

    Both dims must be numeric (cast timestamps to epoch first). The
    normalization bounds come from one tiny aggregate; the only shuffle
    is the range partitioner the clustered write needs anyway.
    """
    a, b = dims
    bounds = df.agg(
        F.min(a).alias("_min_a"),
        F.max(a).alias("_max_a"),
        F.min(b).alias("_min_b"),
        F.max(b).alias("_max_b"),
    )
    z = with_zvalue(
        df.join(F.broadcast(bounds)), a, b, ("_min_a", "_max_a", "_min_b", "_max_b"), bits, "_z"
    ).drop("_min_a", "_max_a", "_min_b", "_max_b")
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def merge_lake(
    spark,
    path: str,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    partition_cols: tuple[str, ...] = ("ingest_date",),
    order_col: str | None = None,
    rewrite_moved_keys: bool = False,
) -> dict:
    """Copy-on-write MERGE (upsert) into a partitioned parquet lake —
    the Delta/Iceberg ``MERGE INTO`` pattern without a table format:
    rows in ``updates`` replace same-key rows, new keys append, and
    ONLY the partitions containing touched keys are rewritten (dynamic
    partition overwrite); every other partition's files are untouched.

    Mechanics: the update batch is first reduced to ONE row per key —
    last-writer-wins by ``order_col`` (e.g. a CDC offset/ts column; when
    absent, by arrival order within the batch) through
    ``last_writer_wins``, the same rule the database sink's merge
    statement applies by ``__seq``, so a CDC batch carrying several
    versions of a key upserts exactly the newest. The affected-partition
    list comes from the updates (tiny distinct agg, broadcast into a
    partition-pruned read); the rewrite is (existing ∖ updated-keys) ∪
    updates for just those partitions.

    Partition-stability contract: the key→partition mapping is assumed
    STABLE (an update places a key in the same partition its current
    row lives in). If updates can MOVE a key across partitions (e.g. a
    corrected ingest_date), pass ``rewrite_moved_keys=True``: the
    touched set then also includes partitions of existing rows matching
    updated keys — found by a key-column-pruned scan of the lake, which
    costs a full (two-column) read, trading the touched-partitions-only
    cost model for cross-partition correctness.

    At 100 TB this is CDC-into-the-lake: cost scales with the touched
    partitions, not the lake, and the swap is atomic per partition —
    re-running the same batch is idempotent. Returns
    {"partitions_rewritten": n, "rows_upserted": m}.
    """
    existing = spark.read.parquet(path)
    cols = existing.columns

    # last-writer-wins: one row per key before anything else (an update
    # batch with 2 rows for a key must not write both)
    updates = last_writer_wins(updates, key_cols, order_col).select(*cols)

    upd_keys = updates.select(*key_cols).distinct()
    touched = updates.select(*partition_cols).distinct()
    if rewrite_moved_keys:
        # partitions where updated keys CURRENTLY live (key-pruned scan)
        old_parts = (
            existing.select(*key_cols, *partition_cols)
            .join(F.broadcast(upd_keys), list(key_cols), "left_semi")
            .select(*partition_cols)
            .distinct()
        )
        touched = touched.unionByName(old_parts).distinct()
    n_parts = touched.count()
    # partition-pruned read of just the affected slices
    affected = existing.join(F.broadcast(touched), list(partition_cols), "inner")
    survivors = affected.join(
        F.broadcast(upd_keys), list(key_cols), "left_anti"
    )
    merged = survivors.unionByName(updates)
    n_rows = updates.count()
    # dynamic overwrite only rewrites partitions PRESENT in the output:
    # a touched partition whose rows all moved away produces no rows, so
    # its stale files would survive — find those and delete explicitly
    emptied = [
        tuple(r)
        for r in touched.join(
            merged.select(*partition_cols).distinct(),
            list(partition_cols),
            "left_anti",
        ).collect()
    ]
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    if emptied:
        jvm = spark._jvm
        hconf = spark._jsc.hadoopConfiguration()
        for vals in emptied:
            suffix = "/".join(f"{c}={v}" for c, v in zip(partition_cols, vals))
            p = jvm.org.apache.hadoop.fs.Path(f"{path}/{suffix}")
            p.getFileSystem(hconf).delete(p, True)
    return {"partitions_rewritten": n_parts, "rows_upserted": n_rows}
