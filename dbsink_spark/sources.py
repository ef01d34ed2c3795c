"""Message sources: bounded JSON-array replay and the Kafka stream.

The reference has two entry modes sharing one transform (reference
dbsink/listen.py:137-186): a Kafka consume loop and a ``--datafile``
JSON-array replay (listen.py:173-177). Here both produce the same
(key, value) DataFrame shape — ``replay_source`` a batch DataFrame,
``kafka_stream`` a streaming one — and both feed the identical
``Mapping.transform``; batch/stream symmetry is structural, not
duplicated code.

Frames built on the driver from Python values (the replay sources, the
split bounds of ``dbapi_table_source``, the file budget of
``lake.compact_lake``) go to Spark through ``arrow_frame`` as one Arrow
table, which plans as a ``LocalTableScan``. A list of tuples would plan
as a scan over a pickled Python RDD instead, and every task reading it
would start a Python worker only to unpickle rows, in front of the
mapping's own ``mapInPandas`` worker.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .codecs import get_codec

KV_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType(), True),
        T.StructField("value", T.StringType(), True),
    ]
)


# dbapi_table_source's split bounds; is_last leaves the range open above
_SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("s_lo", T.LongType()),
        T.StructField("s_hi", T.LongType()),
        T.StructField("is_last", T.BooleanType()),
        T.StructField("is_first", T.BooleanType()),
    ]
)


def arrow_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """DataFrame of driver-side ``rows`` (tuples in ``schema`` order),
    handed to Spark as one Arrow table: a ``LocalTableScan`` read in the
    JVM, with no Python worker and no pickled RDD behind it."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [[] for _ in arrow_schema]
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, schema)


def _kv_frame(spark: SparkSession, messages) -> DataFrame:
    """(NULL key, canonical JSON value) frame of decoded messages, in order."""
    return arrow_frame(
        spark, [(None, json.dumps(m, default=_wire_default)) for m in messages], KV_SCHEMA
    )


def replay_source(
    spark: SparkSession, datafile: str, packing: str = "json", **codec_kwargs
) -> DataFrame:
    """Bounded replay of a JSON-array file through the wire codec.

    Each element is round-tripped through the codec — pack to wire
    bytes, unpack back (simulating the wire exactly as the reference
    consume loop does: pack on produce, unpack on receive —
    listen.py:173-177, utils.py:42-49) — then carried as a canonical
    JSON string ``value`` column for the mapping transform. Binary
    packings (msgpack, avro) are therefore exercised losslessly rather
    than mangled into a unicode column. Small files load driver-side
    and reach Spark as one Arrow table (``arrow_frame``), so the
    mapping's ``mapInPandas`` worker is the only Python process per
    task; at scale point ``jsonl_source`` at a directory of JSONL
    instead.
    """
    codec = get_codec(packing, **codec_kwargs)
    with open(datafile) as f:
        messages = json.load(f)
    return _kv_frame(spark, (codec.unpack(codec.pack(m)) for m in messages))


def _wire_default(o):
    """JSON fallback for wire-only types (msgpack tuples arrive as
    tuples already handled by json; bytes become latin-1 strings)."""
    if isinstance(o, (bytes, bytearray)):
        return o.decode("latin-1")
    raise TypeError(f"not JSON serializable: {type(o).__name__}")


def avro_file_source(spark: SparkSession, path: str) -> DataFrame:
    """Bounded replay of an Avro Object Container File (``.avro``) —
    the file twin of the Confluent-framed Kafka avro path, readable
    here WITHOUT the spark-avro connector jar via the pure-python
    container parser (wire/avro_container.py; null + deflate codecs).

    Records decode through the same ``avro_lite`` walker as the wire
    codec and land as canonical JSON ``value`` strings, so every
    mapping transform downstream is packing-agnostic. Small files load
    driver-side (the replay contract) and reach Spark as one Arrow table
    (``arrow_frame``); a directory of container files at scale would
    distribute the per-file parse over ``binaryFile`` + mapInPandas
    with the identical block parser.
    """
    from .wire.avro_container import read_container

    _, records = read_container(path)
    return _kv_frame(spark, records)


def jsonl_source(spark: SparkSession, path: str) -> DataFrame:
    """Scale-path bounded source: JSONL files, one message per line;
    the whole line becomes the value column (decode happens in the
    mapping transform)."""
    return spark.read.text(path).select(
        F.lit(None).cast("string").alias("key"), F.col("value")
    )


def kafka_stream(
    spark: SparkSession,
    brokers: str,
    topic: str,
    offset: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Structured Streaming Kafka source → (key, value) string columns.

    Replaces the reference consumer loop (dbsink/utils.py:17-51,
    listen.py:178-186): consumer-group offset tracking becomes the
    checkpoint location (set on the writer), ``earliest``/``latest``
    map to startingOffsets, and per-trigger admission control bounds
    micro-batch size at scale.
    """
    offset = {"earliest": "earliest", "largest": "latest", "latest": "latest"}.get(
        offset, offset
    )
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", offset)
        .option("failOnDataLoss", "false")
    )
    if max_offsets_per_trigger:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    df = reader.load()
    return df.select(
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("string").alias("value"),
        "partition",
        "offset",
    )


def file_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-based streaming source with the same (key, value) shape —
    used to exercise the full streaming pipeline without a broker."""
    return spark.readStream.schema(KV_SCHEMA).json(path)


def dbapi_table_source(
    spark: SparkSession,
    db_path: str,
    table: str,
    split_col: str,
    n_splits: int = 8,
    columns: list[str] | None = None,
    predicate: str | None = None,
) -> DataFrame:
    """Federated partitioned read of a DuckDB table — the JDBC-style
    ``partitionColumn/numPartitions`` source pattern for a DBAPI
    database the sink writes (round-trip: what this engine sinks it
    can also scan back distributed).

    Split planning is driver-side and tiny (one min/max query; the
    bounds reach Spark through ``arrow_frame``, so reading them starts
    no Python worker); each Spark task then opens its OWN read-only
    connection and pulls ONLY its ``split_col`` range via Arrow — so
    extraction parallelism is ``n_splits`` and no single process ever
    materializes the table.
    ``columns`` prunes projection and ``predicate`` pushes a WHERE
    clause INTO the database per split: filter + projection run where
    the data lives, the classic federation pushdown.

    Ranges use integer-floor boundaries (lo + i·width) with the last
    split unbounded above, so every row lands in exactly one split
    regardless of gaps/skew in the key. At 100 TB-lake scale the same
    shape fans out over table SHARDS; per-split DBAPI connections are
    the bottleneck a real warehouse replaces with its bulk-unload API.

    Security note: ``table`` / ``split_col`` / ``columns`` are
    interpolated identifiers and ``predicate`` is raw SQL — callers
    own them (library-internal contract, same as the sink's DDL).
    """
    import duckdb

    con = duckdb.connect(db_path, read_only=True)
    try:
        # count(*) alongside min/max: min() is NULL both for "no rows"
        # AND for "rows exist but every split key is NULL" — the second
        # case must still emit a split (the documented contract is
        # "NULL keys ride the first split / every row lands in exactly
        # one split"), not silently drop the rows.
        lo, hi, n_rows = con.execute(
            f"SELECT min({split_col}), max({split_col}), count(*) FROM {table}"
            + (f" WHERE {predicate}" if predicate else "")
        ).fetchone()
        probe_cols = "*" if columns is None else ", ".join(columns)
        schema_df = con.execute(
            f"SELECT {probe_cols} FROM {table} LIMIT 0"
        ).arrow()
    finally:
        con.close()

    arrow_schema = schema_df.schema
    spark_schema = ", ".join(
        f"{f.name} {_duck_to_spark_type(f.type)}" for f in arrow_schema
    )
    if n_rows == 0:
        return arrow_frame(spark, [], T.StructType.fromDDL(spark_schema))
    if lo is None:
        # all matching rows have NULL split keys: one first+last split
        # whose range predicate (key >= 0) matches nothing by
        # construction, so the is_first `OR key IS NULL` clause carries
        # every row — the normal read path, no special casing below.
        lo = hi = 0

    # Bounds stay INTEGRAL end to end (int64 columns — doubles corrupt
    # keys beyond 2^53, duplicating or dropping boundary rows). Edge
    # rules that keep "every row in exactly one split" literally true:
    #   * lo floors (int() truncates TOWARD ZERO and would drop
    #     negative-fractional keys below the first bound);
    #   * the LAST split is flagged unbounded-above (is_last) instead
    #     of computing hi+1, which overflows int64 at the max key and
    #     excludes fractional keys above floor(hi);
    #   * NULL keys ride the FIRST split (`OR key IS NULL`, Spark's
    #     own JDBC-source rule) — min/max never sees them, and a
    #     range predicate alone would silently drop them.
    import math

    lo, hi = math.floor(lo), math.floor(hi)
    width = max(1, (hi - lo) // n_splits + 1)
    bounds = []
    for i in range(n_splits):
        s_lo = lo + i * width
        if s_lo > hi:
            break
        s_hi = min(s_lo + width, hi)  # ignored when is_last
        bounds.append((s_lo, s_hi, s_lo + width > hi, i == 0))
    bounds[-1] = (bounds[-1][0], bounds[-1][1], True, bounds[-1][3])

    def read_split(batches):
        import duckdb as _d

        for pdf in batches:
            for s_lo, s_hi, is_last, is_first in zip(
                pdf["s_lo"], pdf["s_hi"], pdf["is_last"], pdf["is_first"]
            ):
                rng = f"{split_col} >= {int(s_lo)}"
                if not is_last:
                    rng += f" AND {split_col} < {int(s_hi)}"
                if is_first:
                    rng = f"(({rng}) OR {split_col} IS NULL)"
                where = f"WHERE {rng}" + (
                    f" AND ({predicate})" if predicate else ""
                )
                c = _d.connect(db_path, read_only=True)
                try:
                    # fetch via Arrow and keep integer columns NULLABLE
                    # (pandas extension dtypes): plain .df() renders a
                    # BIGINT-with-NULLs column as float64/NaN, which
                    # either corrupts values past 2^53 through the
                    # float detour or crashes the Arrow cast back
                    tbl = c.execute(
                        f"SELECT {probe_cols} FROM {table} {where}"
                    ).arrow()
                    yield tbl.to_pandas(types_mapper=_nullable_int_mapper)
                finally:
                    c.close()

    splits = arrow_frame(spark, bounds, _SPLIT_SCHEMA).repartition(len(bounds))
    return splits.mapInPandas(read_split, spark_schema)


def _nullable_int_mapper(t):
    """types_mapper for pyarrow.Table.to_pandas: integer columns use
    pandas NULLABLE extension dtypes so NULLs don't force a lossy
    float64 detour; everything else keeps the default mapping."""
    import pandas as pd
    import pyarrow as pa

    return {
        pa.int64(): pd.Int64Dtype(),
        pa.int32(): pd.Int32Dtype(),
        pa.int16(): pd.Int16Dtype(),
        pa.int8(): pd.Int8Dtype(),
        pa.uint32(): pd.UInt32Dtype(),
    }.get(t)


def _duck_to_spark_type(t) -> str:
    # mirror what duckdb's .df() hands the Arrow batch (DECIMAL →
    # float64, UBIGINT → uint64 → needs decimal(20,0) to not overflow
    # long); an unmapped type would crash Arrow serialization, so
    # anything unknown raises instead of silently claiming "string"
    import pyarrow as pa

    if pa.types.is_uint64(t):
        return "decimal(20,0)"
    if pa.types.is_int64(t) or pa.types.is_uint32(t):
        return "long"
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_decimal(t) or pa.types.is_floating(t):
        return "double"  # duckdb .df() renders DECIMAL as float64
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_boolean(t):
        return "boolean"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    raise TypeError(f"dbapi_table_source: unsupported column type {t}")
