"""Streaming pipeline assembly: source → mapping transform →
foreachBatch upsert sink.

This is the engine's production shape (the reference's consume loop,
re-expressed): the SAME ``Mapping.transform`` used for batch replay
runs on the micro-batch stream, and the SAME ``SinkWriter.write_batch``
handles dedup + upsert per micro-batch. Offset tracking lives in the
checkpoint directory (replacing the reference's Kafka consumer group,
dbsink/utils.py:20-23).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..mappings.base import Mapping
from ..sink import SinkWriter


def start_foreach_batch(
    df: DataFrame,
    on_batch,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Start ``df`` as an append stream whose micro-batches go to
    ``on_batch(batch_df, batch_id)``, with offsets checkpointed under
    ``checkpoint``. Every stream in the package starts here.
    ``trigger`` passes through to ``DataStreamWriter.trigger`` (e.g.
    ``{"availableNow": True}`` for drain-and-stop,
    ``{"processingTime": "10 seconds"}`` for steady state)."""
    stream = (
        df.writeStream.outputMode("append")
        .foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint)
    )
    if trigger:
        stream = stream.trigger(**trigger)
    return stream.start()


def run_stream(
    source: DataFrame,
    mapping: Mapping,
    writer: SinkWriter,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Wire a (key, value) streaming source through the mapping into
    the sink."""
    return listen_transform(source, mapping, writer.foreach_batch(), checkpoint, trigger)


def listen_transform(
    source: DataFrame,
    mapping: Mapping,
    on_batch,
    checkpoint: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Library API: transform-as-a-service with no database — the
    caller's ``on_batch(df, batch_id)`` receives each transformed
    micro-batch (the reference's ``utils.listen_unpack``,
    dbsink/utils.py:54-95, where a user callback gets each unpacked +
    mapped message)."""
    return start_foreach_batch(mapping.transform(source), on_batch, checkpoint, trigger)
