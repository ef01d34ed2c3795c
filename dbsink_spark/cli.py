"""CLI entry point, flag-compatible with the reference's ``dbsink``
command (reference dbsink/listen.py:23-43; env-var prefix DBSINK, so
``DBSINK_TOPIC=x dbsink-spark`` works like the reference's
auto_envvar_prefix — listen.py:189-190).

Run modes:
* ``--datafile f.json`` — bounded replay: read → transform → sink once
* ``--listen`` — Structured Streaming from Kafka → foreachBatch sink

Database URLs: ``postgresql://…`` (production, psycopg2 — optional
dependency) or ``duckdb:///path.db`` (local testing).
"""

from __future__ import annotations

from datetime import datetime, timezone

import click

from . import L
from .mappings import resolve
from .sink import SinkWriter, duckdb_connect_factory, postgres_connect_factory


def _utcize(_ctx, _param, value):
    if value is None:
        return None
    return value.replace(tzinfo=timezone.utc)


def make_writer(db: str, mapping, do_inserts: bool, schema: str | None) -> SinkWriter:
    if db.startswith("duckdb://"):
        path = db[len("duckdb://") :].lstrip("/") or ":memory:"
        if db.startswith("duckdb:///"):
            path = "/" + path
        return SinkWriter(
            mapping, duckdb_connect_factory(path), dialect="duckdb", do_inserts=do_inserts
        )
    return SinkWriter(
        mapping,
        postgres_connect_factory(db),
        dialect="postgres",
        schema=schema,
        do_inserts=do_inserts,
    )


@click.command()
@click.option("--brokers", default="localhost:4001", show_default=True)
@click.option("--topic", required=True)
@click.option("--table", default="", help="Defaults to the topic name")
@click.option("--lookup", default="JsonMap", show_default=True)
@click.option("--db", default="duckdb:///tmp/dbsink.duckdb", show_default=True)
@click.option("--schema", default=None, help="Database schema (postgres)")
@click.option("--consumer", default="", help="Unused (kafka group → checkpoint dir)")
@click.option("--packing", default="json", type=click.Choice(["json", "avro", "msgpack"]))
@click.option("--registry", default="", help="Avro schema registry URL")
@click.option("--offset", default="largest", show_default=True)
@click.option("--drop/--no-drop", default=False)
@click.option("--truncate/--no-truncate", default=False)
@click.option("--start_date", type=click.DateTime(), callback=_utcize, default=None)
@click.option("--end_date", type=click.DateTime(), callback=_utcize, default=None)
@click.option(
    "--datafile",
    default="",
    help="Bounded replay file (.json/.jsonl/.avro). Avro containers "
    "parse driver-side with a 256 MiB guard — route larger files "
    "through spark.read.format('binaryFile') + avro_lite instead",
)
@click.option("--listen/--no-listen", default=False)
@click.option("--do-inserts/--no-do-inserts", default=True)
@click.option("--checkpoint", default="/tmp/dbsink-spark-checkpoint")
@click.option("-v", "--verbose", count=True)
def setup(
    brokers,
    topic,
    table,
    lookup,
    db,
    schema,
    consumer,
    packing,
    registry,
    offset,
    drop,
    truncate,
    start_date,
    end_date,
    datafile,
    listen,
    do_inserts,
    checkpoint,
    verbose,
):
    """Read from Kafka (or replay a datafile) and sink to a database
    table, micro-batch at a time."""
    filters = {}
    if start_date:
        filters["start_date"] = start_date
    if end_date:
        filters["end_date"] = end_date

    mapping = resolve(lookup, topic, table=table or None, filters=filters)
    writer = make_writer(db, mapping, do_inserts, schema)
    writer.ensure_table(drop=drop, truncate=truncate)

    from .session import get_spark

    spark = get_spark(f"dbsink-spark:{topic}")

    if datafile:
        if datafile.endswith(".avro"):
            # Avro object container file: schema ships in the file
            # header, no registry needed (pure-python parser — works
            # without the spark-avro jar)
            from .sources import avro_file_source

            df = avro_file_source(spark, datafile)
        elif datafile.endswith(".jsonl"):
            # one JSON message per line; the mapping transform decodes
            from .sources import jsonl_source

            df = jsonl_source(spark, datafile)
        else:
            from .sources import replay_source

            df = replay_source(
                spark,
                datafile,
                packing=packing,
                **({"registry_url": registry, "subject": topic} if packing == "avro" else {}),
            )
        n = writer.write_batch(mapping.transform(df))
        L.info(f"replayed {datafile}: {n} rows written to {mapping.table}")

    if listen:
        from .sources import kafka_stream
        from .streaming import run_stream

        source = kafka_stream(spark, brokers, topic, offset)
        query = run_stream(source, mapping, writer, checkpoint)
        L.info(f"listening on {topic} → {mapping.table}")
        query.awaitTermination()


def run():  # console-script entry
    setup(auto_envvar_prefix="DBSINK")


if __name__ == "__main__":
    run()
