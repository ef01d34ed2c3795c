"""Batched upsert sink: the engine's replacement for the reference's
one-SQL-round-trip-per-message insert loop (reference
dbsink/listen.py:137-171).

Key semantics preserved:
* last-writer-wins upsert on the mapping's unique key (K6,
  listen.py:160-166) — a batch holding a key more than once lands its
  LAST occurrence (highest Kafka ``offset`` when present, else arrival
  order). The database does this reduction, inside the statement that
  upserts the batch (``upsert_sql``);
* None-omission → column defaults (F6, reference tables.py:304 etc.)
  — applied as ``coalesce`` with the declared default at write time;
* ``--no-do-inserts`` dry-run (K7) — transform runs, write is skipped.

One primitive, ``write_once``, performs every DBAPI write in the
package: this sink's batches and the streaming maintainers' partials
(``streaming.sketches.MergeMaintainer``). On one connection, in one
transaction, it takes the replay marker (when there is one), stages
the batch under one name, ``__dbsink_batch``, runs one ``INSERT …
SELECT`` merge statement and commits:
* DuckDB: the staged batch is the Arrow table registered on the
  connection.
* Postgres: a temp table shaped like the target, dropped at commit,
  filled by ``psycopg2.extras.execute_values`` (one round trip per
  ~1000-row page) or, without psycopg2, ``cursor.executemany``.

Spark's only per-batch work for this sink is the transform, the
defaults (a projection) and a ``__seq`` column; it runs no window and
no shuffle. The merge reduces the batch to the highest ``__seq`` per
key and upserts it.

Replay (foreachBatch is at-least-once): the caller's data decides
whether a write takes a marker in the ledger table ``_dbsink_ledger``.
An append (a mapping with no upsert keys) or an additive maintainer
merge would land a replayed batch twice, so it takes one; a keyed
upsert and an OR/max merge give the same table when replayed, so they
take none and run no extra statement. The marker is
``(sink table, query id, batch id, partition)``, inserted in the
merge's own transaction: a replay finds it, lands nothing and logs
the skip, and there is no applied-but-unmarked window. The same
transaction deletes that partition's markers older than the session's
``spark.sql.streaming.minBatchesToRetain``: Spark cannot replay a
batch that old, so the ledger stays bounded. The query id is the
stream's ``sql.streaming.queryId``, which the checkpoint stores: a
restart from the same checkpoint keeps it, and a stream on a fresh
checkpoint gets a new one, so its batch 0 is not mistaken for a
replay. Outside a stream it is ``''``, and a call without a batch id
takes no marker.

Execution modes (``mode='auto'`` picks per dialect):
* ``driver`` — the batch surfaces to the driver (``toArrow`` on
  DuckDB, ``collect`` on Postgres) and writes over a single DBAPI
  connection; the marker's partition is ``-1``. DuckDB always runs
  this way: a database file admits one writer process, so concurrent
  executor writers would conflict on its lock.
* ``partition`` — Postgres only. Each partition stages and merges its
  own rows on its own connection and takes its own marker (partition
  = the task's partition id); an accumulator sums the merge counts.
  An upsert first runs ``df.repartition(*keys)`` so each key lives in
  one partition. An append runs no shuffle: a replayed micro-batch
  reads the same offsets through the same plan, so partition *i*
  holds the same rows and its marker is exact. Partition mode stays
  because it wins on the micro-batches a backlog produces (the CLI
  sets no ``maxOffsetsPerTrigger``). GenericFloat into Postgres 15,
  ``local[4]``, cached input, median of 3, driver vs partition: 1k
  rows 0.17 vs 0.31 s; 10k rows 0.94 vs 1.02 s; 100k rows 9.55 vs
  3.39 s. A crash between two partitions' commits leaves part of a
  batch landed; the replay lands only the unmarked partitions.

At 100 TB the knobs that matter: micro-batch admission
(``maxOffsetsPerTrigger``), partition count before the write
(``coalesce`` to match the DB's write concurrency), and the upsert key
index on the target table.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import L
from .ddl import create_statements, quoted
from .mappings.base import ColumnSpec, Mapping


def _hstore_text(d: dict | None) -> str | None:
    if d is None:
        return None
    parts = []
    for k, v in d.items():
        key = '"' + str(k).replace("\\", "\\\\").replace('"', '\\"') + '"'
        if v is None:
            parts.append(f"{key}=>NULL")
        else:
            val = '"' + str(v).replace("\\", "\\\\").replace('"', '\\"') + '"'
            parts.append(f"{key}=>{val}")
    return ", ".join(parts)


def _hstore_json(col: pa.ChunkedArray) -> pa.Array:
    """Arrow map column → the JSON text DuckDB stores for an hstore
    column (sorted keys, ``json.dumps`` spacing)."""
    return pa.array(
        [None if m is None else json.dumps(dict(m), sort_keys=True) for m in col.to_pylist()],
        pa.string(),
    )


# name the batch is staged under for the merge statement, on both dialects
STAGE = "__dbsink_batch"
# one marker per landed (sink table, query id, batch id, partition)
LEDGER = "_dbsink_ledger"
_LEDGER_DDL = (
    f"CREATE TABLE IF NOT EXISTS {LEDGER} (sink_table VARCHAR, query_id VARCHAR, "
    "batch_id BIGINT, part INTEGER, PRIMARY KEY (sink_table, query_id, batch_id, part))"
)


def exec_ddl(connect, dialect: str, sql: str) -> None:
    """Run one DDL statement on either DBAPI shape: duckdb connections
    execute directly; postgres (psycopg2/pg_lite) goes through a
    cursor + commit."""
    conn = connect()
    try:
        (conn.cursor() if dialect == "postgres" else conn).execute(sql)
        conn.commit()
    finally:
        conn.close()


def stage_sql(table: str, names: list[str], binds: list[str], seq: bool = False):
    """Postgres staging for ``write_once``: the temp table (``names``
    of ``table``, plus a bigint ``__seq`` when ``seq``; no rows,
    dropped at commit), the head of the insert that fills it, and the
    per-row template of ``binds``. ``execute_values`` pages rows into
    ``head + "%s"``; ``executemany`` runs ``head + template`` per row."""
    cols = ", ".join(names)
    create = (
        f"CREATE TEMP TABLE {STAGE} ON COMMIT DROP AS SELECT {cols}"
        f"{', 0::bigint AS __seq' if seq else ''} FROM {table} WITH NO DATA"
    )
    head = f"INSERT INTO {STAGE} ({cols}{', __seq' if seq else ''}) VALUES "
    return create, head, "(" + ", ".join(binds + (["%s"] if seq else [])) + ")"


class Marker(NamedTuple):
    """A ledger row (the first four fields) and the number of batches
    of its (sink table, query id, partition) that the ledger keeps."""

    sink_table: str
    query_id: str
    batch_id: int
    part: int
    retain: int


def batch_marker(df: DataFrame, table: str, batch_id: int | None) -> Marker | None:
    """The ledger marker of a driver-side write of ``df`` to ``table``
    (partition ``-1``: the whole batch), or None without a
    ``batch_id``. The query id is a local property of the thread that
    runs a foreachBatch body; it is ``''`` outside a stream."""
    if batch_id is None:
        return None
    spark = df.sparkSession
    qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId") or ""
    retain = int(spark.conf.get("spark.sql.streaming.minBatchesToRetain"))
    return Marker(table, qid, batch_id, -1, retain)


def _merge_staged(cur, pg: bool, batch, merge: str, stage) -> int:
    """Stage ``batch`` as ``__dbsink_batch`` and run ``merge`` over it;
    returns the merge's row count. Postgres fills the ``stage`` temp
    table with psycopg2 ``execute_values``, one round trip per
    1000-row page (the reference's per-row round trips at
    listen.py:159-171 are the anti-baseline, SURVEY §4.2), or, for a
    DBAPI without psycopg2, ``cursor.executemany``. DuckDB registers
    the Arrow table for the length of the merge."""
    if not pg:
        cur.register(STAGE, batch)
        try:
            return cur.execute(merge).fetchone()[0]
        finally:
            cur.unregister(STAGE)
    create, head, template = stage
    cur.execute(create)
    try:
        from psycopg2.extras import execute_values
    except ImportError:  # non-psycopg2 DBAPI stand-in
        cur.executemany(head + template, batch)
    else:
        execute_values(cur, head + "%s", batch, template=template, page_size=1000)
    cur.execute(merge)
    return cur.rowcount


def write_once(
    connect, dialect: str, batch, merge: str, stage, marker: Marker | None
) -> int:
    """Every DBAPI write in the package: on one connection, in one
    transaction, insert ``marker`` into the ledger and prune its
    partition's markers older than ``marker.retain`` batches (unless
    None), stage ``batch``, run ``merge`` and commit. ``batch`` is an
    Arrow table on DuckDB and a list of row params on Postgres, where
    ``stage`` is its ``stage_sql``. Returns the merge's row count: 0
    for an empty batch and for a replay, whose marker is already there
    and which rolls back and logs the skip. A failed commit raises:
    foreachBatch must fail, so Spark does not checkpoint the offsets of
    rows that never landed."""
    if not len(batch):
        return 0
    pg = dialect == "postgres"
    conn = connect()
    try:
        # postgres (psycopg2/pg_lite) opens the transaction implicitly
        # on a cursor; a duckdb connection needs an explicit BEGIN
        cur = conn.cursor() if pg else conn
        if not pg:
            conn.begin()
        if marker is not None:
            ph = "%s" if pg else "?"
            cur.execute(_LEDGER_DDL)
            cur.execute(
                f"INSERT INTO {LEDGER} VALUES ({', '.join([ph] * 4)}) ON CONFLICT DO NOTHING",
                marker[:4],
            )
            if (cur.rowcount if pg else cur.fetchone()[0]) == 0:
                conn.rollback()
                L.info(f"replay skipped: {LEDGER} already holds {marker[:4]}")
                return 0
            cur.execute(
                f"DELETE FROM {LEDGER} WHERE sink_table = {ph} AND query_id = {ph} "
                f"AND part = {ph} AND batch_id <= {ph}",
                (marker.sink_table, marker.query_id, marker.part,
                 marker.batch_id - marker.retain),
            )
        n = _merge_staged(cur, pg, batch, merge, stage)
        conn.commit()
        return n
    finally:
        # on an exception nothing was committed: close() discards the
        # open transaction on both DBAPI shapes
        conn.close()


@dataclass
class SinkWriter:
    mapping: Mapping
    connect: Callable[[], object]  # DBAPI connection factory
    dialect: str = "postgres"
    schema: str | None = None
    do_inserts: bool = True
    # 'auto' resolves per dialect: postgres → 'partition' (executors
    # write concurrently; a big micro-batch never surfaces to the
    # driver), duckdb → 'driver'. 'partition' is Postgres only: a
    # DuckDB file admits one writer process.
    mode: str = "auto"  # auto | driver | partition
    # Conflict-update semantics (documented divergence, reference
    # listen.py:160-166 `set_=newvalues` updates only the keys PRESENT
    # in the message dict):
    #   'overwrite' — last-writer-wins over ALL non-key columns; a NULL
    #     (or default-filled) field in the new message replaces existing
    #     data. Simple, deterministic, the default.
    #   'preserve'  — partial-update parity: DO UPDATE SET col =
    #     COALESCE(excluded.col, existing) for non-key columns, and
    #     declared defaults are only applied to key columns, so a field
    #     the message omitted (NULL) keeps the stored value, like the
    #     reference's absent-dict-key. (A message can then not
    #     intentionally null a column — the one residual divergence.)
    update_mode: str = "overwrite"  # overwrite | preserve
    # PostGIS availability. None = auto-probe at ensure_table time:
    # try CREATE EXTENSION postgis, then check pg_extension. False =
    # DEGRADED GEOMETRY MODE — geometry columns are created as TEXT and
    # bound as plain WKT (no ST_GeomFromText), so the rest of the sink
    # (hstore, jsonb, LWW upsert, DDL sequence) runs against a vanilla
    # Postgres without the PostGIS package. The reference requires
    # PostGIS (dbsink/tables.py geometry columns); degraded mode is an
    # explicit, documented divergence for PostGIS-less servers, and
    # binds are only degraded AFTER the probe confirms absence.
    postgis: bool | None = None

    def __post_init__(self) -> None:
        if self.dialect == "duckdb" and self.mode == "partition":
            raise ValueError(
                "mode='partition' is Postgres only: DuckDB admits a single "
                "writer process per database file, so concurrent partition "
                "writers conflict on its lock; use mode='driver' or 'auto'"
            )

    @property
    def effective_mode(self) -> str:
        if self.mode != "auto":
            return self.mode
        return "partition" if self.dialect == "postgres" else "driver"

    def _probe_postgis(self, conn) -> bool:
        cur = conn.cursor()
        try:
            cur.execute("CREATE EXTENSION IF NOT EXISTS postgis")
            # commit NOW: under psycopg2 the whole ensure_table runs in
            # one implicit transaction, and a later swallowed-TRUNCATE
            # rollback would silently discard the just-installed
            # extension while self.postgis stays cached True (review)
            self._commit(conn)
        except Exception:
            self._rollback(conn)
        try:
            cur = conn.cursor()
            cur.execute("SELECT count(*) FROM pg_extension WHERE extname = 'postgis'")
            return bool(cur.fetchall()[0][0])
        except Exception:
            self._rollback(conn)
            return True  # probe failed — keep full-fidelity binds

    # -- DDL phase -----------------------------------------------------
    def ensure_table(self, drop: bool = False, truncate: bool = False) -> None:
        if not self.do_inserts:
            return
        conn = self.connect()
        try:
            needs_gis = any(
                c.bind.startswith("geometry") for c in self.mapping.columns
            )
            if self.dialect == "postgres" and self.postgis is None and needs_gis:
                # probe ONLY when the mapping binds geometry: installing
                # PostGIS is a side-effectful schema change no
                # geometry-less sink should trigger (review)
                self.postgis = self._probe_postgis(conn)
                if not self.postgis:
                    L.warning(
                        "PostGIS unavailable: geometry columns degrade to "
                        "WKT TEXT (documented degraded mode)"
                    )
            for stmt in create_statements(
                self.mapping,
                self.dialect,
                self.schema,
                drop=drop,
                truncate=truncate,
                postgis=self.postgis is not False,
            ):
                try:
                    if "TRUNCATE" in stmt or "DELETE FROM" in stmt:
                        # checkpoint: a swallowed truncate-failure
                        # rollback must not also discard the schema/
                        # extension statements sharing psycopg2's
                        # implicit transaction (review)
                        self._commit(conn)
                    conn.execute(stmt) if self.dialect == "duckdb" else conn.cursor().execute(stmt)
                except Exception as e:
                    # truncate of a missing table is swallowed, as the
                    # reference does (listen.py:115-119)
                    if "TRUNCATE" in stmt or "DELETE FROM" in stmt:
                        L.warning(f"truncate skipped: {e}")
                        # psycopg2 runs all statements in one implicit
                        # transaction which the failure ABORTS — without
                        # a rollback every later DDL raises
                        # InFailedSqlTransaction (DuckDB autocommits, so
                        # this is a no-op there)
                        self._rollback(conn)
                    else:
                        raise
            conn.commit()
        finally:
            conn.close()

    # -- write phase ---------------------------------------------------
    def prepare_batch(self, df: DataFrame) -> DataFrame:
        """Apply declared defaults (None-omission semantics) and add
        ``__seq``, the last-writer-wins order: the Kafka ``offset`` when
        present, else arrival order. Keys may still repeat; the merge
        statement keeps the highest ``__seq`` per key."""
        keyset = set(self.mapping.upsert_keys or [])
        for c in self.mapping.columns:
            if c.bind == "serial" or c.default is None or c.name not in df.columns:
                continue
            if self.update_mode == "preserve" and c.name not in keyset:
                continue  # keep NULL = "field absent" for COALESCE update
            if isinstance(c.default, (dict, list)):
                if isinstance(c.default, dict) and c.bind == "hstore":
                    df = df.withColumn(
                        c.name,
                        F.coalesce(
                            F.col(c.name),
                            F.create_map().cast("map<string,string>"),
                        ),
                    )
                else:
                    df = df.withColumn(
                        c.name, F.coalesce(F.col(c.name), F.lit(json.dumps(c.default)))
                    )
            else:
                df = df.withColumn(c.name, F.coalesce(F.col(c.name), F.lit(c.default)))
        seq = F.col("offset") if "offset" in df.columns else F.monotonically_increasing_id()
        return df.withColumn("__seq", seq)

    def _columns(self) -> list[ColumnSpec]:
        return [c for c in self.mapping.columns if c.bind != "serial"]

    def _table(self) -> str:
        table = quoted(self.mapping.table)
        return f"{quoted(self.schema)}.{table}" if self.schema else table

    def _bind_exprs(self, cols: list[ColumnSpec]) -> list[str]:
        """Postgres bind per column, applied as rows enter the stage."""
        binds = []
        for c in cols:
            if c.bind in ("geometry", "geometry_union") and self.postgis is False:
                # degraded mode (see the postgis field): WKT text
                binds.append("%s")
            elif c.bind == "jsonb":
                binds.append("%s::jsonb")
            elif c.bind == "hstore":
                binds.append("%s::hstore")
            elif c.bind == "geometry":
                binds.append("ST_GeomFromText(%s, 4326)")
            elif c.bind == "geometry_union":
                # DB-side noding/dissolve: PostGIS ST_UnaryUnion runs
                # the same GEOS unary_union the reference calls via
                # shapely (tables.py:266-269), so crossing/overlapping
                # members of a collection built by the no-shapely
                # fallback are noded at insert — exact parity, and a
                # no-op for already-dissolved input
                binds.append("ST_UnaryUnion(ST_GeomFromText(%s, 4326))")
            else:
                binds.append("%s")
        return binds

    def stage_sql(self) -> tuple[str, str, str]:
        """Postgres staging: the target's columns plus ``__seq``, with
        the ::jsonb/::hstore/ST_GeomFromText binds in the template."""
        cols = self._columns()
        return stage_sql(
            self._table(), [quoted(c.name) for c in cols], self._bind_exprs(cols), seq=True
        )

    def upsert_sql(self) -> str:
        """The one statement that writes the staged batch, on both
        dialects: keep the row with the highest ``__seq`` per upsert key
        (NULL key values group together, as in a Spark window), then
        insert it or update the stored row. Keyless mappings append the
        whole batch."""
        cols = self._columns()
        names = ", ".join(quoted(c.name) for c in cols)
        sql = f"INSERT INTO {self._table()} AS __t ({names}) SELECT {names} FROM "
        keys = self.mapping.upsert_keys
        if not keys:
            return sql + STAGE
        key_cols = ", ".join(quoted(k) for k in keys)
        non_key = [quoted(c.name) for c in cols if c.name not in keys]
        if self.update_mode == "preserve":
            sets = ", ".join(f"{n} = COALESCE(excluded.{n}, __t.{n})" for n in non_key)
        else:
            sets = ", ".join(f"{n} = excluded.{n}" for n in non_key)
        return (
            f"{sql}(SELECT *, row_number() OVER (PARTITION BY {key_cols} "
            f"ORDER BY __seq DESC) AS __rn FROM {STAGE}) __b WHERE __rn = 1 "
            f"ON CONFLICT ({key_cols}) DO UPDATE SET {sets}"
        )

    def _row_params(self, row, cols: list[ColumnSpec]):
        return [
            _hstore_text(row[c.name]) if c.bind == "hstore" else row[c.name]
            for c in cols
        ] + [row["__seq"]]

    def _arrow(self, batch: pa.Table) -> pa.Table:
        """DuckDB stages hstore maps as JSON text."""
        for c in self._columns():
            if c.bind == "hstore":
                i = batch.schema.get_field_index(c.name)
                batch = batch.set_column(i, c.name, _hstore_json(batch.column(i)))
        return batch

    def _write(self, batch, marker) -> int:
        return write_once(
            self.connect, self.dialect, batch, self.upsert_sql(), self.stage_sql(), marker
        )

    def write_batch(self, df: DataFrame, batch_id: int | None = None) -> int:
        """foreachBatch body: defaults and ``__seq`` in Spark, then one
        ``write_once`` per connection. An append (no upsert keys) with a
        ``batch_id`` takes a ledger marker, so its replay lands nothing;
        a keyed upsert converges on replay and takes none. Returns the
        rows the merge statements wrote (0 in dry-run mode and for a
        replay)."""
        out_cols = self._columns()
        df = self.prepare_batch(df).select(*[c.name for c in out_cols], "__seq")
        if not self.do_inserts:
            n = df.count()
            L.info(f"dry-run: {n} rows transformed, inserts skipped")
            return 0
        marker = None
        if not self.mapping.upsert_keys:
            table = f"{self.schema}.{self.mapping.table}" if self.schema else self.mapping.table
            marker = batch_marker(df, table, batch_id)
        if self.effective_mode == "partition":
            return self._write_partitions(df, out_cols, marker)
        if self.dialect == "duckdb":
            return self._write(self._arrow(df.toArrow()), marker)
        return self._write([self._row_params(r, out_cols) for r in df.collect()], marker)

    def _write_partitions(self, df: DataFrame, out_cols: list[ColumnSpec], marker) -> int:
        """Per-partition concurrent writes (Postgres); nothing surfaces
        to the driver but the summed merge counts. Hash-partitioning on
        the upsert keys puts every copy of a key in one partition, so
        each partition's merge reduces its own keys and no two
        partitions touch the same row. An append keeps the source's
        partitions (see the module docstring: a replay puts the same
        rows in partition *i*) and marks each one."""
        writer = self
        written = df.sparkSession.sparkContext.accumulator(0)
        if self.mapping.upsert_keys:
            df = df.repartition(*self.mapping.upsert_keys)
        elif marker is not None:
            # created here, before the partitions' transactions would
            # race to create it
            exec_ddl(self.connect, self.dialect, _LEDGER_DDL)

        def write_part(rows):
            part = marker and marker._replace(part=TaskContext.get().partitionId())
            written.add(writer._write([writer._row_params(r, out_cols) for r in rows], part))

        df.foreachPartition(write_part)
        return written.value

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        """Adapter for ``writeStream.foreachBatch``."""

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            n = self.write_batch(batch_df, batch_id)
            L.info(f"batch {batch_id}: wrote {n} rows")

        return fn

    @staticmethod
    def _commit(conn) -> None:
        try:
            conn.commit()
        except Exception:
            pass

    @staticmethod
    def _rollback(conn) -> None:
        try:
            conn.rollback()
        except Exception:
            pass


def duckdb_connect_factory(path: str) -> Callable[[], object]:
    def connect():
        import duckdb

        return duckdb.connect(path)

    return connect


def postgres_connect_factory(dsn: str) -> Callable[[], object]:
    """psycopg2 when available; otherwise the pure-python wire client
    (``wire.pg_lite``, simple-query protocol + client-side literals) —
    environments with a Postgres server but no driver wheel still get
    the live sink path. Both stage a batch and run the merge statement
    on one connection: psycopg2 through ``execute_values``, the wire
    client through ``cursor.executemany``, which it sends as one Query
    message."""

    def connect():
        try:
            import psycopg2  # gated optional dependency

            return psycopg2.connect(dsn)
        except ImportError:
            from .wire.pg_lite import connect as pg_lite_connect

            return pg_lite_connect(dsn)

    return connect
