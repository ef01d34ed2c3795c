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

Spark's only per-batch work is the transform, the defaults (a
projection) and a ``__seq`` column; it runs no window and no shuffle
for the sink. The batch is then staged under one name,
``__dbsink_batch``, and one ``INSERT … SELECT`` reduces it to the
highest ``__seq`` per key and upserts it:
* DuckDB: the staged batch is the Arrow table registered on the
  connection.
* Postgres: a temp table shaped like the target, dropped at commit,
  filled by ``psycopg2.extras.execute_values`` (one round trip per
  ~1000-row page) or, without psycopg2, ``cursor.executemany``.

Execution modes (``mode='auto'`` picks per dialect):
* ``driver`` — the batch surfaces to the driver (``toArrow`` on
  DuckDB, ``collect`` on Postgres) and writes over a single DBAPI
  connection. DuckDB always runs this way: a database file admits one
  writer process, so concurrent executor writers would conflict on its
  lock. A remote-DB micro-batch that outgrows driver memory should
  never take this path.
* ``partition`` — Postgres only. ``df.repartition(*keys)`` co-locates
  each key in one partition (a hash exchange, no sort), then
  ``df.foreachPartition`` opens a connection per partition that stages
  and merges only its own keys (the Postgres default; requires a
  picklable connection factory). Rows never surface to the driver.

At 100 TB the knobs that matter: micro-batch admission
(``maxOffsetsPerTrigger``), partition count before the write
(``coalesce`` to match the DB's write concurrency), and the upsert key
index on the target table.
"""

from __future__ import annotations

import json
from collections.abc import Callable
from dataclasses import dataclass

import pyarrow as pa
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
_STAGE = "__dbsink_batch"


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
        """Postgres staging: the temp table (the target's columns plus
        ``__seq``, no rows, dropped at commit), the head of the insert
        that fills it, and the per-row template with the
        ::jsonb/::hstore/ST_GeomFromText binds. ``execute_values`` pages
        rows into ``head + "%s"``; ``executemany`` runs
        ``head + template`` per row."""
        cols = self._columns()
        names = ", ".join(quoted(c.name) for c in cols)
        create = (
            f"CREATE TEMP TABLE {_STAGE} ON COMMIT DROP AS SELECT {names}, "
            f"0::bigint AS __seq FROM {self._table()} WITH NO DATA"
        )
        head = f"INSERT INTO {_STAGE} ({names}, __seq) VALUES "
        return create, head, "(" + ", ".join(self._bind_exprs(cols) + ["%s"]) + ")"

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
            return sql + _STAGE
        key_cols = ", ".join(quoted(k) for k in keys)
        non_key = [quoted(c.name) for c in cols if c.name not in keys]
        if self.update_mode == "preserve":
            sets = ", ".join(f"{n} = COALESCE(excluded.{n}, __t.{n})" for n in non_key)
        else:
            sets = ", ".join(f"{n} = excluded.{n}" for n in non_key)
        return (
            f"{sql}(SELECT *, row_number() OVER (PARTITION BY {key_cols} "
            f"ORDER BY __seq DESC) AS __rn FROM {_STAGE}) __b WHERE __rn = 1 "
            f"ON CONFLICT ({key_cols}) DO UPDATE SET {sets}"
        )

    def _row_params(self, row, cols: list[ColumnSpec]):
        return [
            _hstore_text(row[c.name]) if c.bind == "hstore" else row[c.name]
            for c in cols
        ] + [row["__seq"]]

    def _merge_rows(self, conn, params: list) -> int:
        """Postgres: stage the rows, then merge. psycopg2
        ``execute_values`` folds them into multi-VALUES statements, one
        round trip per 1000-row page (the reference's per-row round
        trips at listen.py:159-171 are the anti-baseline, SURVEY §4.2);
        a DBAPI without psycopg2 takes ``cursor.executemany``."""
        create, head, template = self.stage_sql()
        cur = conn.cursor()
        try:
            cur.execute(create)
            try:
                from psycopg2.extras import execute_values
            except ImportError:  # non-psycopg2 DBAPI stand-in
                cur.executemany(head + template, params)
            else:
                execute_values(cur, head + "%s", params, template=template, page_size=1000)
            cur.execute(self.upsert_sql())
            return cur.rowcount
        finally:
            try:
                cur.close()
            except Exception:
                pass

    def _merge_arrow(self, conn, batch: pa.Table) -> int:
        """DuckDB: the Arrow batch, hstore maps as JSON text, is the
        staged batch for the length of the merge statement."""
        for c in self._columns():
            if c.bind == "hstore":
                i = batch.schema.get_field_index(c.name)
                batch = batch.set_column(i, c.name, _hstore_json(batch.column(i)))
        conn.register(_STAGE, batch)
        try:
            return conn.execute(self.upsert_sql()).fetchone()[0]
        finally:
            conn.unregister(_STAGE)

    def _write(self, batch) -> int:
        """One connection, one staged batch, one merge, one commit.
        ``batch`` is an Arrow table on DuckDB and a list of row params
        on Postgres; returns the merge's row count. A failed commit
        raises: foreachBatch must fail, so Spark does not checkpoint the
        offsets of rows that never landed."""
        conn = self.connect()
        try:
            merge = self._merge_arrow if self.dialect == "duckdb" else self._merge_rows
            n = merge(conn, batch)
            conn.commit()
        finally:
            conn.close()
        return n

    def write_batch(self, df: DataFrame, batch_id: int | None = None) -> int:
        """foreachBatch body: defaults and ``__seq`` in Spark, then one
        merge per connection. Returns the rows the merge statement
        wrote (0 in dry-run mode, -1 in partition mode)."""
        out_cols = self._columns()
        df = self.prepare_batch(df).select(*[c.name for c in out_cols], "__seq")
        if not self.do_inserts:
            n = df.count()
            L.info(f"dry-run: {n} rows transformed, inserts skipped")
            return 0
        if self.effective_mode == "partition":
            return self._write_partitions(df, out_cols)
        if self.dialect == "duckdb":
            batch = df.toArrow()
        else:
            batch = [self._row_params(r, out_cols) for r in df.collect()]
        return self._write(batch) if len(batch) else 0

    def _write_partitions(self, df: DataFrame, out_cols: list[ColumnSpec]) -> int:
        """Per-partition concurrent writes (Postgres). Hash-partitioning
        on the upsert keys puts every copy of a key in one partition, so
        each partition's merge reduces its own keys and no two
        partitions touch the same row. Nothing surfaces to the driver."""
        writer = self
        if self.mapping.upsert_keys:
            df = df.repartition(*self.mapping.upsert_keys)

        def write_part(rows):
            batch = [writer._row_params(r, out_cols) for r in rows]
            if batch:
                writer._write(batch)

        df.foreachPartition(write_part)
        return -1  # count not tracked in distributed mode

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
