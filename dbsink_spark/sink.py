"""Batched upsert sink: the engine's replacement for the reference's
one-SQL-round-trip-per-message insert loop (reference
dbsink/listen.py:137-171).

Key semantics preserved:
* last-writer-wins upsert on the mapping's unique key (K6,
  listen.py:160-166) — a micro-batch containing duplicate keys is
  reduced to the LAST occurrence (by Kafka offset when present) before
  ``INSERT … ON CONFLICT DO UPDATE``, because batch upserts would
  otherwise be order-ambiguous;
* None-omission → column defaults (F6, reference tables.py:304 etc.)
  — applied as ``coalesce`` with the declared default at write time;
* ``--no-do-inserts`` dry-run (K7) — transform runs, write is skipped.

Execution modes (``mode='auto'`` picks per dialect):
* ``driver`` — the batch surfaces to the driver (``toArrow`` on
  DuckDB, ``collect`` on Postgres) and writes over a single DBAPI
  connection. DuckDB always runs this way: a database file admits one
  writer process, so concurrent executor writers would conflict on its
  lock. A remote-DB micro-batch that outgrows driver memory should
  never take this path.
* ``partition`` — Postgres only. ``df.foreachPartition`` opens a
  connection per executor partition and writes concurrently (the
  Postgres default; requires a picklable connection factory, e.g.
  psycopg2). Rows never surface to the driver.
Neither mode pays a round trip per row:
* DuckDB: the batch is registered as an Arrow table and lands in ONE
  ``INSERT … SELECT … ON CONFLICT`` statement. That relies on keys
  being unique after ``prepare_batch``: DuckDB refuses to ``DO
  UPDATE`` the same row twice in one statement.
* Postgres: one round trip per ~1000-row page
  (``psycopg2.extras.execute_values`` multi-VALUES).

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
from pyspark.sql.window import Window

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


# name the batch is registered under for the length of one statement
_BATCH_VIEW = "__dbsink_batch"


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
            self._commit(conn)
        finally:
            conn.close()

    # -- write phase ---------------------------------------------------
    def prepare_batch(self, df: DataFrame) -> DataFrame:
        """Apply declared defaults (None-omission semantics) and reduce
        duplicate upsert keys to the last occurrence."""
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

        keys = self.mapping.upsert_keys
        if keys:
            order_col = "offset" if "offset" in df.columns else None
            if order_col is None:
                df = df.withColumn("__ord", F.monotonically_increasing_id())
                order_col = "__ord"
            w = Window.partitionBy(*keys).orderBy(F.col(order_col).desc())
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", "__ord" if "__ord" in df.columns else "__rn")
            )
        return df

    def _bind_exprs(self, cols: list[ColumnSpec]) -> list[str]:
        ph = "%s" if self.dialect == "postgres" else "?"
        binds = []
        for c in cols:
            if self.dialect == "postgres":
                if c.bind in ("geometry", "geometry_union") and self.postgis is False:
                    # degraded mode (see the postgis field): WKT text
                    binds.append(ph)
                elif c.bind == "jsonb":
                    binds.append(f"{ph}::jsonb")
                elif c.bind == "hstore":
                    binds.append(f"{ph}::hstore")
                elif c.bind == "geometry":
                    binds.append(f"ST_GeomFromText({ph}, 4326)")
                elif c.bind == "geometry_union":
                    # DB-side noding/dissolve: PostGIS ST_UnaryUnion runs
                    # the same GEOS unary_union the reference calls via
                    # shapely (tables.py:266-269), so crossing/overlapping
                    # members of a collection built by the no-shapely
                    # fallback are noded at insert — exact parity, and a
                    # no-op for already-dissolved input
                    binds.append(f"ST_UnaryUnion(ST_GeomFromText({ph}, 4326))")
                else:
                    binds.append(ph)
            else:
                binds.append(ph)
        return binds

    def row_template(self) -> str:
        """Per-row VALUES template for ``execute_values`` — carries the
        same ::jsonb/::hstore/ST_GeomFromText casts as the one-row
        form, so the multi-row fast path binds identically."""
        cols = [c for c in self.mapping.columns if c.bind != "serial"]
        return "(" + ", ".join(self._bind_exprs(cols)) + ")"

    def upsert_sql(self, n_cols_placeholder: str = "auto") -> str:
        cols = [c for c in self.mapping.columns if c.bind != "serial"]
        table = quoted(self.mapping.table)
        if self.schema:
            table = f"{quoted(self.schema)}.{table}"
        names = ", ".join(quoted(c.name) for c in cols)
        binds = self._bind_exprs(cols)
        sql = f"INSERT INTO {table} ({names}) VALUES ({', '.join(binds)})"
        keys = self.mapping.upsert_keys
        if keys:
            key_cols = ", ".join(quoted(k) for k in keys)
            if self.update_mode == "preserve":
                # alias the target: a schema-qualified name can't be
                # referenced inside DO UPDATE SET on Postgres
                sql = sql.replace(
                    f"INSERT INTO {table} (", f"INSERT INTO {table} AS __t (", 1
                )
                sets = ", ".join(
                    f"{quoted(c.name)} = COALESCE(excluded.{quoted(c.name)}, "
                    f"__t.{quoted(c.name)})"
                    for c in cols
                    if c.name not in keys
                )
            else:
                sets = ", ".join(
                    f"{quoted(c.name)} = excluded.{quoted(c.name)}"
                    for c in cols
                    if c.name not in keys
                )
            sql += f" ON CONFLICT ({key_cols}) DO UPDATE SET {sets}"
        return sql

    def _row_params(self, row, cols: list[ColumnSpec]):
        return [
            _hstore_text(row[c.name]) if c.bind == "hstore" else row[c.name]
            for c in cols
        ]

    def _execute_rows(self, conn, params: list) -> None:
        """One round trip per BATCH, not per row. Postgres uses
        psycopg2 ``execute_values`` to fold all rows into multi-VALUES
        statements (page_size rows per statement — the reference's
        per-row round trips at listen.py:159-171 are the anti-baseline,
        SURVEY §4.2); the per-row casts ride along via ``template``.
        DuckDB takes ``_upsert_arrow`` instead; unknown DBAPI dialects
        fall back to cursor.executemany."""
        sql = self.upsert_sql()
        cur = conn.cursor()
        try:
            if self.dialect == "postgres":
                try:
                    from psycopg2.extras import execute_values
                except Exception:  # non-psycopg2 DBAPI stand-in
                    execute_values = None
                if execute_values is not None:
                    template = self.row_template()
                    vsql = sql.replace(f"VALUES {template}", "VALUES %s", 1)
                    execute_values(
                        cur, vsql, params, template=template, page_size=1000
                    )
                    return
            cur.executemany(sql, params)
        finally:
            try:
                cur.close()
            except Exception:
                pass

    def _upsert_arrow(self, conn, batch: pa.Table) -> None:
        """DuckDB bulk upsert: ``upsert_sql()`` with ``SELECT … FROM``
        the registered batch in place of ``VALUES``, run once. Keys are
        unique after ``prepare_batch``, which this one statement needs:
        DuckDB refuses to ``DO UPDATE`` the same row twice in one
        statement."""
        cols = [c for c in self.mapping.columns if c.bind != "serial"]
        for c in cols:
            if c.bind == "hstore":
                i = batch.schema.get_field_index(c.name)
                batch = batch.set_column(i, c.name, _hstore_json(batch.column(i)))
        names = ", ".join(quoted(c.name) for c in cols)
        sql = self.upsert_sql().replace(
            f"VALUES {self.row_template()}", f"SELECT {names} FROM {_BATCH_VIEW}", 1
        )
        conn.register(_BATCH_VIEW, batch)
        try:
            conn.execute(sql)
        finally:
            conn.unregister(_BATCH_VIEW)

    def _write(self, batch) -> None:
        """One connection, one bulk write, one commit. ``batch`` is an
        Arrow table on DuckDB and a list of row params on Postgres."""
        conn = self.connect()
        try:
            if self.dialect == "duckdb":
                self._upsert_arrow(conn, batch)
            else:
                self._execute_rows(conn, batch)
            self._commit(conn)
        finally:
            conn.close()

    def write_batch(self, df: DataFrame, batch_id: int | None = None) -> int:
        """foreachBatch body: dedup, then batched upsert. Returns rows
        written (0 in dry-run mode)."""
        df = self.prepare_batch(df)
        out_cols = [c for c in self.mapping.columns if c.bind != "serial"]
        df = df.select(*[c.name for c in out_cols])
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
        if len(batch):
            self._write(batch)
        return len(batch)

    def _write_partitions(self, df: DataFrame, out_cols: list[ColumnSpec]) -> int:
        """Per-partition concurrent writes (Postgres). Nothing surfaces
        to the driver; each executor partition opens one connection and
        writes its slice with the same bulk write as driver mode."""
        writer = self

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
    the live sink path. Both return DBAPI-shaped connections the
    writer's non-psycopg2 fallback (`cursor.executemany`) handles."""

    def connect():
        try:
            import psycopg2  # gated optional dependency

            return psycopg2.connect(dsn)
        except ImportError:
            from .wire.pg_lite import connect as pg_lite_connect

            return pg_lite_connect(dsn)

    return connect
