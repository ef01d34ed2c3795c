"""Postgres-dialect SQL validation without a server (r02 VERDICT #7).

The generated postgres DDL, stage and merge strings were only ever
string-built; nothing postgres-shaped parsed them (the env has no
psycopg2/sqlglot). Two layers of defense:

1. STRUCTURAL invariants over every registry mapping × both dialects —
   balanced parens/quotes, placeholder count == bind column count + 1
   (``__seq``) on the staging insert and none in the merge, ON
   CONFLICT and PARTITION BY keys == declared unique-index keys,
   multi-VALUES form, one merge text for both dialects.
2. LIVE EXECUTION of the postgres statements on DuckDB after a
   documented, minimal pg→duck transform (each stripped construct
   listed below — drift inside those constructs is caught by the
   golden snapshot test, drift anywhere else fails the live run).

pg-only constructs transformed for the DuckDB run:
  CREATE EXTENSION …         → dropped (pg extension machinery)
  NULLS NOT DISTINCT         → dropped (pg15+ index clause)
  TRUNCATE … RESTART IDENTITY→ DELETE FROM …
  HSTORE / JSONB / geometry(…)→ TEXT (storage type only)
  ::hstore / ::jsonb casts   → removed
  ST_UnaryUnion(…)           → inner expression (PostGIS dissolve)
  ST_GeomFromText(%s, 4326)  → %s (PostGIS constructor)
  %s placeholders            → ?
"""

from __future__ import annotations

import re

import duckdb
import pytest

from dbsink_spark.ddl import create_statements
from dbsink_spark.mappings import registry
from dbsink_spark.mappings.registry import resolve
from dbsink_spark.sink import SinkWriter

ALL_LOOKUPS = sorted(registry.BUILTIN)


def _pg_to_duck(stmt: str) -> str | None:
    if stmt.startswith("CREATE EXTENSION"):
        return None
    s = stmt.replace(" NULLS NOT DISTINCT", "")
    s = re.sub(r"TRUNCATE TABLE (\S+) RESTART IDENTITY", r"DELETE FROM \1", s)
    s = re.sub(r"geometry\(\w+,\s*\d+\)", "TEXT", s)
    s = s.replace(" HSTORE", " TEXT").replace(" JSONB", " TEXT")
    s = re.sub(r"ST_GeomFromText\((%s|\?), *\d+\)", r"\1", s)
    s = re.sub(r"ST_UnaryUnion\((%s|\?)\)", r"\1", s)
    s = s.replace("::hstore", "").replace("::jsonb", "")
    s = s.replace("%s", "?")
    return s


def _balanced(s: str) -> bool:
    depth = 0
    in_squote = in_dquote = False
    for ch in s:
        if in_squote:
            in_squote = ch != "'"
        elif in_dquote:
            in_dquote = ch != '"'
        elif ch == "'":
            in_squote = True
        elif ch == '"':
            in_dquote = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth < 0:
                return False
    return depth == 0 and not in_squote and not in_dquote


@pytest.mark.parametrize("lookup", ALL_LOOKUPS)
@pytest.mark.parametrize("dialect", ["postgres", "duckdb"])
def test_generated_sql_structure(lookup, dialect):
    mapping = resolve(lookup, "some.topic")
    w = SinkWriter(mapping, lambda: None, dialect=dialect)
    stmts = create_statements(mapping, dialect, schema="s", drop=True)
    create, head, tmpl = w.stage_sql()
    sql = w.upsert_sql()
    for s in stmts + [create, head + tmpl, sql]:
        assert _balanced(s), s
    n_cols = len([c for c in mapping.columns if c.bind != "serial"])
    # the merge binds nothing: it reads the staged batch
    assert "%s" not in sql and "?" not in sql and "FROM __dbsink_batch" in sql
    # one builder, one merge text for both dialects
    assert sql == SinkWriter(mapping, lambda: None, dialect="postgres").upsert_sql()
    if mapping.upsert_keys:
        conflict = re.search(r"ON CONFLICT \(([^)]*)\)", sql).group(1)
        window = re.search(r"PARTITION BY (.*?) ORDER BY", sql).group(1)
        for key_list in (conflict, window):
            assert {c.strip().strip('"') for c in key_list.split(",")} == set(mapping.upsert_keys)
        assert "ORDER BY __seq DESC) AS __rn" in sql and sql.count("WHERE __rn = 1") == 1
        # excluded.-references only non-key columns
        for ref in re.findall(r'excluded\."([^"]+)"', sql):
            assert ref not in mapping.upsert_keys
    else:
        assert "OVER" not in sql and "ON CONFLICT" not in sql
    # multi-VALUES staging: the head takes execute_values' one %s, the
    # template carries one placeholder per column plus __seq
    assert head.endswith("VALUES ") and "%s" not in head
    assert tmpl.startswith("(") and tmpl.count("%s") == n_cols + 1
    assert create.count("%s") == 0 and create.endswith("WITH NO DATA")


@pytest.mark.parametrize("lookup", ALL_LOOKUPS)
@pytest.mark.parametrize("update_mode", ["overwrite", "preserve"])
def test_postgres_sql_executes_after_transform(lookup, update_mode):
    """The postgres statement stream (schema→DDL→extend→index→stage→
    merge→truncate→drop) EXECUTES end-to-end on DuckDB after the
    documented pg-only strips — a syntax-drift tripwire for everything
    else."""
    mapping = resolve(lookup, "pg.check.topic")
    w = SinkWriter(mapping, lambda: None, dialect="postgres", schema="s")
    w.update_mode = update_mode
    con = duckdb.connect()
    for stmt in create_statements(mapping, "postgres", schema="s"):
        d = _pg_to_duck(stmt)
        if d is not None:
            con.execute(d)
    # secondary indexes validated above; DuckDB (unlike Postgres)
    # refuses DO UPDATE SET on any indexed column, so drop them before
    # the upsert replay
    for stmt in create_statements(mapping, "postgres", schema="s"):
        m = re.match(r'CREATE INDEX IF NOT EXISTS ("([^"]+)")', stmt)
        if m:
            con.execute(f'DROP INDEX "s".{m.group(1)}')
    cols = [c for c in mapping.columns if c.bind != "serial"]
    row = []
    for c in cols:
        t = c.pg_type.upper()
        if "TIMESTAMP" in t:
            row.append("2020-01-01 00:00:00")
        elif any(k in t for k in ("DOUBLE", "REAL", "FLOAT", "NUMERIC")):
            row.append(1.5)
        elif any(k in t for k in ("INT", "BIGINT")):
            row.append(1)
        else:
            row.append("x")
    create, head, tmpl = w.stage_sql()
    con.execute(_pg_to_duck(create))
    # the same key staged twice: the merge's window keeps one copy
    con.executemany(_pg_to_duck(head + tmpl), [row + [1], row + [2]])
    merge = _pg_to_duck(w.upsert_sql())
    keyed = bool(mapping.upsert_keys)
    assert con.execute(merge).fetchone()[0] == (1 if keyed else 2)
    con.execute(merge)  # ON CONFLICT path must parse + fire
    tbl = f'"s"."{mapping.table}"'
    # keyless mappings are append-only: replay legitimately adds rows
    assert con.execute(f"SELECT count(*) FROM {tbl}").fetchone()[0] == (1 if keyed else 4)
    for stmt in create_statements(mapping, "postgres", schema="s", truncate=True):
        d = _pg_to_duck(stmt)
        if d is not None:
            con.execute(d)
    assert con.execute(f"SELECT count(*) FROM {tbl}").fetchone()[0] == 0
    for stmt in create_statements(mapping, "postgres", schema="s", drop=True):
        d = _pg_to_duck(stmt)
        if d is not None:
            con.execute(d)


def test_postgres_golden_snapshot():
    """Pin the exact postgres statement strings for one representative
    mapping — any drift (including inside the pg-only constructs the
    DuckDB run strips) is a visible diff here."""
    mapping = resolve("GenericFloat", "axds-netcdf-replayer-data")
    stmts = create_statements(mapping, "postgres", schema="myschema", drop=True)
    joined = "\n".join(stmts)
    assert stmts[0] == 'CREATE SCHEMA IF NOT EXISTS "myschema"'
    assert stmts[1] == "CREATE EXTENSION IF NOT EXISTS hstore CASCADE"
    assert stmts[2] == 'DROP TABLE IF EXISTS "myschema"."axds-netcdf-replayer-data"'
    assert "NULLS NOT DISTINCT" in joined
    assert "geometry(POINT,4326)" in joined
    w = SinkWriter(mapping, lambda: None, dialect="postgres")
    names = '"uid", "gid", "time", "reftime", "lat", "lon", "z", "geom", "values", "payload"'
    keys = '"uid", "gid", "time", "lat", "lon", "z"'
    assert w.stage_sql() == (
        f"CREATE TEMP TABLE __dbsink_batch ON COMMIT DROP AS SELECT {names}, "
        '0::bigint AS __seq FROM "axds-netcdf-replayer-data" WITH NO DATA',
        f"INSERT INTO __dbsink_batch ({names}, __seq) VALUES ",
        "(%s, %s, %s, %s, %s, %s, %s, ST_GeomFromText(%s, 4326), %s::hstore, %s::jsonb, %s)",
    )
    assert w.upsert_sql() == (
        f'INSERT INTO "axds-netcdf-replayer-data" AS __t ({names}) SELECT {names} '
        f"FROM (SELECT *, row_number() OVER (PARTITION BY {keys} ORDER BY __seq DESC) "
        "AS __rn FROM __dbsink_batch) __b WHERE __rn = 1 "
        f"ON CONFLICT ({keys}) DO UPDATE SET "
        '"reftime" = excluded."reftime", "geom" = excluded."geom", '
        '"values" = excluded."values", "payload" = excluded."payload"'
    )


def test_geometry_union_bind_nodes_crossing_inputs():
    """G3 crossing-geometry handoff: the in-engine noder (round-5
    `dbsink_spark/functions/noding.py`) dissolves crossing polygons to
    the same result shapely's ``unary_union`` produces, and the sink's
    geometry_union bind STILL wraps the insert in ST_UnaryUnion as a
    belt-and-braces normalization — the same GEOS call the reference
    runs client-side (/root/reference/dbsink/tables.py:266-269)."""
    from dbsink_spark.functions import union_features_wkt

    crossing = [
        {"type": "Feature", "properties": {}, "geometry": {
            "type": "Polygon",
            "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]}},
        {"type": "Feature", "properties": {}, "geometry": {
            "type": "Polygon",
            "coordinates": [[[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]]]}},
    ]
    wkt = union_features_wkt(crossing)
    # in-engine noding dissolves the overlap into one polygon — the
    # exact shapely unary_union golden for these two squares
    assert wkt == "POLYGON ((0 0, 2 0, 2 1, 3 1, 3 3, 1 3, 1 2, 0 2, 0 0))"

    mapping = resolve("GenericGeography", "geo.topic")
    w = SinkWriter(mapping, lambda: None, dialect="postgres")
    assert "ST_UnaryUnion(ST_GeomFromText(%s, 4326))" in w.stage_sql()[2]
    # duckdb dialect stages plain text — no PostGIS call
    wd = SinkWriter(mapping, lambda: None, dialect="duckdb")
    assert "ST_UnaryUnion" not in wd.upsert_sql()
