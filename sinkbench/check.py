"""Correctness checks that do not use the code under test.

Expected tables are built in DuckDB SQL from the generator's ledger
(what was sent), and actual tables are read straight from the sink's
DuckDB file or the lake's parquet files. Both sides are compared by row
count, an order-independent hash, and the multiset difference; the
difference counts rows that should have landed but are missing or wrong.
"""

from __future__ import annotations

from datetime import datetime, timezone

import duckdb
import pyarrow as pa


def _epoch_us(iso: str) -> int:
    dt = datetime.strptime(iso, "%Y-%m-%dT%H:%M:%SZ").replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000


def _compare(con, expected_sql: str, actual_sql: str) -> dict:
    con.execute(f"CREATE TEMP TABLE expected AS {expected_sql}")
    con.execute(f"CREATE TEMP TABLE actual AS {actual_sql}")
    cols = ", ".join(f'"{r[0]}"' for r in con.execute("DESCRIBE expected").fetchall())
    digest = f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {{}}"
    n_exp, h_exp = con.execute(digest.format("expected")).fetchone()
    n_act, h_act = con.execute(digest.format("actual")).fetchone()
    missing = con.execute(
        "SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM actual)"
    ).fetchone()[0]
    extra = con.execute(
        "SELECT count(*) FROM (SELECT * FROM actual EXCEPT ALL SELECT * FROM expected)"
    ).fetchone()[0]
    return {
        "ok": n_exp == n_act and h_exp == h_act and missing == 0 and extra == 0,
        "expected_rows": n_exp,
        "actual_rows": n_act,
        "wrong_rows": missing + extra,
    }


def check_upsert_table(db_path: str, table: str, ledger: list[tuple], key_cols: tuple[str, ...]) -> dict:
    """Last-writer-wins table check for keyed messages.

    ``ledger`` rows are ``(seq, *key, poison)`` with the message time at
    key position ``time``; the expected table keeps, per key, the highest
    seq among non-poison messages. The actual seq is read back from the
    ``values`` JSON the mapping stored."""
    cols = ("seq", *key_cols, "poison")
    data = {c: [r[i] for r in ledger] for i, c in enumerate(cols)}
    data["time"] = [_epoch_us(t) for t in data["time"]]
    keys = ", ".join(f'"{c}"' for c in key_cols)
    stored = keys.replace('"time"', 'epoch_us("time") AS "time"')
    con = duckdb.connect(db_path, read_only=True)
    try:
        con.register("ledger", pa.table(data))
        return _compare(
            con,
            f"SELECT {keys}, max(seq)::BIGINT AS seq FROM ledger WHERE NOT poison GROUP BY ALL",
            f"SELECT {stored}, CAST(json_extract_string(\"values\", '$.seq') AS BIGINT) AS seq "
            f'FROM "{table}"',
        )
    finally:
        con.close()


def check_lake(lake_path: str, ledger: list[tuple]) -> dict:
    """Append-only lake check: every non-poison NWIC message lands once,
    with its device, status time and payload coordinates."""
    cols = ("seq", "uid", "time", "lat", "lon", "poison")
    data = {c: [r[i] for r in ledger] for i, c in enumerate(cols)}
    data["time"] = [t * 1_000_000 for t in data["time"]]
    con = duckdb.connect()
    try:
        con.register("ledger", pa.table(data))
        return _compare(
            con,
            "SELECT seq::BIGINT AS seq, uid, \"time\"::BIGINT AS \"time\", lat, lon FROM ledger WHERE NOT poison",
            "SELECT CAST(element_at(\"values\", 'cdr_reference')[1] AS BIGINT) AS seq, uid, "
            f"epoch_us(\"time\")::BIGINT AS \"time\", lat, lon FROM read_parquet('{lake_path}/**/*.parquet')",
        )
    finally:
        con.close()


def lake_rows(lake_path: str) -> int:
    with duckdb.connect() as con:
        return con.execute(f"SELECT count(*) FROM read_parquet('{lake_path}/**/*.parquet')").fetchone()[0]


def check_curated(docs_path: str, out_path: str, budget_docs: int) -> dict:
    """Curated corpus check: output ids are a subset of the input ids,
    each exact-duplicate text survives at most once, and the token
    budget covers exactly the curated documents. Returns the id-set hash
    so passes (and runs with the same seed) can be compared."""
    with duckdb.connect() as con:
        con.execute(f"CREATE TEMP TABLE docs AS SELECT doc_id, text FROM read_parquet('{docs_path}')")
        con.execute(f"CREATE TEMP TABLE cur AS SELECT doc_id FROM read_parquet('{out_path}/**/*.parquet')")
        n, id_hash = con.execute("SELECT count(*), coalesce(sum(hash(doc_id)::HUGEINT), 0) FROM cur").fetchone()
        unknown = con.execute("SELECT count(*) FROM cur ANTI JOIN docs USING (doc_id)").fetchone()[0]
        dup_survivors = con.execute(
            "SELECT coalesce(sum(k - 1), 0) FROM (SELECT count(*) AS k FROM cur JOIN docs USING (doc_id) "
            "GROUP BY text HAVING count(*) > 1)"
        ).fetchone()[0]
    wrong = unknown + dup_survivors + abs(budget_docs - n)
    return {"ok": wrong == 0 and n > 0, "docs_out": n, "id_hash": str(id_hash), "wrong_rows": wrong}
