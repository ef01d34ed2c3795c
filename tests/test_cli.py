"""CLI tests via Click's runner — the reference's own CLI test pattern
(tests/test_dbsink.py:15-21, integration tier :442-826)."""

import json

import duckdb
from click.testing import CliRunner

from conftest import float_messages, write_datafile

from dbsink_spark.cli import setup


def test_cli_help():
    result = CliRunner().invoke(setup, ["--help"])
    assert result.exit_code == 0
    assert "--datafile" in result.output


def test_cli_datafile_replay(tmp_path):
    # four keys, two of them re-sent with new values: the replay lands
    # one row per distinct upsert key
    msgs = float_messages()
    msgs += [dict(m, values={"temp": 99.0}) for m in msgs[:2]]
    keys = {(m["uid"], m["time"], m["lat"], m["lon"], m["z"]) for m in msgs}
    db = tmp_path / "cli.duckdb"
    result = CliRunner().invoke(
        setup,
        [
            "--topic", "axds-netcdf-replayer-data",
            "--lookup", "GenericFloat",
            "--db", f"duckdb:///{db}",
            "--datafile", write_datafile(tmp_path / "floats.json", msgs),
            "--drop",
        ],
        catch_exceptions=False,
    )
    assert result.exit_code == 0
    con = duckdb.connect(str(db))
    n = con.execute('SELECT count(*) FROM "axds-netcdf-replayer-data"').fetchone()[0]
    con.close()
    assert n == len(keys) == 4


def test_cli_jsonl_datafile_replay(tmp_path):
    # one message per line; the re-sent key keeps its later value
    msgs = float_messages() + [dict(float_messages()[0], values={"temp": 99.0})]
    path = tmp_path / "floats.jsonl"
    path.write_text("".join(json.dumps(m) + "\n" for m in msgs))
    db = tmp_path / "cli.duckdb"
    result = CliRunner().invoke(
        setup,
        [
            "--topic", "floats",
            "--lookup", "GenericFloat",
            "--db", f"duckdb:///{db}",
            "--datafile", str(path),
            "--drop",
        ],
        catch_exceptions=False,
    )
    assert result.exit_code == 0
    con = duckdb.connect(str(db))
    n = con.execute('SELECT count(*) FROM "floats"').fetchone()[0]
    [values] = con.execute("""SELECT "values" FROM "floats" WHERE uid = 'u0'""").fetchone()
    con.close()
    assert n == 4
    assert json.loads(values)["temp"] == "99.0"


def test_cli_dry_run(tmp_path):
    db = tmp_path / "dry.duckdb"
    result = CliRunner().invoke(
        setup,
        [
            "--topic", "t",
            "--lookup", "GenericFloat",
            "--db", f"duckdb:///{db}",
            "--datafile", write_datafile(tmp_path / "floats.json", float_messages()),
            "--no-do-inserts",
        ],
        catch_exceptions=False,
    )
    assert result.exit_code == 0


def test_cli_date_filter(tmp_path):
    # messages at 00:00..03:00; the window holds u1 and u2, and u1 is
    # re-sent in-window with a new value under identical upsert keys
    msgs = float_messages()
    msgs.append(dict(msgs[1], values={"temp": 99.0}))
    db = tmp_path / "filt.duckdb"
    result = CliRunner().invoke(
        setup,
        [
            "--topic", "floats",
            "--lookup", "GenericFloat",
            "--db", f"duckdb:///{db}",
            "--datafile", write_datafile(tmp_path / "floats.json", msgs),
            "--drop",
            "--start_date", "2020-01-01 00:30:00",
            "--end_date", "2020-01-01 02:00:00",
        ],
        catch_exceptions=False,
    )
    assert result.exit_code == 0
    con = duckdb.connect(str(db))
    rows = con.execute('SELECT uid, "values" FROM "floats" ORDER BY uid').fetchall()
    con.close()
    # only the in-window messages land, and the in-window duplicate key
    # collapses to one row holding the last writer's value
    assert [(uid, json.loads(v)["temp"]) for uid, v in rows] == [("u1", "99.0"), ("u2", "6.0")]


def test_dbapi_table_source_round_trip(spark, tmp_path):
    """The sink's database can be scanned back DISTRIBUTED: range
    splits partition the key space exactly (no dup/loss), projection
    and predicate push into the database."""
    import duckdb

    from dbsink_spark.sources import dbapi_table_source

    db = str(tmp_path / "fed.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE m AS SELECT i AS id, i % 7 AS grp, 'v' || i AS s "
        "FROM range(0, 1000) t(i)"
    )
    # gaps + skew in the split key
    con.execute("DELETE FROM m WHERE id BETWEEN 200 AND 700")
    con.close()

    df = dbapi_table_source(spark, db, "m", "id", n_splits=4)
    rows = df.collect()
    # BETWEEN is inclusive: 200 survivors below + 299 above = 499
    assert len(rows) == 499
    assert {r["id"] for r in rows} == set(range(200)) | set(range(701, 1000))
    assert df.rdd.getNumPartitions() == 4

    # projection + predicate pushdown
    df2 = dbapi_table_source(
        spark, db, "m", "id", n_splits=3, columns=["id", "grp"], predicate="grp = 3"
    )
    got = df2.collect()
    assert set(df2.columns) == {"id", "grp"}
    assert all(r["grp"] == 3 for r in got)
    assert len(got) == sum(1 for i in list(range(200)) + list(range(701, 1000)) if i % 7 == 3)

    # empty result (predicate matches nothing)
    df3 = dbapi_table_source(spark, db, "m", "id", predicate="grp = 99")
    assert df3.count() == 0


def test_dbapi_table_source_decimal_and_unsigned(spark, tmp_path):
    """DECIMAL and UBIGINT columns survive the federated read (the
    sink writes both); unmapped exotic types raise instead of
    mis-declaring string."""
    import duckdb

    from dbsink_spark.sources import dbapi_table_source

    db = str(tmp_path / "types.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE t AS SELECT i AS id, (i / 4.0)::DECIMAL(15,2) AS amt, "
        "(18446744073709551615 - i)::UBIGINT AS big FROM range(0, 40) r(i)"
    )
    con.close()
    df = dbapi_table_source(spark, db, "t", "id", n_splits=3)
    rows = {r["id"]: r for r in df.collect()}
    assert len(rows) == 40
    assert float(rows[8]["amt"]) == 2.0
    assert int(rows[0]["big"]) == 18446744073709551615


def test_dbapi_table_source_edge_keys(spark, tmp_path):
    """NULL split keys ride the first split; nullable BIGINT data
    columns keep exact values past 2^53; negative fractional keys and
    an int64-max key don't fall off the split grid."""
    import duckdb

    from dbsink_spark.sources import dbapi_table_source

    db = str(tmp_path / "edge.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE e (id BIGINT, big BIGINT); "
        "INSERT INTO e VALUES (NULL, 1), (NULL, NULL), (0, 2), "
        "(5, 9007199254740993), (9223372036854775807, 3)"
    )
    con.execute(
        "CREATE TABLE f (k DOUBLE, v INT); "
        "INSERT INTO f VALUES (-3.5, 1), (-3.0, 2), (0.5, 3), (2.0, 4)"
    )
    con.close()

    rows = dbapi_table_source(spark, db, "e", "id", n_splits=3).collect()
    assert len(rows) == 5  # both NULL-key rows present
    by_big = {r["big"] for r in rows}
    assert 9007199254740993 in by_big  # exact past 2^53 (float64 would round)
    assert None in by_big  # nullable data column survives
    assert any(r["id"] == 9223372036854775807 for r in rows)  # no hi+1 overflow

    frows = dbapi_table_source(spark, db, "f", "k", n_splits=2).collect()
    assert len(frows) == 4  # -3.5 not dropped by toward-zero truncation


def test_dbapi_table_source_all_null_keys(spark, tmp_path):
    """A table whose matching rows ALL have NULL split keys has
    min(key) IS NULL while still containing rows — they must ride a
    single IS-NULL split, not be silently dropped (round-5 advice)."""
    import duckdb

    from dbsink_spark.sources import dbapi_table_source

    db = str(tmp_path / "allnull.duckdb")
    con = duckdb.connect(db)
    con.execute(
        "CREATE TABLE g (id BIGINT, v INT); "
        "INSERT INTO g VALUES (NULL, 1), (NULL, 2), (NULL, 3), (7, 4)"
    )
    con.close()

    rows = dbapi_table_source(spark, db, "g", "id", n_splits=4).collect()
    assert len(rows) == 4

    # predicate filters away every non-NULL-key row → lo IS NULL but
    # 3 rows still match
    rows = dbapi_table_source(
        spark, db, "g", "id", n_splits=4, predicate="v < 4"
    ).collect()
    assert sorted(r["v"] for r in rows) == [1, 2, 3]
    assert all(r["id"] is None for r in rows)

    # genuinely empty stays empty
    assert (
        dbapi_table_source(spark, db, "g", "id", predicate="v > 99").count() == 0
    )
