"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at sf0.01, then compares row count, column names, and an
order-insensitive value hash (columns sorted by name, rows sorted,
values stringified with float rounding). Usage:

    python tools/check_oracle.py [name ...]

ORACLE AUTHORING CONTRACT (learned the hard way, rounds 1-2):

* every float-valued output column must be derived identically on both
  sides or rewritten integer-exact (e.g. ``(10000*sum)//count`` with
  ``_e4`` suffix) — the driver hashes at full float precision;
* timestamps → seconds via ``floor(epoch(ts))::BIGINT``, never
  ``epoch()`` alone (DuckDB returns DOUBLE);
* **every integer output must be explicitly ``::BIGINT``** — DuckDB
  promotes ``sum(BIGINT)``, ``list_sum(...)`` and ``**`` to HUGEINT,
  which the driver's pandas canonicalizer materializes as float64 and
  hashes as ``"99111.0"`` against Spark's ``"99111"`` (r02: q20/q49
  failed the driver while fetchall-based replicas saw exact ints).
  This file fails on any HUGEINT/UHUGEINT oracle column and on any
  null-free column whose int/float kind differs between Spark and the
  DuckDB pandas frame, so the leak is caught locally.
"""

from __future__ import annotations

import hashlib
import math
import sys
import time

import os

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
# Float canonicalization width. The driver's comparator is stricter than
# %.6g (r01: three queries passed here but failed its gate), so default to
# %.12g locally — anything green at 12 significant digits is ulp-safe.
FLOAT_FMT = "%." + os.environ.get("ORACLE_FLOAT_DIGITS", "12") + "g"
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
_INT_SPARK = {"byte", "short", "integer", "long"}
_FLT_SPARK = {"float", "double"}


def norm_cell(v) -> str:
    if v is None:
        return "␀"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return FLOAT_FMT % v
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def table_hash(rows, colnames) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("\x1f".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    import __spark_entry__ as entrymod

    if os.environ.get("ORACLE_VANILLA"):
        # driver-replica mode: a completely untuned SparkSession
        # (default shuffle partitions / TZ / ANSI) — proves the engine
        # doesn't depend on session.py's configs, like the grading
        # driver's own session
        from pyspark.sql import SparkSession

        builder = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .appName("oracle-check-vanilla")
        )
        # ORACLE_ANSI=false sweeps the legacy-cast mode a user who
        # opts out of Spark 4's ANSI default would run: try_cast and
        # the guarded divisions are mode-agnostic by design, and this
        # knob lets a sweep PROVE it (round-12 bonus leg)
        if os.environ.get("ORACLE_ANSI"):
            builder = builder.config(
                "spark.sql.ansi.enabled", os.environ["ORACLE_ANSI"]
            )
        spark = builder.getOrCreate()
    else:
        from dbsink_spark.session import get_spark

        spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")

    # verify the FULL surface locally (incl. UNGATED entries the
    # driver-facing 50-row registry filters out)
    from dbsink_spark import analytics

    qs = dict(analytics.ALL_QUERIES)
    oracles = dict(analytics.ALL_ORACLE)
    assert set(entrymod.queries()) <= set(qs)
    names = sys.argv[1:] or sorted(qs)
    failures = 0
    for name in names:
        t0 = time.time()
        spark.catalog.clearCache()  # drop persists leaked by prior queries
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ROWS  {name}: {len(srows)} rows (no oracle — rows-only check)")
            continue
        try:
            cur = con.execute(oracles[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
            # driver-style dtype probe: the grading driver fetches the
            # oracle through pandas, where HUGEINT (and any int column
            # containing nulls) materializes as float64 and hashes
            # differently from Spark's ints ("99111.0" vs "99111").
            desc = con.execute(
                "DESCRIBE " + oracles[name]
            ).fetchall()
            hug = [c for c, t, *_ in desc if "HUGEINT" in t.upper()]
            ddf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if hug:
            problems.append(
                f"HUGEINT oracle columns {hug} (driver sees float64 — add ::BIGINT)"
            )
        skinds = {
            f.name: ("i" if t in _INT_SPARK else "f" if t in _FLT_SPARK else "o")
            for f in sdf.schema.fields
            for t in [f.dataType.typeName()]
        }
        for c in ddf.columns:
            dk = ddf[c].dtype.kind
            sk = skinds.get(c, "o")
            if sk == "i" and dk == "f" and not ddf[c].isna().any():
                problems.append(
                    f"kind drift on '{c}': spark int vs duckdb-pandas float64"
                )
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duck={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"cols spark={sorted(scols)} duck={sorted(dcols)}")
        else:
            sh, dh = table_hash(srows, scols), table_hash(drows, dcols)
            if sh != dh:
                problems.append(f"valuehash spark={sh} duck={dh}")
        dt = time.time() - t0
        if problems:
            failures += 1
            print(f"FAIL  {name}: {'; '.join(problems)}")
            if "valuehash" in " ".join(problems) or "rowcount" in " ".join(problems):
                so = sorted(range(len(scols)), key=lambda i: scols[i])
                do = sorted(range(len(dcols)), key=lambda i: dcols[i])
                sset = sorted("|".join(norm_cell(r[i]) for i in so) for r in srows)
                dset = sorted("|".join(norm_cell(r[i]) for i in do) for r in drows)
                sonly = [x for x in sset if x not in set(dset)][:3]
                donly = [x for x in dset if x not in set(sset)][:3]
                print(f"      cols={sorted(scols)}")
                for x in sonly:
                    print(f"      spark-only: {x}")
                for x in donly:
                    print(f"      duck-only:  {x}")
        else:
            print(f"OK    {name}: {len(srows)} rows  ({dt:.1f}s)")
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
