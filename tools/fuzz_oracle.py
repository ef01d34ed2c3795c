"""Randomized-data oracle fuzzer.

The 5-sweep trust matrix re-runs every operator against the SAME
driver-generated parquet at three SFs; an operator (or its DuckDB
oracle) that is accidentally overfit to that fixed data — a constant
tuned to its row count, a tie broken by its incidental row order, a
threshold that only one dataset ever crosses — stays green forever.
This tool breaks that blind spot: it derives NEW datasets from
``/root/testdata/sf0.01`` by seeded per-table row subsampling plus a
row-order shuffle (schemas and referential shape preserved; contents
the operators were never tuned on), then replays the full
``check_oracle`` comparison (Spark vs DuckDB, rowcount + columns +
value hash) on each derived dataset.

Both engines read the same perturbed parquet, so a hash mismatch here
is a REAL divergence — overfit constant, order-sensitive output, or
import-time data snooping — never fuzz noise.

A second mode, ``--mode tie``, targets under-specified orderings: on
top of the subsample+shuffle it DUPLICATES a fraction of each fact
table's rows under fresh unique ids (composite keys re-keyed so
uniqueness holds). Duplicate embeddings make exact cosine/distance
ties; duplicate documents make exact score ties — any ranking that
lacks a total tie-break (the id column) picks different rows on Spark
vs DuckDB and the value hash diverges. This is the failure class the
plan tripwires can't see: real 100 TB data is full of tied values.

Usage:

    python tools/fuzz_oracle.py --seed 1 [--rebuild] [name ...]
    python tools/fuzz_oracle.py --seeds 1,2,3          # full sweep x3
    python tools/fuzz_oracle.py --seed 11 --mode tie   # tie stress
    python tools/fuzz_oracle.py --seed 21 --mode skew  # hot-key stress
    # (skew replicates a ~2% slice 15x under fresh ids: hot users, hot
    # LSH buckets, dominant join keys — exercises cap/fanout paths)
    python tools/fuzz_oracle.py --seed 61 --mode degenerate
    # (degenerate: each table independently reduced to 0 / 1 / 3 rows
    # or kept tiny with its value columns ALL-NULL — the s20/s21
    # "vec_id=0 anchor" bug class. At 100 TB a filter can legitimately
    # leave an operator zero input rows; nothing may crash driver-side
    # or pick a different empty-result shape per engine.)

Datasets land in ``.fuzzdata/{mode-}seed{N}/`` at the repo root (gitignored)
and are reused if present (delete the dir or pass --rebuild to
regenerate). Exit code is the number of seeds with at least one
failing query (check_oracle exits 0/1 per run); per-query detail is in
the printed FAIL lines.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.check_oracle import TABLES  # single source of the table list

SRC_SF = os.environ.get("FUZZ_SRC_SF_DIR", "/root/testdata/sf0.01")
FUZZ_ROOT = os.path.join(REPO, ".fuzzdata")

# Keep-fraction ranges per table (percent). The tiny enum-like dims
# (region/nation) stay whole; everything else — including the TPC-H
# dimensions customer/supplier/part — is subsampled to a
# seed-dependent fraction, so row counts, group cardinalities, and
# every count-derived constant shift between seeds. Subsampled
# dimensions mean some fact FKs dangle; that is deliberate (inner
# joins must drop them IDENTICALLY on both engines).
SAMPLE_PCT = {
    "region": (100, 100),
    "nation": (100, 100),
    "customer": (70, 95),
    "supplier": (70, 95),
    "part": (70, 95),
    "orders": (55, 90),
    "lineitem": (55, 90),
    "events": (55, 90),
    "documents": (60, 95),
    "embeddings": (60, 95),
}

# Knuth multiplicative constant — spreads small seeds into unrelated
# per-table fractions and shuffle keys.
MIX = 2654435761

# tie mode: fraction of surviving rows duplicated under a fresh id
TIE_DUP_PCT = 10
# skew mode: a small slice replicated many times — hot users, hot LSH
# buckets, dominant join keys — drives operators into their cap/fanout
# paths (bucket caps, drill brackets, salting) on BOTH engines at once.
SKEW_PCT = 2
SKEW_COPIES = 15

# text mode: adversarial-but-legitimate documents appended under fresh
# ids — exotic unicode (CJK, RTL, emoji, combining marks, NFC vs NFD),
# empty/whitespace-only bodies, kilotoken words, embedded control
# whitespace, quotes/backslashes. The t-family and shingle dedup are
# regex/codepoint-level logic where Spark and DuckDB string semantics
# can genuinely diverge; real 100 TB corpora contain all of these.
TEXT_ADVERSARIAL = [
    "",
    " ",
    "\t\n  \n\t",
    "a",
    "naïve café résumé — déjà vu",
    "étude vs étude (NFD vs NFC)",
    "日本語のテキストと中文文本が混在する文書です。形態素解析は空白に依存できない。",
    "مرحبا بالعالم هذا نص عربي من اليمين إلى اليسار",
    "Привет мир это русский текст для теста",
    "🚀🔥💯 emoji only doc 🎉🎊✨ plus 👨‍👩‍👧‍👦 ZWJ family",
    "word " * 200,
    "supercalifragilistic" * 100,
    'quotes "double" \'single\' and \\backslashes\\ and `ticks`',
    "tabs\tand\nnewlines\r\nand\x0bvertical\x0ctabs",
    "HTML <b>tags</b> &amp; entities &#x1F600; <script>alert(1)</script>",
    "http://example.com/path?q=1&r=2#frag plus user@example.com emails",
    "1234567890 42.5e-3 0xDEADBEEF -17 3.14159",
    "ALL CAPS SHOUTING DOCUMENT WITH EXCLAMATIONS!!!",
    "repeated repeated repeated repeated repeated repeated repeated",
    "Ünïcödé wïth umläüts ünd ßharp s",
]

# null mode: NULL out ~5% of the numeric VALUE columns (never keys,
# timestamps, or text). Canonical data is null-free, so every
# null-skip, null-group, and null-ORDER decision is untested by the
# fixed sweeps — and the engines DISAGREE by default on sort placement
# (Spark ASC = NULLS FIRST, DuckDB ASC = NULLS LAST), so any row-level
# ordering over a nullable value surfaces immediately.
NULL_PCT = 5
NULL_COLS = {
    "customer": ["c_acctbal"],
    "supplier": ["s_acctbal"],
    "part": ["p_retailprice"],
    "events": ["value"],
}

# degenerate mode: per-(table, seed) row-count variants. 0 rows (the
# empty-input path), 1 row (no pairs, no windows beyond the row, no
# ties), 3 rows (minimal non-trivial), or 25 rows with every NULL_COLS
# value column 100% NULL (all-NULL aggregates). The selector hashes
# (table, seed) so different seeds zero out different tables.
DEG_VARIANTS = (0, 1, 3, 25)

# text mode, events side: adversarial-but-realistic props payloads —
# extra keys, string-typed / float / non-numeric / missing / null k,
# malformed JSON, unicode values, a non-object document. Spark's
# get_json_object + try_cast degrade each to NULL; the oracles must
# make the IDENTICAL decision (json_valid guard + integer-regex cast).
EVENTS_ADVERSARIAL_PROPS = [
    '{"k": 42, "extra": {"nested": [1, 2, 3], "flag": true}}',
    '{"k": "87"}',
    '{"msg": "he said \\"hi\\" \\u2014 \\u00fcn\\u00efc\\u00f6d\\u00e9 \\ud83d\\ude80", "k": 7}',
    "{}",
    '{"k": null}',
    '{"K": 99}',
    '{"k": 3.25}',
    '{"k": "not-a-number"}',
    "not json at all {",
    '{"k": 123456789012345}',
    "[1, 2, 3]",
    '""',
]
# table -> the id column re-keyed (max_id + row_number) so duplicated
# rows stay unique-keyed; dims and composite parents keep uniqueness
# because each duplicated row gets its OWN fresh key.
TIE_REKEY = {
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
}


def _pct(table: str, seed: int) -> int:
    lo, hi = SAMPLE_PCT[table]
    if lo == hi:
        return lo
    import hashlib

    h = int.from_bytes(
        hashlib.sha256(f"{table}:{seed}".encode()).digest()[:4], "big"
    )
    return lo + h % (hi - lo + 1)


def build_dataset(seed: int, rebuild: bool = False, mode: str = "sample") -> str:
    prefix = "" if mode == "sample" else f"{mode}-"
    out = os.path.join(FUZZ_ROOT, f"{prefix}seed{seed}")
    marker = os.path.join(out, ".complete")
    if os.path.exists(marker) and not rebuild:
        return out
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    con = duckdb.connect()
    for t in TABLES:
        pct = _pct(t, seed)
        src = f"{SRC_SF}/{t}.parquet"
        dst = f"{out}/{t}.parquet"
        if mode == "degenerate":
            import hashlib

            h = int.from_bytes(
                hashlib.sha256(f"deg:{t}:{seed}".encode()).digest()[:4], "big"
            )
            n = DEG_VARIANTS[h % len(DEG_VARIANTS)]
            # seed-hashed pick of WHICH rows survive, so a 1-row table
            # is a different row per seed
            con.execute(
                f"""
                CREATE OR REPLACE TEMP TABLE base AS
                SELECT * EXCLUDE (_rn) FROM (
                  SELECT *, row_number() OVER () AS _rn
                  FROM read_parquet('{src}')
                )
                ORDER BY hash(_rn * {MIX} + {seed})
                LIMIT {n}
                """
            )
            if n == 25 and t in NULL_COLS:
                for col in NULL_COLS[t]:
                    con.execute(f"UPDATE base SET {col} = NULL")
        else:
            # row_number over the source order gives a stable per-row
            # id to hash; the final ORDER BY destroys the original row
            # order so order-sensitive operators diverge visibly.
            con.execute(
                f"""
                CREATE OR REPLACE TEMP TABLE base AS
                SELECT * EXCLUDE (_rn) FROM (
                  SELECT *, row_number() OVER () AS _rn
                  FROM read_parquet('{src}')
                )
                WHERE hash(_rn * {MIX} + {seed}) % 100 < {pct}
                """
            )
        if mode == "skew" and t in TIE_REKEY:
            idc = TIE_REKEY[t]
            con.execute(
                f"""
                INSERT INTO base
                SELECT base.* REPLACE (
                  (SELECT max({idc}) FROM base)
                    + row_number() OVER () AS {idc})
                FROM base, generate_series(1, {SKEW_COPIES})
                WHERE hash({idc} * 131 + {seed * 13}) % 100 < {SKEW_PCT}
                """
            )
        if mode == "text" and t == "documents":
            con.execute("CREATE OR REPLACE TEMP TABLE adv (j BIGINT, txt VARCHAR)")
            con.executemany(
                "INSERT INTO adv VALUES (?, ?)",
                list(enumerate(TEXT_ADVERSARIAL)),
            )
            # fresh ids; lang/source cycle through the existing domains
            # so per-language/per-source groupings stay intact;
            # n_chars keeps the generator's n_chars == length(text) law
            # explicit column list: binding by parquet position would
            # silently write text into lang/source on a schema reorder
            con.execute(
                """
                INSERT INTO base (doc_id, text, lang, source, n_chars)
                SELECT (SELECT max(doc_id) FROM base) + 1 + adv.j,
                       adv.txt,
                       l.lang,
                       s.source,
                       length(adv.txt)
                FROM adv
                JOIN (SELECT lang, row_number() OVER (ORDER BY lang) - 1 AS li
                      FROM (SELECT DISTINCT lang FROM base)) l
                  ON l.li = adv.j % (SELECT count(DISTINCT lang) FROM base)
                JOIN (SELECT source, row_number() OVER (ORDER BY source) - 1 AS si
                      FROM (SELECT DISTINCT source FROM base)) s
                  ON s.si = adv.j % (SELECT count(DISTINCT source) FROM base)
                """
            )
        if mode == "text" and t == "events":
            con.execute("CREATE OR REPLACE TEMP TABLE advp (j BIGINT, pr VARCHAR)")
            con.executemany(
                "INSERT INTO advp VALUES (?, ?)",
                list(enumerate(EVENTS_ADVERSARIAL_PROPS)),
            )
            # clone the first rows' ts/user/type/value, fresh event_id,
            # adversarial props
            # explicit column list (same schema-reorder guard as above)
            con.execute(
                """
                INSERT INTO base (event_id, ts, user_id, event_type, value, props)
                SELECT (SELECT max(event_id) FROM base) + 1 + advp.j,
                       b.ts, b.user_id, b.event_type, b.value, advp.pr
                FROM advp
                JOIN (SELECT *, row_number() OVER (ORDER BY event_id) - 1 AS rn
                      FROM base) b
                  ON b.rn = advp.j
                """
            )
        if mode == "null" and t in NULL_COLS:
            for col in NULL_COLS[t]:
                con.execute(
                    f"""
                    UPDATE base SET {col} = NULL
                    WHERE hash({TIE_REKEY[t]} * 37 + {seed * 11}) % 100 < {NULL_PCT}
                    """
                )
        if mode == "tie" and t in TIE_REKEY:
            # duplicate a slice of rows under fresh unique ids: every
            # value column (scores, vectors, timestamps, text) now has
            # exact ties, so any ranking without a total tie-break
            # diverges between engines.
            idc = TIE_REKEY[t]
            con.execute(
                f"""
                INSERT INTO base
                SELECT * REPLACE (
                  (SELECT max({idc}) FROM base)
                    + row_number() OVER () AS {idc})
                FROM base
                WHERE hash({idc} * 131 + {seed * 13}) % 100 < {TIE_DUP_PCT}
                """
            )
        con.execute(
            f"""
            COPY (
              SELECT * FROM base
              ORDER BY hash(rowid + {seed}::BIGINT * 7919)
            ) TO '{dst}' (FORMAT PARQUET)
            """
        )
        n_src = con.execute(f"SELECT count(*) FROM read_parquet('{src}')").fetchone()[0]
        n_dst = con.execute(f"SELECT count(*) FROM read_parquet('{dst}')").fetchone()[0]
        print(f"  {t}: {n_src} -> {n_dst} rows (target {pct}%, mode={mode})", flush=True)
    con.close()
    with open(marker, "w") as f:
        f.write("ok\n")
    return out


def run_seed(seed: int, names: list[str], rebuild: bool, mode: str = "sample") -> int:
    print(f"== fuzz {mode}-seed {seed}: building dataset", flush=True)
    sf_dir = build_dataset(seed, rebuild, mode)
    env = dict(os.environ, ORACLE_SF_DIR=sf_dir)
    cmd = [sys.executable, os.path.join(REPO, "tools", "check_oracle.py"), *names]
    print(f"== fuzz {mode}-seed {seed}: running oracle sweep at {sf_dir}", flush=True)
    proc = subprocess.run(cmd, env=env, cwd=REPO)
    return proc.returncode


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=None)
    ap.add_argument("--seeds", type=str, default=None, help="comma list")
    ap.add_argument(
        "--mode",
        choices=("sample", "tie", "skew", "text", "null", "degenerate"),
        default="sample",
    )
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    seeds = (
        [int(s) for s in args.seeds.split(",")]
        if args.seeds
        else [args.seed if args.seed is not None else 1]
    )
    rc = 0
    for s in seeds:
        rc += run_seed(s, args.names, args.rebuild, args.mode)
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
