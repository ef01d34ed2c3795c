"""The benchmark's workloads. Each drives the public sink path of
``dbsink_spark`` on inputs generated from the run's seed.

All workloads are closed loops with one client: the next batch, file or
pass starts only after the previous one committed. A workload object
goes through four phases, driven by ``run.py``:

1. ``__init__`` generates and writes every input (before any timing);
2. ``setup(spark)`` prepares a fresh target (``ensure_table`` on an
   empty database) and is timed as part of ``setup_s``;
3. ``step(i, traced)`` runs one batch and returns its wall seconds and
   the rows it committed; ``warmup_steps`` steps run untimed first;
4. ``check()`` compares what landed with what was sent.

A traced step cuts the pipeline at each layer boundary (the transform
output is cached and counted, ``prepare_batch`` is materialised before
``write_batch``) and records spans and Spark job groups per layer.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from contextlib import nullcontext
from datetime import datetime

from pyspark.sql import functions as F

from dbsink_spark.analytics.curation import bpe_token_budget, curate_corpus
from dbsink_spark.lake import with_partition_cols, write_lake
from dbsink_spark.mappings.generic import GenericFloat, GenericGeography
from dbsink_spark.mappings.vendors import NwicFloatReports
from dbsink_spark.sink import SinkWriter, duckdb_connect_factory
from dbsink_spark.sources import file_stream, jsonl_source, replay_source
from dbsink_spark.streaming import run_stream

import check
import gen
from measure import Spans, job_group


class Workload:
    # the JIT keeps speeding steps up for the first few after the first;
    # untimed warm-up steps keep that drift out of the timed medians
    warmup_steps = 2
    step_budget = 200  # upper bound on steps, so inputs never run out

    def __init__(self, seed: int, tmp: str) -> None:
        self.rng = random.Random(seed)
        self.tmp = tmp
        self.spans = Spans()
        self.counts: dict[str, int] = {}
        self.attempted = 0
        self.spark = None
        self.tracing = False  # true while a traced step writes

    def count(self, name: str, n: int) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def job_groups(self) -> dict[str, str]:
        return {layer: layer for layer in ("mappings", "sink", "lake", "curation")}

    def commit_latencies(self, steps: dict) -> list[float]:
        """Seconds from input ready to commit, per timed step; a closed
        batch loop hands each input over at once, so this is the step."""
        return [dt for dt, _, _ in steps.values()]

    def layer_metrics(self) -> dict[str, float]:
        return {}

    def stop(self) -> None:
        """Release what the workload started (streams), before the check."""


def _traced_transform(w: Workload, build, rows_in: int):
    """Build the transform plan with ``build()`` (dead letters kept), then
    cache and count its output so the transform runs, and is timed, on
    its own. Returns the cached frame and its rows without dead letters."""
    with w.spans.span("mappings.plan"):
        out = build()
    with job_group(w.spark, "mappings"), w.spans.span("mappings.transform"):
        out = out.cache()
        by_error = dict(out.groupBy(F.col("_error").isNull()).count().collect())
    rows_out, errored = by_error.get(True, 0), by_error.get(False, 0)
    w.count("mappings.rows_in", rows_in)
    w.count("mappings.rows_out", rows_out)
    w.count("mappings.rows_errored", errored)
    w.count("mappings.rows_filtered", rows_in - rows_out - errored)
    return out, out.filter(F.col("_error").isNull()).drop("_error")


class _TimedConnection:
    """DBAPI connection proxy that times the sink's bulk write and its
    commit, the boundary between ``SinkWriter`` and the database."""

    def __init__(self, conn, w: Workload):
        self._conn, self._w = conn, w

    def __getattr__(self, name):
        return getattr(self._conn, name)

    def _timed(self, span, fn, *args):
        if not self._w.tracing:
            return fn(*args)
        with self._w.spans.span(span):
            return fn(*args)

    def executemany(self, *args):
        return self._timed("sink.db_write", self._conn.executemany, *args)

    def commit(self):
        return self._timed("sink.commit", self._conn.commit)


def _timed_duckdb(path: str, w: Workload):
    connect = duckdb_connect_factory(path)
    return lambda: _TimedConnection(connect(), w)


def _sink_layer_metrics(w: Workload) -> dict[str, float]:
    write_s = w.spans.total("sink.write")
    return {
        "sink.prepare_s": w.spans.median("sink.prepare"),
        "sink.write_s": w.spans.median("sink.write"),
        "sink.db_write_s": w.spans.median("sink.db_write"),
        "sink.commit_s": w.spans.median("sink.commit"),
        "sink.write_rows_per_s": w.counts.get("sink.rows_written", 0) / write_s if write_s else 0.0,
        "sink.lww_dropped": w.counts.get("sink.lww_dropped", 0),
    }


def _traced_write(w: Workload, writer, good) -> int:
    """prepare_batch materialised on its own, then write_batch on the
    prepared rows (its own prepare pass then finds no duplicates)."""
    with job_group(w.spark, "sink"):
        with w.spans.span("sink.prepare"):
            prepared = writer.prepare_batch(good).cache()
            n_in, n_prep = good.count(), prepared.count()
        w.tracing = True
        try:
            with w.spans.span("sink.write"):
                n = writer.write_batch(prepared)
        finally:
            w.tracing = False
    prepared.unpersist()
    w.count("sink.lww_dropped", n_in - n_prep)
    w.count("sink.rows_written", n)
    return n


class FloatUpsert(Workload):
    """GenericFloat messages upserted into DuckDB in sequential
    ``write_batch`` calls (driver mode, ``overwrite``)."""

    batch_size = 1000
    step_budget = 25

    def __init__(self, seed, tmp):
        super().__init__(seed, tmp)
        self.mapping = GenericFloat(topic="bench.float")
        self.keys = ("uid", "gid", "time", "lat", "lon", "z")
        batches = gen.float_batches(self.rng)
        os.makedirs(f"{tmp}/in")
        self.files, self.ledgers = [], []
        for i in range(self.step_budget + self.warmup_steps):
            messages, ledger = batches.batch(self.batch_size)
            path = f"{tmp}/in/batch{i:03d}.json"
            with open(path, "w") as f:
                json.dump(messages, f)
            self.files.append(path)
            self.ledgers.append(ledger)
        self.sent: list[tuple] = []

    def setup(self, spark):
        self.spark = spark
        self.db = f"{self.tmp}/sink-{time.time_ns()}.duckdb"
        self.writer = SinkWriter(
            self.mapping, _timed_duckdb(self.db, self), dialect="duckdb",
            mode="driver", update_mode="overwrite",
        )
        with self.spans.span("ddl.ensure_table"):
            self.writer.ensure_table(drop=True)

    def step(self, i, traced):
        path, ledger = self.files[i], self.ledgers[i]
        self.attempted += len(ledger)
        self.sent.extend(ledger)
        t0 = time.perf_counter()
        if traced:
            cached, good = _traced_transform(
                self, lambda: self.mapping.transform(replay_source(self.spark, path), errors="keep"),
                len(ledger),
            )
            n = _traced_write(self, self.writer, good)
            cached.unpersist()
        else:
            n = self.writer.write_batch(self.mapping.transform(replay_source(self.spark, path)))
        return time.perf_counter() - t0, n

    def check(self):
        return check.check_upsert_table(self.db, self.mapping.table, self.sent, self.keys)

    def layer_metrics(self):
        return _sink_layer_metrics(self)


class NwicLake(Workload):
    """NWIC float reports: JSONL files → ``jsonl_source`` →
    ``NwicFloatReports.transform`` → ``lake.write_lake``. Each step sends
    one directory of four files, one read partition per core; two distinct
    directories are sent in turn and the lake appends every send."""

    file_size = 2_500
    files_per_step = 4
    n_dirs = 2
    warmup_steps = 3

    def __init__(self, seed, tmp):
        super().__init__(seed, tmp)
        self.mapping = NwicFloatReports(topic="bench.nwic")
        self.dirs, self.ledgers = [], []
        seq = 0
        for d in range(self.n_dirs):
            path = f"{tmp}/in/step{d}"
            os.makedirs(path)
            ledger = []
            for j in range(self.files_per_step):
                lines, part = gen.nwic_messages(self.rng, self.file_size, seq)
                seq += self.file_size
                with open(f"{path}/part{j}.jsonl", "w") as f:
                    f.write("\n".join(lines) + "\n")
                ledger.extend(part)
            self.dirs.append(path)
            self.ledgers.append(ledger)
        self.lake = f"{tmp}/lake"
        self.sent: list[tuple] = []

    def setup(self, spark):
        self.spark = spark

    def step(self, i, traced):
        path, ledger = self.dirs[i % self.n_dirs], self.ledgers[i % self.n_dirs]
        self.attempted += len(ledger)
        self.sent.extend(ledger)
        t0 = time.perf_counter()
        if traced:
            cached, good = _traced_transform(
                self, lambda: self.mapping.transform(jsonl_source(self.spark, path), errors="keep"),
                len(ledger),
            )
            with job_group(self.spark, "lake"), self.spans.span("lake.write"):
                write_lake(with_partition_cols(good), self.lake)
            cached.unpersist()
        else:
            write_lake(with_partition_cols(self.mapping.transform(jsonl_source(self.spark, path))), self.lake)
        return time.perf_counter() - t0, sum(not r[-1] for r in ledger)

    def check(self):
        return check.check_lake(self.lake, self.sent)

    def layer_metrics(self):
        n_files = sum(
            f.endswith(".parquet") for _, _, files in os.walk(self.lake) for f in files
        )
        return {"lake.write_s": self.spans.median("lake.write"), "lake.files": n_files}


class GeoStream(Workload):
    """GenericGeography FeatureCollections through ``run_stream``: each
    micro-batch is one file atomically renamed into a ``file_stream``
    directory; the stream (processingTime "0 seconds") upserts into
    DuckDB. Batch time and commit latency come from the query's
    progress reports."""

    batch_size = 100
    warmup_steps = 4
    step_budget = 60
    commit_timeout_s = 60

    def __init__(self, seed, tmp):
        super().__init__(seed, tmp)
        self.mapping = GenericGeography(topic="bench.geo")
        self.keys = ("uid", "gid", "time")
        batches = gen.geo_batches(self.rng)
        os.makedirs(f"{tmp}/stage")
        os.makedirs(f"{tmp}/stream-in")
        self.files, self.ledgers = [], []
        for i in range(self.step_budget + self.warmup_steps):
            messages, ledger = batches.batch(self.batch_size)
            path = f"{tmp}/stage/geo{i:04d}.json"
            with open(path, "w") as f:
                for m in messages:
                    f.write(json.dumps({"key": m["uid"], "value": json.dumps(m)}) + "\n")
            self.files.append(path)
            self.ledgers.append(ledger)
        self.sent: list[tuple] = []
        self.query = None
        self.drop_times: dict[int, float] = {}
        self.traced_batches: set[int] = set()
        self.written: dict[int, int] = {}

    def setup(self, spark):
        self.spark = spark
        self.db = f"{self.tmp}/sink-{time.time_ns()}.duckdb"
        self.writer = _TracedStreamWriter(
            self.mapping, _timed_duckdb(self.db, self), dialect="duckdb",
            mode="driver", update_mode="overwrite",
        )
        self.writer.bench = self
        with self.spans.span("ddl.ensure_table"):
            self.writer.ensure_table(drop=True)

    def _start(self):
        self.query = run_stream(
            file_stream(self.spark, f"{self.tmp}/stream-in"), self.mapping, self.writer,
            checkpoint=f"{self.tmp}/checkpoint", trigger={"processingTime": "0 seconds"},
        )

    def _progress_for(self, batch_id):
        p = self.query.lastProgress
        if p is not None and p["batchId"] == batch_id and p["numInputRows"] > 0:
            return p
        if p is not None and p["batchId"] >= batch_id:
            # an idle-trigger report may have replaced the batch's own
            for q in self.query.recentProgress:
                if q["batchId"] == batch_id and q["numInputRows"] > 0:
                    return q
        return None

    def step(self, i, traced):
        if self.query is None:
            self._start()
        ledger = self.ledgers[i]
        self.attempted += len(ledger)
        self.sent.extend(ledger)
        if traced:
            self.traced_batches.add(i)
        self.drop_times[i] = time.time()
        os.rename(self.files[i], f"{self.tmp}/stream-in/geo{i:04d}.json")
        deadline = time.perf_counter() + self.commit_timeout_s
        while (p := self._progress_for(i)) is None:
            if self.query.exception() is not None:
                raise RuntimeError(f"stream failed: {self.query.exception()}")
            if time.perf_counter() > deadline:
                raise TimeoutError(f"micro-batch {i} did not commit in {self.commit_timeout_s}s")
            time.sleep(0.01)
        return p["durationMs"]["triggerExecution"] / 1000.0, self.written.get(i, 0)

    def commit_latencies(self, steps) -> list[float]:
        """Seconds from each file drop to its batch commit (trigger start
        plus trigger duration, from the progress report)."""
        out = []
        for p in self.query.recentProgress:
            b = p["batchId"]
            if b in steps and p["numInputRows"] > 0:
                start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                out.append(start + p["durationMs"]["triggerExecution"] / 1000.0 - self.drop_times[b])
        return out

    def stop(self):
        if self.query is not None:
            self.progress = self.query.recentProgress
            self.run_id = str(self.query.runId)
            self.query.stop()

    def check(self):
        return check.check_upsert_table(self.db, self.mapping.table, self.sent, self.keys)

    def job_groups(self):
        groups = super().job_groups()
        groups["streaming"] = self.run_id
        return groups

    def layer_metrics(self):
        # untraced batches only: the cuts of a traced batch inflate addBatch
        data = [
            p for p in self.progress
            if p["numInputRows"] > 0 and p["batchId"] >= self.warmup_steps
            and p["batchId"] not in self.traced_batches
        ]

        def p50(*phases):
            vals = [sum(p["durationMs"].get(k, 0) for k in phases) / 1000.0 for p in data]
            return statistics.median(vals) if vals else 0.0

        out = _sink_layer_metrics(self)
        out.update({
            "streaming.source_s_p50": p50("latestOffset", "getBatch"),
            "streaming.query_planning_s_p50": p50("queryPlanning"),
            "streaming.add_batch_s_p50": p50("addBatch"),
            "streaming.wal_commit_s_p50": p50("walCommit"),
        })
        return out


class _TracedStreamWriter(SinkWriter):
    """SinkWriter whose ``write_batch`` cuts traced micro-batches at the
    transform / prepare / write boundaries. The inner ``write_batch``
    call carries no batch id, so it takes the plain path."""

    bench: GeoStream | None = None

    def write_batch(self, df, batch_id=None):
        w = self.bench
        if w is None or batch_id not in w.traced_batches:
            n = super().write_batch(df, batch_id)
            if w is not None and batch_id is not None:
                w.written[batch_id] = n
            return n
        with job_group(w.spark, "mappings"), w.spans.span("mappings.transform"):
            df = df.cache()
            rows_out = df.count()
        rows_in = len(w.ledgers[batch_id])
        w.count("mappings.rows_in", rows_in)
        w.count("mappings.rows_out", rows_out)
        # the stream's transform drops dead letters before the sink sees
        # them, so every message the mapping lost counts as errored
        w.count("mappings.rows_errored", rows_in - rows_out)
        n = _traced_write(w, self, df)
        df.unpersist()
        w.written[batch_id] = n
        return n


class CurateCorpus(Workload):
    """``curation.curate_corpus`` (landing the curated lake and its
    manifest) followed by ``bpe_token_budget``, one pass per step over a
    generated documents table."""

    n_docs = 2000

    def __init__(self, seed, tmp):
        super().__init__(seed, tmp)
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.sf_dir = f"{tmp}/corpus"
        os.makedirs(self.sf_dir)
        pq.write_table(pa.table(gen.documents(self.rng, self.n_docs)), f"{self.sf_dir}/documents.parquet")
        self.passes: list[tuple[str, int]] = []

    def setup(self, spark):
        self.spark = spark

    def step(self, i, traced):
        out = f"{self.tmp}/curated{i}"
        self.attempted += self.n_docs
        cleanup: list = []
        t0 = time.perf_counter()
        with job_group(self.spark, "curation") if traced else nullcontext():
            with self.spans.span("curation.curate") if traced else nullcontext():
                _, manifest = curate_corpus(self.spark, self.sf_dir, out, cleanup=cleanup)
                manifest.collect()
            budget = bpe_token_budget(self.spark, self.sf_dir, out).collect()
        dt = time.perf_counter() - t0
        for df in cleanup:
            df.unpersist()
        n_docs = sum(r["n_docs"] for r in budget)
        self.passes.append((out, n_docs))
        if traced:
            self.counts["curation.docs_out"] = n_docs
        return dt, n_docs

    def check(self):
        results = [check.check_curated(f"{self.sf_dir}/documents.parquet", out, n) for out, n in self.passes]
        hashes = {r["id_hash"] for r in results}
        return {
            "ok": all(r["ok"] for r in results) and len(hashes) == 1,
            "passes": len(results),
            "docs_out": results[0]["docs_out"],
            "id_hash": results[0]["id_hash"],
            "wrong_rows": sum(r["wrong_rows"] for r in results) + (len(hashes) - 1) * self.n_docs,
        }

    def layer_metrics(self):
        return {
            "curation.curate_s": self.spans.median("curation.curate"),
            "curation.docs_in": self.n_docs,
            "curation.docs_out": self.counts.get("curation.docs_out", 0),
        }


WORKLOADS = {
    "float-upsert": FloatUpsert,
    "nwic-lake": NwicLake,
    "geo-stream": GeoStream,
    "curate-corpus": CurateCorpus,
}
