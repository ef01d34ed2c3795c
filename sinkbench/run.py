"""Sink benchmark: wire message → committed row, end to end and by layer.

Run from the repository root:

    python3 sinkbench/run.py --workload float-upsert --seed 1 --seconds 12 --trace 0

Workloads (see ``workloads.py`` and ``BENCHMARK.json``): ``float-upsert``,
``nwic-lake``, ``geo-stream`` and ``curate-corpus``. Each run

1. generates its inputs from ``--seed`` (same seed, same inputs);
2. starts a ``local[4]`` Spark session and prepares the target
   ``SETUPS`` times (the first start also launches the JVM); ``setup_s``
   is the median;
3. runs untimed warm-up batches, then a closed loop of batches for
   ``--seconds`` seconds;
4. checks what landed against what was sent, independently of the code
   under test, and prints one JSON line as the last line of stdout.

With ``--trace 0`` the line holds the end-to-end metrics. With
``--trace 1`` every other batch is traced: cut at each layer boundary
and attributed to a Spark job group per layer; the line then holds the
per-layer metrics, and ``trace.overhead_s`` is the median traced batch
minus the median untraced one. Time metrics of a layer are medians per
batch; counts are totals over the traced batches.

Everything the run writes goes to a fresh directory under
``.sinkbench_tmp/`` in the working directory, removed at exit, and the
Spark JVM is stopped and waited for before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from measure import SPARK_LAYERS, peak_rss_mb, spark_counters

SETUPS = 7
CORES = 4
# fixed, pre-touched driver heap: the JVM's share of peak_rss_mb does not
# drift with garbage-collector sizing decisions
HEAP = "1g"

END_TO_END = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "batch_s_p50": "s",
    "commit_latency_s_p50": "s",
    "commit_latency_s_p90": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "ddl.ensure_table_s": "s",
    "mappings.plan_s": "s",
    "mappings.transform_s": "s",
    "mappings.rows_out": "count",
    "mappings.rows_filtered": "count",
    "mappings.rows_errored": "count",
    "mappings.useful_ratio": "ratio",
    "sink.prepare_s": "s",
    "sink.write_s": "s",
    "sink.db_write_s": "s",
    "sink.commit_s": "s",
    "sink.write_rows_per_s": "rows/s",
    "sink.lww_dropped": "count",
    "sink.batches_failed": "count",
    "streaming.source_s_p50": "s",
    "streaming.query_planning_s_p50": "s",
    "streaming.add_batch_s_p50": "s",
    "streaming.wal_commit_s_p50": "s",
    "lake.write_s": "s",
    "lake.files": "count",
    "curation.curate_s": "s",
    "curation.docs_in": "count",
    "curation.docs_out": "count",
    **{
        f"{layer}.{counter}": unit
        for layer in SPARK_LAYERS
        for counter, unit in (
            ("jobs", "count"),
            ("stages", "count"),
            ("task_s", "s"),
            ("shuffle_write_bytes", "bytes"),
            ("spill_bytes", "bytes"),
        )
    },
    "trace.overhead_s": "s",
}


def _isolate(root: str, tmp: str) -> None:
    """Point every temp-file and scratch location of the run, including
    the JVM's and the Python workers', into ``tmp``."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    for d in ("py-tmp", "java-tmp", "spark-local"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["TMPDIR"] = os.path.join(tmp, "py-tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (root, os.environ.get("PYTHONPATH"))))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["DBSINK_SPARK_DRIVER_MEM"] = HEAP
    sys.path.insert(0, root)


def start_spark(tmp: str):
    from dbsink_spark.session import get_spark

    return get_spark(
        app_name="sinkbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                f"-Djava.io.tmpdir={os.path.join(tmp, 'java-tmp')}"
            ),
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _p90(values: list[float]) -> float:
    if len(values) < 2:
        return values[0]
    return statistics.quantiles(values, n=10, method="inclusive")[-1]


def run(args, tmp: str) -> dict:
    from workloads import WORKLOADS

    w = WORKLOADS[args.workload](args.seed, tmp)
    spark = None
    try:
        setup_times = []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_spark(tmp)
            w.setup(spark)
            setup_times.append(time.perf_counter() - t0)

        for i in range(w.warmup_steps):
            w.step(i, False)

        steps: dict[int, tuple[float, int, bool]] = {}
        batches_failed = 0
        i = w.warmup_steps
        t_start = time.perf_counter()
        while time.perf_counter() - t_start < args.seconds and i < w.warmup_steps + w.step_budget:
            traced = bool(args.trace) and (i - w.warmup_steps) % 2 == 0
            try:
                dt, rows = w.step(i, traced)
                steps[i] = (dt, rows, traced)
            except Exception:  # a batch that raised is counted, not fatal
                traceback.print_exc()
                batches_failed += 1
            i += 1
        elapsed = time.perf_counter() - t_start
        rss = peak_rss_mb()
        w.stop()
        latencies = w.commit_latencies(steps)
        counters = spark_counters(spark, w.job_groups()) if args.trace else {}
        verdict = w.check()
    finally:
        stop_spark(spark)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "check": verdict,
        "setup_s": [round(t, 4) for t in setup_times],
        "step_s": [round(dt, 4) for dt, _, _ in steps.values()],
    }))

    if not steps:
        raise RuntimeError("no batch completed in the timed phase")
    if args.trace:
        values = {name: 0.0 for name in PER_LAYER}
        values.update(counters)
        values.update(w.layer_metrics())
        c = w.counts
        values.update({
            "ddl.ensure_table_s": w.spans.median("ddl.ensure_table"),
            "mappings.plan_s": w.spans.median("mappings.plan"),
            "mappings.transform_s": w.spans.median("mappings.transform"),
            "mappings.rows_out": c.get("mappings.rows_out", 0),
            "mappings.rows_filtered": c.get("mappings.rows_filtered", 0),
            "mappings.rows_errored": c.get("mappings.rows_errored", 0),
            "mappings.useful_ratio": (
                c["mappings.rows_out"] / c["mappings.rows_in"] if c.get("mappings.rows_in") else 0.0
            ),
            "sink.batches_failed": batches_failed,
        })
        traced = [dt for dt, _, t in steps.values() if t]
        plain = [dt for dt, _, t in steps.values() if not t]
        if traced and plain:
            values["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
        units = PER_LAYER
    else:
        durations = [dt for dt, _, _ in steps.values()]
        values = {
            "setup_s": statistics.median(setup_times),
            "rows_per_s": sum(rows for _, rows, _ in steps.values()) / elapsed,
            "batch_s_p50": statistics.median(durations),
            "commit_latency_s_p50": statistics.median(latencies),
            "commit_latency_s_p90": _p90(latencies),
            "peak_rss_mb": rss,
        }
        units = END_TO_END
    return {
        "correct": bool(verdict["ok"]) and batches_failed == 0,
        "attempted": w.attempted,
        "failed": int(verdict["wrong_rows"]) + batches_failed,
        "metrics": {name: {"value": values[name], "unit": unit} for name, unit in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=("float-upsert", "nwic-lake", "geo-stream", "curate-corpus"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dbsink_spark", "__init__.py")):
        print("sinkbench: dbsink_spark/ not found; run from the repository root", file=sys.stderr)
        return 2
    scratch = os.path.join(root, ".sinkbench_tmp")
    tmp = os.path.join(scratch, f"{args.workload}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    try:
        _isolate(root, tmp)
        result = run(args, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
