"""Measurement helpers: layer spans, Spark counters per job group, and
process memory.

Spans are recorded from the benchmark's side, around calls into each
layer's public functions; nothing inside ``dbsink_spark`` is
instrumented. Spans stay in memory and are summarised when the run ends.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

SPARK_LAYERS = ("mappings", "sink", "lake", "curation", "streaming")


class Spans:
    """Durations per layer name, in seconds, in the order recorded."""

    def __init__(self) -> None:
        self.durations: dict[str, list[float]] = defaultdict(list)

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.durations[name].append(time.perf_counter() - t0)

    def median(self, name: str) -> float:
        d = self.durations.get(name)
        return statistics.median(d) if d else 0.0

    def total(self, name: str) -> float:
        return sum(self.durations.get(name, ()))


@contextmanager
def job_group(spark, name: str):
    """Attribute every Spark job started in the block to ``name``."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def spark_counters(spark, groups: dict[str, str]) -> dict[str, float]:
    """Jobs, stages, executor run time, shuffle-write and spill bytes of
    the jobs in each job group, keyed ``<layer>.<counter>``.

    ``groups`` maps a layer name to its Spark job-group id. Stage metrics
    come from the status store's last attempt of each stage."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out: dict[str, float] = {}
    for layer in SPARK_LAYERS:
        jobs = tracker.getJobIdsForGroup(groups[layer]) if layer in groups else []
        stages: set[int] = set()
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        run_ms = shuffle = spill = 0
        for sid in stages:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the status store
                continue
            run_ms += st.executorRunTime()
            shuffle += st.shuffleWriteBytes()
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out[f"{layer}.jobs"] = len(jobs)
        out[f"{layer}.stages"] = len(stages)
        out[f"{layer}.task_s"] = run_ms / 1000.0
        out[f"{layer}.shuffle_write_bytes"] = shuffle
        out[f"{layer}.spill_bytes"] = spill
    return out


def _children(pid: int) -> list[int]:
    kids = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return kids
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as f:
                kids.extend(int(k) for k in f.read().split())
        except OSError:
            pass
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak resident set of this process and every process
    below it: the Spark driver JVM and its Python workers."""
    total, todo, seen = 0, [os.getpid()], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        todo.extend(_children(pid))
    return total / 1024.0
