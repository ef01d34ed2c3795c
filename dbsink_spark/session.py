"""SparkSession factory tuned for this engine.

Local mode runs one JVM with one core per ``SPARK_GRAFT_CPUS`` (default:
every CPU of the host); the same builder settings are what we would ship
to a real cluster, minus the master/memory knobs which come from
spark-submit.

Scale posture (100 TB):
* AQE on — runtime coalescing, skew-join splitting, dynamic join
  selection replace any hand-tuned plan.
* ``spark.sql.shuffle.partitions`` here matches local cores; on a
  cluster leave it high (or let AQE coalesce) — initial partitions
  should be ~2-3x total cores, AQE coalesces the small ones.
* Arrow on — every Pandas UDF in the mapping layer rides vectorized
  Arrow batches rather than pickled rows.
* UTC session timezone — the reference force-UTCs every timestamp
  (reference: dbsink/tables.py:184-185,240,347); we pin the session so
  timestamp semantics are reproducible anywhere.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "dbsink_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Off because it changes no plan and no result, only what an
        # error message says: with it on, EVERY pyspark Column/DataFrame
        # call captures its Python call site (inspect.stack) and ships
        # it over three extra py4j round trips (PySparkCurrentOrigin
        # set/get/clear), a driver-side cost on every expression built.
        # Flip it back on when debugging a query's lineage.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("DBSINK_SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def drop_zip_importers() -> None:
    """Forget the zip importers this process has cached.

    A Python worker that Spark reuses starts every task with
    ``importlib.invalidate_caches()``, and on CPython 3.11 and 3.12 each
    cached ``zipimporter`` then re-reads its archive's whole central
    directory: ``pyspark.zip``, the py4j zip and the spark-core jar are
    on every worker's path, so every task pays tens of milliseconds per
    importer before any user code runs (3.13 only drops the cache). A
    task body calls this when it finishes, so the next task finds nothing
    to re-read; an import through a zip path afterwards rebuilds its
    importer from ``zipimport._zip_directory_cache`` without opening the
    archive. That rebuild assumes no archive on the worker's path is
    rewritten in place while the worker lives, which holds for
    ``pyspark.zip``, the py4j zip, the Spark jars and ``--py-files``.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]
