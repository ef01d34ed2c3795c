"""``session.drop_zip_importers``: in-process on a zip package, and on
the reused Python workers of the suite's session, where a mapping task
leaves the next task no zip importer for ``importlib.invalidate_caches``
to re-read."""

import json
import os
import sys
import zipfile
import zipimport
from collections import Counter

import pytest

from conftest import float_messages

from dbsink_spark.mappings.generic import GenericFloat
from dbsink_spark.session import drop_zip_importers
from dbsink_spark.sources import KV_SCHEMA, arrow_frame


def _zip_importers() -> int:
    return sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())


def test_drop_zip_importers_keeps_zip_imports_working(tmp_path):
    archive = tmp_path / "zpkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("zpkg/__init__.py", "")
        z.writestr("zpkg/first.py", "VALUE = 1\n")
        z.writestr("zpkg/second.py", "VALUE = 2\n")
    saved_path, saved_modules = list(sys.path), dict(sys.modules)
    sys.path.insert(0, str(archive))
    try:
        from zpkg import first

        assert first.VALUE == 1
        assert _zip_importers() > 0
        drop_zip_importers()
        assert _zip_importers() == 0
        from zpkg import second

        assert second.VALUE == 2
        assert second.__file__.startswith(str(archive))
    finally:
        sys.path[:] = saved_path
        for name in set(sys.modules) - set(saved_modules):
            del sys.modules[name]
        sys.path_importer_cache.pop(str(archive), None)
        sys.path_importer_cache.pop(str(archive / "zpkg"), None)


# Enough single-task jobs to cycle through every idle Python worker of
# the session: idle workers are taken first-in first-out, so once the
# pool has been walked the next job lands on a worker this test used.
MAX_JOBS = 64


def test_mapping_task_leaves_reused_worker_no_zip_importers(spark):
    class ReportingFloat(GenericFloat):
        """Writes the worker's pid, its cached zip importers and the zip
        archives on its path into ``gid``. Defined here and counting
        inline, because the worker cannot import this test module."""

        def convert(self, key, value):
            out = super().convert(key, value)
            cache = sys.path_importer_cache.values()
            importers = sum(isinstance(f, zipimport.zipimporter) for f in cache)
            on_path = sum(zipfile.is_zipfile(p) for p in sys.path if os.path.isfile(p))
            out["gid"] = f"{os.getpid()} {importers} {on_path}"
            return out

    mapping = ReportingFloat("floats")
    df = arrow_frame(spark, [(None, json.dumps(float_messages(1)[0]))], KV_SCHEMA)
    assert df.rdd.getNumPartitions() == 1

    reports = []  # (pid, task number on that pid, zip importers, zip archives on path)
    tasks = Counter()
    while len(reports) < MAX_JOBS and max(tasks.values(), default=0) < 2:
        (row,) = mapping.transform(df).collect()
        pid, importers, on_path = (int(x) for x in row["gid"].split())
        tasks[pid] += 1
        reports.append((pid, tasks[pid], importers, on_path))

    if reports[0][3] == 0:
        pytest.skip("no zip archive is on the Python workers' path")
    repeats = [r for r in reports if r[1] > 1]
    assert repeats, f"no worker ran two of {len(reports)} tasks"
    assert all(importers == 0 for _, _, importers, _ in repeats), reports
