"""Incremental view maintenance (analytics/ivm.py): the maintained
aggregate view must equal a fresh aggregate over the net base table
after ANY insert/delete sequence, while rewriting only touched
buckets."""

from __future__ import annotations

import glob
import os

import pytest

from dbsink_spark.analytics.ivm import AggView, full_recompute


def _rows(df):
    return sorted(
        (r["grp"], r["cnt"], r["total"], r["avg"], r["var_samp"])
        for r in df.collect()
    )


def _approx_eq(a, b):
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra[0] == rb[0] and ra[1] == rb[1]
        for x, y in zip(ra[2:], rb[2:]):
            if x is None or y is None:
                assert x == y
            else:
                assert x == pytest.approx(y, rel=1e-12)


def test_ivm_equals_full_recompute_through_change_sequence(spark, tmp_path):
    """init from a base, then three change batches (inserts, deletes,
    mixed incl. a full-group delete and a reinsert) — after each step
    serve() == full_recompute(net base)."""
    base_rows = [(f"g{i % 5}", float(i % 7)) for i in range(200)]
    base = spark.createDataFrame(base_rows, ["grp", "v"])
    view = AggView(spark, str(tmp_path / "view"))
    view.init(base, "grp", "v")
    _approx_eq(_rows(view.serve()), _rows(full_recompute(base, "grp", "v")))

    net = list(base_rows)

    # batch 1: pure inserts, incl. a NEW group
    b1 = [("g9", 3.0, 1), ("g0", 2.0, 1), ("g9", 5.0, 1)]
    net += [(g, v) for g, v, _ in b1]
    view.maintain(spark.createDataFrame(b1, ["grp", "v", "op"]), "grp", "v")
    _approx_eq(
        _rows(view.serve()),
        _rows(full_recompute(spark.createDataFrame(net, ["grp", "v"]), "grp", "v")),
    )

    # batch 2: deletes (retract existing rows)
    b2 = [("g1", 1.0, -1), ("g1", 1.0, -1), ("g2", 2.0, -1)]
    for g, v, _ in b2:
        net.remove((g, v))
    view.maintain(spark.createDataFrame(b2, ["grp", "v", "op"]), "grp", "v")
    _approx_eq(
        _rows(view.serve()),
        _rows(full_recompute(spark.createDataFrame(net, ["grp", "v"]), "grp", "v")),
    )

    # batch 3: delete group g9 ENTIRELY, then reinsert one row for it,
    # plus mixed churn on g3
    b3 = [("g9", 3.0, -1), ("g9", 5.0, -1), ("g9", 7.0, 1), ("g3", 4.0, 1)]
    net.remove(("g9", 3.0))
    net.remove(("g9", 5.0))
    net += [("g9", 7.0), ("g3", 4.0)]
    view.maintain(spark.createDataFrame(b3, ["grp", "v", "op"]), "grp", "v")
    _approx_eq(
        _rows(view.serve()),
        _rows(full_recompute(spark.createDataFrame(net, ["grp", "v"]), "grp", "v")),
    )


def test_ivm_group_deleted_at_zero_count(spark, tmp_path):
    base = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["grp", "v"])
    view = AggView(spark, str(tmp_path / "view"))
    view.init(base, "grp", "v")
    view.maintain(
        spark.createDataFrame([("a", 1.0, -1)], ["grp", "v", "op"]), "grp", "v"
    )
    got = {r["grp"] for r in view.state().collect()}
    assert got == {"b"}


def test_ivm_rewrites_only_touched_buckets(spark, tmp_path):
    """Untouched bucket partitions must be byte-identical after a
    maintenance step (the merge_lake copy-on-write contract)."""
    base = spark.createDataFrame(
        [(f"g{i}", float(i)) for i in range(60)], ["grp", "v"]
    )
    path = str(tmp_path / "view")
    view = AggView(spark, path)
    view.init(base, "grp", "v")

    def snapshot():
        out = {}
        for f in glob.glob(f"{path}/bucket=*/*.parquet"):
            with open(f, "rb") as fh:
                out[f] = fh.read()
        return out

    before = snapshot()
    changes = spark.createDataFrame([("g7", 1.5, 1)], ["grp", "v", "op"])
    stats = view.maintain(changes, "grp", "v")
    assert stats["buckets_rewritten"] == 1
    after = snapshot()
    touched_bucket = {
        f.split("bucket=")[1].split("/")[0]
        for f in set(before) ^ set(after)
    } or {
        f.split("bucket=")[1].split("/")[0]
        for f in before
        if after.get(f) != before[f]
    }
    # every file outside the single touched bucket is byte-identical
    untouched_same = all(
        after.get(f) == b
        for f, b in before.items()
        if f.split("bucket=")[1].split("/")[0] not in touched_bucket
    )
    assert untouched_same
    assert len(touched_bucket) == 1


def test_ivm_empty_init_then_maintain(spark, tmp_path):
    view = AggView(spark, str(tmp_path / "view"))
    view.init(None, "grp", "v")
    assert view.state().count() == 0
    view.maintain(
        spark.createDataFrame([("x", 2.0, 1), ("x", 4.0, 1)], ["grp", "v", "op"]),
        "grp",
        "v",
    )
    [r] = view.serve().collect()
    assert (r["grp"], r["cnt"], r["total"], r["avg"]) == ("x", 2, 6.0, 3.0)


def test_ivm_corrupt_state_read_raises_instead_of_wiping(spark, tmp_path):
    """A transient/corrupt state read must ABORT maintenance, not be
    treated as empty state — the merge would otherwise overwrite the
    touched buckets with delta-only values and permanently lose prior
    group history (round-5 advice). Only the known never-maintained
    case (no parquet at the path) maps to the empty frame."""
    import glob
    import os

    import pytest

    view = AggView(spark, str(tmp_path / "view"))
    view.init(
        spark.createDataFrame([("x", 2.0), ("x", 4.0)], ["grp", "v"]), "grp", "v"
    )
    assert view.serve().count() == 1

    # corrupt every state parquet file in place
    for f in glob.glob(os.path.join(str(tmp_path / "view"), "**", "*.parquet"),
                       recursive=True):
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")

    with pytest.raises(Exception) as ei:
        view.maintain(
            spark.createDataFrame([("x", 8.0, 1)], ["grp", "v", "op"]),
            "grp",
            "v",
        )
    # must be the real read error surfacing, not AnalysisException-from-
    # missing-path (the path exists; its files are corrupt)
    assert "Parquet" in str(ei.value) or "parquet" in str(ei.value)


def test_ivm_replayed_batch_id_is_deduplicated(spark, tmp_path):
    """foreachBatch is at-least-once: applying the same batch_id twice
    must leave the view as if applied once (signed deltas would
    otherwise double)."""
    base = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["grp", "v"])
    view = AggView(spark, str(tmp_path / "view"))
    view.init(base, "grp", "v")
    changes = spark.createDataFrame([("a", 5.0, 1)], ["grp", "v", "op"])
    view.maintain(changes, "grp", "v", batch_id=7)
    stats = view.maintain(changes, "grp", "v", batch_id=7)  # replay
    assert stats.get("skipped") is True
    [a] = [r for r in view.serve().collect() if r["grp"] == "a"]
    assert (a["cnt"], a["total"]) == (2, 6.0)


def test_ivm_emptied_bucket_has_no_stale_state(spark, tmp_path):
    """Deleting EVERY group of a bucket must not resurrect old state on
    the next read (tombstone rows force the partition rewrite; readers
    filter them), and a later reinsert starts clean."""
    # single-bucket store so one delete batch empties a whole bucket
    base = spark.createDataFrame([("a", 1.0), ("b", 2.0)], ["grp", "v"])
    view = AggView(spark, str(tmp_path / "view"), n_buckets=1)
    view.init(base, "grp", "v")
    view.maintain(
        spark.createDataFrame(
            [("a", 1.0, -1), ("b", 2.0, -1)], ["grp", "v", "op"]
        ),
        "grp",
        "v",
    )
    assert view.state().count() == 0
    # reinsert after full emptiness: no ghosts, fresh stats
    view.maintain(
        spark.createDataFrame([("a", 9.0, 1)], ["grp", "v", "op"]), "grp", "v"
    )
    [r] = view.serve().collect()
    assert (r["grp"], r["cnt"], r["total"]) == ("a", 1, 9.0)


def test_ivm_streaming_cdc_maintenance(spark, tmp_path):
    """The view maintained from a streaming CDC source (two
    micro-batches, the second carrying a retraction) equals a full
    recompute over the net change log."""
    import json as _json

    indir = tmp_path / "in"
    indir.mkdir()
    b1 = [("a", 1.0, 1), ("a", 3.0, 1), ("b", 2.0, 1)]
    b2 = [("a", 1.0, -1), ("c", 5.0, 1)]
    with open(indir / "b0.json", "w") as f:
        for g, v, op in b1:
            f.write(_json.dumps({"grp": g, "v": v, "op": op}) + "\n")

    view = AggView(spark, str(tmp_path / "view"))
    view.init(None, "grp", "v")
    src = (
        spark.readStream.schema("grp string, v double, op int")
        .option("maxFilesPerTrigger", "1")
        .json(str(indir))
    )
    q = view.run(src, "grp", "v", str(tmp_path / "ckpt"))
    q.processAllAvailable()
    with open(indir / "b1.json", "w") as f:
        for g, v, op in b2:
            f.write(_json.dumps({"grp": g, "v": v, "op": op}) + "\n")
    q.processAllAvailable()
    q.stop()

    net = [("a", 3.0), ("b", 2.0), ("c", 5.0)]
    _approx_eq(
        _rows(view.serve()),
        _rows(full_recompute(spark.createDataFrame(net, ["grp", "v"]), "grp", "v")),
    )


def test_ivm_second_stream_on_fresh_checkpoint_applies_its_batches(spark, tmp_path):
    """A second stream on a new checkpoint restarts its batch ids at 0:
    its batch 0 is not a replay of the first stream's batch 0 and must
    land."""
    import json as _json

    view = AggView(spark, str(tmp_path / "view"))
    view.init(None, "grp", "v")
    for i, rows in enumerate(([("a", 1.0, 1), ("b", 2.0, 1)], [("a", 5.0, 1)])):
        indir = tmp_path / f"in{i}"
        indir.mkdir()
        with open(indir / "b0.json", "w") as f:
            for g, v, op in rows:
                f.write(_json.dumps({"grp": g, "v": v, "op": op}) + "\n")
        src = spark.readStream.schema("grp string, v double, op int").json(str(indir))
        q = view.run(src, "grp", "v", str(tmp_path / f"ckpt{i}"))
        q.processAllAvailable()
        q.stop()

    [a] = [r for r in view.serve().collect() if r["grp"] == "a"]
    assert (a["cnt"], a["total"]) == (2, 6.0)
