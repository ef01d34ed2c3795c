"""Wire codec tests: msgpack (pure-python fallback), Avro binary +
Confluent framing + registry client, and the codec-threaded replay
source. Ports the reference's pack/unpack contract
(reference dbsink/utils.py:42-49; tests/test_dbsink.py packing cases).
"""

from __future__ import annotations

import http.server
import json
import math
import threading

import pytest

from dbsink_spark.codecs import avro_codec_from_schema, get_codec
from dbsink_spark.sources import replay_source
from dbsink_spark.wire import avro_lite, msgpack_lite

from conftest import float_messages, write_datafile

MSG = {
    "uid": "unit_abc123",
    "gid": None,
    "time": "2024-01-02T03:04:05Z",
    "lat": 33.9,
    "lon": -118.4,
    "z": 0.0,
    "values": {"speed": 1.5, "n_sats": 7, "ok": True, "note": "calm", "gap": None},
    "meta": "{}",
}


# ------------------------------------------------------------- msgpack

def test_msgpack_lite_roundtrip_nested():
    obj = {
        "s": "héllo",
        "n": None,
        "t": True,
        "f": False,
        "i": [0, 1, 127, 128, 255, 256, 65535, 65536, 2**32, -1, -32, -33, -129, -(2**31) - 1],
        "d": 3.141592653589793,
        "b": b"\x00\xffraw",
        "long_s": "x" * 300,
        "nested": {"k": (1, 2, 3)},
    }
    out = msgpack_lite.unpackb(msgpack_lite.packb(obj))
    # arrays decode as tuples (use_list=False contract)
    assert out["i"] == tuple(obj["i"])
    assert out["nested"]["k"] == (1, 2, 3)
    assert out["s"] == obj["s"] and out["long_s"] == obj["long_s"]
    assert out["b"] == obj["b"]
    assert out["d"] == obj["d"]


def test_msgpack_lite_canonical_bytes():
    # spec vectors (smallest representation)
    assert msgpack_lite.packb({"a": 1}) == b"\x81\xa1a\x01"
    assert msgpack_lite.packb([1, -2, "x"]) == b"\x93\x01\xfe\xa1x"
    assert msgpack_lite.packb(None) == b"\xc0"
    assert msgpack_lite.packb(True) == b"\xc3"
    assert msgpack_lite.packb(200) == b"\xcc\xc8"
    import struct

    assert msgpack_lite.packb(1.5) == b"\xcb" + struct.pack(">d", 1.5)


def test_msgpack_codec_contract():
    codec = get_codec("msgpack")
    out = codec.unpack(codec.pack(MSG))
    assert out["uid"] == MSG["uid"]
    assert out["values"]["n_sats"] == 7
    assert out["values"]["gap"] is None


# ---------------------------------------------------------------- avro

# the canonical GenericFloat wire schema: meta travels as a JSON string,
# ``values`` as a map over every scalar the producers send
FLOAT_SCHEMA = {
    "type": "record",
    "name": "GenericFloat",
    "fields": [
        {"name": "uid", "type": "string"},
        {"name": "gid", "type": ["null", "string"], "default": None},
        {"name": "time", "type": "string"},
        {"name": "lat", "type": "double"},
        {"name": "lon", "type": "double"},
        {"name": "z", "type": ["null", "double"], "default": None},
        {
            "name": "values",
            "type": [
                "null",
                {
                    "type": "map",
                    "values": [
                        "null", "boolean", "int", "long", "float", "double", "bytes", "string",
                    ],
                },
            ],
            "default": None,
        },
        {"name": "meta", "type": ["null", "string"], "default": None},
    ],
}


def test_avro_roundtrip_reference_schema():
    schema = FLOAT_SCHEMA
    body = avro_lite.dumps(schema, MSG)
    out = avro_lite.loads(schema, body)
    assert out["uid"] == MSG["uid"]
    assert out["gid"] is None
    assert out["lat"] == MSG["lat"]
    assert out["values"]["speed"] == 1.5
    assert out["values"]["n_sats"] == 7
    assert out["values"]["ok"] is True
    assert out["values"]["gap"] is None
    assert out["meta"] == "{}"


def test_avro_confluent_framing():
    schema = FLOAT_SCHEMA
    codec = avro_codec_from_schema(schema, schema_id=42)
    wire = codec.pack(MSG)
    assert wire[0] == 0 and int.from_bytes(wire[1:5], "big") == 42
    assert codec.unpack(wire)["uid"] == MSG["uid"]
    with pytest.raises(ValueError):
        avro_lite.unframe(b"\x01bogus")


def test_avro_nan_double_carries():
    # avro double carries NaN as IEEE bits (no json-style scrub)
    out = avro_lite.loads("double", avro_lite.dumps("double", float("nan")))
    assert math.isnan(out)


class _RegistryHandler(http.server.BaseHTTPRequestHandler):
    SCHEMAS = {7: json.dumps({"type": "string"})}

    def do_GET(self):  # noqa: N802
        if self.path == "/schemas/ids/7":
            payload = {"schema": self.SCHEMAS[7]}
        elif self.path == "/subjects/things-value/versions/latest":
            payload = {"id": 7, "schema": self.SCHEMAS[7], "version": 1}
        else:
            self.send_error(404)
            return
        body = json.dumps(payload).encode()
        self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet
        pass


def test_avro_registry_client_end_to_end():
    srv = http.server.HTTPServer(("127.0.0.1", 0), _RegistryHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}"
        codec = get_codec("avro", registry_url=url, subject="things")
        wire = codec.pack("hello")
        assert avro_lite.unframe(wire)[0] == 7
        assert codec.unpack(wire) == "hello"
        # id-based resolution path (fresh client, no subject)
        codec2 = get_codec("avro", registry_url=url)
        assert codec2.unpack(wire) == "hello"
    finally:
        srv.shutdown()


def test_avro_requires_registry():
    with pytest.raises(ValueError):
        get_codec("avro")


def test_spark_from_avro_wiring(spark):
    """JVM from_avro fast path: this environment lacks the external
    spark-avro module, so the wiring must surface Spark's own
    AVRO_NOT_LOADED error (when the jar IS present, the same call
    decodes)."""
    from dbsink_spark.codecs import spark_from_avro

    df = spark.createDataFrame([(b"\x02",)], "value binary")
    try:
        out = spark_from_avro(df, "value", '"int"').collect()
    except Exception as e:  # AnalysisException: AVRO_NOT_LOADED...
        assert "AVRO" in str(e).upper()
        pytest.skip("spark-avro module not on classpath (expected here)")
    assert out[0]["value"] == 1  # pragma: no cover - jar-present env


# ------------------------------------------------------ replay threading

def test_replay_source_msgpack_equals_json(spark, tmp_path):
    path = write_datafile(tmp_path / "floats.json", float_messages())
    a = replay_source(spark, path, packing="json").collect()
    b = replay_source(spark, path, packing="msgpack").collect()
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert json.loads(ra.value) == json.loads(rb.value)


# replayer-shaped messages carry meta as a json object (FLOAT_SCHEMA
# carries it as a string), so the replay tests bind a matching schema
REPLAYER_SCHEMA = {
    "type": "record",
    "name": "replayer",
    "fields": [
        {"name": "uid", "type": "string"},
        {"name": "gid", "type": ["null", "string"], "default": None},
        {"name": "time", "type": "string"},
        {"name": "lat", "type": "double"},
        {"name": "lon", "type": "double"},
        {"name": "z", "type": ["null", "double"], "default": None},
        {"name": "meta", "type": ["null", {"type": "map", "values": "string"}], "default": None},
        {
            "name": "values",
            "type": [
                "null",
                {
                    "type": "map",
                    "values": ["null", "boolean", "long", "double", "string"],
                },
            ],
        },
    ],
}


def test_replay_source_avro_schema_bound(spark, tmp_path):
    rows = replay_source(
        spark,
        write_datafile(tmp_path / "floats.json", float_messages()),
        packing="avro",
        avro_schema=REPLAYER_SCHEMA,
    ).collect()
    assert rows and all(json.loads(r.value)["uid"] for r in rows)


def _codec_oracle(codec, messages) -> list[str]:
    """The replay contract, one message at a time: wire round-trip, then
    canonical JSON with bytes carried as latin-1 text."""
    return [
        json.dumps(codec.unpack(codec.pack(m)), default=lambda o: o.decode("latin-1"))
        for m in messages
    ]


# non-ASCII text and explicit nulls, placed mid-file so row order shows
PARITY_MESSAGES = [
    *float_messages(3),
    {"uid": "bøje-7", "gid": None, "time": "2024-01-02T03:04:05Z", "lat": 33.9,
     "lon": -118.4, "z": None, "values": {"note": "Ström ☃ 東京", "gap": None, "n": 7},
     "meta": {"site": "Ærø"}},
    *float_messages(6)[3:],
]


@pytest.mark.parametrize("packing", ["json", "msgpack", "avro"])
def test_replay_source_matches_per_message_codec_oracle(spark, tmp_path, packing):
    kwargs = {"avro_schema": REPLAYER_SCHEMA} if packing == "avro" else {}
    codec = get_codec(packing, **kwargs)
    for name, messages in (("messages", PARITY_MESSAGES), ("empty", [])):
        path = write_datafile(tmp_path / f"{name}.json", messages)
        rows = replay_source(spark, path, packing=packing, **kwargs).collect()
        assert [r.value for r in rows] == _codec_oracle(codec, messages), name
        assert all(r.key is None for r in rows)


def test_avro_file_source_matches_codec_oracle(spark, tmp_path):
    """Only a container file can carry Avro ``bytes``: they land as
    latin-1 text, next to non-ASCII strings and nulls, in file order."""
    from dbsink_spark.sources import avro_file_source
    from dbsink_spark.wire import avro_container as ac

    codec = avro_codec_from_schema(FLOAT_SCHEMA)
    messages = [
        dict(MSG, uid="u0"),
        dict(MSG, uid="ü1", values={"raw": b"\x00\xffraw", "note": "Ström ☃", "gap": None}),
        dict(MSG, uid="u2", z=None, values=None),
    ]
    for name, records in (("messages", messages), ("empty", [])):
        p = str(tmp_path / f"{name}.avro")
        ac.write_container(p, FLOAT_SCHEMA, records)
        rows = avro_file_source(spark, p).collect()
        assert [r.value for r in rows] == _codec_oracle(codec, records), name
        assert all(r.key is None for r in rows)


def test_replay_sources_plan_without_python_rdd_scan(spark, tmp_path):
    """Driver-built replay frames reach Spark as an Arrow table, planned
    as a LocalTableScan; a scan over a pickled Python RDD (ExistingRDD)
    would cost every task a Python worker in front of the mapping's."""
    from dbsink_spark.sources import avro_file_source
    from dbsink_spark.wire import avro_container as ac

    messages = float_messages()
    path = write_datafile(tmp_path / "floats.json", messages)
    container = str(tmp_path / "floats.avro")
    ac.write_container(container, REPLAYER_SCHEMA, messages)
    frames = {
        "json": replay_source(spark, path),
        "msgpack": replay_source(spark, path, packing="msgpack"),
        "avro": replay_source(spark, path, packing="avro", avro_schema=REPLAYER_SCHEMA),
        "avro_file": avro_file_source(spark, container),
    }
    for name, df in frames.items():
        assert len(df.collect()) == len(messages), name
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan and "LocalTableScan" in plan, (name, plan)


def test_avro_lite_truncated_input_raises():
    """Truncated wire bytes must raise, never decode to wrong values
    (EOF boolean != False, short string != truncated payload)."""
    import pytest

    from dbsink_spark.wire import avro_lite

    rec = {"type": "record", "name": "r", "fields": [
        {"name": "flag", "type": "boolean"},
        {"name": "s", "type": "string"},
        {"name": "x", "type": "double"},
    ]}
    good = avro_lite.dumps(rec, {"flag": True, "s": "hello", "x": 1.5})
    assert avro_lite.loads(rec, good) == {"flag": True, "s": "hello", "x": 1.5}
    for cut in range(len(good)):
        with pytest.raises((EOFError, ValueError, KeyError, IndexError)):
            avro_lite.loads(rec, good[:cut])


# ------------------------------------------------- avro container files


def test_avro_container_round_trip_both_codecs(tmp_path):
    """Object Container File writer/reader round-trip on the
    GenericFloat wire schema, null and deflate codecs (the two the spec
    requires every implementation to read)."""
    from dbsink_spark.wire import avro_container as ac

    schema = FLOAT_SCHEMA
    records = [dict(MSG, uid=f"u{i}") for i in range(40)]
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"m_{codec}.avro")
        ac.write_container(p, schema, records, codec=codec)
        s2, r2 = ac.read_container(p)
        assert s2 == schema
        assert len(r2) == 40 and r2[0]["uid"] == "u0"
        assert r2[7]["values"]["speed"] == MSG["values"]["speed"]
    # deflate actually compresses (records are repetitive)
    import os

    assert os.path.getsize(str(tmp_path / "m_deflate.avro")) < os.path.getsize(
        str(tmp_path / "m_null.avro")
    )


def test_avro_container_append_blocks(tmp_path):
    """append_container grows an existing file with spec-conformant
    extra blocks (reusing the file's schema/codec/sync); readers see
    the concatenated record stream. Both codecs."""
    from dbsink_spark.wire import avro_container as ac

    schema = FLOAT_SCHEMA
    for codec in ("null", "deflate"):
        p = str(tmp_path / f"a_{codec}.avro")
        ac.write_container(p, schema, [dict(MSG, uid=f"u{i}") for i in range(5)],
                           codec=codec)
        ac.append_container(p, [dict(MSG, uid=f"v{i}") for i in range(3)])
        ac.append_container(p, [])  # no-op, file untouched
        ac.append_container(p, [dict(MSG, uid="w0")])
        s2, r2 = ac.read_container(p)
        assert s2 == schema
        assert [r["uid"] for r in r2] == [
            "u0", "u1", "u2", "u3", "u4", "v0", "v1", "v2", "w0"
        ]


def test_avro_container_header_validation(tmp_path, monkeypatch):
    """ADVICE r07: truncated files must fail with a clear
    truncation error (not a downstream zigzag misparse), and a
    metadata map exceeding append_container's bounded header read
    must name the real cause instead of a confusing decode error."""
    import pytest

    from dbsink_spark.wire import avro_container as ac

    schema = FLOAT_SCHEMA
    p = str(tmp_path / "t.avro")
    ac.write_container(p, schema, [dict(MSG, uid="u0")])
    raw = open(p, "rb").read()

    # cut the file mid-sync (header magic + metadata survive)
    import io as _io

    hdr = _io.BytesIO(raw)
    assert hdr.read(4) == ac.MAGIC
    from dbsink_spark.wire import avro_lite

    avro_lite.decode(ac._META_SCHEMA, hdr)
    sync_at = hdr.tell()
    cut = str(tmp_path / "cut.avro")
    open(cut, "wb").write(raw[: sync_at + 7])  # 7 of 16 sync bytes
    with pytest.raises(ValueError, match="sync marker incomplete"):
        ac.append_container(cut, [dict(MSG, uid="x")])

    # metadata map larger than the (shrunken) append read window
    monkeypatch.setattr(ac, "_APPEND_HEADER_BYTES", 64)
    with pytest.raises(ValueError, match="header exceeds"):
        ac.append_container(p, [dict(MSG, uid="x")])


def test_avro_container_driver_size_guard(tmp_path):
    """read_container is a DRIVER-side helper: it must refuse a file
    over the limit with a pointer at the executor path instead of
    silently materializing it."""
    import pytest

    from dbsink_spark.wire import avro_container as ac

    schema = FLOAT_SCHEMA
    p = str(tmp_path / "big.avro")
    ac.write_container(p, schema, [dict(MSG, uid=f"u{i}") for i in range(20)])
    with pytest.raises(ValueError, match="binaryFile"):
        ac.read_container(p, max_bytes=64)
    # explicit override reads it fine
    _, r = ac.read_container(p, max_bytes=10**9)
    assert len(r) == 20


def test_avro_container_rejects_garbage(tmp_path):
    from dbsink_spark.wire import avro_container as ac

    p = str(tmp_path / "bad.avro")
    with open(p, "wb") as f:
        f.write(b"not avro at all")
    import pytest

    with pytest.raises(ValueError, match="not an Avro object container"):
        ac.read_container(p)


def test_avro_file_source_feeds_mapping(spark, tmp_path):
    """End-to-end: .avro container file → avro_file_source → the SAME
    GenericFloat transform rows as the JSON replay of identical
    messages (the packing-agnostic value contract)."""
    from dbsink_spark.mappings import resolve
    from dbsink_spark.sources import avro_file_source, replay_source
    from dbsink_spark.wire import avro_container as ac

    messages = float_messages()
    datafile = write_datafile(tmp_path / "replayer.json", messages)
    p = str(tmp_path / "replayer.avro")
    ac.write_container(p, REPLAYER_SCHEMA, messages, codec="deflate")

    mapping = resolve("GenericFloat", "t")
    via_avro = mapping.transform(avro_file_source(spark, p))
    via_json = mapping.transform(
        replay_source(
            spark,
            datafile,
            packing="avro",
            avro_schema=REPLAYER_SCHEMA,
        )
    )
    a = sorted((r["uid"], str(r["time"]), r["lat"], r["lon"]) for r in via_avro.collect())
    b = sorted((r["uid"], str(r["time"]), r["lat"], r["lon"]) for r in via_json.collect())
    assert a == b and len(a) > 0


def test_cli_replays_avro_container_file(tmp_path):
    """CLI drive: --datafile foo.avro goes through the container
    parser (no registry, no spark-avro jar) into the sink."""
    from click.testing import CliRunner

    from dbsink_spark.cli import setup
    from dbsink_spark.wire import avro_container as ac

    p = str(tmp_path / "replayer.avro")
    ac.write_container(p, REPLAYER_SCHEMA, float_messages())
    db = str(tmp_path / "sink.duckdb")
    result = CliRunner().invoke(
        setup,
        [
            "--topic", "axds.replayer",
            "--lookup", "GenericFloat",
            "--db", f"duckdb:///{db}",
            "--drop",
            "--no-listen",
            "--datafile", p,
        ],
        catch_exceptions=False,
    )
    assert result.exit_code == 0, result.output
    import duckdb

    con = duckdb.connect(db)
    n = con.execute('SELECT count(*) FROM "axds-replayer"').fetchone()[0]
    con.close()
    assert n > 0
