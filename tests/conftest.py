import base64
import json
import os
import random
import sys
from datetime import datetime, timedelta
from pathlib import Path

import pytest

# this checkout's package, wherever the checkout lives
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "integration: needs a live Postgres (DBSINK_PG_DSN; "
        "docker compose -f docker-compose.integration.yml up -d)",
    )
    config.addinivalue_line(
        "markers",
        "kafka: needs a live Kafka broker (DBSINK_KAFKA_BROKERS) "
        "plus the spark-sql-kafka package on the classpath",
    )

# Read-only reference inputs (FIXTURES.md). Where a file is absent,
# ``fixture_datafile`` writes the in-repo stand-in from ``STAND_INS``, so
# the property tests run everywhere; the golden tests that assert values
# only a reference file holds skip by its path (``needs_reference``).
FIXTURES = "/root/reference/tests"  # read-only golden inputs
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from dbsink_spark.session import get_spark

    import tempfile

    spark = get_spark(
        "dbsink-spark-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="dbsink-wh-")},
    )
    yield spark


def fixture_path(name: str) -> str:
    return f"{FIXTURES}/{name}"


def needs_reference(name: str, why: str = ""):
    """Skip unless the reference fixture ``name`` is present: the test
    asserts values that only that file holds."""
    path = fixture_path(name)
    reason = f"reference fixture {path} absent" + (f"; {why}" if why else "")
    return pytest.mark.skipif(not os.path.exists(path), reason=reason)


def fixture_datafile(tmp_path, name: str) -> str:
    """The reference fixture ``name`` when present, else its stand-in from
    ``STAND_INS`` written under ``tmp_path``. A name with neither raises."""
    path = fixture_path(name)
    if os.path.exists(path):
        return path
    if name not in STAND_INS:
        raise FileNotFoundError(f"{path} is absent and has no in-repo stand-in")
    return write_datafile(tmp_path / name, STAND_INS[name]())


def float_messages(n: int = 4) -> list[dict]:
    """``n`` GenericFloat messages with distinct upsert keys. ``gid`` is
    omitted, so the mapping's declared default ('') applies."""
    return [
        {"uid": f"u{i}", "time": f"2020-01-01T0{i}:00:00Z", "lat": 10.0 + i,
         "lon": -70.0 - i, "z": 0.5, "values": {"temp": 4.0 + i}}
        for i in range(n)
    ]


def write_datafile(path, messages: list[dict]) -> str:
    """Write ``messages`` as a JSON-array datafile (the ``--datafile``
    and ``replay_source`` input format); returns the path."""
    with open(path, "w") as f:
        json.dump(messages, f)
    return str(path)


def numurus_messages(n: int = 4) -> list[dict]:
    """Numurus data-feed messages (FIXTURES.md §4): flat position and fix
    fields plus a nested data segment the mapping flattens into the
    values map (``data_product_pipeline`` excepted)."""
    return [
        {"imei": f"30043406{i:07d}", "timestamp": f"2021-03-01T00:0{i}:00Z",
         "latitude": 47.6 + i / 100, "longitude": -122.3 - i / 100,
         "navsat_fix_time": f"2021-03-01T00:0{i}:30Z",
         "data_segment": {"data_product_pipeline": "ctd", "battery_v": 12.0 + i,
                          "data": [33 + i, 1, 1, 1, 0, 0, 0, 0, 0]}}
        for i in range(n)
    ]


def geo_messages(n: int = 4) -> list[dict]:
    """GenericGeography messages shaped like ``sinkbench/gen.py``'s geo
    batches: a FeatureCollection of one LineString track and the Point
    of its latest fix; the track's properties carry ``mfr``. Tracks of
    different messages are disjoint."""
    out = []
    for i in range(n):
        track = [[-70.0 + 0.01 * j + i, 30.0 + 0.004 * j * j] for j in range(6)]
        out.append({
            "uid": f"glider-{i:04d}", "gid": f"g{i % 2}", "time": f"2020-01-01T00:0{i}:00Z",
            "values": {"seq": i, "depth": 10.5 * i},
            "geojson": {"type": "FeatureCollection", "features": [
                {"type": "Feature", "properties": {"kind": "track", "mfr": "scuttle"},
                 "geometry": {"type": "LineString", "coordinates": track}},
                {"type": "Feature", "properties": {"kind": "fix"},
                 "geometry": {"type": "Point", "coordinates": track[-1]}},
            ]},
        })
    return out


# ---------------------------------------------------------------------------
# In-repo stand-ins for the reference fixtures, one per FIXTURES.md
# section. They carry each section's record shape, and its record count
# where a test asserts that count; reference values they do not carry
# are checked only by the ``needs_reference`` goldens.
# ---------------------------------------------------------------------------


def _nwic_full(n: int) -> list[dict]:
    """``n`` well-formed NWIC reports from the benchmark generator (its
    poison messages, which lack ``headers``, are left out)."""
    from sinkbench.gen import nwic_messages

    lines, ledger = nwic_messages(random.Random(0), 2 * n, 0)
    good = [json.loads(line) for line, row in zip(lines, ledger) if not row[-1]]
    return good[:n]


def nwic_reports(n: int, time_source: str) -> list[dict]:
    """NWIC Iridium reports (FIXTURES.md §3) whose ``values`` carries only
    ``time_source``, so the position comes from the Iridium header."""
    out = _nwic_full(n)
    for m in out:
        m["values"] = {time_source: int(m["values"][time_source])}
    return out


def arete_messages(n: int = 6) -> list[dict]:
    """Arete payloads (FIXTURES.md §5): NWIC ``headers`` plus a ``json``
    block with the precise ``Full_ll`` and an undecoded field the
    mapping removes."""
    return [
        {"cdr_reference": m["cdr_reference"], "headers": m["headers"],
         "json": {"System_Status": m["values"]["system_status"],
                  "Full_ll": [m["values"]["latitude"], m["values"]["longitude"]],
                  "BatteryLevel": str(m["values"]["battery_level"]),
                  "not_decoded": "0a1b2c3d4e5f"}}
        for m in _nwic_full(n)
    ]


def numurus_status_messages(n: int = 6) -> list[dict]:
    """Numurus status records (FIXTURES.md §4): the data feed's flat
    fields without ``data_segment``, plus one all-null record the
    mapping errors on and skips."""
    out = [{k: v for k, v in m.items() if k != "data_segment"}
           for m in numurus_messages(n - 1)]
    return out + [dict.fromkeys(out[0])]


def sofar_messages(n: int = 6) -> list[dict]:
    """Sofar Spotter wave reports (FIXTURES.md §6): flat observations, a
    ``SPOT-NNNN`` spotter id and the raw ``message`` the payload drops.
    Message ``i`` is stamped ``i`` hours after 2019-04-01T00:33:31Z."""
    start = datetime(2019, 4, 1, 0, 33, 31)
    return [
        {"significantWaveHeight": 2.0 + i / 10, "peakPeriod": 9.3, "meanPeriod": 7.76,
         "peakDirection": 85.2, "peakDirectionalSpread": 38.29, "meanDirection": 72.57,
         "meanDirectionalSpread": 58.01,
         "timestamp": f"{start + timedelta(hours=i):%Y-%m-%dT%H:%M:%S}.000Z",
         "latitude": 2.6 + i / 100, "longitude": -149.4 - i / 100,
         "spotterId": f"SPOT-{199 + i % 2:04d}",
         "message": {"messageId": 1000 + i, "rawMessageBytes": "8f3a" * 8}}
        for i in range(n)
    ]


def statistics_messages() -> list[dict]:
    """Four field statistics (FIXTURES.md §2) with distinct upsert keys
    (source, period, starting, ending)."""
    spans = (("monthly", "2020-01-01", "2020-02-01"), ("daily", "2020-01-01", "2020-01-02"),
             ("instant", "2020-01-01", "2020-01-01"), ("yearly", "2020-01-01", "2021-01-01"))
    return [
        {"source": "gom-02-combined", "period": p, "starting": f"{s}T00:00:00Z",
         "ending": f"{e}T00:00:00Z", "values": {"Analysis_1": 10 * i, "Field_A": 50 + i}}
        for i, (p, s, e) in enumerate(spans)
    ]


def _polygon(x0: float, y0: float, w: float, h: float) -> dict:
    ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    return {"type": "Feature", "properties": {},
            "geometry": {"type": "Polygon", "coordinates": [ring]}}


def region_messages(n: int = 6) -> list[dict]:
    """Watch regions (FIXTURES.md §7): one Polygon feature each, with
    longitudes in the 0..360 frame."""
    return [{"uid": f"region-{i}", "time": "2019-09-06T00:00:00",
             "geojson": _polygon(242.0 + i, 32.0, 0.5, 0.5)} for i in range(n)]


def envelope_messages(n: int = 4) -> list[dict]:
    """Drift envelopes (FIXTURES.md §7): a FeatureCollection of two
    overlapping Polygons each."""
    return [{"uid": f"envelope-{i}", "time": f"2020-01-01T00:0{i}:00",
             "geojson": {"type": "FeatureCollection", "features": [
                 _polygon(-70.0 + i, 30.0, 1.0, 1.0), _polygon(-69.5 + i, 30.5, 1.0, 1.0)]}}
            for i in range(n)]


def base64_image_messages(n: int = 3) -> list[dict]:
    """GenericFloat messages (FIXTURES.md §8) whose values carry
    multi-KB JPEG data-URIs in ``image_One`` and ``image_Two``."""
    out = float_messages(n)
    for i, m in enumerate(out):
        for j, name in enumerate(("image_One", "image_Two")):
            jpeg = b"\xff\xd8\xff\xe0" + bytes((7 * i + 13 * j + k) % 256 for k in range(4096))
            m["values"][name] = "data:image/jpeg;base64," + base64.b64encode(jpeg).decode()
    return out


STAND_INS = {
    "replayer.json": lambda: float_messages(4),
    "statistics.json": statistics_messages,
    "mission_sensors.json": lambda: nwic_reports(10, "mission_ts"),
    "environmental.json": lambda: nwic_reports(10, "environmental_ts"),
    "numurus.data.json": lambda: numurus_messages(8),
    "numurus.status.json": numurus_status_messages,
    "arete_data.json": arete_messages,
    "sofar.json": sofar_messages,
    "driftworker-traj-ind.json": lambda: [
        {**m, "geojson": m["geojson"]["features"][0]} for m in geo_messages(10)],
    "driftworker-traj-multi.json": lambda: [
        {"uid": "drift-0", "time": "2020-01-01T00:00:00",
         "geojson": {"type": "FeatureCollection",
                     "features": [m["geojson"]["features"][0] for m in geo_messages(10)]}}],
    "driftworker-envelopes.json": envelope_messages,
    "scuttle-watch-regions.json": region_messages,
    "null_infinity.json": lambda: [{"float_id": 1, "bus_voltage": float("inf")},
                                   {"float_id": 2, "bus_voltage": float("-inf")}],
    "base64_images.json": base64_image_messages,
}
