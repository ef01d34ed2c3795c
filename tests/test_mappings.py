"""Mapping golden tests: reference fixtures through the Spark
transform (mapInPandas), asserted against the reference's golden
values (tests/test_dbsink.py:24-397,876-975).

The property tests (row counts, reftime default, NaN scrub, base64
passthrough, geography shapes) read their input through
``conftest.fixture_datafile``: the reference file where it is present,
else the in-repo stand-in for its FIXTURES.md section. The goldens that
assert values only a reference file holds skip without that file
(``conftest.needs_reference``).
"""

import json
from datetime import datetime, timezone

import pytest

from conftest import (
    fixture_datafile,
    fixture_path,
    needs_reference,
    sofar_messages,
    statistics_messages,
    write_datafile,
)

from dbsink_spark.functions import make_valid_string, payload_parse
from dbsink_spark.mappings import resolve
from dbsink_spark.sources import replay_source


def run_mapping(spark, lookup, fixture, topic="topic", tmp_path=None, **kwargs):
    """Map the reference fixture ``fixture`` through ``lookup``; with
    ``tmp_path``, its stand-in when the reference file is absent."""
    mapping = resolve(lookup, topic, **kwargs)
    path = fixture_path(fixture) if tmp_path is None else fixture_datafile(tmp_path, fixture)
    df = replay_source(spark, path)
    rows = mapping.transform(df).collect()
    return mapping, rows


def by_id(rows):
    # transform output order is partition-dependent; reference goldens
    # are input-ordered, so tests sort by a stable content key
    return rows


def test_ncreplayer(spark, tmp_path):
    _, rows = run_mapping(
        spark, "GenericFloat", "replayer.json", "axds-netcdf-replayer-data", tmp_path=tmp_path
    )
    assert len(rows) == 4
    for r in rows:
        assert r["time"] == r["reftime"]  # reftime defaults to time


def test_mission_sensors(spark, tmp_path):
    _, rows = run_mapping(
        spark, "NwicFloatReports", "mission_sensors.json", "oot.reports.mission_sensors",
        tmp_path=tmp_path,
    )
    assert len(rows) == 10


def test_environmental(spark, tmp_path):
    _, rows = run_mapping(
        spark, "NwicFloatReports", "environmental.json", "oot.reports.environmental",
        tmp_path=tmp_path,
    )
    assert len(rows) == 10


def test_null_infinity_jsonmap(spark, tmp_path):
    _, rows = run_mapping(spark, "JsonMap", "null_infinity.json", "whatever", tmp_path=tmp_path)
    assert len(rows) == 2
    for r in rows:
        assert json.loads(r["payload"])["bus_voltage"] is None


@needs_reference("health_and_status.json")
def test_health_and_status_goldens(spark):
    _, rows = run_mapping(spark, "NwicFloatReports", "health_and_status.json", "foo")
    assert len(rows) == 516

    rows_sorted = sorted(rows, key=lambda r: (r["time"], r["uid"]))
    m1 = next(r for r in rows if r["uid"] == "300434063547170" and r["lat"] == 32.704426)
    assert m1["lon"] == -117.23662
    assert m1["time"] == datetime(2019, 5, 31, 20, 39, 50)
    assert m1["values"]["values_status_ts"] == "1559335190"
    assert m1["values"]["headers_iridium_ts"] == "1559335196"
    assert m1["values"]["headers_location_latitude_degrees"] == "32"
    assert m1["values"]["headers_location_longitude_degrees"] == "-117"
    assert m1["values"]["values_latitude"] == "32.704426"
    assert m1["values"]["values_longitude"] == "-117.23662"
    assert m1["values"]["values_misc_speed"] == "2.72"
    assert m1["values"]["values_misc_test_num"] == "T240"
    assert m1["values"]["mfr"] == "usna"

    m2 = next(r for r in rows if r["uid"] == "300434063946390" and r["lat"] == 39.01338)
    assert m2["lon"] == -75.47597
    assert m2["time"] == datetime(2019, 6, 6, 18, 19, 56)
    assert "status_ts" not in m2["values"]
    assert m2["values"]["headers_iridium_ts"] == "1559845196"
    assert m2["values"]["headers_location_latitude_degrees"] == "39"
    assert m2["values"]["headers_location_longitude_degrees"] == "-76"
    assert "latitude" not in m2["values"]
    assert m2["values"]["values_longitude"] is None
    assert m2["values"]["values_misc_speed"] == "0.01"
    assert m2["values"]["values_misc_test_num"] == "T76"
    assert m2["values"]["mfr"] == "usna"


@needs_reference("numurus.status.json")
def test_numurus_status(spark):
    _, rows = run_mapping(spark, "NumurusStatus", "numurus.status.json")
    assert len(rows) == 87
    # a 91 latitude trips the bad-location flag
    bad = [r for r in rows if r["lat"] == 91]
    assert bad and all(r["values"]["location_quality"] == "4" for r in bad)


@needs_reference("numurus.data.json")
def test_numurus_data_goldens(spark):
    _, rows = run_mapping(spark, "NumurusData", "numurus.data.json")
    assert len(rows) == 8
    m = next(r for r in rows if r["lat"] == 47.550865)
    assert m["lon"] == -122.377328
    assert m["values"]["data_segment_data_0"] == "33"
    assert m["values"]["data_segment_data"] == "[33, 1, 1, 1, 0, 0, 0, 0, 0]"


@needs_reference("numurus.data.json")
def test_numurus_data_filter_dates(spark):
    _, rows = run_mapping(
        spark,
        "NumurusData",
        "numurus.data.json",
        filters={
            "start_date": datetime(2019, 7, 18, 15, tzinfo=timezone.utc),
            "end_date": datetime(2019, 7, 18, 16, tzinfo=timezone.utc),
        },
    )
    assert len(rows) == 2


@needs_reference("arete_data.json")
def test_arete_data_goldens(spark):
    _, rows = run_mapping(spark, "AreteData", "arete_data.json")
    assert len(rows) == 137
    lats = {r["lat"] for r in rows}
    for expect in (38.859378814697266, 32.70533, 532.6271, 32.627373, 32.62755):
        assert expect in lats
    bad = next(r for r in rows if r["lat"] == 532.6271)
    assert bad["lon"] == -117.89201
    assert bad["values"]["location_quality"] == "4"
    good = next(r for r in rows if r["lat"] == 32.70533)
    assert good["lon"] == -117.23613
    assert good["values"]["mfr"] == "arete"


@needs_reference("arete_data.json")
def test_arete_data_filter_dates(spark):
    _, rows = run_mapping(
        spark,
        "AreteData",
        "arete_data.json",
        filters={"start_date": datetime(2019, 8, 9, 0, tzinfo=timezone.utc)},
    )
    assert len(rows) == 14


@needs_reference("mission_sensors.json")
def test_just_json_payload_golden(spark):
    _, rows = run_mapping(spark, "JsonMap", "mission_sensors.json")
    assert len(rows) == 10
    payloads = [json.loads(r["payload"]) for r in rows]
    golden = {
        "cdr_reference": -5699810423388316158,
        "headers": {
            "imei": -1556323178,
            "iridium_ts": 1558640014,
            "sbd_session_status": "PROTOCOL_ANOMALY",
            "mo_msn": -725951606,
            "mt_msn": -419825455,
            "location": {
                "cep_radius": 158880407,
                "latitude": {"degrees": 34, "minutes": 0.803512},
                "longitude": {"degrees": -118, "minutes": 0.3486771},
            },
        },
        "values": {
            "mission_ts": 1194313350,
            "rf_ais_decoded_rssi": 1825254200,
            "misc": None,
        },
        "mfr": "Numerus",
    }
    assert golden in payloads


def test_geography_fixtures(spark, tmp_path):
    for fixture, expected in (
        ("driftworker-traj-ind.json", 10),
        ("driftworker-traj-multi.json", 1),
        ("driftworker-envelopes.json", 4),
        ("scuttle-watch-regions.json", 6),
    ):
        _, rows = run_mapping(spark, "GenericGeography", fixture, tmp_path=tmp_path)
        assert len(rows) == expected, fixture


@needs_reference("scuttle-watch-regions.json")
def test_geography_scuttle_goldens(spark):
    _, rows = run_mapping(spark, "GenericGeography", "scuttle-watch-regions.json")
    uids = {r["uid"] for r in rows}
    assert {"Keepin Hi", "Keepin HiHi", "Keepin Med"} <= uids
    t = datetime(2019, 9, 6, 0, 0, 0)
    for uid in ("Keepin Hi", "Keepin HiHi", "Keepin Med"):
        r = next(x for x in rows if x["uid"] == uid)
        assert r["time"] == t
        assert r["gid"] is None  # omitted → DB default applies at sink
    med = next(x for x in rows if x["uid"] == "Keepin Med")
    assert med["values"] == {}


@needs_reference("sofar.json")
def test_sofar_goldens(spark):
    _, rows = run_mapping(spark, "NwicFloatReportsSofar", "sofar.json", "sofar.data")
    assert len(rows) == 146
    m = next(r for r in rows if r["uid"] == "0199" and r["lat"] == 2.66157)
    assert m["time"] == datetime(2019, 4, 1, 6, 33, 31)
    assert m["lon"] == -149.43383
    for k, v in {
        "significantWaveHeight": "2.19",
        "peakPeriod": "9.3",
        "meanPeriod": "7.76",
        "peakDirection": "85.2",
        "peakDirectionalSpread": "38.29",
        "meanDirection": "72.57",
        "meanDirectionalSpread": "58.01",
    }.items():
        assert m["values"][k] == v
    payload = json.loads(m["payload"])
    assert payload == {
        "significantWaveHeight": 2.19,
        "peakPeriod": 9.3,
        "meanPeriod": 7.76,
        "peakDirection": 85.2,
        "peakDirectionalSpread": 38.29,
        "meanDirection": 72.57,
        "meanDirectionalSpread": 58.01,
        "timestamp": "2019-04-01T06:33:31.000Z",
        "latitude": 2.66157,
        "longitude": -149.43383,
        "spotterId": "SPOT-0199",
    }


WAVE_STATISTICS = (
    "significantWaveHeight", "peakPeriod", "meanPeriod", "peakDirection",
    "peakDirectionalSpread", "meanDirection", "meanDirectionalSpread",
)


def test_sofar_properties(spark, tmp_path):
    # the goldens' rules on the in-repo stand-in, plus one message
    # without coordinates that must come out as a dead letter
    msgs = sofar_messages()
    no_coords = {k: v for k, v in msgs[0].items() if k not in ("latitude", "longitude")}
    no_coords["timestamp"] = "2019-04-02T00:00:00.000Z"
    path = write_datafile(tmp_path / "sofar.json", msgs + [no_coords])
    rows = resolve("NwicFloatReportsSofar", "sofar.data").transform(
        replay_source(spark, path), errors="keep"
    ).collect()

    dead = [r for r in rows if r["_error"] is not None]
    assert [r["_error"] for r in dead] == ["ValueError: missing coordinates"]
    good = {r["time"]: r for r in rows if r["_error"] is None}
    assert len(good) == len(msgs)
    for m in msgs:
        r = good[datetime.strptime(m["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")]
        assert r["uid"] == m["spotterId"][len("SPOT-"):]
        assert (r["lat"], r["lon"]) == (m["latitude"], m["longitude"])
        assert json.loads(r["payload"]) == {k: v for k, v in m.items() if k != "message"}
        for k in WAVE_STATISTICS:
            assert r["values"][k] == make_valid_string(m[k]), k


def test_sofar_stand_in_lands_every_message(spark, tmp_path):
    msgs = sofar_messages(40)
    path = write_datafile(tmp_path / "sofar40.json", msgs)
    rows = resolve("NwicFloatReportsSofar", "sofar.data").transform(
        replay_source(spark, path), errors="keep"
    ).collect()
    assert ([r["_error"] for r in rows], len(rows)) == ([None] * len(msgs), len(msgs))


def test_statistics_properties(spark, tmp_path):
    # the statistics golden's rules on the in-repo stand-in
    msgs = statistics_messages()
    path = write_datafile(tmp_path / "statistics.json", msgs)
    rows = resolve("GenericFieldStatistic", "topic").transform(replay_source(spark, path)).collect()
    assert len(rows) == len(msgs)
    by_period = {r["period"]: r for r in rows}
    for m in msgs:
        r = by_period[m["period"]]
        assert r["source"] == m["source"]
        for k in ("starting", "ending"):
            assert r[k] == datetime.strptime(m[k], "%Y-%m-%dT%H:%M:%SZ"), k
        assert json.loads(r["values"]) == m["values"]
    assert by_period["instant"]["starting"] == by_period["instant"]["ending"]


def test_jsonmap_payload_is_payload_parse(spark, tmp_path):
    # every payload equals payload_parse(message); NaN/Infinity land as null
    with open(fixture_datafile(tmp_path, "mission_sensors.json")) as f:
        msgs = json.load(f)
    special = [
        {**msgs[0], "values": {"bus_voltage": float("nan"), "temps": [float("inf"), 1.5]}},
        {**msgs[1], "values": {"bus_voltage": float("-inf"), "misc": {"a": float("nan")}}},
    ]
    path = write_datafile(tmp_path / "mission_sensors_special.json", msgs + special)
    rows = resolve("JsonMap", "topic").transform(replay_source(spark, path)).collect()
    got = sorted(json.dumps(json.loads(r["payload"]), sort_keys=True) for r in rows)
    want = sorted(json.dumps(payload_parse(m), sort_keys=True) for m in msgs + special)
    assert got == want
    payloads = [json.loads(r["payload"]) for r in rows]
    assert {"bus_voltage": None, "temps": [None, 1.5]} in [p["values"] for p in payloads]
    assert {"bus_voltage": None, "misc": {"a": None}} in [p["values"] for p in payloads]


@needs_reference("h_a_s_with_gps_points.json")
def test_string_json_expansion_goldens(spark):
    _, rows = run_mapping(spark, "NwicFloatReports", "h_a_s_with_gps_points.json", "foo")
    assert len(rows) == 50
    with_move = [
        r
        for r in rows
        if r["values"].get("values_misc_detection_results_correlated_movement")
    ]
    assert with_move
    r0 = with_move[0]
    assert r0["values"]["values_misc_detection_results_correlated_movement"] == "False"
    pts_rows = [r for r in rows if "values_misc_points" in r["values"]]
    assert pts_rows
    pts = [[1569230478.0 + 300 * i, 29.2534, -90.6609] for i in range(9)]
    r16 = pts_rows[0]
    assert r16["values"]["values_misc_points"] == str(pts)
    assert r16["values"]["values_misc_points_0"] == str(pts[0])
    assert r16["values"]["values_misc_points_0_0"] == str(1569230478.0)
    assert r16["values"]["values_misc_points_8_2"] == str(-90.6609)


@needs_reference("statistics.json")
def test_statistics_goldens(spark):
    _, rows = run_mapping(spark, "GenericFieldStatistic", "statistics.json")
    assert len(rows) == 4
    golden_values = {
        "Analysis_1": 10,
        "Analysis_2": 20,
        "Analysis_3": 30,
        "Analysis_4": 40,
        "Field_A": 50,
        "Field_B": 60,
        "Field_C": 70,
        "Field_D": 80,
    }
    monthly = next(r for r in rows if r["period"] == "monthly")
    assert monthly["source"] == "gom-02-combined"
    assert monthly["starting"] == datetime(2020, 1, 1)
    assert monthly["ending"] == datetime(2020, 2, 1)
    assert json.loads(monthly["values"]) == golden_values
    instant = next(r for r in rows if r["period"] == "instant")
    assert instant["starting"] == instant["ending"] == datetime(2020, 1, 1)


def test_base64_images_passthrough(spark, tmp_path):
    _, rows = run_mapping(spark, "JsonMap", "base64_images.json", tmp_path=tmp_path)
    assert len(rows) >= 1
    for r in rows:
        assert json.loads(r["payload"])  # decodes cleanly


def test_fixture_datafile_prefers_reference(tmp_path, monkeypatch):
    import conftest

    ref = tmp_path / "reference"
    ref.mkdir()
    (ref / "replayer.json").write_text("[]")
    monkeypatch.setattr(conftest, "FIXTURES", str(ref))
    assert conftest.fixture_datafile(tmp_path, "replayer.json") == str(ref / "replayer.json")
    assert conftest.fixture_datafile(tmp_path, "sofar.json") == str(tmp_path / "sofar.json")
    with pytest.raises(FileNotFoundError):
        conftest.fixture_datafile(tmp_path, "no-stand-in.json")


def test_error_rows_dead_letter(spark):
    mapping = resolve("GenericFloat", "t")
    df = spark.createDataFrame(
        [
            ("k1", '{"no_time": 1}'),
            ("k2", '{"time": "2020-01-01T00:00:00Z", "lat": 1.5, "lon": 2.5, "values": {}}'),
        ],
        ["key", "value"],
    )
    kept = mapping.transform(df).collect()
    assert len(kept) == 1 and kept[0]["lat"] == 1.5
    with_errors = mapping.transform(df, errors="keep").collect()
    assert len(with_errors) == 2
    errs = [r for r in with_errors if r["_error"] is not None]
    assert len(errs) == 1 and "KeyError" in errs[0]["_error"]
