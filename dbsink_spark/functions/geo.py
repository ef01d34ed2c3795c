"""Geospatial helpers: WKT construction, QARTOD location quality,
degrees+minutes conversion, GeoJSON normalization.

Spark has no native geometry type; geometry travels as WKT strings and
becomes real geometry at the database boundary
(``ST_GeomFromText(wkt, 4326)`` in the sink's upsert SQL). The QC flag
is a pure column expression — whole-stage codegen, no UDF (reference
behavior: dbsink/tables.py:82-118).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

QC_GOOD = 1
QC_SUSPECT = 3
QC_BAD = 4


def point_wkt(lon: Column, lat: Column) -> Column:
    """POINT WKT from lon/lat double columns."""
    return F.concat(F.lit("POINT ("), lon.cast("string"), F.lit(" "), lat.cast("string"), F.lit(")"))


def location_quality(
    lon: Column,
    lat: Column,
    inprecise: Column | bool = False,
    disallow_lon: list[float] | None = None,
    disallow_lat: list[float] | None = None,
) -> Column:
    """QARTOD-style location QC flag (1 good / 3 suspect / 4 bad) as a
    nested ``when`` chain — column expression only.

    Rules (reference dbsink/tables.py:82-118): both coords in (-1,1) →
    bad; either coord exactly 0 ("null island") → bad; coord in an
    explicit disallow list (e.g. lon 181 / lat 91 sentinels,
    tables.py:501-506) → bad; outside both the -180..180 and 0..360
    longitude frames → bad (STRICT bounds: the reference tests frame
    membership with shapely ``within``, which excludes the boundary, so
    lat = ±90 or lon = ±180/0/360 exactly is bad); imprecise source
    (Iridium fallback) → suspect; else good.
    """
    if isinstance(inprecise, bool):
        inprecise = F.lit(inprecise)
    bad = ((lon > -1) & (lon < 1) & (lat > -1) & (lat < 1)) | (lon == 0) | (lat == 0)
    if disallow_lon:
        bad = bad | lon.isin(*[float(x) for x in disallow_lon])
    if disallow_lat:
        bad = bad | lat.isin(*[float(x) for x in disallow_lat])
    in_180 = (lon > -180) & (lon < 180) & (lat > -90) & (lat < 90)
    in_360 = (lon > 0) & (lon < 360) & (lat > -90) & (lat < 90)
    bad = bad | ~(in_180 | in_360)
    return (
        F.when(bad, F.lit(QC_BAD))
        .when(inprecise, F.lit(QC_SUSPECT))
        .otherwise(F.lit(QC_GOOD))
    )


def location_quality_py(
    lon: float,
    lat: float,
    inprecise: bool = False,
    disallow_lon: list[float] | None = None,
    disallow_lat: list[float] | None = None,
) -> int:
    """Python twin of :func:`location_quality` for the row-level
    mapping transforms (identical rule order)."""
    if -1 < lon < 1 and -1 < lat < 1:
        return QC_BAD
    if lon == 0 or lat == 0:
        return QC_BAD
    if disallow_lon and lon in disallow_lon:
        return QC_BAD
    if disallow_lat and lat in disallow_lat:
        return QC_BAD
    in_180 = -180 < lon < 180 and -90 < lat < 90
    in_360 = 0 < lon < 360 and -90 < lat < 90
    if not (in_180 or in_360):
        return QC_BAD
    if inprecise:
        return QC_SUSPECT
    return QC_GOOD


def degmin_to_decimal(deg: float, minutes: float) -> float:
    """Iridium header degrees+minutes → decimal degrees (reference
    dbsink/tables.py:411-417)."""
    return float(deg) + float(minutes) / 60


def geojson_features(geojson) -> list[dict]:
    """Normalize FeatureCollection / bare geometry / single Feature to
    a feature list (reference dbsink/tables.py:247-262); accepts
    stringified GeoJSON."""
    import json as _json

    if isinstance(geojson, str):
        geojson = _json.loads(geojson)
    if "features" in geojson:
        return geojson["features"]
    if "coordinates" in geojson:
        return [{"type": "Feature", "properties": {}, "geometry": geojson}]
    if "geometry" in geojson:
        return [geojson]
    return []


def _coords_wkt(coords) -> str:
    if not isinstance(coords, (list, tuple)):
        return str(coords)
    if coords and not isinstance(coords[0], (list, tuple)):
        return " ".join(str(c) for c in coords)
    return "(" + ", ".join(_coords_wkt(c) for c in coords) + ")"


def geometry_to_wkt(geom: dict) -> str:
    """GeoJSON geometry dict → WKT string (Point/LineString/Polygon and
    Multi* variants)."""
    gtype = geom["type"]
    coords = geom["coordinates"]
    if gtype == "Point":
        return f"POINT ({_coords_wkt(coords)})"
    if gtype in ("LineString", "MultiPoint"):
        return f"{gtype.upper()} ({', '.join(_coords_wkt(c) for c in coords)})"
    if gtype in ("Polygon", "MultiLineString"):
        return f"{gtype.upper()} ({', '.join(_coords_wkt(c) for c in coords)})"
    if gtype == "MultiPolygon":
        return f"MULTIPOLYGON ({', '.join(_coords_wkt(c) for c in coords)})"
    raise ValueError(f"unsupported geometry type {gtype}")


def union_features_wkt(features: list[dict]) -> str | None:
    """Merge feature geometries into one WKT (in-engine dissolve).

    The reference dissolves geometries with shapely ``unary_union``
    (dbsink/tables.py:266-269). Tiered behavior:

    1. shapely importable → exact ``unary_union`` parity (noding,
       overlap dissolve, everything).
    2. fallback (this environment): exact-duplicate geometries are
       deduplicated; crossing LineStrings are NODED in-engine
       (functions/noding.py: segments split at every intersection —
       the unary_union piece set) and N single-ring SIMPLE polygons
       (convex or not) are DISSOLVED in-engine (noded boundary-walk
       union, pairwise-merged to fixpoint); remaining same-type
       features assemble into the MULTI* geometry — identical to
       ``unary_union`` for disjoint inputs. So disjoint LineStrings
       assemble into one MULTILINESTRING, one piece per line, while
       LineStrings that cross or touch come out noded.
    3. residual cases the pure-python path declines (input polygons
       with interior rings, non-simple rings, unions that enclose a
       hole): the assembled MULTI* is dissolved at the database
       boundary — the ``geometry_union`` bind wraps the insert in
       PostGIS ``ST_UnaryUnion`` (the same GEOS unary_union the
       reference calls via shapely), a no-op when the in-engine result
       is already dissolved. Stored geometry therefore matches the
       reference in ALL cases.
    """
    geoms = [f["geometry"] for f in features if f.get("geometry")]
    if not geoms:
        return None
    try:  # exact reference parity when a geometry engine is present
        from shapely.geometry import shape
        from shapely.ops import unary_union

        return unary_union([shape(g) for g in geoms]).wkt
    except ImportError:
        pass
    # dedupe exact duplicates (unary_union merges identical geometries)
    seen: set[str] = set()
    wkts: list[str] = []
    kinds: list[str] = []
    uniq: list[dict] = []
    for g in geoms:
        w = geometry_to_wkt(g)
        if w not in seen:
            seen.add(w)
            wkts.append(w)
            kinds.append(g["type"])
            uniq.append(g)
    if len(wkts) == 1:
        return wkts[0]
    if all(k == "Point" for k in kinds):
        return "MULTIPOINT (" + ", ".join(w[len("POINT ") :] for w in wkts) + ")"
    if all(k == "LineString" for k in kinds):
        noded = _node_crossing_lines([g["coordinates"] for g in uniq])
        if noded is not None:
            return noded
        return (
            "MULTILINESTRING ("
            + ", ".join(w[len("LINESTRING ") :] for w in wkts)
            + ")"
        )
    if all(k == "Polygon" for k in kinds):
        dissolved = _dissolve_polygons([g["coordinates"] for g in uniq])
        if dissolved is not None:
            return dissolved
        return "MULTIPOLYGON (" + ", ".join(w[len("POLYGON ") :] for w in wkts) + ")"
    return "GEOMETRYCOLLECTION (" + ", ".join(wkts) + ")"


def _fmt_pt(p) -> str:
    def n(x):
        return str(int(x)) if float(x) == int(x) else str(float(x))

    return f"{n(p[0])} {n(p[1])}"


def _node_crossing_lines(lines) -> str | None:
    """In-engine unary_union for INTERACTING LineStrings: returns the
    noded MULTILINESTRING, or None when no pair of segments crosses,
    T-touches, or collinearly overlaps (the assembly path is already
    exact for those inputs)."""
    from .noding import _segments, _segs_interact, node_linestrings

    segs = _segments(lines)
    crossing = False
    for i in range(len(segs)):
        for k in range(i + 1, len(segs)):
            if _segs_interact(segs[i], segs[k]):
                crossing = True
                break
        if crossing:
            break
    if not crossing:
        return None
    pieces = node_linestrings(lines)
    return (
        "MULTILINESTRING ("
        + ", ".join("(" + ", ".join(_fmt_pt(p) for p in piece) + ")" for piece in pieces)
        + ")"
    )


def _dedup_ring(ring):
    """Ring without its closing point or consecutive duplicates (the
    shape :func:`_is_simple_ring` expects)."""
    pts = [tuple(p) for p in ring]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    out = []
    for p in pts:
        if not out or p != out[-1]:
            out.append(p)
    return out


def _dissolve_polygons(polys) -> str | None:
    """In-engine unary_union for N SIMPLE single-ring polygons
    (convex or not): pairwise-merge-to-fixpoint over the noded
    boundary arrangement (noding.union_many_simple_polygons). None
    when inputs carry holes, are not simple, the union would enclose
    a hole, or nothing interacts (assembly — exact for disjoint — or
    DB-side dissolve handles those)."""
    from .noding import _is_simple_ring, union_many_simple_polygons

    if len(polys) < 2:
        return None
    rings = []
    for p in polys:
        if len(p) != 1:  # holes → decline
            return None
        rings.append(p[0])
    if not all(_is_simple_ring(_dedup_ring(r)) for r in rings):
        return None
    try:
        kind, out = union_many_simple_polygons(rings)
    except ValueError:
        return None
    if kind == "polygon":
        return "POLYGON ((" + ", ".join(_fmt_pt(p) for p in out) + "))"
    if kind == "multipolygon":
        return "MULTIPOLYGON (" + ", ".join(
            "((" + ", ".join(_fmt_pt(p) for p in ring) + "))" for ring in out
        ) + ")"
    return None  # unchanged: disjoint inputs, assembly already exact
