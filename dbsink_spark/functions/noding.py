"""Pure-python geometry noding + dissolve for the in-engine union
fallback (G3 completion, reference dbsink/tables.py:266-269).

The reference dissolves member geometries with shapely's
``unary_union``; this environment has no shapely, so crossing inputs
previously fell through to an assembled-but-unmerged MULTI* that the
sink's ``ST_UnaryUnion`` bind fixed up at the database boundary. This
module closes the in-engine gap for the crossing shapes that occur in
telemetry dissolves:

* **Line noding** (``node_linestrings``): every segment is split at
  its intersection points with every other segment (proper crossings,
  T-touches, and collinear overlaps — overlapping collinear pieces
  node at each other's endpoints and deduplicate), the piece set GEOS
  produces for a unary_union of crossing lines. O(S^2) pairwise
  intersection over the member segments: member geometries per row are
  feature-sized (device trajectories), never corpus-sized, so the
  quadratic term is bounded per row and rows parallelize across the
  cluster.
* **Convex-polygon dissolve** (``union_convex_polygons``): the union
  of two convex rings via the boundary arrangement — node both rings
  against each other, keep the boundary pieces not interior to the
  other polygon (shared collinear pieces kept once when the interiors
  lie on the same side, dropped when interiors merge across), stitch
  the kept directed pieces into loops. Handles overlap, containment,
  edge-sharing, corner-touch, and disjoint inputs uniformly.

Exact arithmetic: intersections are computed in ``fractions.Fraction``
and rendered through float, so goldens are reproducible bit-for-bit.
Goldens in tests/test_functions.py are analytically derived (no
shapely in this environment); each records its derivation.
"""

from __future__ import annotations

from fractions import Fraction


def _f(x) -> Fraction:
    return x if isinstance(x, Fraction) else Fraction(x).limit_denominator(10**12)


def _seg_nodes(p1, p2, p3, p4):
    """Points ON segment p1p2 arising from its interaction with
    segment p3p4: the single crossing/touch point for non-parallel
    segments, or the endpoints of p3p4 that lie inside p1p2 for
    collinear overlaps. Always returns a (possibly empty) list."""
    (x1, y1), (x2, y2), (x3, y3), (x4, y4) = (
        (_f(p[0]), _f(p[1])) for p in (p1, p2, p3, p4)
    )
    dx1, dy1 = x2 - x1, y2 - y1
    dx2, dy2 = x4 - x3, y4 - y3
    denom = dx1 * dy2 - dy1 * dx2
    if denom == 0:
        cross = (x3 - x1) * dy1 - (y3 - y1) * dx1
        if cross != 0:
            return []  # parallel, not collinear
        out = []
        for px, py in ((x3, y3), (x4, y4)):
            if min(x1, x2) <= px <= max(x1, x2) and min(y1, y2) <= py <= max(
                y1, y2
            ):
                out.append((px, py))
        return out
    t = ((x3 - x1) * dy2 - (y3 - y1) * dx2) / denom
    u = ((x3 - x1) * dy1 - (y3 - y1) * dx1) / denom
    if 0 <= t <= 1 and 0 <= u <= 1:
        return [(x1 + t * dx1, y1 + t * dy1)]
    return []


def _segs_interact(s1, s2) -> bool:
    """True when noding the pair would change the piece set: a
    crossing/T-touch at a point that is not a shared endpoint, or a
    collinear overlap of positive length (including identical
    segments)."""
    (a, b), (c, d) = s1, s2
    ax, ay = _f(a[0]), _f(a[1])
    bx, by = _f(b[0]), _f(b[1])
    cx, cy = _f(c[0]), _f(c[1])
    dx_, dy_ = _f(d[0]), _f(d[1])
    dx1, dy1 = bx - ax, by - ay
    dx2, dy2 = dx_ - cx, dy_ - cy
    denom = dx1 * dy2 - dy1 * dx2
    if denom == 0:
        if (cx - ax) * dy1 - (cy - ay) * dx1 != 0:
            return False
        # collinear: positive-length overlap?
        def t(px, py):
            return (px - ax) * dx1 + (py - ay) * dy1

        lo, hi = sorted((t(cx, cy), t(dx_, dy_)))
        return min(hi, t(bx, by)) - max(lo, 0) > 0
    t_ = ((cx - ax) * dy2 - (cy - ay) * dx2) / denom
    u_ = ((cx - ax) * dy1 - (cy - ay) * dx1) / denom
    if not (0 <= t_ <= 1 and 0 <= u_ <= 1):
        return False
    p = (ax + t_ * dx1, ay + t_ * dy1)
    return not (p in ((ax, ay), (bx, by)) and p in ((cx, cy), (dx_, dy_)))


def _segments(lines):
    segs = []
    for line in lines:
        pts = [(_f(x), _f(y)) for x, y in line]
        for a, b in zip(pts, pts[1:]):
            if a != b:
                segs.append((a, b))
    return segs


def node_linestrings(lines: list[list[tuple]]) -> list[list[tuple]]:
    """Split every segment of ``lines`` at its intersections with all
    other segments (collinear overlaps node at each other's contained
    endpoints); return deduplicated two-point pieces as float
    coordinate lists, deterministically ordered."""
    segs = _segments(lines)
    cuts: list[list] = [[] for _ in segs]
    for i in range(len(segs)):
        for k in range(i + 1, len(segs)):
            cuts[i].extend(_seg_nodes(*segs[i], *segs[k]))
            cuts[k].extend(_seg_nodes(*segs[k], *segs[i]))
    pieces = set()
    for (a, b), pts in zip(segs, cuts):
        dx, dy = b[0] - a[0], b[1] - a[1]

        def along(p):
            return (p[0] - a[0]) * dx + (p[1] - a[1]) * dy

        chain = sorted({a, b, *pts}, key=along)
        for u, v in zip(chain, chain[1:]):
            if u != v:
                pieces.add((u, v) if (u, v) <= (v, u) else (v, u))
    out = sorted(pieces)
    return [[(float(u[0]), float(u[1])), (float(v[0]), float(v[1]))] for u, v in out]


def _ring_ccw(ring):
    """Ring as CCW-oriented Fraction vertex list, closing point
    dropped."""
    pts = [(_f(x), _f(y)) for x, y in ring]
    if pts[0] == pts[-1]:
        pts = pts[:-1]
    area2 = sum(
        pts[i][0] * pts[(i + 1) % len(pts)][1] - pts[(i + 1) % len(pts)][0] * pts[i][1]
        for i in range(len(pts))
    )
    if area2 == 0:
        raise ValueError("degenerate ring")
    return pts if area2 > 0 else pts[::-1]


def _point_in_ring(pt, ring):
    """-1 outside, 0 on boundary, 1 strictly inside, for ANY simple
    ring (either orientation). Exact ray cast (+x direction,
    half-open vertex rule) in Fraction arithmetic."""
    x, y = pt
    inside = False
    n = len(ring)
    for i in range(n):
        a, b = ring[i], ring[(i + 1) % n]
        # boundary?
        cross = (b[0] - a[0]) * (y - a[1]) - (b[1] - a[1]) * (x - a[0])
        if (
            cross == 0
            and min(a[0], b[0]) <= x <= max(a[0], b[0])
            and min(a[1], b[1]) <= y <= max(a[1], b[1])
        ):
            return 0
        if (a[1] > y) != (b[1] > y):
            # exact x of the edge at height y
            xi = a[0] + (y - a[1]) * (b[0] - a[0]) / (b[1] - a[1])
            if xi > x:
                inside = not inside
    return 1 if inside else -1


def _is_simple_ring(ring) -> bool:
    """True when the (unclosed, deduplicated) ring is a simple
    polygon: non-adjacent edges never interact, adjacent edges share
    only their common vertex."""
    n = len(ring)
    if n < 3:
        return False
    edges = [(ring[i], ring[(i + 1) % n]) for i in range(n)]
    for i in range(n):
        for k in range(i + 1, n):
            a, b = edges[i]
            c, d = edges[k]
            shared = {a, b} & {c, d}
            if shared:
                # adjacent: the single shared vertex must be the only
                # contact (no collinear fold-back / spike)
                pts = set(_seg_nodes(a, b, c, d)) | set(_seg_nodes(c, d, a, b))
                if pts - shared:
                    return False
            elif _segs_interact(edges[i], edges[k]) or _seg_nodes(a, b, c, d):
                return False
    return True


def _ccw_key(d):
    """Sortable pseudo-angle key for a nonzero Fraction direction,
    increasing counterclockwise from +x over [0, 2π)."""
    dx, dy = d
    if dx > 0 and dy >= 0:
        return (0, dy / dx)
    if dx <= 0 and dy > 0:
        return (1, -dx / dy)
    if dx < 0 and dy <= 0:
        return (2, dy / dx)
    return (3, -dx / dy)


def _collinear_alignment(m, direction, ring):
    """For a point ``m`` on ``ring``'s boundary: +1 / -1 when the ring
    edge through ``m`` is collinear with ``direction`` (aligned /
    opposed), or None when no collinear edge passes through ``m``
    (vertex point-touch)."""
    ux, uy = direction
    for k in range(len(ring)):
        c, d = ring[k], ring[(k + 1) % len(ring)]
        ex, ey = d[0] - c[0], d[1] - c[1]
        if (m[0] - c[0]) * ey - (m[1] - c[1]) * ex != 0:
            continue
        if not (
            min(c[0], d[0]) <= m[0] <= max(c[0], d[0])
            and min(c[1], d[1]) <= m[1] <= max(c[1], d[1])
        ):
            continue
        if ux * ey - uy * ex != 0:
            continue
        return 1 if ux * ex + uy * ey > 0 else -1
    return None


def union_simple_polygons(ring_a: list[tuple], ring_b: list[tuple]):
    """Union of two SIMPLE rings (convex or not) via the noded
    boundary arrangement.

    Returns ("polygon", ring) when the union boundary is one loop
    (overlap, containment, edge-sharing) — ring closed, CCW, float
    coords, lexicographically-smallest start — or
    ("multipolygon", [rings...]) when the interiors stay disconnected
    (disjoint or corner-touching inputs; GEOS's unary_union likewise
    returns MULTIPOLYGON for point-touches). Raises ValueError when
    the union encloses a hole (a CW loop in the arrangement) — the
    caller falls back to assembly + DB-side dissolve, which carries
    interior rings.

    Algorithm: node each ring's edges against the other ring; keep a
    directed piece when its midpoint is strictly outside the other
    polygon, or ON the other boundary with the interiors on the same
    side (collinear aligned edge — kept once via directed-edge
    dedupe; opposed direction means the interiors merge across the
    shared edge and BOTH copies drop); stitch kept pieces into loops,
    continuing at junctions with the RIGHTMOST turn relative to the
    incoming direction (the planar-arrangement face-walk rule), so
    pinch points split cleanly and touching-but-disconnected rings
    come back as separate loops.
    """
    A, B = _ring_ccw(ring_a), _ring_ccw(ring_b)
    kind, loops = _union_loops(A, B)
    if kind == "polygon":
        return "polygon", _close(loops[0])
    return "multipolygon", [_close(lp) for lp in sorted(loops, key=min)]


def _union_loops(A, B):
    """Core of :func:`union_simple_polygons` over CCW Fraction rings
    (unclosed): returns ("polygon", [loop]) or ("multipolygon",
    [loops...]) with loops as CCW Fraction vertex lists, so N-way
    union can chain pairwise results WITHOUT a float round-trip."""

    def pieces(ring, other):
        out = []
        n = len(ring)
        for i in range(n):
            a, b = ring[i], ring[(i + 1) % n]
            pts = {a, b}
            for k in range(len(other)):
                c, d = other[k], other[(k + 1) % len(other)]
                pts.update(_seg_nodes(a, b, c, d))
            dx, dy = b[0] - a[0], b[1] - a[1]
            chain = sorted(pts, key=lambda p: (p[0] - a[0]) * dx + (p[1] - a[1]) * dy)
            out.extend((u, v) for u, v in zip(chain, chain[1:]) if u != v)
        return out

    kept = set()  # directed pieces; set dedupes shared aligned copies
    for ring, other in ((A, B), (B, A)):
        for u, v in pieces(ring, other):
            m = ((u[0] + v[0]) / 2, (u[1] + v[1]) / 2)
            side = _point_in_ring(m, other)
            if side > 0:
                continue  # interior to the other polygon
            if side == 0:
                align = _collinear_alignment(m, (v[0] - u[0], v[1] - u[1]), other)
                if align == -1:
                    continue  # interiors merge across this shared edge
                # aligned shared edges dedupe below; vertex point-touch
                # (align None) stays on the union boundary
            kept.add((u, v))

    if not kept:
        raise ValueError("no boundary pieces kept (degenerate inputs)")

    succ: dict[tuple, list] = {}
    for u, v in kept:
        succ.setdefault(u, []).append(v)

    def rightmost(cur, incoming, candidates):
        """Next vertex continuing the face walk: first direction
        CLOCKWISE from the reversed incoming direction (exclusive), so
        the traversed face stays on the left."""
        ref = _ccw_key((incoming[0] * -1, incoming[1] * -1))
        scored = []
        for w in candidates:
            k = _ccw_key((w[0] - cur[0], w[1] - cur[1]))
            # clockwise distance from ref, in (0, 1]-normalized key space
            scored.append(((k >= ref), k, w))
        # keys < ref come first (closest clockwise), within each group
        # LARGER key = smaller clockwise distance
        below = sorted((s for s in scored if not s[0]), key=lambda s: s[1], reverse=True)
        above = sorted((s for s in scored if s[0]), key=lambda s: s[1], reverse=True)
        ordered = below + above
        return ordered[0][2]

    unused = set(kept)
    loops = []
    while unused:
        start = min(unused)
        u0, v = start
        unused.discard(start)
        loop = [u0]
        prev = u0
        cur = v
        guard = len(kept) + 2
        while cur != u0 and guard:
            guard -= 1
            loop.append(cur)
            candidates = [w for w in succ.get(cur, []) if (cur, w) in unused]
            if not candidates:
                raise ValueError("union stitch failed (open chain)")
            w = rightmost(cur, (cur[0] - prev[0], cur[1] - prev[1]), candidates)
            unused.discard((cur, w))
            prev, cur = cur, w
        if not guard:
            raise ValueError("union stitch failed to close")
        # orientation: CW loop = enclosed hole -> decline to assembly
        area2 = sum(
            loop[i][0] * loop[(i + 1) % len(loop)][1]
            - loop[(i + 1) % len(loop)][0] * loop[i][1]
            for i in range(len(loop))
        )
        if area2 <= 0:
            raise ValueError("union encloses a hole (CW loop)")
        loops.append(loop)
    if len(loops) == 1:
        return "polygon", loops
    return "multipolygon", loops


def union_many_simple_polygons(rings: list[list[tuple]]):
    """Union of N simple rings (convex or not) by pairwise merge to
    fixpoint — the general in-engine dissolve behind G3 (reference
    ``unary_union`` over arbitrary member polygons,
    dbsink/tables.py:266-269).

    Any pair whose union is a single loop (overlap, containment,
    edge-sharing) merges; the merged CCW Fraction loop re-enters the
    work list exactly (no float round-trip), so chained merges stay
    bit-reproducible. Pairs whose union stays disconnected (disjoint /
    corner-touch — GEOS likewise keeps MULTIPOLYGON) never merge, and
    each merge drops the ring count by one, so the loop terminates.

    Returns ("polygon", closed_ring), ("multipolygon",
    [closed_rings...]) when at least one merge happened, or
    ("unchanged", None) when no pair interacted (the caller's MULTI*
    assembly is already exact for disjoint inputs). Raises ValueError
    when any pairwise union encloses a hole or fails to stitch — the
    caller falls back to assembly + DB-side ``ST_UnaryUnion``, which
    carries interior rings.
    """
    work = [_ring_ccw(r) for r in rings]
    merged_any = False
    merged = True
    while merged and len(work) > 1:
        merged = False
        for i in range(len(work) - 1):
            for j in range(i + 1, len(work)):
                kind, loops = _union_loops(work[i], work[j])
                if kind == "polygon":
                    work = [w for k, w in enumerate(work) if k not in (i, j)]
                    work.append(loops[0])
                    merged = merged_any = True
                    break
            if merged:
                break
    if len(work) == 1:
        return "polygon", _close(work[0])
    if merged_any:
        return "multipolygon", [_close(w) for w in sorted(work, key=min)]
    return "unchanged", None


# convex pairs are a special case of the general arrangement union;
# the old name stays as an alias for callers/tests
union_convex_polygons = union_simple_polygons


def _close(ring):
    pts = [(float(x), float(y)) for x, y in ring]
    # canonical start: lexicographically smallest vertex
    j = min(range(len(pts)), key=lambda i: pts[i])
    pts = pts[j:] + pts[:j]
    return pts + [pts[0]]
