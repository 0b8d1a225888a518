"""GEOS-op subset: convex hull, polygon boolean ops, buffers.

Reference: the GEOS-delegated geo operators — ST_Union / ST_Difference /
ST_Intersection / ST_Buffer / ST_ConvexHull — translated in
QueryEngine/RelAlgTranslatorGeo.cpp:333-337,810-819 and executed through
QueryEngine/GeosRuntime.cpp. This module reimplements the computational
geometry directly (no GEOS dependency):

- ST_ConvexHull: Andrew monotone chain over the vertex set.
- ST_ConcaveHull: Moreira-Santos k-nearest-neighbors boundary walk
  (auto-escalating k), the shape GEOS' concave-hull family
  approximates.
- ST_Union / ST_Intersection / ST_Difference: exact boolean overlay of
  simple polygons (holes included, even-odd) via trapezoid
  decomposition — slab the plane at every vertex y and every pairwise
  edge-intersection y; inside each slab no edges cross, so coverage per
  polygon is a parity sweep over the slab-spanning edges and the result
  region is a set of trapezoids. Output is a MULTIPOLYGON of those
  trapezoids: area/containment-exact for straight-edge geometry (GEOS
  answers the same queries from a different decomposition).
- ST_Buffer(LINESTRING|POLYGON): union (same sweep, any-shape-covers
  rule) of per-segment rectangles and per-vertex n-gon discs — the
  polygonal buffer with the standard circle-to-n-gon approximation
  (point case: functions/geo.py st_buffer_point).

These are geometry-LOCAL kernels: each row's polygons are a few dozen
vertices, so the right Spark shape is an Arrow-batched pandas UDF per
row (SURVEY.md sanctions pandas UDFs for per-geometry math like
Jaro-Winkler); the dataset stays distributed, nothing shuffles. The
O(E^2) intersection probe per row is over single-geometry edge counts,
not data size.

Geometry encoding matches functions/geo.py: point struct<x,y>, ring
array<point>, POLYGON array<ring> (ring 0 outer, rest holes),
MULTIPOLYGON array<polygon>.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

POINT_T = StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType())]
)
RING_T = ArrayType(POINT_T)
POLYGON_T = ArrayType(RING_T)
MULTIPOLYGON_T = ArrayType(POLYGON_T)

_EPS = 1e-12


# ----------------------------------------------------------- plain-python core


def _xy(q) -> tuple[float, float]:
    """One Arrow point: a {'x','y'} mapping on the usual batch path,
    or a positional (x, y) row when Catalyst constant-folds the input
    (literal-geometry SQL shapes reach the UDF as numpy records)."""
    try:
        return (float(q["x"]), float(q["y"]))
    except (TypeError, IndexError, KeyError):
        return (float(q[0]), float(q[1]))


def _norm_poly(p) -> list[list[tuple[float, float]]]:
    """Arrow polygon (sequence of sequences of {'x','y'}) -> list of
    open rings [(x, y), ...] (drop a repeated closing vertex)."""
    rings = []
    for ring in p:
        pts = [_xy(q) for q in ring]
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]
        rings.append(pts)
    return rings


def _shoelace(ring) -> float:
    s = 0.0
    n = len(ring)
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        s += ax * by - bx * ay
    return s / 2.0


def _edges(rings, shape_id):
    """Cyclic non-horizontal edges of every ring, tagged with the
    owning shape (horizontal edges lie on slab boundaries and never
    cross a slab midline)."""
    out = []
    for ring in rings:
        n = len(ring)
        for i in range(n):
            a, b = ring[i], ring[(i + 1) % n]
            if a[1] != b[1]:
                out.append((a, b, shape_id))
    return out


def _intersection_y(e1, e2):
    (x1, y1), (x2, y2) = e1[0], e1[1]
    (x3, y3), (x4, y4) = e2[0], e2[1]
    d = (x2 - x1) * (y4 - y3) - (y2 - y1) * (x4 - x3)
    if d == 0.0:
        return None
    t = ((x3 - x1) * (y4 - y3) - (y3 - y1) * (x4 - x3)) / d
    u = ((x3 - x1) * (y2 - y1) - (y3 - y1) * (x2 - x1)) / d
    if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
        return y1 + t * (y2 - y1)
    return None


def _boolean_trapezoids(shapes, keep):
    """Boolean overlay core. `shapes`: list of ring-lists (each shape
    even-odd over its rings). `keep(parities)` decides whether the
    region between two sweep edges belongs to the result. Returns a
    MULTIPOLYGON (list of single-ring trapezoid polygons)."""
    edges = []
    for sid, rings in enumerate(shapes):
        edges.extend(_edges(rings, sid))
    ys = set()
    for a, b, _ in edges:
        ys.add(a[1])
        ys.add(b[1])
    for i in range(len(edges)):
        for j in range(i + 1, len(edges)):
            y = _intersection_y(edges[i], edges[j])
            if y is not None:
                ys.add(y)
    ys = sorted(ys)
    n_shapes = len(shapes)
    quads = []
    for y0, y1 in zip(ys, ys[1:]):
        if y1 - y0 <= _EPS:
            continue
        ym = 0.5 * (y0 + y1)
        span = []
        for a, b, sid in edges:
            lo, hi = (a[1], b[1]) if a[1] < b[1] else (b[1], a[1])
            if lo < ym < hi:
                inv = 1.0 / (b[1] - a[1])

                def xat(y, a=a, b=b, inv=inv):
                    return a[0] + (b[0] - a[0]) * (y - a[1]) * inv

                span.append((xat(ym), xat(y0), xat(y1), sid))
        span.sort()
        parity = [False] * n_shapes
        for k in range(len(span) - 1):
            sid = span[k][3]
            parity[sid] = not parity[sid]
            if keep(parity):
                ring = [
                    (span[k][1], y0),
                    (span[k + 1][1], y0),
                    (span[k + 1][2], y1),
                    (span[k][2], y1),
                ]
                if abs(_shoelace(ring)) > _EPS:
                    quads.append([ring])
    return quads


def _to_arrow_mp(quads):
    return [
        [[{"x": x, "y": y} for (x, y) in ring] for ring in poly]
        for poly in quads
    ]


def _hull_points(points) -> list[tuple[float, float]]:
    """Andrew monotone chain; returns the CCW hull ring (no repeated
    closing vertex, collinear boundary points dropped)."""
    pts = sorted(set(points))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def _concave_hull_points(points, k) -> list[tuple[float, float]]:
    """k-nearest-neighbors concave hull (Moreira & Santos 2007,
    the algorithm GEOS' ST_ConcaveHull family approximates): walk the
    boundary from the lowest point, at each step choosing among the k
    nearest unvisited points the one making the sharpest clockwise turn
    that does not cross the boundary built so far; if the walk strands
    or leaves points outside, retry with k+1. Deterministic: ties break
    on (angle, distance, x, y). Falls back to the convex hull when k
    exceeds the point count."""
    import math

    pts = sorted(set(points))
    if len(pts) <= 3:
        return pts
    k = max(3, min(k, len(pts) - 1))

    def segs_cross(a, b, c, d):
        def orient(p, q, r):
            v = (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])
            return 0 if abs(v) < _EPS else (1 if v > 0 else -1)

        o1, o2 = orient(a, b, c), orient(a, b, d)
        o3, o4 = orient(c, d, a), orient(c, d, b)
        return o1 != o2 and o3 != o4 and 0 not in (o1, o2, o3, o4)

    def point_in_ring(p, ring):
        # even-odd ray cast; boundary points count as inside
        x, y = p
        inside = False
        n = len(ring)
        for i in range(n):
            (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
            if (
                min(x1, x2) - _EPS <= x <= max(x1, x2) + _EPS
                and min(y1, y2) - _EPS <= y <= max(y1, y2) + _EPS
                and abs((x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)) < 1e-9
            ):
                return True
            if (y1 > y) != (y2 > y):
                xi = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                if x < xi:
                    inside = not inside
        return inside

    start = min(pts, key=lambda p: (p[1], p[0]))
    while k < len(pts):
        hull = [start]
        used = {start}
        prev_angle = math.pi  # incoming direction: walk starts heading +x
        cur = start
        ok = True
        for _ in range(len(pts) * 2 + 4):
            if len(hull) >= 4 and cur == start:
                break
            cand = sorted(
                (p for p in pts if p not in used or (p == start and len(hull) >= 4)),
                key=lambda p: (p[0] - cur[0]) ** 2 + (p[1] - cur[1]) ** 2,
            )[:k]
            best = None
            scored = []
            for p in cand:
                ang = math.atan2(p[1] - cur[1], p[0] - cur[0])
                # clockwise turn magnitude from the incoming direction
                turn = (prev_angle - ang) % (2 * math.pi)
                scored.append((-turn, (p[0] - cur[0]) ** 2 + (p[1] - cur[1]) ** 2, p))
            for _, _, p in sorted(scored):
                crosses = any(
                    segs_cross(cur, p, hull[i], hull[i + 1])
                    for i in range(len(hull) - 2)
                )
                if not crosses:
                    best = p
                    break
            if best is None:
                ok = False
                break
            hull.append(best)
            prev_angle = math.atan2(cur[1] - best[1], cur[0] - best[0])
            used.add(best)
            cur = best
        else:
            ok = False
        if ok and cur == start:
            ring = hull[:-1]
            if all(point_in_ring(p, ring) for p in pts):
                return ring
        k += 1
    return _hull_points(pts)


def _ngon(cx, cy, r, n):
    import math

    return [
        (cx + r * math.cos(2 * math.pi * i / n),
         cy + r * math.sin(2 * math.pi * i / n))
        for i in range(n)
    ]


def _segment_rect(a, b, r):
    import math

    dx, dy = b[0] - a[0], b[1] - a[1]
    ln = math.hypot(dx, dy)
    if ln == 0.0:
        return None
    nx, ny = -dy / ln * r, dx / ln * r
    return [
        (a[0] + nx, a[1] + ny),
        (b[0] + nx, b[1] + ny),
        (b[0] - nx, b[1] - ny),
        (a[0] - nx, a[1] - ny),
    ]


def _buffer_shapes(rings, r, n_segments, closed, include_base):
    """Shape set whose union is the buffered geometry: per-segment
    rectangles + per-vertex discs (+ the base polygon for closed
    geometry)."""
    shapes = []
    if include_base:
        shapes.append(rings)
    for ring in rings:
        n = len(ring)
        last = n if closed else n - 1
        for i in range(last):
            rect = _segment_rect(ring[i], ring[(i + 1) % n], r)
            if rect is not None:
                shapes.append([rect])
        for p in ring:
            shapes.append([_ngon(p[0], p[1], r, n_segments)])
    return shapes


# ------------------------------------------------------------- Column surface
#
# One Arrow-batched pandas kernel per operation, shared by the Column
# API and by the SQL names `register_all` registers (reference surface:
# ST_Union/ST_Buffer as SQL functions through the GEOS runtime).


@F.pandas_udf(POLYGON_T)
def _hull(s: pd.Series) -> pd.Series:
    out = []
    for p in s:
        hull = _hull_points([_xy(q) for q in p])
        out.append([[{"x": x, "y": y} for (x, y) in hull]])
    return pd.Series(out)


def st_convexhull(pts: Column) -> Column:
    """ST_ConvexHull(MULTIPOINT) -> POLYGON (single CCW ring).
    RelAlgTranslatorGeo.cpp:810-819 GEOS delegation, reimplemented as
    monotone chain in a pandas UDF (geometry-local)."""
    return _hull(pts)


def _concave_udf(k: int):
    """Shared pandas-UDF factory for the concave hull — the Column API
    and the SQL registration must use the same kernel body."""

    @F.pandas_udf(POLYGON_T)
    def _chull_udf(s: pd.Series) -> pd.Series:
        out = []
        for p in s:
            ring = _concave_hull_points(
                [_xy(q) for q in p], k
            )
            out.append([[{"x": x, "y": y} for (x, y) in ring]])
        return pd.Series(out)

    return _chull_udf


def st_concavehull(pts: Column, k: int = 3) -> Column:
    """ST_ConcaveHull(MULTIPOINT, k) -> POLYGON (single ring).
    RelAlgTranslatorGeo.cpp:336,819-825 GEOS delegation, reimplemented
    as the Moreira-Santos k-NN boundary walk in a pandas UDF
    (geometry-local); k is the neighbor budget (larger k → closer to
    the convex hull), auto-escalated until the walk closes with every
    point enclosed."""
    return _concave_udf(k)(pts)


def _overlay(keep):
    @F.pandas_udf(MULTIPOLYGON_T)
    def _udf(sa: pd.Series, sb: pd.Series) -> pd.Series:
        out = []
        for pa, pb in zip(sa, sb):
            quads = _boolean_trapezoids(
                [_norm_poly(pa), _norm_poly(pb)], keep
            )
            out.append(_to_arrow_mp(quads))
        return pd.Series(out)

    return _udf


_UNION = _overlay(lambda p: p[0] or p[1])
_INTERSECTION = _overlay(lambda p: p[0] and p[1])
_DIFFERENCE = _overlay(lambda p: p[0] and not p[1])


def st_union(a: Column, b: Column) -> Column:
    """ST_Union(POLYGON, POLYGON) -> MULTIPOLYGON of trapezoids
    covering exactly the union region (RelAlgTranslatorGeo.cpp:333
    GEOS ST_Union)."""
    return _UNION(a, b)


def st_intersection(a: Column, b: Column) -> Column:
    """ST_Intersection(POLYGON, POLYGON) -> MULTIPOLYGON (exact, vs the
    envelope-only pre-pass in functions/geo.py st_intersection_bbox)."""
    return _INTERSECTION(a, b)


def st_difference(a: Column, b: Column) -> Column:
    """ST_Difference(POLYGON, POLYGON) -> MULTIPOLYGON
    (RelAlgTranslatorGeo.cpp:334 GEOS ST_Difference)."""
    return _DIFFERENCE(a, b)


def st_buffer_linestring(
    ls: Column, radius: float, n_segments: int = 8
) -> Column:
    """ST_Buffer(LINESTRING, r) -> MULTIPOLYGON: union of per-segment
    rectangles and per-vertex n-gon discs (GeosRuntime.cpp ST_Buffer;
    discs carry the usual n-gon approximation)."""

    @F.pandas_udf(MULTIPOLYGON_T)
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for line in s:
            pts = [_xy(q) for q in line]
            shapes = _buffer_shapes(
                [pts], radius, n_segments, closed=False, include_base=False
            )
            quads = _boolean_trapezoids(shapes, any)
            out.append(_to_arrow_mp(quads))
        return pd.Series(out)

    return _udf(ls)


def st_buffer_polygon(
    poly: Column, radius: float, n_segments: int = 8
) -> Column:
    """ST_Buffer(POLYGON, r) -> MULTIPOLYGON: union of the polygon with
    per-edge rectangles and per-vertex discs over every ring — holes
    shrink by r exactly as a positive buffer should (their edge
    buffers encroach inward)."""

    @F.pandas_udf(MULTIPOLYGON_T)
    def _udf(s: pd.Series) -> pd.Series:
        out = []
        for p in s:
            rings = _norm_poly(p)
            shapes = _buffer_shapes(
                rings, radius, n_segments, closed=True, include_base=True
            )
            quads = _boolean_trapezoids(shapes, any)
            out.append(_to_arrow_mp(quads))
        return pd.Series(out)

    return _udf(poly)


# ----------------------------------------------------- SQL declarations
#
# The SQL buffer forms bind the radius per row. The dialect rewrites
# single-name ST_Buffer(g, r) to one of them by static geometry tag
# (RelAlgTranslatorGeo.cpp:810-819 overloads by type): st_buffer_line
# takes the bare point path (element_at(g, 1) of a normalized
# geometry), st_buffer_poly the ring array, st_buffer_any dispatches at
# runtime when the tag is not statically known.


@F.pandas_udf(MULTIPOLYGON_T)
def _buffer_line(sl: pd.Series, sr: pd.Series) -> pd.Series:
    out = []
    for line, rad in zip(sl, sr):
        pts = [_xy(q) for q in line]
        shapes = _buffer_shapes(
            [pts], float(rad), 8, closed=False, include_base=False
        )
        out.append(_to_arrow_mp(_boolean_trapezoids(shapes, any)))
    return pd.Series(out)


@F.pandas_udf(MULTIPOLYGON_T)
def _buffer_poly(sp: pd.Series, sr: pd.Series) -> pd.Series:
    out = []
    for p, rad in zip(sp, sr):
        rings = _norm_poly(p)
        shapes = _buffer_shapes(
            rings, float(rad), 8, closed=True, include_base=True
        )
        out.append(_to_arrow_mp(_boolean_trapezoids(shapes, any)))
    return pd.Series(out)


@F.pandas_udf(MULTIPOLYGON_T)
def _buffer_any(sg: pd.Series, sr: pd.Series) -> pd.Series:
    # Runtime tag dispatch over the normalized ARRAY<ARRAY<point>>
    # form: 1 ring of 1 point = POINT; 1 open ring = LINESTRING;
    # anything closed or multi-ring = POLYGON. Used by the dialect's
    # single-name ST_Buffer when the static tag is unknown.
    out = []
    for g, rad in zip(sg, sr):
        if g is None or len(g) == 0:
            out.append([])
            continue
        raw0 = list(g[0]) if len(g) else []
        wkt_closed = len(g) > 1 or (
            len(raw0) > 1
            and _xy(raw0[0]) == _xy(raw0[-1])
        )
        rings = _norm_poly(g)
        rad = float(rad)
        if len(rings) == 1 and len(rings[0]) == 1:
            # 32-gon, matching the registered ST_Buffer(point, r)
            # SQL form — the same point must buffer identically on
            # the static and runtime dispatch routes
            x, y = rings[0][0]
            shapes = [[_ngon(x, y, rad, 32)]]
        elif not wkt_closed:
            shapes = _buffer_shapes(
                rings, rad, 8, closed=False, include_base=False
            )
        else:
            shapes = _buffer_shapes(
                rings, rad, 8, closed=True, include_base=True
            )
        out.append(_to_arrow_mp(_boolean_trapezoids(shapes, any)))
    return pd.Series(out)


# The family's declarations for `register_all` (functions/__init__.py).
# The SQL form of the concave hull fixes k=3 (a SQL function cannot
# take a Python int); the Column API exposes the full neighbor budget.
FUNCTIONS = {
    "st_convexhull": _hull,
    "st_concavehull": _concave_udf(3),
    "st_buffer_line": _buffer_line,
    "st_buffer_poly": _buffer_poly,
    "st_buffer_any": _buffer_any,
    "st_union": _UNION,
    "st_intersection": _INTERSECTION,
    "st_difference": _DIFFERENCE,
}
