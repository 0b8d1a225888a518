"""Minimal geospatial subset (SURVEY.md §2.8 geo; declared scope).

Reference: QueryEngine/ExtensionFunctionsGeo.hpp (ST_Distance/ST_DWithin/
ST_Contains/ST_X/ST_Y/distance_in_meters...), Geospatial/ (~3.4k LoC).
Full OGC surface is out of core parity scope (Sedona territory); this
module covers the point-math subset used by the reference's own
benchmarks: point construction, coordinate access, euclidean and
haversine distances, ST_DWithin, and bounding-box containment — all as
plain Column expressions (codegen'd, oracle-checkable).

Representation: POINT = struct<x double, y double> (lon/lat for
geography). No WKB — at 100 TB you want columnar doubles, not parsed
strings.
"""

from __future__ import annotations

import math
import struct
from types import SimpleNamespace

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

from heavydb_spark import functions as _functions
from heavydb_spark.functions.render import _E, _SqlB

EARTH_RADIUS_M = 6372797.560856  # the reference's exact haversine
# radius (ExtensionFunctions.hpp distance_in_meters:445)


def st_point(x: Column, y: Column) -> Column:
    return F.struct(x.cast("double").alias("x"), y.cast("double").alias("y"))


def st_x(p: Column) -> Column:
    return p["x"]


def st_y(p: Column) -> Column:
    return p["y"]


def st_distance(a: Column, b: Column) -> Column:
    """Cartesian distance (ST_Distance on GEOMETRY points)."""
    dx = a["x"] - b["x"]
    dy = a["y"] - b["y"]
    return F.sqrt(dx * dx + dy * dy)


def st_distance_sphere(a: Column, b: Column) -> Column:
    """Haversine great-circle distance in meters (distance_in_meters,
    ExtensionFunctionsGeo.hpp) — x=lon, y=lat in degrees."""
    lat1, lat2 = F.radians(a["y"]), F.radians(b["y"])
    dlat = lat2 - lat1
    dlon = F.radians(b["x"]) - F.radians(a["x"])
    h = (
        F.pow(F.sin(dlat / 2), 2)
        + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin(dlon / 2), 2)
    )
    return 2 * EARTH_RADIUS_M * F.asin(F.sqrt(h))


def st_dwithin(a: Column, b: Column, dist: float) -> Column:
    return st_distance(a, b) <= dist


# ---------------------------------------------------------------- polygons
#
# POLYGON = array<ring>, ring = array<struct<x double, y double>>; ring 0
# is the outer boundary, later rings are holes (the reference's
# render-group layout, Geospatial/Types.h GeoPolygon). Rings may be open
# or closed (repeated first point contributes a zero-length edge — both
# forms give identical results). Columnar doubles, no WKB/WKT parsing,
# all higher-order-function Column expressions (JVM-side).
#
# Reference semantics: ST_Area / ST_Perimeter / ST_Centroid /
# ST_Contains in QueryEngine/ExtensionFunctionsGeo.hpp (area via
# triangle fan ~ shoelace; centroid area-weighted with hole subtraction;
# contains via winding/parity test). Shapes tested against
# Tests/GeospatialTest.cpp expectations in tests/test_operators.py.


def _ring_edge_terms(ring: Column, term) -> Column:
    """Map each cyclic edge (p_i, p_{i+1 mod n}) of `ring` to
    `term(a, b)` — the building block for shoelace sums, perimeter and
    ray casting."""
    return F.transform(
        ring,
        lambda p, i: term(
            p, F.element_at(ring, ((i + F.lit(1)) % F.size(ring)) + F.lit(1))
        ),
    )


def _fsum(arr: Column) -> Column:
    return F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v)


def ring_signed_area(ring: Column) -> Column:
    """0.5 * Σ (x_i·y_{i+1} − x_{i+1}·y_i): positive for CCW rings."""
    return (
        _fsum(
            _ring_edge_terms(
                ring, lambda a, b: a["x"] * b["y"] - b["x"] * a["y"]
            )
        )
        / 2.0
    )


def ring_perimeter(ring: Column) -> Column:
    return _fsum(
        _ring_edge_terms(
            ring,
            lambda a, b: F.sqrt(
                (a["x"] - b["x"]) * (a["x"] - b["x"])
                + (a["y"] - b["y"]) * (a["y"] - b["y"])
            ),
        )
    )


def st_area(poly: Column) -> Column:
    """|outer| minus Σ|holes| — orientation-independent, like the
    reference's ST_Area (ExtensionFunctionsGeo.hpp area functions)."""
    ring_areas = F.transform(poly, lambda r: F.abs(ring_signed_area(r)))
    outer = F.element_at(ring_areas, 1)
    return outer * 2 - _fsum(ring_areas)  # outer - (sum - outer)


def st_perimeter(poly: Column) -> Column:
    """Sum of all ring lengths (outer + holes), per OGC/PostGIS and the
    reference's ST_Perimeter."""
    return _fsum(F.transform(poly, ring_perimeter))


def st_centroid(poly: Column) -> Column:
    """Area-weighted centroid with holes subtracted; returns
    struct<x,y>. Per-ring centroid uses the standard shoelace moment
    (sign cancels, so it is orientation-independent); rings weight
    +|A| (outer) / −|A| (holes)."""

    def _moment(ring: Column, coord: str) -> Column:
        # Σ (c_i + c_{i+1}) · cross_i   — divided by 6·signed_area later
        return _fsum(
            _ring_edge_terms(
                ring,
                lambda a, b: (a[coord] + b[coord])
                * (a["x"] * b["y"] - b["x"] * a["y"]),
            )
        )

    # weighted sums over rings: w_r · centroid_r where w_r = ±|A_r|.
    # centroid_r = moment / (6·signed_A_r); w_r·centroid_r =
    # sign_flag · |A_r| · moment / (6·signed_A_r) = sign_flag·moment·
    # sign(A_r)/6 … fold the signs directly:
    def _weighted(coord: str) -> Column:
        terms = F.transform(
            poly,
            lambda r, i: F.when(
                i == 0, _moment(r, coord) * F.signum(ring_signed_area(r))
            ).otherwise(
                -_moment(r, coord) * F.signum(ring_signed_area(r))
            )
            / 6.0,
        )
        return _fsum(terms)

    area = st_area(poly)
    return F.struct(
        (_weighted("x") / area).alias("x"),
        (_weighted("y") / area).alias("y"),
    )


def st_contains_point(poly: Column, px: Column, py: Column) -> Column:
    """Even-odd ray cast over every ring's edges (hole edges flip
    parity, so a point inside a hole is outside the polygon) —
    ST_Contains(POLYGON, POINT). Points exactly on an edge follow
    half-open crossing semantics (consistent between engines; the
    reference treats boundaries similarly via its winding test)."""
    crossings = F.transform(
        poly,
        lambda ring: _fsum(
            _ring_edge_terms(
                ring,
                lambda a, b: F.when(
                    ((a["y"] > py) != (b["y"] > py))
                    & (
                        px
                        < a["x"]
                        + (b["x"] - a["x"]) * (py - a["y"]) / (b["y"] - a["y"])
                    ),
                    F.lit(1.0),
                ).otherwise(F.lit(0.0)),
            )
        ),
    )
    return (_fsum(crossings).cast("long") % 2) == 1


def st_polygon_bbox(poly: Column) -> Column:
    """struct<xmin,ymin,xmax,ymax> of the outer ring — the coarse
    filter for containment joins (BoundingBoxIntersectJoinHashTable.h)."""
    outer = F.element_at(poly, 1)
    xs = F.transform(outer, lambda p: p["x"])
    ys = F.transform(outer, lambda p: p["y"])
    return F.struct(
        F.array_min(xs).alias("xmin"),
        F.array_min(ys).alias("ymin"),
        F.array_max(xs).alias("xmax"),
        F.array_max(ys).alias("ymax"),
    )


def _poly_edges(poly: Column) -> Column:
    """All cyclic edges of every ring as structs (ax,ay,bx,by)."""
    return F.flatten(
        F.transform(
            poly,
            lambda ring: _ring_edge_terms(
                ring,
                lambda a, b: F.struct(
                    a["x"].alias("ax"),
                    a["y"].alias("ay"),
                    b["x"].alias("bx"),
                    b["y"].alias("by"),
                ),
            ),
        )
    )


def _segments_intersect(e1: Column, e2: Column) -> Column:
    """Segment intersection via the orientation method (proper crossing
    or collinear touch)."""

    def cross(ox, oy, ax, ay, bx, by):
        return (ax - ox) * (by - oy) - (ay - oy) * (bx - ox)

    p1x, p1y, p2x, p2y = e1["ax"], e1["ay"], e1["bx"], e1["by"]
    q1x, q1y, q2x, q2y = e2["ax"], e2["ay"], e2["bx"], e2["by"]
    d1 = cross(q1x, q1y, q2x, q2y, p1x, p1y)
    d2 = cross(q1x, q1y, q2x, q2y, p2x, p2y)
    d3 = cross(p1x, p1y, p2x, p2y, q1x, q1y)
    d4 = cross(p1x, p1y, p2x, p2y, q2x, q2y)
    proper = (((d1 > 0) & (d2 < 0)) | ((d1 < 0) & (d2 > 0))) & (
        ((d3 > 0) & (d4 < 0)) | ((d3 < 0) & (d4 > 0))
    )

    def on_seg(d, px, py, ax, ay, bx, by):
        return (
            (d == 0)
            & (px <= F.greatest(ax, bx))
            & (px >= F.least(ax, bx))
            & (py <= F.greatest(ay, by))
            & (py >= F.least(ay, by))
        )

    return (
        proper
        | on_seg(d1, p1x, p1y, q1x, q1y, q2x, q2y)
        | on_seg(d2, p2x, p2y, q1x, q1y, q2x, q2y)
        | on_seg(d3, q1x, q1y, p1x, p1y, p2x, p2y)
        | on_seg(d4, q2x, q2y, p1x, p1y, p2x, p2y)
    )


def st_intersects(pa: Column, pb: Column) -> Column:
    """ST_Intersects(POLYGON, POLYGON): filled regions overlap iff some
    boundary edges (any ring — holes included) intersect, or one
    polygon's outer-ring vertex lies strictly inside the other (full
    even-odd containment, so a polygon entirely inside the other's
    hole correctly does NOT intersect). ExtensionFunctionsGeo.hpp
    polygon-polygon intersects semantics."""
    ea, eb = _poly_edges(pa), _poly_edges(pb)
    edges_cross = F.exists(
        ea, lambda e1: F.exists(eb, lambda e2: _segments_intersect(e1, e2))
    )
    va = F.element_at(F.element_at(pa, 1), 1)
    vb = F.element_at(F.element_at(pb, 1), 1)
    return (
        edges_cross
        | st_contains_point(pa, vb["x"], vb["y"])
        | st_contains_point(pb, va["x"], va["y"])
    )


# -------------------------------------------------------------- linestrings
#
# LINESTRING = array<struct<x,y>> (open path — no closing edge, unlike
# rings). Geospatial/Types.h GeoLineString; ST_Length / ST_NPoints /
# ST_StartPoint / ST_EndPoint / ST_Distance(point, linestring) from
# ExtensionFunctionsGeo.hpp.


def _open_edges(ls: Column, term) -> Column:
    """term(a, b) over consecutive point pairs, NO wrap-around edge."""
    n = F.size(ls)
    return F.zip_with(
        F.slice(ls, 1, n - 1), F.slice(ls, 2, n - 1), term
    )


def st_length(ls: Column) -> Column:
    return _fsum(
        _open_edges(
            ls,
            lambda a, b: F.sqrt(
                (a["x"] - b["x"]) * (a["x"] - b["x"])
                + (a["y"] - b["y"]) * (a["y"] - b["y"])
            ),
        )
    )


def st_npoints(ls: Column) -> Column:
    return F.size(ls)


def st_startpoint(ls: Column) -> Column:
    return F.element_at(ls, 1)


def st_endpoint(ls: Column) -> Column:
    return F.element_at(ls, -1)


def st_distance_point_linestring(
    px: Column, py: Column, ls: Column
) -> Column:
    """Min distance from (px,py) to any segment: per-segment projection
    parameter t clamped to [0,1], then point-to-projection distance —
    the same segment walk as ST_Distance(POINT, LINESTRING)
    (ExtensionFunctionsGeo.hpp distance_point_line kernels)."""

    def seg_dist(a: Column, b: Column) -> Column:
        dx, dy = b["x"] - a["x"], b["y"] - a["y"]
        seg_len2 = dx * dx + dy * dy
        t_raw = ((px - a["x"]) * dx + (py - a["y"]) * dy) / seg_len2
        t = F.when(seg_len2 == 0, F.lit(0.0)).otherwise(
            F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
        )
        cx, cy = a["x"] + t * dx, a["y"] + t * dy
        return F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))

    return F.array_min(_open_edges(ls, seg_dist))


def st_geomfromtext_linestring(wkt: Column) -> Column:
    """'LINESTRING (x y, x y, ...)' -> array<struct<x,y>>."""
    body = F.regexp_replace(wkt, r"(?i)^\s*LINESTRING\s*\(", "")
    body = F.regexp_replace(body, r"\)\s*$", "")

    def parse_point(pt: Column) -> Column:
        parts = F.split(F.trim(pt), r"\s+")
        return F.struct(
            F.element_at(parts, 1).cast("double").alias("x"),
            F.element_at(parts, 2).cast("double").alias("y"),
        )

    return F.transform(F.split(body, ","), parse_point)


# ------------------------------------------------------------ WKT surface
#
# ST_GeomFromText / ST_AsText for POINT and POLYGON — the reference's
# WKT import/export path (Geospatial/Types.cpp GeoPoint/GeoPolygon WKT
# constructors). Parsing is pure Column expressions (regexp + split +
# transform); coordinates round-trip exactly (Spark's double<->string
# conversion is shortest-roundtrip).


def st_geomfromtext_point(wkt: Column) -> Column:
    """'POINT (x y)' -> struct<x,y>."""
    x = F.regexp_extract(wkt, r"(?i)POINT\s*\(\s*(\S+)\s+(\S+)\s*\)", 1)
    y = F.regexp_extract(wkt, r"(?i)POINT\s*\(\s*(\S+)\s+(\S+)\s*\)", 2)
    return F.struct(
        x.cast("double").alias("x"), y.cast("double").alias("y")
    )


def st_astext_point(p: Column) -> Column:
    return F.concat(
        F.lit("POINT ("),
        p["x"].cast("string"),
        F.lit(" "),
        p["y"].cast("string"),
        F.lit(")"),
    )


def _drop_closing_vertex(ring: Column) -> Column:
    """WKT rings repeat the first vertex at the end; the reference's
    stored form drops it (ST_NPoints('POLYGON((0 0,4 0,0 4,0 0))') = 3,
    Tests/GeospatialTest.cpp ST_NPoints block) — normalize on parse."""
    n = F.size(ring)
    closed = (n > 1) & (
        F.element_at(ring, 1) == F.element_at(ring, -1)
    )
    return F.when(closed, F.slice(ring, 1, n - 1)).otherwise(ring)


def st_geomfromtext_polygon(wkt: Column) -> Column:
    """'POLYGON ((x y, ...), (x y, ...))' -> array-of-rings; first ring
    outer, rest holes (OGC ring order, Geospatial/Types.cpp). A
    repeated closing vertex is dropped, matching the reference's
    stored representation."""
    body = F.regexp_replace(wkt, r"(?i)^\s*POLYGON\s*\(\s*\(", "")
    body = F.regexp_replace(body, r"\)\s*\)\s*$", "")
    rings = F.split(body, r"\)\s*,\s*\(")

    def parse_point(pt: Column) -> Column:
        parts = F.split(F.trim(pt), r"\s+")
        return F.struct(
            F.element_at(parts, 1).cast("double").alias("x"),
            F.element_at(parts, 2).cast("double").alias("y"),
        )

    return F.transform(
        rings,
        lambda r: _drop_closing_vertex(
            F.transform(F.split(r, ","), parse_point)
        ),
    )


def st_astext_polygon(poly: Column) -> Column:
    def ring_text(r: Column) -> Column:
        return F.concat(
            F.lit("("),
            F.array_join(
                F.transform(
                    r,
                    lambda p: F.concat(
                        p["x"].cast("string"), F.lit(" "), p["y"].cast("string")
                    ),
                ),
                ", ",
            ),
            F.lit(")"),
        )

    return F.concat(
        F.lit("POLYGON ("),
        F.array_join(F.transform(poly, ring_text), ", "),
        F.lit(")"),
    )


def st_transform_4326_900913(p: Column) -> Column:
    """ST_Transform(point, 900913): WGS-84 lon/lat -> Web Mercator
    meters, with the reference's exact constants
    (QueryEngine/ExtensionFunctions.hpp:402-409 conv_4326_900913_x/y)."""
    return F.struct(
        (p["x"] * 111319.490778).alias("x"),
        (
            6378136.99911
            * F.log(F.tan(0.00872664626 * p["y"] + 0.785398163397))
        ).alias("y"),
    )


def grid_cell(p: Column, cell_size: float) -> Column:
    """Grid-cell id for bucketed spatial joins (the Spark-side analogue
    of the reference's binned range-join hash, RangeJoinHashTable.h:21):
    equi-join on neighboring cells, then exact-distance verify."""
    return F.struct(
        F.floor(p["x"] / cell_size).cast("long").alias("cx"),
        F.floor(p["y"] / cell_size).cast("long").alias("cy"),
    )


def st_numrings(poly: Column) -> Column:
    """ST_NumRings (ExtensionFunctionsGeo.hpp ring-count accessors):
    outer ring + holes."""
    return F.size(poly)


def st_npoints_polygon(poly: Column) -> Column:
    """ST_NPoints over all rings of a polygon."""
    return _fsum(F.transform(poly, lambda r: F.size(r).cast("double"))).cast(
        "int"
    )


def st_buffer_point(
    p: Column, radius: float, n_segments: int = 16
) -> Column:
    """ST_Buffer(POINT, r) (reference delegates to GEOS,
    Geospatial/GeosRuntime.cpp): regular n-gon approximation of the
    radius-r disc, as a single-ring polygon. Deterministic closed-form
    vertices — the buffered ring composes with every polygon operator
    here (area/perimeter/contains), and the approximation error is the
    standard circle-to-n-gon sagitta (~r·(1-cos(pi/n)))."""
    two_pi = 2 * math.pi
    ring = F.transform(
        F.sequence(F.lit(0), F.lit(n_segments - 1)),
        lambda i: F.struct(
            (p["x"] + radius * F.cos(i.cast("double") * two_pi / n_segments)
             ).alias("x"),
            (p["y"] + radius * F.sin(i.cast("double") * two_pi / n_segments)
             ).alias("y"),
        ),
    )
    return F.array(ring)


def st_intersection_bbox(a: Column, b: Column) -> Column:
    """Envelope intersection of two polygons: the overlap rectangle of
    their bounding boxes as struct<xmin,ymin,xmax,ymax>, NULL when the
    envelopes are disjoint — the cheap pre-pass of ST_Intersection
    (full polygon clipping is GEOS scope, like the reference's
    Geospatial/GeosRuntime.cpp delegation)."""
    ba, bb = st_polygon_bbox(a), st_polygon_bbox(b)
    xmin = F.greatest(ba["xmin"], bb["xmin"])
    ymin = F.greatest(ba["ymin"], bb["ymin"])
    xmax = F.least(ba["xmax"], bb["xmax"])
    ymax = F.least(ba["ymax"], bb["ymax"])
    box = F.struct(
        xmin.alias("xmin"), ymin.alias("ymin"),
        xmax.alias("xmax"), ymax.alias("ymax"),
    )
    return F.when((xmin <= xmax) & (ymin <= ymax), box)


def st_distance_point_polygon(
    px: Column, py: Column, poly: Column
) -> Column:
    """ST_Distance(POINT, POLYGON) (ExtensionFunctionsGeo.hpp
    distance_point_poly): 0 when the point is inside (holes count as
    outside), else min distance over every ring's edges."""
    edge_d = F.array_min(
        F.flatten(
            F.transform(
                poly,
                lambda ring: _ring_pt_dists(ring, px, py),
            )
        )
    )
    return F.when(st_contains_point(poly, px, py), F.lit(0.0)).otherwise(
        edge_d
    )


def _ring_pt_dists(ring: Column, px: Column, py: Column) -> Column:
    """Per-edge point distances for a closed ring (wraps last->first)."""
    n = F.size(ring)

    def seg_dist(a: Column, b: Column) -> Column:
        dx, dy = b["x"] - a["x"], b["y"] - a["y"]
        seg_len2 = dx * dx + dy * dy
        t_raw = ((px - a["x"]) * dx + (py - a["y"]) * dy) / seg_len2
        t = F.when(seg_len2 == 0, F.lit(0.0)).otherwise(
            F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
        )
        cx, cy = a["x"] + t * dx, a["y"] + t * dy
        return F.sqrt((px - cx) * (px - cx) + (py - cy) * (py - cy))

    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: seg_dist(
            F.element_at(ring, i),
            F.element_at(ring, F.when(i == n, 1).otherwise(i + 1)),
        ),
    )


# ---------------------------------------------------------- MULTI* types
#
# MULTIPOINT = array<point>, MULTILINESTRING = array<linestring>,
# MULTIPOLYGON = array<polygon> — one more nesting level per compound
# (Shared/sqltypes.h:84-97 kMULTIPOINT/kMULTILINESTRING/kMULTIPOLYGON;
# Geospatial/Types.h GeoMultiPolygon). Component geometries are
# disjoint per OGC, so aggregate accessors sum/any over components.


def st_numgeometries(multi: Column) -> Column:
    """ST_NumGeometries over any MULTI* geometry."""
    return F.size(multi)


def st_npoints_multipolygon(mp: Column) -> Column:
    """Total vertex count over every ring of every polygon."""
    return _fsum(
        F.transform(
            mp,
            lambda poly: _fsum(
                F.transform(poly, lambda r: F.size(r).cast("double"))
            ),
        )
    ).cast("int")


def st_area_multipolygon(mp: Column) -> Column:
    """Σ component areas (holes subtracted per component)."""
    return _fsum(F.transform(mp, st_area))


def st_centroid_multipolygon(mp: Column) -> Column:
    """Area-weighted centroid across components: Σ(area_i · c_i) / Σarea_i.
    NULL for a degenerate (zero-total-area or empty) multipolygon —
    e.g. st_intersection of disjoint polygons — rather than a
    divide-by-zero."""
    wx = _fsum(F.transform(mp, lambda p: st_area(p) * st_centroid(p)["x"]))
    wy = _fsum(F.transform(mp, lambda p: st_area(p) * st_centroid(p)["y"]))
    total = st_area_multipolygon(mp)
    return F.when(
        total != 0,
        F.struct((wx / total).alias("x"), (wy / total).alias("y")),
    )


def st_contains_point_multipolygon(
    mp: Column, px: Column, py: Column
) -> Column:
    """Any component contains the point (components disjoint per OGC)."""
    return F.exists(mp, lambda p: st_contains_point(p, px, py))


def st_geomfromtext_multipolygon(wkt: Column) -> Column:
    """'MULTIPOLYGON (((x y, ...), (...)), ((...)))' ->
    array-of-polygons (Geospatial/Types.cpp GeoMultiPolygon WKT)."""
    body = F.regexp_replace(
        wkt, r"(?i)^\s*MULTIPOLYGON\s*\(\s*\(\s*\(", ""
    )
    body = F.regexp_replace(body, r"\)\s*\)\s*\)\s*$", "")
    polys = F.split(body, r"\)\s*\)\s*,\s*\(\s*\(")

    def parse_point(pt: Column) -> Column:
        parts = F.split(F.trim(pt), r"\s+")
        return F.struct(
            F.element_at(parts, 1).cast("double").alias("x"),
            F.element_at(parts, 2).cast("double").alias("y"),
        )

    def parse_poly(ptxt: Column) -> Column:
        rings = F.split(ptxt, r"\)\s*,\s*\(")
        return F.transform(
            rings,
            lambda r: _drop_closing_vertex(
                F.transform(F.split(r, ","), parse_point)
            ),
        )

    return F.transform(polys, parse_poly)


def st_astext_multipolygon(mp: Column) -> Column:
    def ring_text(r: Column) -> Column:
        return F.concat(
            F.lit("("),
            F.array_join(
                F.transform(
                    r,
                    lambda p: F.concat(
                        p["x"].cast("string"), F.lit(" "), p["y"].cast("string")
                    ),
                ),
                ", ",
            ),
            F.lit(")"),
        )

    def poly_text(p: Column) -> Column:
        return F.concat(
            F.lit("("),
            F.array_join(F.transform(p, ring_text), ", "),
            F.lit(")"),
        )

    return F.concat(
        F.lit("MULTIPOLYGON ("),
        F.array_join(F.transform(mp, poly_text), ", "),
        F.lit(")"),
    )


def st_geomfromtext_multipoint(wkt: Column) -> Column:
    """'MULTIPOINT (x y, x y, ...)' (also accepts the parenthesized
    '(x y), (x y)' form) -> array<point>."""
    body = F.regexp_replace(wkt, r"(?i)^\s*MULTIPOINT\s*\(", "")
    body = F.regexp_replace(body, r"\)\s*$", "")
    body = F.regexp_replace(body, r"[()]", "")

    def parse_point(pt: Column) -> Column:
        parts = F.split(F.trim(pt), r"\s+")
        return F.struct(
            F.element_at(parts, 1).cast("double").alias("x"),
            F.element_at(parts, 2).cast("double").alias("y"),
        )

    return F.transform(F.split(body, ","), parse_point)


# ------------------------------------------------------ general transform
#
# ST_Transform beyond the 4326<->900913 pair: WGS-84 <-> any
# transverse-Mercator CRS of the EPSG table below via the Gauss-Krueger
# series (3rd order in the third flattening n — sub-mm over a UTM
# zone), plus the Helmert datum shift for CRSs that declare one.
# Reference surface: the ST_Transform overloads of
# QueryEngine/ExtensionFunctionsGeo.hpp (arbitrary SRID via proj);
# here the projection math is closed-form. Each formula is written once
# over the SQL-text backend and takes its per-CRS constants as values:
# - registered with the constants as arguments (register_all),
#   it is what every Column builder calls, so a composed input is bound
#   once, like the reference's EXTENSION_NOINLINE functions;
# - with the constants inlined as literals it is the `*_sql` text the
#   DuckDB oracles run, with the identical floating-point operation tree.

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563


class _Datum:
    """Helmert 7-parameter datum transformation, stored in the EPSG
    'local datum -> WGS 84' position-vector convention (translation
    metres, rotations arc-seconds, scale ppm) together with the local
    ellipsoid. The reference reaches these through proj's +towgs84
    pipeline (Geospatial/ GDAL delegation); the parameters themselves
    are public EPSG registry values."""

    def __init__(self, a, inv_f, tx, ty, tz, rx_s, ry_s, rz_s, ds_ppm):
        self.a = float(a)
        self.f = 1.0 / float(inv_f)
        self.tx, self.ty, self.tz = float(tx), float(ty), float(tz)
        arc = math.pi / (180.0 * 3600.0)
        self.rx, self.ry, self.rz = rx_s * arc, ry_s * arc, rz_s * arc
        self.s = ds_ppm * 1e-6


# OSGB36 -> WGS 84 (EPSG transformation 1314, ~2 m accuracy over GB;
# the same 7 parameters proj ships as 27700's +towgs84). Airy 1830.
_OSGB36 = _Datum(6377563.396, 299.3249646,
                 446.448, -125.157, 542.060,
                 0.1502, 0.2470, 0.8421, -20.4894)
# ED50 -> WGS 84 (EPSG 1133 European mean, 3-parameter, ~10 m).
# International 1924 (Hayford) ellipsoid.
_ED50 = _Datum(6378388.0, 297.0, -87.0, -98.0, -121.0, 0.0, 0.0, 0.0, 0.0)


class _TMParams:
    """One transverse-Mercator projected CRS: ellipsoid (a, f), natural
    origin (lat0, lon0), scale k0, false easting/northing, and an
    optional Helmert datum (None = datum-matches-WGS84, e.g. GRS80
    CRSs treated as coincident, like proj does without a grid). The
    raw tm_from_wgs84/tm_to_wgs84 builders are projection-only;
    the `*_full` builders and `st_transform` add the datum step for
    CRSs that declare one."""

    def __init__(self, a, inv_f, lat0, lon0, k0, e0, n0, datum=None):
        self.a = float(a)
        self.f = 1.0 / float(inv_f)
        self.lat0 = float(lat0)
        self.lon0 = float(lon0)
        self.k0 = float(k0)
        self.e0 = float(e0)
        self.n0 = float(n0)
        self.datum = datum


_GRS80_INV_F = 298.257222101
# EPSG transverse-Mercator parameter table (public EPSG registry
# values): UTM north/south on WGS-84, ETRS89 UTM (GRS80), and national
# TM grids — the reference accepts these via proj
# (ExtensionFunctionsGeo.hpp ST_Transform overloads + Geospatial/).
_EPSG_TM: dict[int, _TMParams] = {
    # OSGB36 / British National Grid (Airy 1830, OSGB36 datum)
    27700: _TMParams(6377563.396, 299.3249646, 49.0, -2.0,
                     0.9996012717, 400000.0, -100000.0, datum=_OSGB36),
    # IRENET95 / Irish Transverse Mercator (GRS80)
    2157: _TMParams(6378137.0, _GRS80_INV_F, 53.5, -8.0,
                    0.99982, 600000.0, 750000.0),
    # NZGD2000 / New Zealand Transverse Mercator (GRS80)
    2193: _TMParams(6378137.0, _GRS80_INV_F, 0.0, 173.0,
                    0.9996, 1600000.0, 10000000.0),
    # ETRS89-extended / LAEA is NOT TM; ETRS89 UTM zones are:
}
for _z in range(1, 61):
    _EPSG_TM[32600 + _z] = _TMParams(
        _WGS84_A, 298.257223563, 0.0, _z * 6 - 183, 0.9996, 500000.0, 0.0
    )
    _EPSG_TM[32700 + _z] = _TMParams(
        _WGS84_A, 298.257223563, 0.0, _z * 6 - 183, 0.9996, 500000.0,
        10000000.0,
    )
for _z in range(28, 39):  # ETRS89 / UTM zones 28N-38N
    _EPSG_TM[25800 + _z] = _TMParams(
        6378137.0, _GRS80_INV_F, 0.0, _z * 6 - 183, 0.9996, 500000.0, 0.0
    )
for _z in range(28, 39):  # ED50 / UTM zones 28N-38N (Hayford + datum)
    _EPSG_TM[23000 + _z] = _TMParams(
        6378388.0, 297.0, 0.0, _z * 6 - 183, 0.9996, 500000.0, 0.0,
        datum=_ED50,
    )


def _tm_constants(srid: int) -> SimpleNamespace:
    """The per-CRS constants of the forward and inverse series, each
    folded in Python exactly where the series uses it (ka = k0 * A,
    km0 = k0 * m0), so the registered and literal forms share one
    operation tree."""
    prm = _EPSG_TM[srid]
    n = prm.f / (2.0 - prm.f)
    big_a = (prm.a / (1.0 + n)) * (1.0 + n * n / 4.0 + n**4 / 64.0)
    a = (n / 2.0 - 2.0 * n * n / 3.0 + 5.0 * n**3 / 16.0,
         13.0 * n * n / 48.0 - 3.0 * n**3 / 5.0,
         61.0 * n**3 / 240.0)
    m0 = 0.0
    if prm.lat0 != 0.0:
        # meridian arc length (scaled by A) at the natural-origin latitude
        c1 = 2.0 * math.sqrt(n) / (1.0 + n)
        s = math.sin(math.radians(prm.lat0))
        xi = math.atan(math.sinh(math.atanh(s) - c1 * math.atanh(c1 * s)))
        north = xi
        for j, aj in enumerate(a, 1):
            north += aj * math.sin(2.0 * j * xi)
        m0 = big_a * north
    return SimpleNamespace(
        lon0=prm.lon0, c1=2.0 * (n ** 0.5) / (1.0 + n),
        a1=a[0], a2=a[1], a3=a[2],
        b1=n / 2.0 - 2.0 * n * n / 3.0 + 37.0 * n**3 / 96.0,
        b2=n * n / 48.0 + n**3 / 15.0,
        b3=17.0 * n**3 / 480.0,
        d1=2.0 * n - 2.0 * n * n / 3.0 - 2.0 * n**3,
        d2=7.0 * n * n / 3.0 - 8.0 * n**3 / 5.0,
        d3=56.0 * n**3 / 15.0,
        e0=prm.e0, n0=prm.n0, k0=prm.k0, big_a=big_a, m0=m0,
        ka=prm.k0 * big_a, km0=prm.k0 * m0,
    )


def _ellipsoid(a: float, f: float) -> SimpleNamespace:
    e2 = f * (2.0 - f)
    b = a * (1.0 - f)
    return SimpleNamespace(a=a, e2=e2, e2c=1.0 - e2, b=b,
                           ep2b=e2 / (1.0 - e2) * b, e2a=e2 * a)


def _helmert_constants(d: _Datum, inverse: bool) -> SimpleNamespace:
    """Position-vector Helmert LOCAL->WGS84; inverse=True applies the
    standard negated-parameter reverse (error << 1 mm at these
    magnitudes)."""
    sgn = -1.0 if inverse else 1.0
    return SimpleNamespace(
        tx=sgn * d.tx, ty=sgn * d.ty, tz=sgn * d.tz, m=1.0 + sgn * d.s,
        rx=sgn * d.rx, ry=sgn * d.ry, rz=sgn * d.rz)


# sinh/cosh/atanh are spelled with exp/ln so Spark and DuckDB run the
# exact same primitive calls.
def _sinh(x):
    return (_SqlB.exp(x) - _SqlB.exp(-x)) / 2.0


def _cosh(x):
    return (_SqlB.exp(x) + _SqlB.exp(-x)) / 2.0


def _atanh(x):
    return 0.5 * _SqlB.ln((1.0 + x) / (1.0 - x))


def _tm_conformal(lon, lat, k):
    """Forward series, stage 1: lon/lat -> tan of the conformal
    latitude and the longitude offset in radians."""
    s = _SqlB.sin(_SqlB.radians(lat))
    t = _sinh(_atanh(s) - k.c1 * _atanh(k.c1 * s))
    return t, _SqlB.radians(lon - k.lon0)


def _tm_xi_eta(t, lam, k):
    """Forward series, stage 2: -> the Gauss-Schreiber (xi', eta')."""
    xi = _SqlB.atan(t / _SqlB.cos(lam))
    eta = _atanh(_SqlB.sin(lam) / _SqlB.sqrt(1.0 + t * t))
    return xi, eta


def _tm_series(xi, eta, k):
    """Forward series, stage 3: Krueger's 3rd-order sums -> easting,
    northing."""
    east = eta
    north = xi
    for j, aj in ((1, k.a1), (2, k.a2), (3, k.a3)):
        east = east + aj * _SqlB.cos(2.0 * j * xi) * _sinh(2.0 * j * eta)
        north = north + aj * _SqlB.sin(2.0 * j * xi) * _cosh(2.0 * j * eta)
    return k.e0 + k.ka * east, k.n0 + k.k0 * (k.big_a * north - k.m0)


def _tm_inverse_xi_eta(easting, northing, k):
    """Inverse series, stage 1: easting, northing -> (xi', eta')."""
    xi = (northing - k.n0 + k.km0) / k.ka
    eta = (easting - k.e0) / k.ka
    xi_p = xi
    eta_p = eta
    for j, bj in ((1, k.b1), (2, k.b2), (3, k.b3)):
        xi_p = xi_p - bj * _SqlB.sin(2.0 * j * xi) * _cosh(2.0 * j * eta)
        eta_p = eta_p - bj * _SqlB.cos(2.0 * j * xi) * _sinh(2.0 * j * eta)
    return xi_p, eta_p


def _tm_inverse_lonlat(xi_p, eta_p, k):
    """Inverse series, stage 2: (xi', eta') -> lon, lat."""
    chi = _SqlB.asin(_SqlB.sin(xi_p) / _cosh(eta_p))
    phi = chi
    for j, dj in ((1, k.d1), (2, k.d2), (3, k.d3)):
        phi = phi + dj * _SqlB.sin(2.0 * j * chi)
    lam = _SqlB.atan(_sinh(eta_p) / _SqlB.cos(xi_p))
    return k.lon0 + _SqlB.degrees(lam), _SqlB.degrees(phi)


# --------------------------------------------------------- datum shifts
#
# Helmert 7-parameter datum transformation for CRSs whose datum is not
# WGS-84-coincident (27700/OSGB36, 230xx/ED50): geodetic (h=0) ->
# geocentric XYZ -> position-vector Helmert -> geodetic on the other
# ellipsoid (Bowring's closed single-step inverse, sub-mm at h=0).
# The reference applies exactly this via proj's +towgs84 parameters.


def _geodetic_to_xyz(lon, lat, g):
    phi = _SqlB.radians(lat)
    lam = _SqlB.radians(lon)
    s = _SqlB.sin(phi)
    big_n = g.a / _SqlB.sqrt(1.0 - g.e2 * s * s)
    return (
        big_n * _SqlB.cos(phi) * _SqlB.cos(lam),
        big_n * _SqlB.cos(phi) * _SqlB.sin(lam),
        big_n * g.e2c * s,
    )


def _helmert(x, y, z, h):
    return (
        h.tx + h.m * (x - h.rz * y + h.ry * z),
        h.ty + h.m * (h.rz * x + y - h.rx * z),
        h.tz + h.m * (-(h.ry * x) + h.rx * y + z),
    )


def _xyz_to_geodetic(x, y, z, g):
    """Bowring's closed-form geocentric -> geodetic (lat, lon only —
    height is discarded; input points are surface coordinates)."""
    p = _SqlB.sqrt(x * x + y * y)
    theta = _SqlB.atan2(z * g.a, p * g.b)
    st = _SqlB.sin(theta)
    ct = _SqlB.cos(theta)
    phi = _SqlB.atan2(
        z + g.ep2b * st * st * st, p - g.e2a * ct * ct * ct
    )
    return _SqlB.degrees(_SqlB.atan2(y, x)), _SqlB.degrees(phi)


# The registered transform functions, one per stage: name, input
# fields, per-CRS constants (the arguments after the input), formula,
# output fields. Each takes its input point as one struct and returns
# a struct, so a chain of stages passes each result on whole and binds
# it once; passing its fields as separate arguments would copy the
# producing stage into each of them.
_LONLAT = ("x", "y")
_XI_ETA = ("xi", "eta")
_XYZ = ("x", "y", "z")
_TRANSFORM_STAGES = (
    ("tm_forward_conformal", _LONLAT, ("lon0", "c1"), _tm_conformal,
     ("t", "lam")),
    ("tm_forward_xieta", ("t", "lam"), (), _tm_xi_eta, _XI_ETA),
    ("tm_forward_series", _XI_ETA,
     ("a1", "a2", "a3", "e0", "ka", "n0", "k0", "big_a", "m0"), _tm_series,
     _LONLAT),
    ("tm_inverse_xieta", _LONLAT,
     ("e0", "n0", "km0", "ka", "b1", "b2", "b3"), _tm_inverse_xi_eta,
     _XI_ETA),
    ("tm_inverse_lonlat", _XI_ETA, ("d1", "d2", "d3", "lon0"),
     _tm_inverse_lonlat, _LONLAT),
    ("datum_to_xyz", _LONLAT, ("a", "e2", "e2c"), _geodetic_to_xyz, _XYZ),
    ("datum_helmert", _XYZ, ("tx", "ty", "tz", "m", "rx", "ry", "rz"),
     _helmert, _XYZ),
    ("datum_to_lonlat", _XYZ, ("a", "b", "ep2b", "e2a"), _xyz_to_geodetic,
     _LONLAT),
)
# The TM series of each direction, as the stages it runs in order.
_TM_CHAINS = {
    "tm_forward": ("tm_forward_conformal", "tm_forward_xieta",
                   "tm_forward_series"),
    "tm_inverse": ("tm_inverse_xieta", "tm_inverse_lonlat"),
}
_CONSTS = {name: consts for name, _, consts, *_ in _TRANSFORM_STAGES}
_FORMULAS = {name: formula for name, _, _, formula, _ in _TRANSFORM_STAGES}


def _struct_type(fields) -> str:
    return "STRUCT<" + ", ".join(f"{f}: DOUBLE" for f in fields) + ">"


def _transform_sql_funcs() -> dict[str, str]:
    out = {}
    for name, fields, consts, formula, returns in _TRANSFORM_STAGES:
        k = SimpleNamespace(**{c: _E(c) for c in consts})
        vals = formula(*(_E(f"q.{f}") for f in fields), k)
        params = ", ".join([f"q {_struct_type(fields)}"]
                           + [f"{c} DOUBLE" for c in consts])
        body = ", ".join(f"'{f}', {v.s}" for f, v in zip(returns, vals))
        out[name] = (
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
            f"RETURNS {_struct_type(returns)} RETURN named_struct({body})")
    return out


def _chain_sql(name: str, k: SimpleNamespace, *inputs: str) -> tuple:
    """The text of chain `name` with the constants of `k` inlined as
    literals and the input expressions re-inlined at every use."""
    vals = [_E(i) for i in inputs]
    for stage in _TM_CHAINS[name]:
        vals = _FORMULAS[stage](*vals, k)
    return tuple(v.s for v in vals)


def _transform(name: str, k: SimpleNamespace, q: Column) -> Column:
    """Call registered transform stage `name` on point struct `q` with
    the constants of `k`."""
    return _functions._call(name, q, *(
        F.lit(float(getattr(k, c))) for c in _CONSTS[name]))


def _chain(name: str, k: SimpleNamespace, q: Column) -> Column:
    for stage in _TM_CHAINS[name]:
        q = _transform(stage, k, q)
    return q


def _point(x: Column, y: Column) -> Column:
    return F.struct(x.alias("x"), y.alias("y"))


def _datum_constants(d: _Datum, to_local: bool):
    """(source ellipsoid, Helmert constants, target ellipsoid) of the
    shift WGS-84 -> datum `d` (to_local) or back."""
    wgs84, local = _ellipsoid(_WGS84_A, _WGS84_F), _ellipsoid(d.a, d.f)
    if to_local:
        return wgs84, _helmert_constants(d, inverse=True), local
    return local, _helmert_constants(d, inverse=False), wgs84


def _datum_shift(ll: Column, d: _Datum, to_local: bool) -> Column:
    src, h, dst = _datum_constants(d, to_local)
    xyz = _transform("datum_to_xyz", src, ll)
    return _transform("datum_to_lonlat", dst,
                      _transform("datum_helmert", h, xyz))


def _to_projected(ll: Column, srid: int) -> Column:
    """WGS-84 lon/lat struct -> `srid` easting/northing struct: the
    datum shift when the CRS declares one, then the TM projection."""
    d = _EPSG_TM[srid].datum
    if d is not None:
        ll = _datum_shift(ll, d, to_local=True)
    return _chain("tm_forward", _tm_constants(srid), ll)


def _from_projected(en: Column, srid: int) -> Column:
    """Inverse of _to_projected."""
    ll = _chain("tm_inverse", _tm_constants(srid), en)
    d = _EPSG_TM[srid].datum
    return ll if d is None else _datum_shift(ll, d, to_local=False)


# ------------------------------------------------------- public surface


def tm_from_wgs84(lon: Column, lat: Column, srid: int) -> Column:
    """ST_Transform(point, any EPSG TM code in _EPSG_TM): WGS-84
    lon/lat -> projected easting/northing struct<x,y>."""
    return _chain("tm_forward", _tm_constants(srid), _point(lon, lat))


def tm_from_wgs84_sql(lon_expr: str, lat_expr: str, srid: int) -> tuple[str, str]:
    """ANSI-SQL text of `tm_from_wgs84` (for DuckDB oracles)."""
    return _chain_sql("tm_forward", _tm_constants(srid), lon_expr, lat_expr)


def tm_to_wgs84(easting: Column, northing: Column, srid: int) -> Column:
    """Inverse of tm_from_wgs84 for any EPSG TM code in _EPSG_TM — the
    other direction of ExtensionFunctionsGeo.hpp's ST_Transform
    overloads."""
    return _chain("tm_inverse", _tm_constants(srid), _point(easting, northing))


def tm_to_wgs84_sql(e_expr: str, n_expr: str, srid: int) -> tuple[str, str]:
    """ANSI-SQL text of `tm_to_wgs84` (for DuckDB oracles)."""
    return _chain_sql("tm_inverse", _tm_constants(srid), e_expr, n_expr)


def utm_from_wgs84(lon: Column, lat: Column, zone: int) -> Column:
    """ST_Transform(point, EPSG 326xx): WGS-84 lon/lat -> UTM easting/
    northing (northern-hemisphere false northing 0) as struct<x,y>."""
    return tm_from_wgs84(lon, lat, 32600 + zone)


def utm_from_wgs84_sql(lon_expr: str, lat_expr: str, zone: int) -> tuple[str, str]:
    """The ANSI-SQL text of `utm_from_wgs84` (for DuckDB oracles)."""
    return tm_from_wgs84_sql(lon_expr, lat_expr, 32600 + zone)


def utm_to_wgs84(easting: Column, northing: Column, zone: int) -> Column:
    """ST_Transform(EPSG 326xx -> 4326): UTM easting/northing -> WGS-84
    lon/lat struct<x,y> (inverse Krueger series; round-trips with
    utm_from_wgs84 to ~1e-9 degrees)."""
    return tm_to_wgs84(easting, northing, 32600 + zone)


def utm_to_wgs84_sql(e_expr: str, n_expr: str, zone: int) -> tuple[str, str]:
    """ANSI-SQL text of `utm_to_wgs84` (for DuckDB oracles)."""
    return tm_to_wgs84_sql(e_expr, n_expr, 32600 + zone)


def tm_from_wgs84_full(lon: Column, lat: Column, srid: int) -> Column:
    """Reference-semantics ST_Transform(4326 -> srid): datum shift
    (when the CRS declares one) THEN the TM projection — what proj
    does for 27700/230xx. The raw tm_from_wgs84 stays projection-only."""
    return _to_projected(_point(lon, lat), srid)


def tm_to_wgs84_full(easting: Column, northing: Column, srid: int) -> Column:
    """Reference-semantics ST_Transform(srid -> 4326): inverse TM THEN
    the datum shift back to WGS-84."""
    return _from_projected(_point(easting, northing), srid)


def datum_sql_stages(
    lon_expr: str, lat_expr: str, srid: int, inverse: bool = False,
    prefix: str = "",
) -> list[list[tuple[str, str]]]:
    """The ANSI-SQL text of the three datum-shift stages (for DuckDB
    oracles), as [(alias, expr), ...] lists per stage; the caller lays
    each stage in its own subquery/CTE so each stage reads its inputs
    as columns, as the registered stages do. inverse=False: WGS84 ->
    local datum (the forward-projection direction). `prefix`
    namespaces the intermediate column aliases so several pipelines
    can share one CTE chain."""
    src, h, dst = _datum_constants(_EPSG_TM[srid].datum, not inverse)
    g = [prefix + n for n in ("gx", "gy", "gz")]
    m = [prefix + n for n in ("hx", "hy", "hz")]
    o = [prefix + n for n in ("lon2", "lat2")]
    xyz = _geodetic_to_xyz(_E(lon_expr), _E(lat_expr), src)
    moved = _helmert(*map(_E, g), h)
    ll = _xyz_to_geodetic(*map(_E, m), dst)
    return [[(a, v.s) for a, v in zip(names, vals)]
            for names, vals in ((g, xyz), (m, moved), (o, ll))]


def st_transform_900913_4326(p: Column) -> Column:
    """ST_Transform(point, 900913 -> 4326): inverse Web Mercator with
    the reference's constants (ExtensionFunctions.hpp conv_900913_4326
    direction) — exact inverse of st_transform_4326_900913."""
    return F.struct(
        (p["x"] / 111319.490778).alias("x"),
        (
            (F.atan(F.exp(p["y"] / 6378136.99911)) - 0.785398163397)
            / 0.00872664626
        ).alias("y"),
    )


def st_transform(p: Column, from_srid: int, to_srid: int) -> Column:
    """SRID-dispatching ST_Transform (the reference's overload surface,
    QueryEngine/ExtensionFunctionsGeo.hpp): closed-form SRIDs are 4326,
    900913, and every EPSG code in the _EPSG_TM transverse-Mercator
    table (UTM north 326xx, UTM south 327xx, ETRS89 UTM 258xx, ED50
    UTM 230xx, and the 27700/2157/2193 national grids); any supported
    pair composes through the 4326 pivot (proj pivots the same way).
    CRSs that declare a Helmert datum (27700/OSGB36, 230xx/ED50) get
    the 7-parameter datum shift applied around the projection, exactly
    like proj's +towgs84 path in the reference; grid-based datums
    (NAD27/NADCON, OSTN) remain out of scope. Other projections raise
    (the reference delegates them to proj, an out-of-container
    dependency)."""
    if from_srid == to_srid:
        return p
    if (from_srid, to_srid) == (4326, 900913):
        return st_transform_4326_900913(p)
    if (from_srid, to_srid) == (900913, 4326):
        return st_transform_900913_4326(p)
    if from_srid == 4326 and to_srid in _EPSG_TM:
        return _to_projected(p, to_srid)
    if from_srid in _EPSG_TM and (to_srid in (4326, 900913)
                                  or to_srid in _EPSG_TM):
        return st_transform(_from_projected(p, from_srid), 4326, to_srid)
    if from_srid == 900913 and to_srid in _EPSG_TM:
        return st_transform(st_transform_900913_4326(p), 4326, to_srid)
    raise ValueError(
        f"ST_Transform {from_srid}->{to_srid} unsupported; closed-form "
        "SRIDs are 4326, 900913, and the EPSG transverse-Mercator table "
        "(UTM north/south 326xx/327xx, ETRS89 UTM 258xx, ED50 UTM "
        "230xx, 27700, 2157, 2193), any pair composed through 4326. "
        "Helmert datum shifts are applied for 27700/230xx; other "
        "projections and grid-based datums need proj (reference: "
        "GDAL/proj delegation)."
    )


# ------------------------------------------------- SQL function surface
#
# The reference's geo ops are SQL functions (ST_Point/ST_X/ST_Distance/
# ST_DWithin/ST_Contains..., QueryEngine/ExtensionFunctionsGeo.hpp) —
# register the point-math subset as Spark SQL scalar functions (CREATE
# FUNCTION ... RETURN <expr>) so HeavyDB geo SQL strings run through
# `engine.sql` and stay fully JVM-side (no Python UDF).

FUNCTIONS = {
    "st_point": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_point(x DOUBLE, y DOUBLE)
        RETURNS STRUCT<x: DOUBLE, y: DOUBLE>
        RETURN CASE WHEN x IS NULL OR y IS NULL
                    THEN CAST(NULL AS STRUCT<x: DOUBLE, y: DOUBLE>)
                    ELSE named_struct('x', x, 'y', y) END
    """,
    "st_x": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_x(p STRUCT<x: DOUBLE, y: DOUBLE>)
        RETURNS DOUBLE RETURN p.x
    """,
    "st_y": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_y(p STRUCT<x: DOUBLE, y: DOUBLE>)
        RETURNS DOUBLE RETURN p.y
    """,
    "st_distance": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_distance(
            a STRUCT<x: DOUBLE, y: DOUBLE>, b STRUCT<x: DOUBLE, y: DOUBLE>)
        RETURNS DOUBLE
        RETURN sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
    """,
    "st_dwithin": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_dwithin(
            a STRUCT<x: DOUBLE, y: DOUBLE>, b STRUCT<x: DOUBLE, y: DOUBLE>,
            d DOUBLE)
        RETURNS BOOLEAN
        RETURN sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= d
    """,
    "distance_in_meters": """
        CREATE OR REPLACE TEMPORARY FUNCTION distance_in_meters(
            lon1 DOUBLE, lat1 DOUBLE, lon2 DOUBLE, lat2 DOUBLE)
        RETURNS DOUBLE
        RETURN 2 * 6372797.560856 * asin(sqrt(
            pow(sin((radians(lat2) - radians(lat1)) / 2), 2)
            + cos(radians(lat1)) * cos(radians(lat2))
              * pow(sin((radians(lon2) - radians(lon1)) / 2), 2)))
    """,
    "conv_4326_900913_x": """
        CREATE OR REPLACE TEMPORARY FUNCTION conv_4326_900913_x(x DOUBLE)
        RETURNS DOUBLE RETURN x * 111319.490778
    """,
    # ---- geometry-typed SQL surface (array-of-rings representation,
    # ARRAY<ARRAY<STRUCT<x,y>>>; POINT/LINESTRING normalize into it via
    # st_geomfromtext). Pure SQL bodies mirroring the Column helpers
    # above formula for formula (shoelace area with holes, area-weighted
    # centroid, even-odd ray cast, open-path length); st_intersects
    # delegates to the GEOS overlay kernel (functions/geos.py).
    # SQL scalar functions cannot overload, so st_astext takes the
    # POINT struct (the polygon spelling stays on the Column API).
    "st_area": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_area(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS DOUBLE RETURN element_at(transform(g, r -> abs((aggregate(transform(r, (a, i) -> CAST((a.x * element_at(r, ((i + 1) % size(r)) + 1).y - element_at(r, ((i + 1) % size(r)) + 1).x * a.y) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 2.0))), 1) * 2 - aggregate(transform(g, r -> abs((aggregate(transform(r, (a, i) -> CAST((a.x * element_at(r, ((i + 1) % size(r)) + 1).y - element_at(r, ((i + 1) % size(r)) + 1).x * a.y) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 2.0))), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
    """,
    "st_perimeter": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_perimeter(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS DOUBLE RETURN aggregate(transform(g, r -> aggregate(transform(r, (a, i) -> CAST((sqrt((a.x - element_at(r, ((i + 1) % size(r)) + 1).x) * (a.x - element_at(r, ((i + 1) % size(r)) + 1).x) + (a.y - element_at(r, ((i + 1) % size(r)) + 1).y) * (a.y - element_at(r, ((i + 1) % size(r)) + 1).y))) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
    """,
    "st_centroid": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_centroid(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS STRUCT<x: DOUBLE, y: DOUBLE> RETURN named_struct('x', (aggregate(transform(g, (r, ri) -> (CASE WHEN ri = 0 THEN 1.0 ELSE -1.0 END) * (aggregate(transform(r, (a, i) -> CAST(((a.x + element_at(r, ((i + 1) % size(r)) + 1).x) * (a.x * element_at(r, ((i + 1) % size(r)) + 1).y - element_at(r, ((i + 1) % size(r)) + 1).x * a.y)) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * signum((aggregate(transform(r, (a, i) -> CAST((a.x * element_at(r, ((i + 1) % size(r)) + 1).y - element_at(r, ((i + 1) % size(r)) + 1).x * a.y) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 2.0)) / 6.0), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) / st_area(g), 'y', (aggregate(transform(g, (r, ri) -> (CASE WHEN ri = 0 THEN 1.0 ELSE -1.0 END) * (aggregate(transform(r, (a, i) -> CAST(((a.y + element_at(r, ((i + 1) % size(r)) + 1).y) * (a.x * element_at(r, ((i + 1) % size(r)) + 1).y - element_at(r, ((i + 1) % size(r)) + 1).x * a.y)) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) * signum((aggregate(transform(r, (a, i) -> CAST((a.x * element_at(r, ((i + 1) % size(r)) + 1).y - element_at(r, ((i + 1) % size(r)) + 1).x * a.y) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) / 2.0)) / 6.0), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)) / st_area(g))
    """,
    "st_contains": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_contains(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, p STRUCT<x: DOUBLE, y: DOUBLE>) RETURNS BOOLEAN RETURN CAST(aggregate(transform(g, r -> aggregate(transform(r, (a, i) -> CAST((CASE WHEN ((a.y > p.y) != (element_at(r, ((i + 1) % size(r)) + 1).y > p.y)) AND (p.x < a.x + (element_at(r, ((i + 1) % size(r)) + 1).x - a.x) * (p.y - a.y) / (element_at(r, ((i + 1) % size(r)) + 1).y - a.y)) THEN 1.0 ELSE 0.0 END) AS DOUBLE)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)), CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS BIGINT) % 2 = 1
    """,
    "st_numrings": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_numrings(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS INT RETURN size(g)
    """,
    "st_npoints": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_npoints(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS INT RETURN CAST(aggregate(transform(g, r -> size(r)), 0, (acc, v) -> acc + v) AS INT)
    """,
    "st_length": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_length(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS DOUBLE RETURN aggregate(sequence(1, size(element_at(g, 1)) - 1), CAST(0.0 AS DOUBLE), (acc, i) -> acc + sqrt(pow(element_at(element_at(g, 1), i).x - element_at(element_at(g, 1), i + 1).x, 2) + pow(element_at(element_at(g, 1), i).y - element_at(element_at(g, 1), i + 1).y, 2)))
    """,
    "st_geomfromtext": r"""
        CREATE OR REPLACE TEMPORARY FUNCTION st_geomfromtext(wkt STRING) RETURNS ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>> RETURN
        transform(regexp_extract_all(wkt, '\\(([^()]+)\\)', 1),
            r -> transform(split(r, ','), s -> named_struct('x', CAST(element_at(split(trim(s), '\\s+'), 1) AS DOUBLE), 'y', CAST(element_at(split(trim(s), '\\s+'), 2) AS DOUBLE))))
    """,
    "st_astext": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_astext(p STRUCT<x: DOUBLE, y: DOUBLE>) RETURNS STRING RETURN concat('POINT (', CAST(p.x AS STRING), ' ', CAST(p.y AS STRING), ')')
    """,
    "st_transform": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_transform(p STRUCT<x: DOUBLE, y: DOUBLE>, srid INT) RETURNS STRUCT<x: DOUBLE, y: DOUBLE> RETURN CASE
        WHEN srid = 900913 THEN named_struct(
            'x', p.x * 111319.490778,
            'y', 6378136.99911 * ln(tan(0.00872664626 * p.y + 0.785398163397)))
        WHEN srid = 4326 THEN p
        ELSE named_struct(
            'x', CAST(raise_error(concat('ST_Transform: unsupported SRID ',
                 CAST(srid AS STRING), ' in the SQL form; the DataFrame API ',
                 'adds the EPSG transverse-Mercator table (UTM north/south, ',
                 'ETRS89 UTM, 27700, 2157, 2193)')) AS DOUBLE),
            'y', CAST(NULL AS DOUBLE))
    END
    """,
    "st_intersects": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_intersects(a ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, b ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS BOOLEAN RETURN size(st_intersection(a, b)) > 0
    """,
    "st_buffer": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_buffer(p STRUCT<x: DOUBLE, y: DOUBLE>, radius DOUBLE) RETURNS ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>> RETURN array(transform(sequence(0, 31), i -> named_struct('x', p.x + radius * cos(2 * pi() * i / 32), 'y', p.y + radius * sin(2 * pi() * i / 32))))
    """,
    "st_startpoint": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_startpoint(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS STRUCT<x: DOUBLE, y: DOUBLE> RETURN element_at(element_at(g, 1), 1)
    """,
    "st_endpoint": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_endpoint(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS STRUCT<x: DOUBLE, y: DOUBLE> RETURN element_at(element_at(g, 1), size(element_at(g, 1)))
    """,
    "st_pointn": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_pointn(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, n INT) RETURNS STRUCT<x: DOUBLE, y: DOUBLE> RETURN element_at(element_at(g, 1), n)
    """,
    "st_xmin": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_xmin(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS DOUBLE RETURN array_min(flatten(transform(g, r -> transform(r, q -> q.x))))
    """,
    "st_xmax": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_xmax(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS DOUBLE RETURN array_max(flatten(transform(g, r -> transform(r, q -> q.x))))
    """,
    "st_ymin": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_ymin(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS DOUBLE RETURN array_min(flatten(transform(g, r -> transform(r, q -> q.y))))
    """,
    "st_ymax": """
        CREATE OR REPLACE TEMPORARY FUNCTION st_ymax(g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>) RETURNS DOUBLE RETURN array_max(flatten(transform(g, r -> transform(r, q -> q.y))))
    """,
    "conv_4326_900913_y": """
        CREATE OR REPLACE TEMPORARY FUNCTION conv_4326_900913_y(y DOUBLE)
        RETURNS DOUBLE
        RETURN 6378136.99911 * ln(tan(0.00872664626 * y + 0.785398163397))
    """,
}


# Reference-parity predicate/accessor closeouts
# (java/calcite .../HeavyDBSqlOperatorTable.java registered names):
# ST_Within is argument-swapped ST_Contains; ST_Disjoint negates
# ST_Intersects; ST_Equals is the reference's own lowering
# "ST_Distance(g1, g2) <= 0.0" (RelAlgTranslatorGeo.cpp:1449, point
# form); ST_DFullyWithin is the max-distance band
# (ExtensionFunctionsGeo.hpp ST_DFullyWithin = ST_MaxDistance <= d);
# ST_IsEmpty / ST_IsValid on the array-of-rings representation —
# validity here is the basic structural check (nonempty, every ring
# holds >= 3 distinct vertices); full GEOS self-intersection validity
# is out of scope (COVERAGE.md); ST_NRings is the reference spelling
# of st_numrings; ST_IntersectsBox is the raw bounds-overlap test
# (ExtensionFunctionsGeo.hpp ST_IntersectsBox).
FUNCTIONS["st_within"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_within(
        p STRUCT<x: DOUBLE, y: DOUBLE>,
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>)
    RETURNS BOOLEAN RETURN st_contains(g, p)
"""
FUNCTIONS["st_disjoint"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_disjoint(
        a ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>,
        b ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>)
    RETURNS BOOLEAN RETURN NOT st_intersects(a, b)
"""
FUNCTIONS["st_equals"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_equals(
        a STRUCT<x: DOUBLE, y: DOUBLE>, b STRUCT<x: DOUBLE, y: DOUBLE>)
    RETURNS BOOLEAN RETURN st_distance(a, b) <= 0.0
"""
FUNCTIONS["st_isempty"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_isempty(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>)
    RETURNS BOOLEAN
    RETURN g IS NULL OR aggregate(transform(g, r -> size(r)), 0,
                                  (acc, v) -> acc + v) = 0
"""
FUNCTIONS["st_isvalid"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_isvalid(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>)
    RETURNS BOOLEAN
    RETURN g IS NOT NULL AND size(g) > 0
           AND forall(g, r -> size(array_distinct(r)) >= 3)
"""
FUNCTIONS["st_nrings"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_nrings(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>)
    RETURNS INT RETURN size(g)
"""
FUNCTIONS["st_intersectsbox"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_intersectsbox(
        xmin1 DOUBLE, ymin1 DOUBLE, xmax1 DOUBLE, ymax1 DOUBLE,
        xmin2 DOUBLE, ymin2 DOUBLE, xmax2 DOUBLE, ymax2 DOUBLE)
    RETURNS BOOLEAN
    RETURN xmin1 <= xmax2 AND xmax1 >= xmin2
           AND ymin1 <= ymax2 AND ymax1 >= ymin2
"""


# ST_MaxDistance(POINT, LINESTRING|POLYGON) — max cartesian distance
# from the point to the geometry's vertex set (the maximum over a
# segment is attained at one of its endpoints, so the vertex max IS
# the geometry max; ExtensionFunctionsGeo.hpp:3847-3930).
FUNCTIONS["st_maxdistance"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_maxdistance(
        p STRUCT<x: DOUBLE, y: DOUBLE>,
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>)
    RETURNS DOUBLE
    RETURN aggregate(flatten(g), CAST(0.0 AS DOUBLE),
        (acc, q) -> greatest(acc,
            sqrt((p.x - q.x) * (p.x - q.x) + (p.y - q.y) * (p.y - q.y))))
"""

FUNCTIONS["st_dfullywithin"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_dfullywithin(
        p STRUCT<x: DOUBLE, y: DOUBLE>,
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, d DOUBLE)
    RETURNS BOOLEAN RETURN st_maxdistance(p, g) <= d
"""

# ---------------------------------------------------------------------
# r11: full typed geometry dispatch (GeospatialTest.cpp GeoSpatial.Math
# — the reference's closed-form geo kernels over every geometry tag
# pair, ExtensionFunctionsGeo.hpp).  Each geometry rides as its
# array-of-rings form PLUS a kind tag (1 POINT, 2 MULTIPOINT,
# 3 LINESTRING, 4 MULTILINESTRING, 5 POLYGON, 6 MULTIPOLYGON); the
# dialect resolves the tag statically for literals and at runtime
# (geo_kind) for WKT string columns.
#
# Spark SQL scalar functions cannot be CALLED with lambda variables
# (the inliner loses the enclosing lambda scope), so every kernel that
# iterates segment/ring lambdas is built as ONE fully-inlined
# expression; the Python helpers below assemble those expressions so
# each geometric formula is written once.

def _pt_seg_sql(px, py, ax, ay, bx, by):
    """Point-(px,py) to segment-(a,b) distance (clamped projection)."""
    t = (f"greatest(CAST(0.0 AS DOUBLE), least(CAST(1.0 AS DOUBLE), "
         f"(({px}-{ax})*({bx}-{ax}) + ({py}-{ay})*({by}-{ay})) / "
         f"(({bx}-{ax})*({bx}-{ax}) + ({by}-{ay})*({by}-{ay}))))")
    gen = (f"sqrt(({px} - ({ax} + {t} * ({bx}-{ax})))"
           f" * ({px} - ({ax} + {t} * ({bx}-{ax})))"
           f" + ({py} - ({ay} + {t} * ({by}-{ay})))"
           f" * ({py} - ({ay} + {t} * ({by}-{ay}))))")
    degen = f"sqrt(({px}-{ax})*({px}-{ax}) + ({py}-{ay})*({py}-{ay}))"
    return (f"(CASE WHEN {ax} = {bx} AND {ay} = {by} THEN {degen} "
            f"ELSE {gen} END)")


def _orient_sql(px, py, qx, qy, rx, ry):
    return f"(({qx}-{px})*({ry}-{py}) - ({qy}-{py})*({rx}-{px}))"


def _seg_seg_sql(ax, ay, bx, by, cx, cy, dx, dy):
    """Segment-segment distance: 0 on proper interior crossing (strict
    orientation products); touches/collinear overlaps fall out of the
    four endpoint point-segment minima."""
    o1 = _orient_sql(ax, ay, bx, by, cx, cy)
    o2 = _orient_sql(ax, ay, bx, by, dx, dy)
    o3 = _orient_sql(cx, cy, dx, dy, ax, ay)
    o4 = _orient_sql(cx, cy, dx, dy, bx, by)
    return (f"(CASE WHEN {o1} * {o2} < 0 AND {o3} * {o4} < 0 "
            f"THEN CAST(0.0 AS DOUBLE) ELSE least("
            f"{_pt_seg_sql(cx, cy, ax, ay, bx, by)}, "
            f"{_pt_seg_sql(dx, dy, ax, ay, bx, by)}, "
            f"{_pt_seg_sql(ax, ay, cx, cy, dx, dy)}, "
            f"{_pt_seg_sql(bx, by, cx, cy, dx, dy)}) END)")


def _raycast_sql(g, px, py):
    """Even-odd point-in-ring-set (the st_contains formula inlined so
    it can sit under a lambda)."""
    nxt = "element_at(r9, ((i9 + 1) % size(r9)) + 1)"
    return (f"(CAST(aggregate(transform({g}, r9 -> aggregate(transform("
            f"r9, (a9, i9) -> CAST((CASE WHEN ((a9.y > {py}) != "
            f"({nxt}.y > {py})) AND ({px} < a9.x + ({nxt}.x - a9.x) * "
            f"({py} - a9.y) / ({nxt}.y - a9.y)) THEN 1.0 ELSE 0.0 END) "
            f"AS DOUBLE)), CAST(0.0 AS DOUBLE), (c9, v9) -> c9 + v9)), "
            f"CAST(0.0 AS DOUBLE), (c8, v8) -> c8 + v8) AS BIGINT) "
            f"% 2 = 1)")


def _ring_fan2_sql(r):
    """Signed double-area of ring `r` by fan decomposition from its
    first vertex (centroid_add_triangle, ExtensionFunctionsGeo.hpp
    :1654)."""
    return (f"(CASE WHEN size({r}) < 3 THEN CAST(0.0 AS DOUBLE) ELSE "
            f"aggregate(sequence(2, size({r}) - 1), CAST(0.0 AS DOUBLE),"
            f" (f2, i2) -> f2 + ((element_at({r}, i2).x - "
            f"element_at({r}, 1).x) * (element_at({r}, i2 + 1).y - "
            f"element_at({r}, 1).y) - (element_at({r}, i2 + 1).x - "
            f"element_at({r}, 1).x) * (element_at({r}, i2).y - "
            f"element_at({r}, 1).y))) END)")


def _ring_fancg_sql(r, c):
    """Fan-decomposition centroid numerator for coordinate `c`."""
    return (f"(CASE WHEN size({r}) < 3 THEN CAST(0.0 AS DOUBLE) ELSE "
            f"aggregate(sequence(2, size({r}) - 1), CAST(0.0 AS DOUBLE),"
            f" (f3, i3) -> f3 + ((element_at({r}, i3).x - "
            f"element_at({r}, 1).x) * (element_at({r}, i3 + 1).y - "
            f"element_at({r}, 1).y) - (element_at({r}, i3 + 1).x - "
            f"element_at({r}, 1).x) * (element_at({r}, i3).y - "
            f"element_at({r}, 1).y)) * (element_at({r}, 1).{c} + "
            f"element_at({r}, i3).{c} + element_at({r}, i3 + 1).{c})) "
            f"END)")


def _ring_area2_sql(r):
    """Signed shoelace double-area (wraparound form handles closed and
    unclosed WKT rings alike)."""
    nxt = f"element_at({r}, ((i4 + 1) % size({r})) + 1)"
    return (f"(aggregate(transform({r}, (a4, i4) -> CAST(a4.x * {nxt}.y"
            f" - {nxt}.x * a4.y AS DOUBLE)), CAST(0.0 AS DOUBLE), "
            f"(c4, v4) -> c4 + v4))")


_SEG_LEN = ("sqrt((s.bx-s.ax)*(s.bx-s.ax) + (s.by-s.ay)*(s.by-s.ay))")


def _is_hole_sql(g: str, r: str, ri: str) -> str:
    """Even-odd hole classification for the flat MULTIPOLYGON ring set
    (the WKT parse keeps rings in order but loses polygon grouping):
    ring `r` (0-based index `ri`) is an interior ring iff an ODD number
    of OTHER rings contain a probe vertex — disjoint exteriors nest
    in nothing (0), holes nest in their exterior (1), island-in-lake
    exteriors nest in two (even). Matches ST_Area_MultiPolygon's
    hole subtraction / exterior-only perimeter
    (ExtensionFunctionsGeo.hpp) without the reference's per-polygon
    ring counts (r11 advice: every ring was treated as exterior).

    Probes by MAJORITY VOTE over three spread vertices (1, 1+n/3,
    1+2n/3), not the first vertex alone: in tessellations a ring's
    first vertex often lies exactly ON a neighboring ring's boundary,
    where the raycast parity is arbitrary (r12 advice). A ring whose
    probe vertices ALL sit on other rings' boundaries (fully shared
    edges) remains arbitrary — documented as a semantic delta in
    COVERAGE.md."""
    def _vote(idx: str) -> str:
        inside = _raycast_sql(
            "array(q0)",
            f"element_at({r}, {idx}).x", f"element_at({r}, {idx}).y")
        return (f"(aggregate(transform({g}, (q0, q1) -> CAST(CASE WHEN "
                f"q1 != {ri} AND {inside} THEN 1 ELSE 0 END AS BIGINT)), "
                f"CAST(0 AS BIGINT), (h0, h1) -> h0 + h1) % 2)")

    v1 = _vote("1")
    v2 = _vote(f"(1 + CAST(size({r}) / 3 AS INT))")
    v3 = _vote(f"(1 + CAST(2 * size({r}) / 3 AS INT))")
    return f"((({v1}) + ({v2}) + ({v3})) >= 2)"


def _ring_perim_sql(r: str) -> str:
    """Closed perimeter of one ring, inlined (a SQL scalar function
    like geo_segments cannot take a lambda variable): wraparound
    consecutive-vertex distances — the wrap edge is degenerate when
    the WKT ring already repeats its first point."""
    nxt = f"element_at({r}, ((i6 + 1) % size({r})) + 1)"
    return (f"(aggregate(transform({r}, (p6, i6) -> sqrt("
            f"({nxt}.x - p6.x) * ({nxt}.x - p6.x) + "
            f"({nxt}.y - p6.y) * ({nxt}.y - p6.y))), "
            f"CAST(0.0 AS DOUBLE), (c6, v6) -> c6 + v6))")
_HAVERSINE_SEG = (
    "(2 * 6372797.560856 * asin(sqrt("
    "pow(sin((radians(s.by) - radians(s.ay)) / 2), 2)"
    " + cos(radians(s.ay)) * cos(radians(s.by))"
    "   * pow(sin((radians(s.bx) - radians(s.ax)) / 2), 2))))")

FUNCTIONS["geo_kind"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION geo_kind(wkt STRING)
    RETURNS INT RETURN CASE
        WHEN upper(trim(wkt)) LIKE 'MULTIPOINT%' THEN 2
        WHEN upper(trim(wkt)) LIKE 'MULTILINESTRING%' THEN 4
        WHEN upper(trim(wkt)) LIKE 'MULTIPOLYGON%' THEN 6
        WHEN upper(trim(wkt)) LIKE 'POINT%' THEN 1
        WHEN upper(trim(wkt)) LIKE 'LINESTRING%' THEN 3
        WHEN upper(trim(wkt)) LIKE 'POLYGON%' THEN 5
        ELSE 0 END
"""

# flatten a ring set into segments; `closed` appends the wrap edge
# (degenerate when the WKT ring already repeats its first point); the
# open form appends a degenerate first-vertex segment to keep the
# branch types aligned (zero length, on-path — harmless everywhere)
FUNCTIONS["geo_segments"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION geo_segments(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, closed BOOLEAN)
    RETURNS ARRAY<STRUCT<ax: DOUBLE, ay: DOUBLE, bx: DOUBLE, by: DOUBLE>>
    RETURN flatten(transform(g, r -> CASE
        WHEN size(r) < 2 THEN array(named_struct(
            'ax', element_at(r, 1).x, 'ay', element_at(r, 1).y,
            'bx', element_at(r, 1).x, 'by', element_at(r, 1).y))
        ELSE concat(
            transform(sequence(1, size(r) - 1), i -> named_struct(
                'ax', element_at(r, i).x, 'ay', element_at(r, i).y,
                'bx', element_at(r, i + 1).x, 'by',
                element_at(r, i + 1).y)),
            CASE WHEN closed THEN array(named_struct(
                'ax', element_at(r, size(r)).x,
                'ay', element_at(r, size(r)).y,
                'bx', element_at(r, 1).x, 'by', element_at(r, 1).y))
            ELSE array(named_struct(
                'ax', element_at(r, 1).x, 'ay', element_at(r, 1).y,
                'bx', element_at(r, 1).x, 'by', element_at(r, 1).y))
            END)
        END))
"""

# typed distance over any kind pair (ST_Distance_* matrix,
# ExtensionFunctionsGeo.hpp): 0 when an areal side contains a vertex
# of the other (even-odd over ALL rings — a point inside a hole is
# NOT contained and measures to the hole boundary); otherwise the
# minimum over the segment-pair cross product.  Boundary touches and
# edge crossings surface as 0 through the segment distance.
FUNCTIONS["st_distance_any"] = f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_distance_any(
        a ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, ka INT,
        b ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, kb INT)
    RETURNS DOUBLE RETURN CASE
        WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS DOUBLE)
        WHEN ka = 0 OR kb = 0 OR size(flatten(a)) = 0
             OR size(flatten(b)) = 0 THEN CAST(NULL AS DOUBLE)
        WHEN ka >= 5 AND exists(flatten(b),
            v -> {_raycast_sql('a', 'v.x', 'v.y')})
            THEN CAST(0.0 AS DOUBLE)
        WHEN kb >= 5 AND exists(flatten(a),
            v -> {_raycast_sql('b', 'v.x', 'v.y')})
            THEN CAST(0.0 AS DOUBLE)
        ELSE aggregate(geo_segments(a, ka >= 5),
            CAST('Infinity' AS DOUBLE),
            (ac1, s) -> least(ac1, aggregate(geo_segments(b, kb >= 5),
                CAST('Infinity' AS DOUBLE),
                (ac2, t) -> least(ac2, {_seg_seg_sql(
                    's.ax', 's.ay', 's.bx', 's.by',
                    't.ax', 't.ay', 't.bx', 't.by')}))))
        END
"""

# boundary-inclusive intersects (the reference's ST_Intersects counts
# vertex/edge touches — GeoSpatial.Math corner-touch expectations)
FUNCTIONS["st_intersects_any"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_intersects_any(
        a ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, ka INT,
        b ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, kb INT)
    RETURNS BOOLEAN RETURN st_distance_any(a, ka, b, kb) <= 0.0
"""

# ST_Length sums ALL member linestrings (ST_Length_MultiLineString,
# ExtensionFunctionsGeo.hpp:1211); non-linear kinds are 0
FUNCTIONS["st_length_any"] = f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_length_any(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, k INT)
    RETURNS DOUBLE RETURN CASE
        WHEN g IS NULL THEN CAST(NULL AS DOUBLE)
        WHEN k IN (3, 4) THEN aggregate(geo_segments(g, false),
            CAST(0.0 AS DOUBLE), (acc, s) -> acc + {_SEG_LEN})
        ELSE CAST(0.0 AS DOUBLE) END
"""

# ST_Perimeter counts ONLY exterior rings: ring 1 for POLYGON
# (ST_Perimeter_Polygon:1245); for MULTIPOLYGON every NON-HOLE ring
# (perimeter_multipolygon sums each polygon's exterior — hole rings
# classified even-odd, see _is_hole_sql)
FUNCTIONS["st_perimeter_any"] = f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_perimeter_any(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, k INT)
    RETURNS DOUBLE RETURN CASE
        WHEN g IS NULL THEN CAST(NULL AS DOUBLE)
        WHEN k = 5 THEN aggregate(geo_segments(slice(g, 1, 1), true),
            CAST(0.0 AS DOUBLE), (acc, s) -> acc + {_SEG_LEN})
        WHEN k = 6 THEN aggregate(transform(g, (r, ri) -> CASE
            WHEN {_is_hole_sql('g', 'r', 'ri')} THEN CAST(0.0 AS DOUBLE)
            ELSE {_ring_perim_sql('r')} END),
            CAST(0.0 AS DOUBLE), (c5, v5) -> c5 + v5)
        ELSE CAST(0.0 AS DOUBLE) END
"""

# ST_Area subtracts hole rings: ring 1 positive + holes negative for
# POLYGON (ST_Area_Polygon); per-ring even-odd sign for MULTIPOLYGON
# (ST_Area_MultiPolygon sums polygon areas, each exterior minus holes)
FUNCTIONS["st_area_any"] = f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_area_any(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, k INT)
    RETURNS DOUBLE RETURN CASE
        WHEN g IS NULL THEN CAST(NULL AS DOUBLE)
        WHEN k = 5 THEN abs({_ring_area2_sql('element_at(g, 1)')}) / 2.0
            - aggregate(slice(g, 2, greatest(0, size(g) - 1)),
                CAST(0.0 AS DOUBLE),
                (c5, r) -> c5 + abs({_ring_area2_sql('r')}) / 2.0)
        WHEN k = 6 THEN aggregate(transform(g, (r, ri) ->
            (CASE WHEN {_is_hole_sql('g', 'r', 'ri')}
                  THEN CAST(-1.0 AS DOUBLE)
                  ELSE CAST(1.0 AS DOUBLE) END)
            * abs({_ring_area2_sql('r')}) / 2.0),
            CAST(0.0 AS DOUBLE), (c5, v5) -> c5 + v5)
        ELSE CAST(0.0 AS DOUBLE) END
"""


def _len_centroid_sql(closed):
    """Segment-length-weighted midpoint centroid over geo_segments."""
    segs = f"geo_segments(g, {closed})"
    L = (f"aggregate({segs}, CAST(0.0 AS DOUBLE), "
         f"(acc, s) -> acc + {_SEG_LEN})")
    def w(c1, c2):
        return (f"aggregate({segs}, CAST(0.0 AS DOUBLE), (acc, s) -> "
                f"acc + {_SEG_LEN} * (s.{c1} + s.{c2}) / 2.0) / {L}")
    return L, (f"named_struct('x', {w('ax', 'bx')}, "
               f"'y', {w('ay', 'by')})")


def _fan_sign(k='k'):
    return (f"(CASE WHEN {k} = 5 AND ri > 0 THEN CAST(-1.0 AS DOUBLE) "
            f"ELSE CAST(1.0 AS DOUBLE) END)")


def _centroid_any_sql():
    """ST_Centroid dispatch (ExtensionFunctionsGeo.hpp:1490-1860):
    point/multipoint -> mean of all vertices; line kinds ->
    length-weighted midpoints with first-point fallback; areal kinds ->
    winding-normalized fan decomposition (ring 1 positive, POLYGON
    holes negative — the reference's importer canonicalizes winding,
    its kernel then signs by ring index), zero-area falls back to the
    CLOSED length centroid, then to ring first points."""
    a2 = (f"aggregate(transform(g, (r, ri) -> {_fan_sign()} * "
          f"abs({_ring_fan2_sql('r')})), CAST(0.0 AS DOUBLE), "
          f"(c6, v6) -> c6 + v6)")
    def cg(c):
        return (f"aggregate(transform(g, (r, ri) -> {_fan_sign()} * "
                f"signum({_ring_fan2_sql('r')}) * "
                f"{_ring_fancg_sql('r', c)}), CAST(0.0 AS DOUBLE), "
                f"(c7, v7) -> c7 + v7) / 3.0 / {a2}")
    l_open, c_open = _len_centroid_sql('false')
    l_closed, c_closed = _len_centroid_sql('true')
    first_pts = (
        "named_struct('x', aggregate(g, CAST(0.0 AS DOUBLE), "
        "(cp, r) -> cp + element_at(r, 1).x) / size(g), "
        "'y', aggregate(g, CAST(0.0 AS DOUBLE), "
        "(cp, r) -> cp + element_at(r, 1).y) / size(g))")
    mean_pts = (
        "named_struct('x', aggregate(flatten(g), CAST(0.0 AS DOUBLE), "
        "(cm, v) -> cm + v.x) / size(flatten(g)), "
        "'y', aggregate(flatten(g), CAST(0.0 AS DOUBLE), "
        "(cm, v) -> cm + v.y) / size(flatten(g)))")
    return f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_centroid_any(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, k INT)
    RETURNS STRUCT<x: DOUBLE, y: DOUBLE> RETURN CASE
        WHEN g IS NULL THEN CAST(NULL AS STRUCT<x: DOUBLE, y: DOUBLE>)
        WHEN k <= 2 THEN {mean_pts}
        WHEN k <= 4 THEN CASE WHEN {l_open} > 0 THEN {c_open}
                              ELSE {first_pts} END
        ELSE CASE WHEN {a2} != 0 THEN named_struct(
                      'x', {cg('x')}, 'y', {cg('y')})
                  WHEN {l_closed} > 0 THEN {c_closed}
                  ELSE {first_pts} END
        END
"""


FUNCTIONS["st_centroid_any"] = _centroid_any_sql()

# geos-backed ST_Equals for non-point geometries (GeospatialTest.cpp
# :2961): true geometric equality, decided here as mutual
# boundary-membership (every vertex of each side at distance 0 from
# the other side's segment set) plus equal area and equal boundary
# length — vertex-set reorderings, reversals, and collinear vertex
# insertions (the square-vs-pentagon pin) all compare equal, mirror
# shapes and subset shapes do not.  Point pairs keep the reference's
# own distance<=0 lowering (RelAlgTranslatorGeo.cpp:1449).
def _equals_any_sql():
    def on_boundary(side, segs_other):
        d = _pt_seg_sql('v.x', 'v.y', 's.ax', 's.ay', 's.bx', 's.by')
        return (f"forall(flatten({side}), v -> aggregate({segs_other}, "
                f"CAST('Infinity' AS DOUBLE), (ac, s) -> least(ac, {d}))"
                f" <= 0.0)")
    return f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_equals_any(
        a ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, ka INT,
        b ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, kb INT)
    RETURNS BOOLEAN RETURN CASE
        WHEN a IS NULL OR b IS NULL THEN CAST(NULL AS BOOLEAN)
        ELSE {on_boundary('a', 'geo_segments(b, kb >= 5)')}
         AND {on_boundary('b', 'geo_segments(a, ka >= 5)')}
         AND abs(st_area_any(a, ka) - st_area_any(b, kb)) < 1e-9
         AND abs(aggregate(geo_segments(a, ka >= 5),
                 CAST(0.0 AS DOUBLE), (acc, s) -> acc + {_SEG_LEN})
               - aggregate(geo_segments(b, kb >= 5),
                 CAST(0.0 AS DOUBLE), (acc, s) -> acc + {_SEG_LEN}))
             < 1e-9
        END
"""


FUNCTIONS["st_equals_any"] = _equals_any_sql()

# the transform stages the Column builders call
FUNCTIONS.update(_transform_sql_funcs())

# vertex-wise ring-set transform to web mercator (the SQL form's one
# supported target; the DataFrame API carries the EPSG table)
FUNCTIONS["st_transform_rings"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_transform_rings(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, srid INT)
    RETURNS ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>> RETURN CASE
        WHEN srid = 4326 THEN g
        WHEN srid = 900913 THEN transform(g, r -> transform(r,
            p -> named_struct(
                'x', p.x * 111319.490778,
                'y', 6378136.99911
                     * ln(tan(0.00872664626 * p.y + 0.785398163397)))))
        ELSE array(array(named_struct(
            'x', CAST(raise_error(concat(
                'ST_Transform: unsupported SRID ',
                CAST(srid AS STRING), ' in the SQL form; the DataFrame ',
                'API adds the EPSG transverse-Mercator table (UTM ',
                'north/south, ETRS89 UTM, 27700, 2157, 2193)'))
                AS DOUBLE),
            'y', CAST(NULL AS DOUBLE)))) END
"""

# geodesic kernels (GEOGRAPHY surface): the reference's haversine with
# its exact 6372797.560856 m radius (ExtensionFunctions.hpp:433-446)
FUNCTIONS["st_distance_geog"] = """
    CREATE OR REPLACE TEMPORARY FUNCTION st_distance_geog(
        a STRUCT<x: DOUBLE, y: DOUBLE>, b STRUCT<x: DOUBLE, y: DOUBLE>)
    RETURNS DOUBLE RETURN distance_in_meters(a.x, a.y, b.x, b.y)
"""

FUNCTIONS["st_length_geog"] = f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_length_geog(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>)
    RETURNS DOUBLE RETURN aggregate(geo_segments(g, false),
        CAST(0.0 AS DOUBLE), (acc, s) -> acc + {_HAVERSINE_SEG})
"""

FUNCTIONS["st_perimeter_geog"] = f"""
    CREATE OR REPLACE TEMPORARY FUNCTION st_perimeter_geog(
        g ARRAY<ARRAY<STRUCT<x: DOUBLE, y: DOUBLE>>>, k INT)
    RETURNS DOUBLE RETURN CASE
        WHEN k = 5 THEN aggregate(geo_segments(slice(g, 1, 1), true),
            CAST(0.0 AS DOUBLE), (acc, s) -> acc + {_HAVERSINE_SEG})
        ELSE aggregate(geo_segments(g, true), CAST(0.0 AS DOUBLE),
            (acc, s) -> acc + {_HAVERSINE_SEG})
        END
"""


def st_maxdistance(p: Column, g: Column) -> Column:
    """ST_MaxDistance(POINT, geometry) — Column form of the SQL
    function above."""
    return F.aggregate(
        F.flatten(g),
        F.lit(0.0),
        lambda acc, q: F.greatest(
            acc,
            F.sqrt(
                (p["x"] - q["x"]) * (p["x"] - q["x"])
                + (p["y"] - q["y"]) * (p["y"] - q["y"])
            ),
        ),
    )


def _wkb_le(geom_type: int, coords: list) -> bytes:
    out = [b"\x01", struct.pack("<I", geom_type)]
    out += [struct.pack("<d", v) for v in coords]
    return b"".join(out)




# ST_AsBinary / ST_AsWkb exports (ExtensionFunctionsGeo.hpp
# ST_AsBinary/ST_AsWkb): standard little-endian WKB. IEEE-754 byte
# packing has no SQL builtin, so these are the one geo export family
# that runs as Arrow-batched pandas kernels (geometry-local, map-only).

@F.pandas_udf(BinaryType())
def _point_wkb(s: pd.DataFrame) -> pd.Series:
    # a struct argument arrives as a DataFrame with the fields as
    # columns (Arrow struct -> pandas)
    return pd.Series(
        [
            None
            if pd.isna(x) or pd.isna(y)
            else _wkb_le(1, [float(x), float(y)])
            for x, y in zip(s["x"], s["y"])
        ]
    )


@F.pandas_udf(BinaryType())
def _line_wkb(s: pd.Series) -> pd.Series:
    out = []
    for ring in s:
        if ring is None:
            out.append(None)
            continue
        pts = [(float(q["x"]), float(q["y"])) for q in ring]
        body = b"\x01" + struct.pack("<II", 2, len(pts))
        body += b"".join(struct.pack("<dd", x, y) for x, y in pts)
        out.append(body)
    return pd.Series(out)


@F.pandas_udf(BinaryType())
def _poly_wkb(s: pd.Series) -> pd.Series:
    out = []
    for rings in s:
        if rings is None:
            out.append(None)
            continue
        body = b"\x01" + struct.pack("<II", 3, len(rings))
        for ring in rings:
            pts = [(float(q["x"]), float(q["y"])) for q in ring]
            if pts and pts[0] != pts[-1]:
                pts.append(pts[0])
            body += struct.pack("<I", len(pts))
            body += b"".join(struct.pack("<dd", x, y) for x, y in pts)
        out.append(body)
    return pd.Series(out)


# WKB exports by name for SQL strings (ST_AsWkb is the reference's
# alias of ST_AsBinary; per-type names because SQL scalar functions
# cannot overload by geometry type)
FUNCTIONS.update(
    st_asbinary=_point_wkb,
    st_aswkb=_point_wkb,
    st_asbinary_line=_line_wkb,
    st_asbinary_poly=_poly_wkb,
)
