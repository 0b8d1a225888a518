"""H3-shaped hexagonal geo-indexing functions.

Reference: QueryEngine/ExtensionFunctionsH3.hpp (H3_LonLatToCell /
H3_PointToCell / H3_CellToLon / H3_CellToLat / H3_CellToParent /
H3_IsValidCell / H3_CellToString / H3_StringToCell /
H3_CellToBoundary_WKT), which delegates to the Uber H3 C library
through Geospatial/H3Shim.cpp.

HONEST DELTA: an Uber-H3 cell id is defined by a 122-entry icosahedral
base-cell table plus aperture-7 digit rotations; without the h3 library
(not in this container) a bit-compatible reimplementation is not
reproducible, so cell ids here are ENGINE-LOCAL: a pointy-top axial hex
grid on the equirectangular lon/lat plane whose linear size shrinks by
1/sqrt(7) per resolution step — the same 0-15 resolution ladder and
~1/7-area-per-step progression as H3. Everything a user does WITH
cells — bucket, aggregate, roundtrip to centers, coarsen to parents,
draw boundaries, stringify — behaves the same; only the raw id values
differ from h3lib, and that is documented here and in COVERAGE.md.
Every function is one closed-form codegen'd expression with an exact
cross-engine oracle (no UDF anywhere); id packing uses only shifts and
masks, so 60-bit ids stay exact in both engines.

Cell id layout (mirrors H3's mode/res header idea):
  [bit 60] mode = 1
  [bits 56-59] resolution 0-15
  [bits 28-55] q axial coord + 2^26 offset (28-bit field)
  [bits 0-27]  r axial coord + 2^26 offset (28-bit field)
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from heavydb_spark import functions as _functions
from heavydb_spark.functions.render import SQRT3, _E, _SqlB

_MODE_BIT = 60
_RES_SHIFT = 56
_Q_SHIFT = 28
_OFF = 1 << 26
_FIELD_MASK = (1 << 28) - 1

# res-0 circumradius in degrees; each resolution divides the linear
# size by sqrt(7) => area by 7 (H3's aperture-7 progression).
_BASE_SIZE = 30.0
_SQRT7 = 7.0 ** 0.5


def _size(resolution: int) -> float:
    if not 0 <= int(resolution) <= 15:
        raise ValueError(
            f"H3_LonLatToCell: invalid resolution ({resolution})"
        )
    return _BASE_SIZE / _SQRT7 ** int(resolution)


class _SqlI(_SqlB):
    """SQL-text backend + exact 64-bit shift/mask ops (`>>` and `&`
    exist in both Spark 4 SQL and DuckDB)."""

    @staticmethod
    def shr(a, n: int):
        return _E(f"CAST({a.s} AS BIGINT) >> {int(n)}")

    @staticmethod
    def mask(a, m: int):
        return _E(f"CAST({a.s} AS BIGINT) & {int(m)}")

    @staticmethod
    def mkid(qf, rf, resolution):
        if isinstance(resolution, _E):  # a runtime resolution
            header = (f"{1 << _MODE_BIT} + shiftleft("
                      f"CAST({resolution.s} AS BIGINT), {_RES_SHIFT})")
        else:
            header = (1 << _MODE_BIT) | (int(resolution) << _RES_SHIFT)
        return _E(
            f"CAST({qf.s} AS BIGINT) * {1 << _Q_SHIFT} "
            f"+ CAST({rf.s} AS BIGINT) + {header}"
        )


# --------------------------------------------------------------- formulas


def _axial_round(qf, rf):
    """Cube-round fractional axial coords to the containing hex — the
    same largest-diff reprojection as the render hex bins
    (ExtensionFunctions.hpp:654-668)."""
    xf = qf
    zf = rf
    yf = -xf - zf
    rx, ry, rz = _SqlI.round(xf), _SqlI.round(yf), _SqlI.round(zf)
    xd = _SqlI.abs(rx - xf)
    yd = _SqlI.abs(ry - yf)
    zd = _SqlI.abs(rz - zf)
    cond_x = _SqlI.and_(_SqlI.gt(xd, yd), _SqlI.gt(xd, zd))
    q = _SqlI.where(cond_x, -ry - rz, rx)
    r = _SqlI.where(cond_x, rz, _SqlI.where(_SqlI.gt(yd, zd), rz, -rx - ry))
    return q, r


def _lonlat_to_cell(lon, lat, resolution, size=None):
    size = _size(resolution) if size is None else size
    qf = (lon * (SQRT3 / 3.0) - lat * (1.0 / 3.0)) / size
    rf = (lat * (2.0 / 3.0)) / size
    q, r = _axial_round(qf, rf)
    return _SqlI.mkid(q + float(_OFF), r + float(_OFF), resolution)


def _cell_res(cell):
    return _SqlI.mask(_SqlI.shr(cell, _RES_SHIFT), 15)


def _cell_q(cell):
    return _SqlI.mask(_SqlI.shr(cell, _Q_SHIFT), _FIELD_MASK) - _OFF


def _cell_r(cell):
    return _SqlI.mask(cell, _FIELD_MASK) - _OFF


def _cell_size_expr(cell):
    """size = BASE * 7^(-res/2) as an expression of the stored res."""
    return _E(f"power(7.0, {_cell_res(cell).s} * -0.5) * {_BASE_SIZE!r}")


def _cell_to_lon(cell):
    q = _cell_q(cell)
    r = _cell_r(cell)
    return (q * SQRT3 + r * (SQRT3 / 2.0)) * _cell_size_expr(cell)


def _cell_to_lat(cell):
    return _cell_r(cell) * 1.5 * _cell_size_expr(cell)


def _is_valid(cell):
    mode = _SqlI.mask(_SqlI.shr(cell, _MODE_BIT), 1)
    lon = _cell_to_lon(cell)
    lat = _cell_to_lat(cell)
    in_lon = _SqlI.and_(_SqlI.le(-270.0 - lon, 0.0),
                        _SqlI.le(lon - 270.0, 0.0))
    in_lat = _SqlI.and_(_SqlI.le(-135.0 - lat, 0.0),
                        _SqlI.le(lat - 135.0, 0.0))
    return _SqlI.and_(_SqlI.gt(mode, 0.5), _SqlI.and_(in_lon, in_lat))


# ------------------------------------------------------- public surface
#
# Each Column builder calls the registered SQL function of the same
# reference name (declared in FUNCTIONS below), so a composed input is
# bound once and the plan stays the size of one formula. The `*_sql`
# text builders inline their input: they are the portable form the
# DuckDB oracles run.


def _colwrap(v):
    return v if isinstance(v, Column) else F.lit(float(v))


def _colwrap_cell(v):
    return v if isinstance(v, Column) else F.lit(int(v))


def _res(resolution: int) -> Column:
    _size(resolution)  # an invalid resolution raises while building
    return F.lit(int(resolution))


def h3_lonlat_to_cell(lon, lat, resolution: int) -> Column:
    """H3_LonLatToCell(lon, lat, res) -> BIGINT
    (ExtensionFunctionsH3.hpp:42-47)."""
    return _functions._call("h3_lonlattocell", _colwrap(lon), _colwrap(lat),
                            _res(resolution))


def h3_lonlat_to_cell_sql(lon: str, lat: str, resolution: int) -> str:
    return _lonlat_to_cell(_E(lon), _E(lat), resolution).s


def h3_cell_to_lon(cell) -> Column:
    """H3_CellToLon(cell) -> DOUBLE (cell-center longitude)."""
    return _functions._call("h3_celltolon", _colwrap_cell(cell))


def h3_cell_to_lat(cell) -> Column:
    """H3_CellToLat(cell) -> DOUBLE (cell-center latitude)."""
    return _functions._call("h3_celltolat", _colwrap_cell(cell))


def h3_cell_to_lon_sql(cell: str) -> str:
    return _cell_to_lon(_E(cell)).s


def h3_cell_to_lat_sql(cell: str) -> str:
    return _cell_to_lat(_E(cell)).s


def h3_cell_to_parent(cell, resolution: int) -> Column:
    """H3_CellToParent(cell, res): the coarser cell containing this
    cell's center (H3's parent likewise covers the child center)."""
    return _functions._call("h3_celltoparent", _colwrap_cell(cell),
                            _res(resolution))


def h3_cell_to_parent_sql(cell: str, resolution: int) -> str:
    return h3_lonlat_to_cell_sql(
        h3_cell_to_lon_sql(cell), h3_cell_to_lat_sql(cell), resolution
    )


def h3_is_valid_cell(cell) -> Column:
    """H3_IsValidCell(cell): mode bit set and the decoded center lies
    in the (loose) coordinate range of the grid."""
    return _functions._call("h3_isvalidcell", _colwrap_cell(cell))


def h3_is_valid_cell_sql(cell: str) -> str:
    return _is_valid(_E(cell)).s


def h3_cell_to_string(cell) -> Column:
    """H3_CellToString(cell) -> TEXT: 16-digit lowercase hex (the
    h3lib string form)."""
    return _functions._call("h3_celltostring", _colwrap_cell(cell))


def h3_string_to_cell(s) -> Column:
    """H3_StringToCell(hex) -> BIGINT."""
    s = s if isinstance(s, Column) else F.lit(str(s))
    return _functions._call("h3_stringtocell", s)


def h3_cell_to_boundary_wkt(cell) -> Column:
    """H3_CellToBoundary_WKT(cell) -> POLYGON WKT of the hex (6
    vertices + closing vertex, 6dp) — parseable by st_geomfromtext."""
    return _functions._call("h3_celltoboundary_wkt", _colwrap_cell(cell))


def h3_cell_to_point(cell) -> Column:
    """H3_CellToPoint(cell) -> POINT (struct<x,y> center) — the
    geometry-typed variant (H3Runtime.cpp)."""
    return _functions._call("h3_celltopoint", _colwrap_cell(cell))


def h3_cell_to_boundary(cell) -> Column:
    """H3_CellToBoundary(cell) -> POLYGON (single closed hex ring in
    the engine's array-of-rings geometry type, H3Runtime.cpp)."""
    return _functions._call("h3_celltoboundary", _colwrap_cell(cell))


# ------------------------------------------------- SQL declarations


def _hex_vertices(n: int):
    """The first `n` pointy-top hex vertices around the center (lon,
    lat) at circumradius `size`, as (x, y) text pairs."""
    lon, lat, size = _E("lon"), _E("lat"), _E("size")
    for i in range(n):
        ang = math.pi / 180.0 * (60.0 * (i % 6) + 30.0)
        yield (lon + size * math.cos(ang)).s, (lat + size * math.sin(ang)).s


def _declarations() -> dict[str, str]:
    """Declare the H3_* family as Spark SQL scalar functions so the
    reference's H3 SQL runs through `engine.sql` (all codegen). As in the
    reference, one formula takes the resolution at run time:
    `h3_lonlattocell` passes the resolution's cell size to
    `h3_lonlattocell_sized` as an argument, so the size lookup is bound
    once, and `h3_celltoparent` re-encodes the cell center through it.
    The boundary functions bind the center and circumradius once
    through `h3_hexring` / `h3_hexwkt`. (Spark fails to parse a
    function whose declared type closes two nested types, such as
    ARRAY<STRUCT<..>>, when its body also uses the `>>` operator, so
    the size decoding lives in `h3_cellsize`.)"""
    cell = _lonlat_to_cell(_E("lon"), _E("lat"), _E("resolution"), _E("size"))
    sizes = " ".join(f"WHEN {r} THEN {_size(r)!r}" for r in range(16))
    center_size = "h3_celltolon(cell), h3_celltolat(cell), h3_cellsize(cell)"
    ring = ", ".join(f"named_struct('x', {x}, 'y', {y})"
                     for x, y in _hex_vertices(6))
    wkt = ", ".join(f"concat_ws(' ', CAST(round({x}, 6) AS STRING), "
                    f"CAST(round({y}, 6) AS STRING))"
                    for x, y in _hex_vertices(7))
    point = "STRUCT<x: DOUBLE, y: DOUBLE>"

    def guarded(call: str, name: str) -> str:
        return (f"CASE WHEN resolution BETWEEN 0 AND 15 THEN {call} ELSE CAST("
                f"raise_error('{name}: invalid resolution') AS BIGINT) END")

    declared = (
        ("h3_lonlattocell_sized(lon DOUBLE, lat DOUBLE, size DOUBLE, "
         "resolution INT) RETURNS BIGINT", cell.s),
        ("h3_lonlattocell(lon DOUBLE, lat DOUBLE, resolution INT) "
         "RETURNS BIGINT", guarded(
             "h3_lonlattocell_sized(lon, lat, "
             f"CASE resolution {sizes} END, resolution)", "H3_LonLatToCell")),
        (f"h3_pointtocell(p {point}, resolution INT) "
         "RETURNS BIGINT", "h3_lonlattocell(p.x, p.y, resolution)"),
        ("h3_celltolon(cell BIGINT) RETURNS DOUBLE",
         h3_cell_to_lon_sql("cell")),
        ("h3_celltolat(cell BIGINT) RETURNS DOUBLE",
         h3_cell_to_lat_sql("cell")),
        ("h3_celltoparent(cell BIGINT, resolution INT) RETURNS BIGINT",
         guarded("h3_lonlattocell(h3_celltolon(cell), h3_celltolat(cell), "
                 "resolution)", "H3_CellToParent")),
        ("h3_isvalidcell(cell BIGINT) RETURNS BOOLEAN",
         h3_is_valid_cell_sql("cell")),
        ("h3_celltostring(cell BIGINT) RETURNS STRING",
         "lower(lpad(hex(cell), 16, '0'))"),
        ("h3_stringtocell(s STRING) RETURNS BIGINT",
         "CAST(conv(s, 16, 10) AS BIGINT)"),
        ("h3_cellsize(cell BIGINT) RETURNS DOUBLE",
         _cell_size_expr(_E("cell")).s),
        (f"h3_celltopoint(cell BIGINT) RETURNS {point}",
         "named_struct('x', h3_celltolon(cell), 'y', h3_celltolat(cell))"),
        ("h3_hexring(lon DOUBLE, lat DOUBLE, size DOUBLE) "
         f"RETURNS ARRAY<{point}>", f"array({ring})"),
        (f"h3_celltoboundary(cell BIGINT) RETURNS ARRAY<ARRAY<{point}>>",
         f"array(h3_hexring({center_size}))"),
        ("h3_hexwkt(lon DOUBLE, lat DOUBLE, size DOUBLE) RETURNS STRING",
         f"concat('POLYGON ((', concat_ws(', ', {wkt}), '))')"),
        ("h3_celltoboundary_wkt(cell BIGINT) RETURNS STRING",
         f"h3_hexwkt({center_size})"),
    )
    return {sig[:sig.index("(")]:
            f"CREATE OR REPLACE TEMPORARY FUNCTION {sig} RETURN {body}"
            for sig, body in declared}


# The family's declarations for `register_all` (functions/__init__.py).
FUNCTIONS = _declarations()
