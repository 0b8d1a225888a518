"""Backend-rendering pixel-binning functions.

Reference: QueryEngine/ExtensionFunctions.hpp:464-1140 — the
`rect_pixel_bin` family, regular-hexagon binning (horizontal/vertical
orientation, x/y/packed), Mercator view predicates, and meters→pixel
sizing. In the reference these power the backend renderer's binned
scatter / hex layers; a render query projects the bin center per row
and group-bys on it. Here each function is ONE codegen'd expression
built from a shared formula over two backends — Spark Columns and
ANSI-SQL text (for DuckDB oracles; the H3 and transform formulas of
h3.py and geo.py are written over this text backend alone). Computed
in float64 throughout (the reference uses float32 intermediates;
double is a strict precision upgrade, and oracle parity is unaffected
because both engines run the identical double formula).

Scale shape: pure scalar projections (no shuffle); a render aggregation
is then an ordinary hash group-by on the bin value.

The hex Column builders inline their intermediates (pix/cube/rounded)
at every use: the blow-up is bounded (~10x a small formula, about 24 KB
of text per axis) and compiles once per stage. The H3 and transform
builders instead call registered SQL functions, which bind each input
once.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

SQRT3 = 1.7320508075688772

_DEG = 0.017453292519943295769236907684886  # pi / 180
_R_EARTH = 6372797.560856
_MERC_X = 111319.490778
_MERC_Y = 6378136.99911


# --------------------------------------------------------------- backends


class _E:
    """SQL-text expression with arithmetic + comparisons."""

    def __init__(self, s: str):
        self.s = f"({s})"

    def _b(self, op, o):
        o = o.s if isinstance(o, _E) else repr(float(o))
        return _E(f"{self.s} {op} {o}")

    def _rb(self, op, o):
        o = o.s if isinstance(o, _E) else repr(float(o))
        return _E(f"{o} {op} {self.s}")

    def __add__(self, o):
        return self._b("+", o)

    def __radd__(self, o):
        return self._rb("+", o)

    def __sub__(self, o):
        return self._b("-", o)

    def __rsub__(self, o):
        return self._rb("-", o)

    def __mul__(self, o):
        return self._b("*", o)

    def __rmul__(self, o):
        return self._rb("*", o)

    def __truediv__(self, o):
        return self._b("/", o)

    def __rtruediv__(self, o):
        return self._rb("/", o)

    def __neg__(self):
        return _E(f"- {self.s}")


def _fn(name):
    return staticmethod(lambda x: _E(f"{name}({x.s})"))


class _SqlB:
    """SQL-text backend."""

    E = _E

    @staticmethod
    def lit(v):
        return _E(repr(float(v)))

    @staticmethod
    def fmod(a, b):
        b = b.s if isinstance(b, _E) else repr(float(b))
        return _E(f"{a.s} % {b}")

    @staticmethod
    def trunc(x):
        return _E(f"sign({x.s}) * floor(abs({x.s}))")

    @staticmethod
    def round(x):
        return _E(f"round({x.s}, 0)")

    @staticmethod
    def abs(x):
        return _E(f"abs({x.s})")

    @staticmethod
    def gt(a, b):
        b = b.s if isinstance(b, _E) else repr(float(b))
        return _E(f"{a.s} > {b}")

    @staticmethod
    def le(a, b):
        b = b.s if isinstance(b, _E) else repr(float(b))
        return _E(f"{a.s} <= {b}")

    @staticmethod
    def and_(a, b):
        return _E(f"{a.s} AND {b.s}")

    @staticmethod
    def or_(a, b):
        return _E(f"{a.s} OR {b.s}")

    @staticmethod
    def not_(a):
        return _E(f"NOT {a.s}")

    @staticmethod
    def where(c, a, b):
        a = a.s if isinstance(a, _E) else repr(float(a))
        b = b.s if isinstance(b, _E) else repr(float(b))
        return _E(f"CASE WHEN {c.s} THEN {a} ELSE {b} END")

    @staticmethod
    def band(x, mask: int):
        return _E(f"CAST({x.s} AS BIGINT) & {int(mask)}")

    sin, cos, tan, asin, atan, exp, ln, sqrt, radians, degrees = (
        _fn(name) for name in ("sin", "cos", "tan", "asin", "atan", "exp",
                               "ln", "sqrt", "radians", "degrees"))

    @staticmethod
    def atan2(y, x):
        return _E(f"atan2({y.s}, {x.s})")


class _ColB:
    """Spark Column backend."""

    @staticmethod
    def lit(v):
        return F.lit(float(v))

    @staticmethod
    def fmod(a, b):
        return a % b  # Spark % on doubles has C fmod sign semantics

    @staticmethod
    def trunc(x):
        return F.signum(x) * F.floor(F.abs(x))

    @staticmethod
    def round(x):
        return F.round(x, 0)

    abs = staticmethod(F.abs)

    @staticmethod
    def gt(a, b):
        return a > b

    @staticmethod
    def le(a, b):
        return a <= b

    @staticmethod
    def and_(a, b):
        return a & b

    @staticmethod
    def or_(a, b):
        return a | b

    @staticmethod
    def not_(a):
        return ~a

    @staticmethod
    def where(c, a, b):
        return F.when(c, a).otherwise(b)

    @staticmethod
    def band(x, mask: int):
        return x.cast("long").bitwiseAND(mask)

    sin = staticmethod(F.sin)
    cos = staticmethod(F.cos)
    asin = staticmethod(F.asin)
    sqrt = staticmethod(F.sqrt)
    ln = staticmethod(F.log)
    tan = staticmethod(F.tan)


# --------------------------------------------------------------- formulas


def _as(ops, v):
    """Lift a python number to a backend expression (exprs pass through)."""
    return ops.lit(v) if isinstance(v, (int, float)) else v


def _norm_offset(ops, offset, size):
    """offset -> fmod(offset, size), shifted to (-size, 0]
    (ExtensionFunctions.hpp:506-513 — the `if offset != 0` guard there
    is an optimization; with offset 0 the math is the identity)."""
    o = ops.fmod(offset, size)
    return ops.where(ops.gt(o, 0.0), o - size, o)


def _rect_bin(ops, val, vmin, vmax, rectsize, offset, imgsize):
    """rect_pixel_bin_x/_y (ExtensionFunctions.hpp:496-542): bin `val`
    onto a [vmin, vmax] -> imgsize-pixel axis in rectsize-pixel bins,
    returning the bin-center pixel coordinate."""
    o = _norm_offset(ops, offset, rectsize)
    minadj = vmin + o * (vmax - vmin) / imgsize
    idx = ops.trunc(
        (val - minadj) / (vmax - minadj) * (imgsize - o) / rectsize
    )
    return idx * rectsize + o + rectsize / 2.0


def _pack_14_2(ops, rx, ry):
    """Pack two pixel coords as 14.2 fixed point into 32 bits
    (ExtensionFunctions.hpp:589-592): the 15-bit fields are disjoint,
    so the OR is an exact addition."""
    ux = ops.band(ops.trunc(rx * 4.0), 0x7FFF)
    uy = ops.band(ops.trunc(ry * 4.0), 0x7FFF)
    return ux + uy * 65536


def _hex_bin(ops, orient, axis, valx, minx, maxx, valy, miny, maxy,
             hexwidth, hexheight, offsetx, offsety, imgwidth, imgheight,
             cse=None):
    """reg_hex_{horiz,vert}_pixel_bin_{x,y}
    (ExtensionFunctions.hpp:596-980): pixel position -> hex cube
    coordinates -> nearest-hex rounding (largest-diff reprojection) ->
    hex-center pixel coordinate.

    `cse(name, expr)` optionally materialises a shared subexpression
    under a name and returns a reference to it (r14: the staged SQL
    path uses this to keep the generated text linear — the plain text
    backend re-inlines every reuse, exploding the hex formulas to tens
    of KB per axis). Default is identity, which leaves the existing
    Column/text output byte-for-byte unchanged. With a cse, axis "xy"
    returns both axes from one shared set of intermediates."""
    if cse is None:
        cse = lambda _n, e: e  # noqa: E731
    if orient == "horiz":
        xo = _norm_offset(ops, offsetx, hexwidth)
        yo = _norm_offset(ops, offsety, 1.5 * hexheight)
        hexsize = hexheight / 2.0
    else:
        xo = _norm_offset(ops, offsetx, 1.5 * hexwidth)
        yo = _norm_offset(ops, offsety, hexheight)
        hexsize = hexwidth / 2.0
    xmin = minx + xo * (maxx - minx) / imgwidth
    ymin = miny + yo * (maxy - miny) / imgheight
    pix_x = cse("pix_x", ops.round(
        (imgwidth - xo) * ((valx - xmin) / (maxx - xmin))))
    pix_y = cse("pix_y", ops.round(
        (imgheight - yo) * ((valy - ymin) / (maxy - ymin))))
    if orient == "horiz":
        cube_x = (pix_x / SQRT3 - pix_y / 3.0) / hexsize
        cube_z = (pix_y * (2.0 / 3.0)) / hexsize
    else:
        cube_x = (pix_x * (2.0 / 3.0)) / hexsize
        cube_z = (pix_y / SQRT3 - pix_x / 3.0) / hexsize
    cube_x = cse("cube_x", cube_x)
    cube_z = cse("cube_z", cube_z)
    cube_y = cse("cube_y", -cube_x - cube_z)
    rx, ry, rz = (cse("rx", ops.round(cube_x)),
                  cse("ry", ops.round(cube_y)),
                  cse("rz", ops.round(cube_z)))
    xd = cse("xd", ops.abs(rx - cube_x))
    yd = cse("yd", ops.abs(ry - cube_y))
    zd = cse("zd", ops.abs(rz - cube_z))
    cond_x = ops.and_(ops.gt(xd, yd), ops.gt(xd, zd))
    rx_f = cse("rx_f", ops.where(cond_x, -ry - rz, rx))
    rz_f = cse("rz_f", ops.where(
        cond_x, rz, ops.where(ops.gt(yd, zd), rz, -rx - ry)
    ))

    def _y_horiz():
        # only the final else-branch of the 3-way rounding affects rz
        # (ExtensionFunctions.hpp:738-741)
        rz_y = ops.where(
            ops.and_(
                ops.or_(ops.le(xd, yd), ops.le(xd, zd)), ops.le(yd, zd)
            ),
            -rx - ry,
            rz,
        )
        return hexsize * 1.5 * rz_y + yo

    if orient == "horiz" and axis == "x":
        return hexsize * SQRT3 * (rx_f + rz_f / 2.0) + xo
    if orient == "horiz" and axis == "y":
        return _y_horiz()
    if orient == "horiz" and axis == "xy":
        return (hexsize * SQRT3 * (rx_f + rz_f / 2.0) + xo, _y_horiz())
    if orient == "vert" and axis == "x":
        # only the first branch affects rx (ExtensionFunctions.hpp:894)
        rx_v = ops.where(cond_x, -ry - rz, rx)
        return hexsize * 1.5 * rx_v + xo
    # vert / y: full 3-way rounding, output from rz and rx
    return hexsize * SQRT3 * (rz_f + rx_f / 2.0) + yo


def _haversine_m(ops, fromlon, fromlat, tolon, tolat):
    """distance_in_meters / approx_distance_in_meters
    (ExtensionFunctions.hpp:441-483): haversine on the reference's
    6372797.560856 m sphere."""
    lat_arc = (fromlat - tolat) * _DEG
    lon_arc = (fromlon - tolon) * _DEG
    lat_h = ops.sin(lat_arc * 0.5)
    lat_h = lat_h * lat_h
    lon_h = ops.sin(lon_arc * 0.5)
    lon_h = lon_h * lon_h
    tmp = ops.cos(fromlat * _DEG) * ops.cos(tolat * _DEG)
    return _R_EARTH * (2.0 * ops.asin(ops.sqrt(lat_h + tmp * lon_h)))


def _merc_x(ops, lon):
    return lon * _MERC_X


def _merc_y(ops, lat):
    return _MERC_Y * ops.ln(ops.tan(0.00872664626 * lat + 0.785398163397))


def _merc_pixel_width(ops, meters, lon, lat, min_lon, max_lon,
                      img_width, min_width):
    """convert_meters_to_merc_pixel_width
    (ExtensionFunctions.hpp:1060-1083)."""
    t1 = ops.sin(meters / (2.0 * _R_EARTH))
    t2 = ops.cos(lat * _DEG)
    newlon = lon - (2.0 * ops.asin(t1 / t2)) / _DEG
    mx = _merc_x(ops, lon)
    mx2 = _merc_x(ops, newlon)
    min_m = _merc_x(ops, min_lon)
    max_m = _merc_x(ops, max_lon)
    diff = max_m - min_m
    p1 = (mx - min_m) / diff * img_width
    p2 = (mx2 - min_m) / diff * img_width
    sz = ops.abs(p1 - p2)
    return ops.where(ops.gt(_as(ops, min_width), sz), min_width, sz)


def _merc_pixel_height(ops, meters, lon, lat, min_lat, max_lat,
                       img_height, min_height):
    """convert_meters_to_merc_pixel_height
    (ExtensionFunctions.hpp:1085-1110): assumes lat in [-90, 90]."""
    latdiff = meters / (_DEG * _R_EARTH)
    newlat = ops.where(ops.gt(_as(ops, 0.0), lat), lat + latdiff, lat - latdiff)
    my = _merc_y(ops, lat)
    my2 = _merc_y(ops, newlat)
    min_m = _merc_y(ops, min_lat)
    max_m = _merc_y(ops, max_lat)
    diff = max_m - min_m
    p1 = (my - min_m) / diff * img_height
    p2 = (my2 - min_m) / diff * img_height
    sz = ops.abs(p1 - p2)
    return ops.where(ops.gt(_as(ops, min_height), sz), min_height, sz)


def _in_merc_view(ops, lon, lat, min_lon, max_lon, min_lat, max_lat):
    """is_point_in_merc_view (ExtensionFunctions.hpp:1112-1119)."""
    return ops.not_(
        ops.or_(
            ops.or_(ops.gt(min_lon - lon, 0.0), ops.gt(lon - max_lon, 0.0)),
            ops.or_(ops.gt(min_lat - lat, 0.0), ops.gt(lat - max_lat, 0.0)),
        )
    )


def _size_in_merc_view(ops, lon, lat, meters,
                       min_lon, max_lon, min_lat, max_lat):
    """is_point_size_in_merc_view (ExtensionFunctions.hpp:1121-1135):
    the point plus its meter radius intersects the view rect."""
    latdiff = meters / (_DEG * _R_EARTH)
    t1 = ops.sin(meters / (2.0 * _R_EARTH))
    t2 = ops.cos(lat * _DEG)
    londiff = (2.0 * ops.asin(t1 / t2)) / _DEG
    return ops.not_(
        ops.or_(
            ops.or_(
                ops.gt(min_lon - (lon + londiff), 0.0),
                ops.gt((lon - londiff) - max_lon, 0.0),
            ),
            ops.or_(
                ops.gt(min_lat - (lat + latdiff), 0.0),
                ops.gt((lat - latdiff) - max_lat, 0.0),
            ),
        )
    )


# ------------------------------------------------------- public surface
#
# Each function exists twice: Column form (args are Columns or python
# numbers) and `_sql` twin (args are SQL expression strings) built from
# the SAME formula, so oracle SQL replays the identical operation tree.


def _colwrap(v):
    return v if isinstance(v, Column) else F.lit(float(v))


def rect_pixel_bin_x(valx, minx, maxx, rectwidth, offsetx, imgwidth) -> Column:
    return _rect_bin(_ColB, _colwrap(valx), minx, maxx,
                     rectwidth, _colwrap(offsetx), imgwidth)


def rect_pixel_bin_x_sql(valx, minx, maxx, rectwidth, offsetx, imgwidth) -> str:
    return _rect_bin(_SqlB, _E(valx), minx, maxx,
                     rectwidth, _E(str(offsetx)), imgwidth).s


def rect_pixel_bin_y(valy, miny, maxy, rectheight, offsety, imgheight) -> Column:
    return _rect_bin(_ColB, _colwrap(valy), miny, maxy,
                     rectheight, _colwrap(offsety), imgheight)


def rect_pixel_bin_y_sql(valy, miny, maxy, rectheight, offsety, imgheight) -> str:
    return _rect_bin(_SqlB, _E(valy), miny, maxy,
                     rectheight, _E(str(offsety)), imgheight).s


def _hex_col(orient, axis):
    def fn(valx, minx, maxx, valy, miny, maxy, hexwidth, hexheight,
           offsetx, offsety, imgwidth, imgheight) -> Column:
        return _hex_bin(_ColB, orient, axis, _colwrap(valx), minx, maxx,
                        _colwrap(valy), miny, maxy, hexwidth, hexheight,
                        _colwrap(offsetx), _colwrap(offsety),
                        imgwidth, imgheight)

    return fn


def _hex_sql(orient, axis):
    def fn(valx, minx, maxx, valy, miny, maxy, hexwidth, hexheight,
           offsetx, offsety, imgwidth, imgheight) -> str:
        return _hex_bin(_SqlB, orient, axis, _E(valx), minx, maxx,
                        _E(valy), miny, maxy, hexwidth, hexheight,
                        _E(str(offsetx)), _E(str(offsety)),
                        imgwidth, imgheight).s

    return fn


def reg_hex_pixel_bin_xy_staged_sql(valx, minx, maxx, valy, miny, maxy,
                                    hexwidth, hexheight, offsetx, offsety,
                                    imgwidth, imgheight, prefix="__hx_"):
    """Both horizontal hex-bin axes as STAGED SQL (_hex_bin pairs the
    axes for the horizontal orientation only): returns (stages, x_sql,
    y_sql) where `stages` is an ordered list of (name, sql)
    intermediate definitions, each referencing only input columns and
    earlier names, and x_sql / y_sql reference the staged names.

    Why (r14): the flat `_sql` twins re-inline every shared
    subexpression (text has no reference semantics), so one hex axis
    serialises to ~24 KB and the parser/analyzer pays for the blow-up
    on every build. Chaining the stages as withColumn projections keeps
    each parsed string small and — because CollapseProject never
    duplicates non-cheap expressions referenced more than once — the
    analyzed tree keeps the sharing. Identical arithmetic per value
    (same _hex_bin formula, same op order), so results are
    bit-identical to the flat/Column forms."""
    stages = []

    def cse(name, expr):
        n = prefix + name
        stages.append((n, expr.s))
        return _E(n)

    x, y = _hex_bin(_SqlB, "horiz", "xy", _E(valx), minx, maxx,
                    _E(valy), miny, maxy, hexwidth, hexheight,
                    _E(str(offsetx)), _E(str(offsety)),
                    imgwidth, imgheight, cse=cse)
    return stages, x.s, y.s


reg_hex_horiz_pixel_bin_x = _hex_col("horiz", "x")
reg_hex_horiz_pixel_bin_y = _hex_col("horiz", "y")
reg_hex_vert_pixel_bin_x = _hex_col("vert", "x")
reg_hex_vert_pixel_bin_y = _hex_col("vert", "y")
reg_hex_horiz_pixel_bin_x_sql = _hex_sql("horiz", "x")
reg_hex_horiz_pixel_bin_y_sql = _hex_sql("horiz", "y")
reg_hex_vert_pixel_bin_x_sql = _hex_sql("vert", "x")
reg_hex_vert_pixel_bin_y_sql = _hex_sql("vert", "y")


def reg_hex_vert_pixel_bin_packed(*args) -> Column:
    return _pack_14_2(
        _ColB,
        reg_hex_vert_pixel_bin_x(*args),
        reg_hex_vert_pixel_bin_y(*args),
    )


def approx_distance_in_meters(fromlon, fromlat, tolon, tolat) -> Column:
    return _haversine_m(_ColB, _colwrap(fromlon), _colwrap(fromlat),
                        _colwrap(tolon), _colwrap(tolat))


def convert_meters_to_merc_pixel_width(meters, lon, lat, min_lon, max_lon,
                                       img_width, min_width) -> Column:
    return _merc_pixel_width(_ColB, _colwrap(meters), _colwrap(lon),
                             _colwrap(lat), min_lon, max_lon,
                             img_width, min_width)


def convert_meters_to_merc_pixel_width_sql(meters, lon, lat, min_lon,
                                           max_lon, img_width,
                                           min_width) -> str:
    return _merc_pixel_width(_SqlB, _E(meters), _E(lon), _E(lat),
                             min_lon, max_lon, img_width, min_width).s


def convert_meters_to_merc_pixel_height(meters, lon, lat, min_lat, max_lat,
                                        img_height, min_height) -> Column:
    return _merc_pixel_height(_ColB, _colwrap(meters), _colwrap(lon),
                              _colwrap(lat), min_lat, max_lat,
                              img_height, min_height)


def convert_meters_to_merc_pixel_height_sql(meters, lon, lat, min_lat,
                                            max_lat, img_height,
                                            min_height) -> str:
    return _merc_pixel_height(_SqlB, _E(meters), _E(lon), _E(lat),
                              min_lat, max_lat, img_height, min_height).s


def is_point_in_merc_view(lon, lat, min_lon, max_lon,
                          min_lat, max_lat) -> Column:
    return _in_merc_view(_ColB, _colwrap(lon), _colwrap(lat),
                         min_lon, max_lon, min_lat, max_lat)


def is_point_in_merc_view_sql(lon, lat, min_lon, max_lon,
                              min_lat, max_lat) -> str:
    return _in_merc_view(_SqlB, _E(lon), _E(lat),
                         min_lon, max_lon, min_lat, max_lat).s


def is_point_size_in_merc_view(lon, lat, meters, min_lon, max_lon,
                               min_lat, max_lat) -> Column:
    return _size_in_merc_view(_ColB, _colwrap(lon), _colwrap(lat),
                              _colwrap(meters), min_lon, max_lon,
                              min_lat, max_lat)


def is_point_size_in_merc_view_sql(lon, lat, meters, min_lon, max_lon,
                                   min_lat, max_lat) -> str:
    return _size_in_merc_view(_SqlB, _E(lon), _E(lat), _E(meters),
                              min_lon, max_lon, min_lat, max_lat).s


# ------------------------------------------------- SQL declarations
#
# Declare the family as Spark SQL scalar functions (all-args-dynamic
# bodies generated from the same formulas) so HeavyDB render SQL runs
# through `engine.sql` fully JVM-side.

_RENDER_PARAM_SETS = {
    "rect_pixel_bin_x": (
        ("valx", "minx", "maxx", "rectwidth", "offsetx", "imgwidth"),
        lambda a: _rect_bin(_SqlB, _E(a[0]), _E(a[1]), _E(a[2]),
                            _E(a[3]), _E(a[4]), _E(a[5])).s,
    ),
    "rect_pixel_bin_y": (
        ("valy", "miny", "maxy", "rectheight", "offsety", "imgheight"),
        lambda a: _rect_bin(_SqlB, _E(a[0]), _E(a[1]), _E(a[2]),
                            _E(a[3]), _E(a[4]), _E(a[5])).s,
    ),
    "is_point_in_merc_view": (
        ("lon", "lat", "min_lon", "max_lon", "min_lat", "max_lat"),
        lambda a: _in_merc_view(_SqlB, _E(a[0]), _E(a[1]), _E(a[2]),
                                _E(a[3]), _E(a[4]), _E(a[5])).s,
    ),
    "is_point_size_in_merc_view": (
        ("lon", "lat", "meters", "min_lon", "max_lon", "min_lat",
         "max_lat"),
        lambda a: _size_in_merc_view(_SqlB, _E(a[0]), _E(a[1]), _E(a[2]),
                                     _E(a[3]), _E(a[4]), _E(a[5]),
                                     _E(a[6])).s,
    ),
    "approx_distance_in_meters": (
        ("fromlon", "fromlat", "tolon", "tolat"),
        lambda a: _haversine_m(_SqlB, _E(a[0]), _E(a[1]), _E(a[2]),
                               _E(a[3])).s,
    ),
    "convert_meters_to_merc_pixel_width": (
        ("meters", "lon", "lat", "min_lon", "max_lon", "img_width",
         "min_width"),
        lambda a: _merc_pixel_width(_SqlB, _E(a[0]), _E(a[1]), _E(a[2]),
                                    _E(a[3]), _E(a[4]), _E(a[5]),
                                    _E(a[6])).s,
    ),
    "convert_meters_to_merc_pixel_height": (
        ("meters", "lon", "lat", "min_lat", "max_lat", "img_height",
         "min_height"),
        lambda a: _merc_pixel_height(_SqlB, _E(a[0]), _E(a[1]), _E(a[2]),
                                     _E(a[3]), _E(a[4]), _E(a[5]),
                                     _E(a[6])).s,
    ),
}


# The reference registers these under geometry-generic names
# (HeavyDBSqlOperatorTable.java: is_point_in_view,
# is_point_size_in_view, convert_meters_to_pixel_width/_height,
# ExtensionFunctionsGeo.hpp:5406-5500) but the implementations are
# lon/lat -> Web-Mercator-view specific — exactly what the _merc_
# bodies here compute — so the reference names register as aliases.
_VIEW_NAME_ALIASES = {
    "is_point_in_view": "is_point_in_merc_view",
    "is_point_size_in_view": "is_point_size_in_merc_view",
    "convert_meters_to_pixel_width": "convert_meters_to_merc_pixel_width",
    "convert_meters_to_pixel_height": "convert_meters_to_merc_pixel_height",
}


def _declare(name: str, params: tuple, body: str) -> str:
    ret = "BOOLEAN" if name.startswith("is_") else "DOUBLE"
    arglist = ", ".join(f"{p} DOUBLE" for p in params)
    return (f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({arglist}) "
            f"RETURNS {ret} RETURN {body}")


# The family's declarations for `register_all` (functions/__init__.py).
FUNCTIONS = {
    name: _declare(name, params, body(params))
    for name, (params, body) in _RENDER_PARAM_SETS.items()
}
for alias, target in _VIEW_NAME_ALIASES.items():
    params = _RENDER_PARAM_SETS[target][0]
    FUNCTIONS[alias] = _declare(alias, params,
                                f"{target}({', '.join(params)})")
