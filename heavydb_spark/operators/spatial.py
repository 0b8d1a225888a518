"""Spatial join operators: bounding-box-intersect and range joins.

Reference: the bounding-box-intersect join hash table
(QueryEngine/JoinHashTable/BoundingBoxIntersectJoinHashTable.h:29) and
the binned range-join hash (JoinHashTable/RangeJoinHashTable.h:21) —
both accelerate geo predicates by bucketing space into grid cells so the
candidate set is cell-local instead of all-pairs.

Spark-first re-expression: explode one side into the grid cells its
geometry touches, map the point side to its single containing cell,
equi-join on the cell id (a shuffle on a well-distributed key), then
verify the exact predicate. Because a point belongs to exactly ONE cell,
each qualifying pair appears exactly once — no distinct pass needed.
At 100 TB the cell id doubles as a partition/bucket key; cell size
trades fan-out (boxes × cells touched) against candidate selectivity,
exactly like the reference's `bucket_threshold` tuning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from heavydb_spark.functions.geo import st_distance


def _cell(v: Column, cell_size: float) -> Column:
    return F.floor(v / cell_size).cast("long")


def bbox_intersect_join(
    boxes: DataFrame,
    points: DataFrame,
    cell_size: float,
    box_cols: tuple[str, str, str, str] = ("xmin", "ymin", "xmax", "ymax"),
    point_cols: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """ST_Contains(box, point)-style join: every (box, point) pair whose
    point lies inside the box's bounding rectangle.

    Plan: boxes explode to the cell range [floor(xmin/cs)..floor(xmax/cs)]
    × [floor(ymin/cs)..floor(ymax/cs)]; points compute one (cx, cy);
    equi-join on both cell coordinates; exact containment verifies.
    Returns all columns of both inputs.
    """
    xmin, ymin, xmax, ymax = (F.col(c) for c in box_cols)
    px, py = (F.col(c) for c in point_cols)
    b = (
        boxes.withColumn(
            "cx",
            F.explode(
                F.sequence(_cell(xmin, cell_size), _cell(xmax, cell_size))
            ),
        )
        .withColumn(
            "cy",
            F.explode(
                F.sequence(_cell(ymin, cell_size), _cell(ymax, cell_size))
            ),
        )
    )
    p = points.withColumn("cx", _cell(px, cell_size)).withColumn(
        "cy", _cell(py, cell_size)
    )
    joined = b.join(p, ["cx", "cy"])
    return joined.filter(
        (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
    ).drop("cx", "cy")


def range_join(
    left: DataFrame,
    right: DataFrame,
    radius: float,
    left_point: tuple[str, str] = ("x", "y"),
    right_point: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """ST_Distance(a, b) < r join (RangeJoinHashTable.h:21 analogue).

    The left side explodes to its cell plus the 8 neighbors (cell size =
    radius guarantees any within-radius partner is in that 3x3 block);
    the right side maps to its single cell; equi-join + exact distance
    verify. Each qualifying pair appears exactly once.
    """
    lx, ly = (F.col(c) for c in left_point)
    rx, ry = (F.col(c) for c in right_point)
    offs = F.array(*[F.lit(i) for i in (-1, 0, 1)])
    l_ = (
        left.withColumn(
            "cx", F.explode(F.transform(offs, lambda o: _cell(lx, radius) + o))
        )
        .withColumn(
            "cy", F.explode(F.transform(offs, lambda o: _cell(ly, radius) + o))
        )
    )
    r_ = right.withColumn("cx", _cell(rx, radius)).withColumn(
        "cy", _cell(ry, radius)
    )
    lp = F.struct(lx.alias("x"), ly.alias("y"))
    rp = F.struct(rx.alias("x"), ry.alias("y"))
    return (
        l_.join(r_, ["cx", "cy"])
        .filter(st_distance(lp, rp) < radius)
        .drop("cx", "cy")
    )


def geo_rasterize(
    points: DataFrame,
    bin_size: float,
    agg: str = "avg",
    point_cols: tuple[str, str] = ("x", "y"),
    value_col: str = "z",
) -> DataFrame:
    """tf_geo_rasterize (GeoRasterTableFunctions.hpp:1242; RasterAggType
    COUNT/MIN/MAX/SUM/AVG): bin points into square pixels and aggregate
    the value per pixel. Returns (bin_x, bin_y, z) with bin coordinates
    at the pixel's lower-left corner, like the reference's output grid.

    One hash-shuffle groupBy on the pixel id — rasterization at 100 TB
    is exactly a group-by with a well-distributed synthetic key. (The
    reference's GAUSS_AVG/BOX_AVG neighborhood fills would be a second
    pass joining neighbor pixels — not implemented.)
    """
    px, py = (F.col(c) for c in point_cols)
    aggs = {
        "count": F.count(F.lit(1)),
        "min": F.min(value_col),
        "max": F.max(value_col),
        "sum": F.sum(value_col),
        "avg": F.avg(value_col),
    }
    if agg not in aggs:
        raise ValueError(f"unsupported raster agg {agg!r}")
    out = (
        points.groupBy(
            (F.floor(px / bin_size) * bin_size).alias("bin_x"),
            (F.floor(py / bin_size) * bin_size).alias("bin_y"),
        )
        .agg(aggs[agg].alias("z"))
    )
    return out


def cross_section_1d(
    points: DataFrame,
    x1: float,
    y1: float,
    x2: float,
    y2: float,
    num_points: int,
    bin_size: float,
    point_cols: tuple[str, str] = ("x", "y"),
    value_col: str = "z",
) -> DataFrame:
    """tf_cross_section_1d (CrossSectionTableFunctions.hpp:326): sample
    a point-cloud variable at `num_points` evenly spaced stations along
    the segment (x1,y1)→(x2,y2). Each station reads the pixel-bin
    average at its location (the rasterize-then-lookup shape the
    reference uses; stations with no data in their pixel return NULL).

    Plan: rasterize once (one groupBy), generate stations with
    sequence+explode (no driver loop), broadcast-join stations to
    pixels — station count is tiny next to the raster.
    """
    if num_points <= 1:
        raise ValueError("num_points must be > 1")
    raster = geo_rasterize(
        points, bin_size, "avg", point_cols, value_col
    )
    spark = points.sparkSession
    steps = spark.range(num_points).select(
        (F.col("id") / (num_points - 1)).alias("t")
    )
    stations = steps.select(
        (F.lit(x1) + F.col("t") * (x2 - x1)).alias("sx"),
        (F.lit(y1) + F.col("t") * (y2 - y1)).alias("sy"),
    ).select(
        "sx",
        "sy",
        (F.floor(F.col("sx") / bin_size) * bin_size).alias("bin_x"),
        (F.floor(F.col("sy") / bin_size) * bin_size).alias("bin_y"),
    )
    from pyspark.sql.functions import broadcast

    return (
        broadcast(stations)
        .join(raster, ["bin_x", "bin_y"], "left")
        .select("sx", "sy", F.col("z"))
        .orderBy("sx", "sy")
    )


def geo_rasterize_slope(
    points: DataFrame,
    bin_size: float,
    point_cols: tuple[str, str] = ("x", "y"),
    value_col: str = "z",
    in_degrees: bool = True,
) -> DataFrame:
    """tf_geo_rasterize_slope (GeoRasterTableFunctions.hpp:993
    calculate_slope_and_aspect_of_cell): rasterize, then Horn's-method
    slope/aspect per cell from the 3x3 neighborhood — NULL row (cell
    omitted) when any of the 9 neighbors is missing, aspect NULL when
    slope < 1e-4, exactly the reference's cell rules.

    Plan shape: one groupBy to rasterize, then each cell EXPLODES to
    its 9 (target, position) contributions and a second groupBy pivots
    the neighborhood — two well-distributed hash shuffles, no
    self-join fan-out, no window sort. Neighbor matching uses INTEGER
    bin indices (float bin coordinates don't compare exactly when
    bin_size is not a binary fraction).
    """
    px, py = (F.col(c) for c in point_cols)
    raster = points.groupBy(
        F.floor(px / bin_size).cast("long").alias("ix"),
        F.floor(py / bin_size).cast("long").alias("iy"),
    ).agg(F.avg(value_col).alias("z"))

    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (-1, 0, 1)
            for dx in (-1, 0, 1)
        ]
    )
    # a cell at s contributes to target t = s - o with neighborhood
    # index (o.dy+1)*3 + (o.dx+1)  (reference layout: 0=(x-1,y-1) ...
    # 8=(x+1,y+1))
    contrib = raster.select(
        "ix", "iy", "z", F.explode(offs).alias("o")
    ).select(
        (F.col("ix") - F.col("o.dx")).alias("tx"),
        (F.col("iy") - F.col("o.dy")).alias("ty"),
        ((F.col("o.dy") + 1) * 3 + (F.col("o.dx") + 1)).alias("idx"),
        "z",
    )
    n = [
        F.max(F.when(F.col("idx") == i, F.col("z"))).alias(f"n{i}")
        for i in range(9)
    ]
    grid = (
        contrib.groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n_nbr"), *n)
        .filter(F.col("n_nbr") == 9)
    )
    dzdx = (
        (F.col("n8") + 2 * F.col("n5") + F.col("n2"))
        - (F.col("n6") + 2 * F.col("n3") + F.col("n0"))
    ) / (8 * bin_size)
    dzdy = (
        (F.col("n6") + 2 * F.col("n7") + F.col("n8"))
        - (F.col("n0") + 2 * F.col("n1") + F.col("n2"))
    ) / (8 * bin_size)
    slope_raw = F.sqrt(dzdx * dzdx + dzdy * dzdy)
    slope = F.degrees(F.atan(slope_raw)) if in_degrees else slope_raw
    aspect = F.when(
        slope_raw < 0.0001, F.lit(None).cast("double")
    ).otherwise(F.degrees(F.atan2(dzdx, dzdy)) + 180.0)
    return grid.select(
        (F.col("tx") * bin_size).alias("bin_x"),
        (F.col("ty") * bin_size).alias("bin_y"),
        slope.alias("slope"),
        aspect.alias("aspect"),
    )


# Marching-squares case table: corner bits 1=z00 (BL), 2=z10 (BR),
# 4=z11 (TR), 8=z01 (TL), bit set when corner > contour value; each
# case lists the edge pairs ("L","B","R","T") a segment connects.
# Saddles (5, 10) use the fixed two-segment convention (no center
# disambiguation), matching a deterministic oracle.
_MS_CASES: dict[int, list[tuple[str, str]]] = {
    0: [], 15: [],
    1: [("L", "B")], 14: [("L", "B")],
    2: [("B", "R")], 13: [("B", "R")],
    3: [("L", "R")], 12: [("L", "R")],
    4: [("T", "R")], 11: [("T", "R")],
    6: [("B", "T")], 9: [("B", "T")],
    7: [("L", "T")], 8: [("L", "T")],
    5: [("L", "T"), ("B", "R")],
    10: [("L", "B"), ("T", "R")],
}


def raster_contour_lines(
    points: DataFrame,
    bin_size: float,
    contour_value: float,
    point_cols: tuple[str, str] = ("x", "y"),
    value_col: str = "z",
) -> DataFrame:
    """tf_raster_contour_lines (GeoRasterTableFunctions.hpp contour
    UDTFs): marching-squares iso-line segments at `contour_value` over
    the rasterized field. Returns (x1, y1, x2, y2) per segment, with
    linear interpolation along cell edges.

    Plan shape: rasterize (one groupBy on integer bin indices), explode
    each cell value to the 4 anchor cells whose 2x2 window contains it,
    pivot the window with a second groupBy (complete windows only),
    classify into the 16-case table, emit 0-2 segments per cell via one
    array + explode — all expression-level, no UDFs, two hash shuffles
    total, embarrassingly parallel like the reference's tbb loop.
    """
    px, py = (F.col(c) for c in point_cols)
    raster = points.groupBy(
        F.floor(px / bin_size).cast("long").alias("ix"),
        F.floor(py / bin_size).cast("long").alias("iy"),
    ).agg(F.avg(value_col).alias("z"))

    # corner k of anchor cell (ax, ay): z00=(ax,ay) z10=(ax+1,ay)
    # z11=(ax+1,ay+1) z01=(ax,ay+1); a raster cell is corner (dx,dy) of
    # anchor (ix-dx, iy-dy)
    offs = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dy in (0, 1)
            for dx in (0, 1)
        ]
    )
    contrib = raster.select("ix", "iy", "z", F.explode(offs).alias("o")).select(
        (F.col("ix") - F.col("o.dx")).alias("ax"),
        (F.col("iy") - F.col("o.dy")).alias("ay"),
        F.col("o.dx").alias("dx"),
        F.col("o.dy").alias("dy"),
        "z",
    )
    corner = {
        (0, 0): "z00", (1, 0): "z10", (1, 1): "z11", (0, 1): "z01",
    }
    cells = (
        contrib.groupBy("ax", "ay")
        .agg(
            F.count(F.lit(1)).alias("n"),
            *[
                F.max(
                    F.when(
                        (F.col("dx") == dx) & (F.col("dy") == dy), F.col("z")
                    )
                ).alias(name)
                for (dx, dy), name in corner.items()
            ],
        )
        .filter(F.col("n") == 4)
    )

    t = F.lit(float(contour_value))
    z00, z10, z11, z01 = (F.col(c) for c in ("z00", "z10", "z11", "z01"))
    config = (
        (z00 > t).cast("int")
        + (z10 > t).cast("int") * 2
        + (z11 > t).cast("int") * 4
        + (z01 > t).cast("int") * 8
    )

    def frac(a, b):
        return (t - a) / (b - a)

    bx = F.col("ax").cast("double") * bin_size
    by = F.col("ay").cast("double") * bin_size
    edge_pts = {
        "B": (bx + frac(z00, z10) * bin_size, by),
        "R": (bx + bin_size, by + frac(z10, z11) * bin_size),
        "T": (bx + frac(z01, z11) * bin_size, by + bin_size),
        "L": (bx, by + frac(z00, z01) * bin_size),
    }

    def seg(e1: str, e2: str):
        (x1, y1), (x2, y2) = edge_pts[e1], edge_pts[e2]
        return F.struct(
            x1.alias("x1"), y1.alias("y1"), x2.alias("x2"), y2.alias("y2")
        )

    segs = F.lit(None).cast(
        "array<struct<x1:double,y1:double,x2:double,y2:double>>"
    )
    expr = None
    for case, pairs in _MS_CASES.items():
        arr = F.array(*[seg(a, b) for a, b in pairs]) if pairs else segs
        cond = config == case
        expr = F.when(cond, arr) if expr is None else expr.when(cond, arr)
    return (
        cells.withColumn("seg", F.explode(expr))
        .select("seg.x1", "seg.y1", "seg.x2", "seg.y2")
    )


def geo_multi_rasterize(
    points: DataFrame,
    bin_size: float,
    value_aggs: dict[str, str],
    point_cols: tuple[str, str] = ("x", "y"),
) -> DataFrame:
    """tf_geo_multi_rasterize (GeoRasterTableFunctions.hpp multi-column
    variant): one raster pass aggregating SEVERAL value columns, each
    with its own RasterAggType — still a single hash-shuffle groupBy
    (the multi-agg is map-side partial like any Spark aggregation).
    `value_aggs` maps column -> agg in {count,min,max,sum,avg}.
    """
    px, py = (F.col(c) for c in point_cols)
    fns = {
        "count": F.count, "min": F.min, "max": F.max,
        "sum": F.sum, "avg": F.avg,
    }
    aggs = []
    for col, agg in value_aggs.items():
        if agg not in fns:
            raise ValueError(f"unsupported raster agg {agg!r}")
        aggs.append(fns[agg](col).alias(f"{col}_{agg}"))
    return points.groupBy(
        (F.floor(px / bin_size) * bin_size).alias("bin_x"),
        (F.floor(py / bin_size) * bin_size).alias("bin_y"),
    ).agg(*aggs)


def cross_section_2d(
    points: DataFrame,
    x1: float,
    y1: float,
    x2: float,
    y2: float,
    num_points_x: int,
    num_points_y: int,
    dwithin: float,
    point_cols: tuple[str, str] = ("x", "y"),
    level_col: str = "level",
    value_col: str = "v",
) -> DataFrame:
    """tf_cross_section_2d (CrossSectionTableFunctions.hpp:134): a 2D
    vertical slice through a 3D field — stations along the segment
    (x1,y1)->(x2,y2) on the horizontal axis, `level_col` on the
    vertical axis, cell value = the field sampled near the slice
    plane.

    The reference interpolates each grid cell from its 3 nearest
    points (kd-tree IDW); the scalable re-expression is grid-average:
    project every point onto the line (t = distance along it), keep
    points within `dwithin` of the plane, bin (t, level) to the
    num_points_x × num_points_y grid, and average values per cell —
    a single groupBy, no spatial index, exact and deterministic (so
    DuckDB can replay it as an oracle). Cells with no points are
    omitted (reference emits inverse-distance fill instead).

    Output: (x, y, color) with x = distance along the line at the
    station center, y = level-bin center.
    """
    import math

    px, py = (F.col(c) for c in point_cols)
    dx, dy = x2 - x1, y2 - y1
    line_len = math.sqrt(dx * dx + dy * dy)
    if line_len == 0:
        raise ValueError("degenerate cross-section line")
    ux, uy = dx / line_len, dy / line_len
    # projection along line and perpendicular offset (meters)
    t = (px - x1) * ux + (py - y1) * uy
    perp = (px - x1) * uy - (py - y1) * ux
    lo = points.filter(
        (F.abs(perp) <= dwithin) & (t >= 0) & (t <= line_len)
    ).select(
        t.alias("t"), F.col(level_col).alias("lvl"), F.col(value_col).alias("v")
    )
    stats = lo.agg(F.min("lvl").alias("lmin"), F.max("lvl").alias("lmax"))
    binned = lo.join(F.broadcast(stats)).select(
        F.least(
            F.floor(F.col("t") / line_len * num_points_x),
            F.lit(num_points_x - 1),
        ).alias("bx"),
        F.least(
            F.floor(
                (F.col("lvl") - F.col("lmin"))
                / ((F.col("lmax") - F.col("lmin")) / num_points_y)
            ),
            F.lit(num_points_y - 1),
        ).alias("by"),
        "v",
        "lmin",
        "lmax",
    )
    cell_h = (F.col("lmax") - F.col("lmin")) / num_points_y
    return (
        binned.groupBy("bx", "by", "lmin", "lmax")
        .agg(F.avg("v").alias("color"))
        .select(
            ((F.col("bx") + 0.5) * (line_len / num_points_x)).alias("x"),
            (F.col("lmin") + (F.col("by") + 0.5) * cell_h).alias("y"),
            "color",
        )
    )


def raster_graph_shortest_slope_weighted_path(
    points: DataFrame,
    bin_size: float,
    origin: tuple[float, float],
    destination: tuple[float, float],
    slope_weight_exponent: float = 3.0,
    slope_pct_max: float = 100.0,
    point_cols: tuple[str, str] = ("x", "y"),
    value_col: str = "z",
    max_cells: int = 4_000_000,
) -> DataFrame:
    """tf_raster_graph_shortest_slope_weighted_path
    (GraphTableFunctions.hpp:519): rasterize, build the 8-neighbor
    slope-weighted graph, return the cheapest origin→destination path
    as (path_step, x, y) rows, 1-based steps at bin centers.

    Edge semantics match generate_raster_graph_edges
    (GraphTableFunctions.hpp:460-514): directed edge cell→neighbor
    dropped when slope% > slope_pct_max (uphill cap; downhill always
    allowed), cost = dist * (1 + |slope|)^slope_weight_exponent with
    dist = bin_size (axis) or bin_size*sqrt(2) (diagonal). Bins are on
    the absolute floor(x/bin_size) grid rather than the reference's
    data-min-anchored grid — same cells, shifted indices.

    Scale shape mirrors the reference exactly: the 100 TB input is
    reduced by ONE distributed groupBy to the raster grid (bounded by
    (extent/bin_size)^2 cells — output-sized, not input-sized); the
    Dijkstra then runs on that materialized grid in driver memory,
    the same single-node boost::dijkstra step the reference performs
    on its in-memory GeoRaster. `max_cells` guards that
    materialization: if the occupied raster exceeds it (counted
    distributedly, before any collect), the call errors and points at
    operators/graph.py weighted_shortest_path (distributed
    Bellman-Ford), which handles graphs too large for one process.
    """
    import heapq
    import math

    px, py = (F.col(c) for c in point_cols)
    raster = (
        points.groupBy(
            F.floor(px / bin_size).cast("long").alias("ix"),
            F.floor(py / bin_size).cast("long").alias("iy"),
        )
        .agg(F.avg(value_col).alias("z"))
    )
    # limit(max_cells+1) bounds BOTH the transferred rows and the
    # driver dict in the same job that computes the raster — an
    # overflow is detected from one extra row, never a full collect.
    cells = raster.limit(max_cells + 1).collect()
    if len(cells) > max_cells:
        raise ValueError(
            f"raster exceeds max_cells={max_cells} occupied cells; the "
            "driver-side Dijkstra would materialize the full grid. "
            "Increase bin_size, raise max_cells, or use "
            "heavydb_spark.operators.graph.weighted_shortest_path on the "
            "cell-neighbor edge relation (distributed Bellman-Ford)."
        )
    grid = {(r["ix"], r["iy"]): r["z"] for r in cells}
    spark = points.sparkSession

    o_bin = (math.floor(origin[0] / bin_size), math.floor(origin[1] / bin_size))
    d_bin = (
        math.floor(destination[0] / bin_size),
        math.floor(destination[1] / bin_size),
    )
    empty = spark.createDataFrame(
        [], "path_step INT, x DOUBLE, y DOUBLE"
    )
    if o_bin not in grid or d_bin not in grid:
        return empty

    diag = math.sqrt(2.0) * bin_size
    nbrs = [
        (dx, dy, bin_size if dx == 0 or dy == 0 else diag)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    ]
    dist: dict[tuple[int, int], float] = {o_bin: 0.0}
    pred: dict[tuple[int, int], tuple[int, int]] = {}
    heap = [(0.0, o_bin)]
    while heap:
        d, cell = heapq.heappop(heap)
        if cell == d_bin:
            break
        if d > dist.get(cell, math.inf):
            continue
        z1 = grid[cell]
        for dx, dy, step in nbrs:
            ncell = (cell[0] + dx, cell[1] + dy)
            z2 = grid.get(ncell)
            if z2 is None:
                continue
            slope = (z2 - z1) / step
            if slope * 100.0 > slope_pct_max:
                continue
            w = step * (1.0 + abs(slope)) ** slope_weight_exponent
            nd = d + w
            if nd < dist.get(ncell, math.inf):
                dist[ncell] = nd
                pred[ncell] = cell
                heapq.heappush(heap, (nd, ncell))
    if d_bin not in dist:
        return empty
    path = [d_bin]
    while path[-1] != o_bin:
        path.append(pred[path[-1]])
    path.reverse()
    rows = [
        (i + 1, (c[0] + 0.5) * bin_size, (c[1] + 0.5) * bin_size)
        for i, c in enumerate(path)
    ]
    return spark.createDataFrame(rows, "path_step INT, x DOUBLE, y DOUBLE")


def raster_contour_polygons(
    points: DataFrame,
    bin_size: float,
    contour_interval: float,
    contour_offset: float = 0.0,
    point_cols: tuple[str, str] = ("x", "y"),
    value_col: str = "z",
) -> DataFrame:
    """tf_raster_contour_polygons (GDALTableFunctions.hpp:629): filled
    contour bands of the rasterized field at
    `contour_offset + k*contour_interval` levels. The reference emits
    GDAL-traced band polygons; the distributed re-expression emits each
    band as axis-aligned run rectangles — consecutive same-band cells
    along a raster row merged into one rectangle (run-length merge via
    the ix − row_number grouping trick), which is the polygon cover a
    renderer tiles from anyway.

    Output: (xmin, ymin, xmax, ymax, contour_value) where
    contour_value is the band's lower contour level.

    Plan: rasterize groupBy + one window over (iy, band) + one final
    groupBy — three well-keyed shuffles, all codegen.
    """
    from pyspark.sql import Window

    px, py = (F.col(c) for c in point_cols)
    raster = points.groupBy(
        F.floor(px / bin_size).cast("long").alias("ix"),
        F.floor(py / bin_size).cast("long").alias("iy"),
    ).agg(F.avg(value_col).alias("z"))
    banded = raster.select(
        "ix",
        "iy",
        F.floor((F.col("z") - contour_offset) / contour_interval)
        .cast("long")
        .alias("band"),
    )
    w = Window.partitionBy("iy", "band").orderBy("ix")
    runs = banded.withColumn(
        "run", F.col("ix") - F.row_number().over(w)
    )
    return (
        runs.groupBy("iy", "band", "run")
        .agg(F.min("ix").alias("ix0"), F.max("ix").alias("ix1"))
        .select(
            (F.col("ix0") * bin_size).alias("xmin"),
            (F.col("iy") * bin_size).alias("ymin"),
            ((F.col("ix1") + 1) * bin_size).alias("xmax"),
            ((F.col("iy") + 1) * bin_size).alias("ymax"),
            (F.col("band") * contour_interval + contour_offset).alias(
                "contour_value"
            ),
        )
    )


# ------------------------------------------- Z-order clustered layout


def zorder_quantize(v: Column, lo: float, hi: float, bits: int) -> Column:
    """Quantize a coordinate to a [0, 2^bits) cell index (clamped)."""
    n = 1 << bits
    q = F.floor((v - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(n)))
    return F.least(F.greatest(q, F.lit(0)), F.lit(n - 1)).cast("long")


def zorder_key(qx: Column, qy: Column, bits: int) -> Column:
    """Morton/Z-order interleave of two `bits`-bit cell indices — pure
    shift/mask codegen (2*bits terms), no UDF. The layout key behind
    spatially-clustered fragments: rows sorted by this key give each
    fragment a compact bounding box, so chunk min/max metadata skips
    fragments a spatial predicate can't touch (the reference's
    fragment-skipping story, DataMgr/Chunk + fragmenter min/max;
    applied to layout instead of scan)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(qx, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(qy, i).bitwiseAND(F.lit(1)), 2 * i + 1
            )
        )
    return z


def zorder_key_sql(qx: str, qy: str, bits: int) -> str:
    """The DuckDB text of zorder_key over integer expressions qx/qy —
    generated from the same loop so the bit layout matches exactly."""
    terms = []
    for i in range(bits):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i + 1})")
    return " | ".join(terms)


def zorder_fragment_report(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_range: tuple[float, float],
    y_range: tuple[float, float],
    bits: int = 8,
    frag_bits: int = 6,
    query_window: tuple[float, float, float, float] | None = None,
) -> DataFrame:
    """Z-order clustered layout with explicit fragments + the
    fragment-skipping evidence: quantize (x, y) onto a 2^bits grid,
    Morton-interleave, assign each row to fragment = top `frag_bits`
    bits of the z key (2^frag_bits fragments — the deterministic
    analogue of range-partitioning by z key), and report per fragment
    the row count, z range, bounding box, and — when `query_window`
    is given — whether a scan for that window can SKIP the fragment
    on its min/max metadata alone.

    100 TB shape: the layout pass is `repartitionByRange(zkey) +
    sortWithinPartitions(zkey)` before the parquet write (one range
    shuffle, executed here so the plan is real); the report is one
    hash aggregate on the fragment id. Z-clustering is what makes the
    reference-style chunk min/max skipping EFFECTIVE for 2-D
    predicates — without it every fragment's bbox spans the world and
    nothing skips.
    """
    zq_x = zorder_quantize(F.col(x_col), *x_range, bits)
    zq_y = zorder_quantize(F.col(y_col), *y_range, bits)
    keyed = df.withColumn("zkey", zorder_key(zq_x, zq_y, bits))
    n_frags = 1 << frag_bits
    laid_out = (
        keyed.repartitionByRange(n_frags, F.col("zkey"))
        .sortWithinPartitions("zkey")
        .withColumn(
            "fragment",
            F.shiftright(F.col("zkey"), 2 * bits - frag_bits).cast("int"),
        )
    )
    rep = laid_out.groupBy("fragment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("zkey").alias("zmin"),
        F.max("zkey").alias("zmax"),
        F.min(x_col).alias("xmin"),
        F.max(x_col).alias("xmax"),
        F.min(y_col).alias("ymin"),
        F.max(y_col).alias("ymax"),
    )
    if query_window is not None:
        qx0, qy0, qx1, qy1 = query_window
        rep = rep.withColumn(
            "scan_hits",
            (F.col("xmin") <= F.lit(qx1))
            & (F.col("xmax") >= F.lit(qx0))
            & (F.col("ymin") <= F.lit(qy1))
            & (F.col("ymax") >= F.lit(qy0)),
        )
    return rep.orderBy("fragment")
