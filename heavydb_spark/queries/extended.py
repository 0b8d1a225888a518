"""Extended operator surface: graph, ML, geo, DML post-images
(SURVEY.md §2.10 UDTFs, §2.8 geo, §2.1 UPDATE/DELETE).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from heavydb_spark.functions import geo
from heavydb_spark.operators import graph, ml, mutation
from heavydb_spark.queries.registry import query
from heavydb_spark.queries.util import T, r4


def _edges(spark, sf_dir):
    """Deterministic sparse bipartite graph: supplier —(big lineitem)— part.
    Node ids: suppliers as-is, parts offset by 100000."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity") > 49.5)
        .select(
            F.col("l_suppkey").cast("long").alias("src"),
            (F.lit(100000) + F.col("l_partkey")).cast("long").alias("dst"),
        )
        .distinct()
    )


@query(
    "tf_graph_shortest_paths",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
               CAST(100000 + l_partkey AS BIGINT) AS dst
        FROM lineitem WHERE l_quantity > 49.5
    ), und AS (
        SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), walk AS (
        SELECT CAST(1 AS BIGINT) AS node, 0 AS dist
        UNION ALL
        SELECT u.dst, w.dist + 1
        FROM walk w JOIN und u ON u.src = w.node
        WHERE w.dist < 4
    )
    SELECT node, CAST(min(dist) AS INT) AS dist
    FROM walk GROUP BY node ORDER BY node
    """,
)
def tf_graph_shortest_paths(spark, sf_dir):
    """tf_graph_shortest_paths_distances (GraphTableFunctions.hpp:348):
    frontier BFS from supplier node 1, 4 hops, undirected. Oracle =
    DuckDB recursive CTE with min-dist aggregation."""
    e = _edges(spark, sf_dir)
    return graph.shortest_paths_distances(
        e, source=1, max_hops=4, directed=False
    ).orderBy("node")


@query(
    "ml_linear_reg",
    oracle="""
    SELECT round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    """,
)
def ml_linear_reg(spark, sf_dir):
    """linear_reg_fit / r2_score (MLTableFunctions.hpp) — closed-form
    OLS as moment aggregates; r2 = corr² for simple regression."""
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        r4(F.covar_samp("l_quantity", "l_extendedprice") / F.var_samp("l_quantity")).alias("slope"),
        r4(
            F.avg("l_extendedprice")
            - (F.covar_samp("l_quantity", "l_extendedprice") / F.var_samp("l_quantity"))
            * F.avg("l_quantity")
        ).alias("intercept"),
        F.round(F.pow(F.corr("l_quantity", "l_extendedprice"), 2), 6).alias("r2"),
    )


@query("ml_kmeans")  # iterative MLlib → rows-only check
def ml_kmeans(spark, sf_dir):
    """tf_kmeans over embeddings (MLTableFunctions.hpp) via pyspark.ml."""
    e = T(spark, sf_dir, "embeddings")
    return (
        ml.kmeans_fit(e, "embedding", k=4, seed=42)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster_id")
    )


@query("ml_pca_project")  # iterative MLlib → rows-only check
def ml_pca_project(spark, sf_dir):
    """pca_fit / PCA_PROJECT analogue."""
    e = T(spark, sf_dir, "embeddings")
    return (
        ml.pca_project(e, "embedding", k=2)
        .select("vec_id", F.round(F.abs(F.element_at("pca_arr", 1)), 4).alias("pc1_abs"))
        .orderBy("vec_id")
    )


@query(
    "geo_point_distance",
    oracle="""
    WITH pts AS (
        SELECT s_suppkey,
               CAST(mod(s_suppkey * 7, 360) - 180 AS DOUBLE) AS x,
               CAST(mod(s_suppkey * 3, 170) - 85 AS DOUBLE) AS y
        FROM supplier
    )
    SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b,
           round(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6) AS eucl,
           round(2 * 6372797.560856 * asin(sqrt(
               pow(sin((radians(b.y) - radians(a.y)) / 2), 2)
               + cos(radians(a.y)) * cos(radians(b.y))
                 * pow(sin((radians(b.x) - radians(a.x)) / 2), 2))), 4) AS meters,
           (sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) <= 50.0) AS within50
    FROM pts a JOIN pts b ON a.s_suppkey < b.s_suppkey
    WHERE a.s_suppkey <= 20 AND b.s_suppkey <= 20
    ORDER BY id_a, id_b
    """,
)
def geo_point_distance(spark, sf_dir):
    """ST_Point/ST_Distance/distance_in_meters/ST_DWithin subset
    (ExtensionFunctionsGeo.hpp) over derived point columns."""
    s = T(spark, sf_dir, "supplier").filter(F.col("s_suppkey") <= 20)
    pts = s.select(
        "s_suppkey",
        geo.st_point(
            (F.col("s_suppkey") * 7 % 360 - 180),
            (F.col("s_suppkey") * 3 % 170 - 85),
        ).alias("p"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    pa, pb = F.col("a.p"), F.col("b.p")
    return (
        a.join(b, F.col("a.s_suppkey") < F.col("b.s_suppkey"))
        .select(
            F.col("a.s_suppkey").alias("id_a"),
            F.col("b.s_suppkey").alias("id_b"),
            F.round(geo.st_distance(pa, pb), 6).alias("eucl"),
            F.round(geo.st_distance_sphere(pa, pb), 4).alias("meters"),
            geo.st_dwithin(pa, pb, 50.0).alias("within50"),
        )
        .orderBy("id_a", "id_b")
    )


@query(
    "geo_grid_join",
    oracle="""
    WITH pts AS (
        SELECT c_custkey AS id,
               CAST(mod(c_custkey * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(c_custkey * 17, 1000) AS DOUBLE) / 10 AS y
        FROM customer
    )
    SELECT CAST(floor(x / 10) AS BIGINT) AS cx,
           CAST(floor(y / 10) AS BIGINT) AS cy,
           count(*) AS n
    FROM pts GROUP BY 1, 2 ORDER BY cx, cy
    """,
)
def geo_grid_join(spark, sf_dir):
    """Grid-cell bucketing — the equi-joinable prefilter behind the
    reference's bounding-box-intersect join (BoundingBoxIntersectJoin-
    HashTable.h:29): count points per cell."""
    c = T(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("id"),
        geo.st_point(
            (F.col("c_custkey") * 13 % 1000) / 10.0,
            (F.col("c_custkey") * 17 % 1000) / 10.0,
        ).alias("p"),
    )
    cell = geo.grid_cell(F.col("p"), 10.0)
    return (
        pts.select(cell.alias("cell"))
        .groupBy(F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cx", "cy")
    )


@query(
    "dml_update_postimage",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 400000 THEN '0-REWRITTEN'
                ELSE o_orderpriority END AS o_orderpriority,
           CASE WHEN o_totalprice > 400000 THEN o_totalprice * 0.9
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
)
def dml_update_postimage(spark, sf_dir):
    """UPDATE post-image (executeUpdate, RelAlgExecutor.cpp:2163): the
    projection rewrite the reference writes back via StorageIOFacility —
    here the declarative post-image (write path: operators/mutation.py,
    tested in tests/test_dml.py)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    post = mutation.update_projection(
        o,
        F.col("o_totalprice") > 400000,
        {
            "o_orderpriority": F.lit("0-REWRITTEN"),
            "o_totalprice": F.col("o_totalprice") * 0.9,
        },
    )
    return post.select("o_orderkey", "o_orderpriority", "o_totalprice").orderBy(
        "o_orderkey"
    )


@query(
    "dml_coercion_postimage",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN DATE '1999-10-09'
                ELSE o_orderdate END AS o_orderdate,
           round(CASE WHEN o_orderkey % 7 = 0 THEN 2.5
                      ELSE CAST(o_totalprice AS DOUBLE) END, 2)
               AS o_totalprice
    FROM orders
    WHERE o_orderkey < 1000
    ORDER BY o_orderkey
    """,
)
def dml_coercion_postimage(spark, sf_dir):
    """UPDATE post-image TYPE COERCION (r12 fix; StorageIOFacility.h
    :105 casts every update value to the column's SQLTypeInfo):
    string assignments to a DATE and a DOUBLE column keep the
    post-image schema — the r11 defect mutated the DATE column to
    STRING, which this query's schema-class driver check now pins.
    Non-ISO datetime spellings are pinned in tests/test_dml.py and the
    dml-coercion generator family (the driver canonicalizer needs
    cross-engine-stable values, so the catalog entry uses ISO)."""
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    post = mutation.update_projection(
        o,
        F.col("o_orderkey") % 7 == 0,
        {
            "o_orderdate": F.lit("1999-10-09"),
            "o_totalprice": F.lit("2.5"),
        },
    )
    return post.select(
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice").cast("double"), 2).alias("o_totalprice"),
    ).orderBy("o_orderkey")


@query(
    "dml_delete_postimage",
    oracle="""
    SELECT o_orderstatus, count(*) AS n
    FROM orders
    WHERE NOT (o_totalprice < 100000)
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def dml_delete_postimage(spark, sf_dir):
    """DELETE post-image (executeDelete, RelAlgExecutor.cpp:2327)."""
    o = T(spark, sf_dir, "orders")
    post = mutation.delete_filter(o, F.col("o_totalprice") < 100000)
    return (
        post.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


def _rand_strings_oracle(n: int = 1000, length: int = 10,
                         seed: int = 42) -> str:
    """Replays generate_random_strings_portable character by
    character: same alphabet, same portable 2-round LCG, same
    position-mixing — so the 'random' strings hash-match exactly."""
    from heavydb_spark.operators.pipeline import _M31, portable_hash_sql
    from heavydb_spark.operators.series import _RAND_ALPHA

    h = portable_hash_sql(f"i * {length} + j + {seed * 7919}")
    return f"""
    WITH hs AS (
        SELECT i, j, ({h}) AS h
        FROM range(0, {n}) t(i) CROSS JOIN range(0, {length}) s(j)
    )
    SELECT i AS id,
           string_agg(substr('{_RAND_ALPHA}',
                             CAST(((h * h + h) % {_M31}) % 36 AS INTEGER) + 1,
                             1),
                      '' ORDER BY j) AS rand_str
    FROM hs GROUP BY i ORDER BY id
    """


@query("tf_generate_random_strings", oracle=_rand_strings_oracle())
def tf_generate_random_strings(spark, sf_dir):
    """generate_random_strings (UtilityTableFunctions.h:49) —
    deterministic seeded strings; the portable-LCG character chain
    makes the output engine-independent, so the seeded PRNG surface is
    value-checked exactly (operators/series.py
    generate_random_strings_portable; the xxhash64 variant remains for
    JVM-local use)."""
    from heavydb_spark.operators.series import (
        generate_random_strings_portable,
    )

    return generate_random_strings_portable(
        spark, 1000, length=10, seed=42
    ).orderBy("id")


@query(
    "geo_bbox_join",
    oracle="""
    WITH boxes AS (
        SELECT n_nationkey AS box_id,
               CAST(mod(n_nationkey * 11, 80) AS DOUBLE) AS xmin,
               CAST(mod(n_nationkey * 19, 80) AS DOUBLE) AS ymin,
               CAST(mod(n_nationkey * 11, 80) + 12 AS DOUBLE) AS xmax,
               CAST(mod(n_nationkey * 19, 80) + 9 AS DOUBLE) AS ymax
        FROM nation
    ), pts AS (
        SELECT c_custkey AS pt_id,
               CAST(mod(c_custkey * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(c_custkey * 17, 1000) AS DOUBLE) / 10 AS y
        FROM customer
    )
    SELECT box_id, pt_id
    FROM boxes JOIN pts
      ON x >= xmin AND x <= xmax AND y >= ymin AND y <= ymax
    ORDER BY box_id, pt_id
    """,
)
def geo_bbox_join(spark, sf_dir):
    """Bounding-box-intersect join (BoundingBoxIntersectJoinHashTable.h
    :29): grid-cell explode + equi-join + exact containment — never a
    cross join. Boxes derive from nation, points from customer."""
    from heavydb_spark.operators.spatial import bbox_intersect_join

    n = T(spark, sf_dir, "nation")
    boxes = n.select(
        F.col("n_nationkey").alias("box_id"),
        (F.col("n_nationkey") * 11 % 80).cast("double").alias("xmin"),
        (F.col("n_nationkey") * 19 % 80).cast("double").alias("ymin"),
        ((F.col("n_nationkey") * 11 % 80) + 12).cast("double").alias("xmax"),
        ((F.col("n_nationkey") * 19 % 80) + 9).cast("double").alias("ymax"),
    )
    c = T(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").alias("pt_id"),
        ((F.col("c_custkey") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("c_custkey") * 17 % 1000) / 10.0).alias("y"),
    )
    return (
        bbox_intersect_join(boxes, pts, cell_size=10.0)
        .select("box_id", "pt_id")
        .orderBy("box_id", "pt_id")
    )


@query(
    "geo_range_join",
    oracle="""
    WITH pts AS (
        SELECT s_suppkey AS id,
               CAST(mod(s_suppkey * 29, 500) AS DOUBLE) / 10 AS x,
               CAST(mod(s_suppkey * 31, 500) AS DOUBLE) / 10 AS y
        FROM supplier
    )
    SELECT a.id AS id_a, b.id AS id_b,
           round(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)), 6) AS dist
    FROM pts a JOIN pts b
      ON a.id < b.id
     AND sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)) < 5.0
    ORDER BY id_a, id_b
    """,
)
def geo_range_join(spark, sf_dir):
    """Range join ST_Distance(a,b) < r (RangeJoinHashTable.h:21): 3x3
    neighbor-cell equi-join + exact distance verify; pair appears
    exactly once. Points derive from supplier."""
    from heavydb_spark.operators.spatial import range_join

    s = T(spark, sf_dir, "supplier")
    pts = s.select(
        F.col("s_suppkey").alias("id"),
        ((F.col("s_suppkey") * 29 % 500) / 10.0).alias("x"),
        ((F.col("s_suppkey") * 31 % 500) / 10.0).alias("y"),
    )
    a = pts.toDF("id_a", "xa", "ya")
    b = pts.toDF("id_b", "xb", "yb")
    return (
        range_join(a, b, radius=5.0, left_point=("xa", "ya"), right_point=("xb", "yb"))
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.sqrt(
                    (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb"))
                    + (F.col("ya") - F.col("yb")) * (F.col("ya") - F.col("yb"))
                ),
                6,
            ).alias("dist"),
        )
        .orderBy("id_a", "id_b")
    )


@query("ml_forest_predict")  # randomized/iterative MLlib fit → rows-only check
def ml_forest_predict(spark, sf_dir):
    """random_forest_reg_fit + ml_reg_predict (MLTableFunctions.hpp):
    predict o_totalprice rank proxy from customer features; returns one
    prediction row per input (operators/ml.py tree_reg_fit_predict)."""
    from heavydb_spark.operators.ml import tree_reg_fit_predict

    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000).select(
        F.col("o_custkey").cast("double").alias("f1"),
        F.dayofyear("o_orderdate").cast("double").alias("f2"),
        F.col("o_totalprice").alias("label"),
    )
    return tree_reg_fit_predict(o, ["f1", "f2"], "label", kind="decision_tree")


@query(
    "ml_r2_score",
    oracle="""
    WITH d AS (
        SELECT o_totalprice AS y, 100000 + 50 * o_custkey AS yhat
        FROM orders WHERE o_orderkey < 2000
    )
    SELECT round(1 - sum((y - yhat) * (y - yhat))
                 / (sum(y * y) - sum(y) * sum(y) / count(*)), 6) AS r2
    FROM d
    """,
)
def ml_r2_score(spark, sf_dir):
    """r2_score (MLTableFunctions.hpp) as a single distributed
    aggregate, oracle-checked against the algebraic identity."""
    from heavydb_spark.operators.ml import r2_score

    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000).select(
        F.col("o_totalprice").alias("y"),
        (F.lit(100000) + 50 * F.col("o_custkey")).alias("yhat"),
    )
    return r2_score(o, "y", "yhat").select(F.round("r2", 6).alias("r2"))


@query(
    "ml_dbscan",
    oracle="""
    SELECT CAST(c_custkey % 7 AS BIGINT) AS cluster, count(*) AS n
    FROM customer WHERE c_custkey <= 500
    GROUP BY 1 ORDER BY cluster
    """,
)
def ml_dbscan(spark, sf_dir):
    """dbscan (MLTableFunctions.hpp) over derived 2-D points: grid-cell
    range join for neighbors, min-label propagation for components
    (operators/ml.py dbscan). Returns cluster sizes.

    Exact-oracle: the algorithm is deterministic (no seeds — pure
    neighborhood joins + min-label propagation) and the 7 planted
    blobs sit 15 units apart with jitter < 3.6, so every point is
    density-reachable within its blob and no noise exists; the cluster
    label is the blob's min pid = c_custkey % 7 and the sizes are the
    blob cardinalities — both closed-form in SQL."""
    from heavydb_spark.operators.ml import dbscan

    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    # 7 well-separated blobs: centers 15 apart, jitter radius ~2
    pts = c.select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") % 7) * 15 + (F.col("c_custkey") * 13 % 10) / 2.5).alias("x"),
        ((F.col("c_custkey") * 29 % 10) / 2.5).alias("y"),
    )
    return (
        dbscan(pts, "pid", "x", "y", eps=3.0, min_pts=4)
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("cluster")
    )


@query(
    "tf_geo_rasterize",
    oracle="""
    WITH pts AS (
        SELECT CAST(mod(c_custkey * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(c_custkey * 17, 1000) AS DOUBLE) / 10 AS y,
               c_acctbal AS z
        FROM customer
    )
    SELECT floor(x / 5) * 5 AS bin_x,
           floor(y / 5) * 5 AS bin_y,
           round(avg(z), 4) AS z
    FROM pts GROUP BY 1, 2 ORDER BY bin_x, bin_y
    """,
)
def tf_geo_rasterize(spark, sf_dir):
    """tf_geo_rasterize (GeoRasterTableFunctions.hpp:1242): pixel-bin
    aggregation of point values — one groupBy on the synthetic pixel
    key (operators/spatial.py geo_rasterize)."""
    from heavydb_spark.operators.spatial import geo_rasterize

    c = T(spark, sf_dir, "customer")
    pts = c.select(
        ((F.col("c_custkey") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("c_custkey") * 17 % 1000) / 10.0).alias("y"),
        F.col("c_acctbal").alias("z"),
    )
    r = geo_rasterize(pts, bin_size=5.0, agg="avg")
    return r.select(
        "bin_x", "bin_y", F.round("z", 4).alias("z")
    ).orderBy("bin_x", "bin_y")


@query(
    "tf_cross_section_1d",
    oracle="""
    WITH pts AS (
        SELECT CAST(mod(c_custkey * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(c_custkey * 17, 1000) AS DOUBLE) / 10 AS y,
               c_acctbal AS z
        FROM customer
    ), raster AS (
        SELECT floor(x / 5) * 5 AS bin_x, floor(y / 5) * 5 AS bin_y,
               avg(z) AS z
        FROM pts GROUP BY 1, 2
    ), stations AS (
        SELECT CAST(i AS DOUBLE) / 20 AS t
        FROM generate_series(0, 20) s(i)
    ), st AS (
        SELECT 0 + t * 90 AS sx, 10 + t * 70 AS sy FROM stations
    )
    SELECT sx, sy, round(r.z, 4) AS z
    FROM st
    LEFT JOIN raster r
      ON floor(sx / 5) * 5 = r.bin_x AND floor(sy / 5) * 5 = r.bin_y
    ORDER BY sx, sy
    """,
)
def tf_cross_section_1d(spark, sf_dir):
    """tf_cross_section_1d (CrossSectionTableFunctions.hpp:326): 21
    stations along (0,10)->(90,80) reading the 5-unit pixel-bin average
    (operators/spatial.py cross_section_1d)."""
    from heavydb_spark.operators.spatial import cross_section_1d

    c = T(spark, sf_dir, "customer")
    pts = c.select(
        ((F.col("c_custkey") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("c_custkey") * 17 % 1000) / 10.0).alias("y"),
        F.col("c_acctbal").alias("z"),
    )
    r = cross_section_1d(
        pts, 0.0, 10.0, 90.0, 80.0, num_points=21, bin_size=5.0
    )
    return r.select("sx", "sy", F.round("z", 4).alias("z")).orderBy("sx", "sy")


# ----------------------------------------------------------- polygon geo

_POLY_ORACLE_RINGS = """
    th AS (
        SELECT n_nationkey, i, 2*pi()*i/8 AS th
        FROM nation, generate_series(0, 7) AS t(i)
    ),
    vo AS (
        SELECT n_nationkey, 0 AS ring, i,
               n_nationkey*10.0 + (2 + 0.9*sin(3*th + n_nationkey))*cos(th) AS x,
               (n_nationkey%5)*7.0 + (2 + 0.9*sin(3*th + n_nationkey))*sin(th) AS y
        FROM th
    ),
    vh AS (
        SELECT n_nationkey, 1 AS ring, h.i,
               n_nationkey*10.0 + h.dx AS x,
               (n_nationkey%5)*7.0 + h.dy AS y
        FROM nation,
             (VALUES (0, -0.5, -0.5), (1, 0.5, -0.5),
                     (2, 0.5, 0.5), (3, -0.5, 0.5)) AS h(i, dx, dy)
    ),
    v AS (SELECT * FROM vo UNION ALL SELECT * FROM vh),
    e AS (
        SELECT n_nationkey, ring, i, x, y,
               coalesce(lead(x) OVER w, first_value(x) OVER w) AS x2,
               coalesce(lead(y) OVER w, first_value(y) OVER w) AS y2
        FROM v WINDOW w AS (PARTITION BY n_nationkey, ring ORDER BY i)
    )
"""


def _nation_polygons(spark, sf_dir):
    """Deterministic irregular octagon per nation (radius modulated by
    sin(3θ+key) so the shape is asymmetric) with a unit-square hole at
    the center — ring 0 outer, ring 1 hole. Built identically in the
    DuckDB oracles (_POLY_ORACLE_RINGS), so the shoelace/ray-cast
    implementations are cross-validated against an independent SQL
    formulation."""
    import math

    n = T(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("double")
    cx = nk * 10.0
    cy = (F.col("n_nationkey") % 5).cast("double") * 7.0

    def vertex(i):
        th = F.lit(2 * math.pi) * i / F.lit(8)
        r = F.lit(2.0) + F.lit(0.9) * F.sin(F.lit(3) * th + nk)
        return F.struct(
            (cx + r * F.cos(th)).alias("x"), (cy + r * F.sin(th)).alias("y")
        )

    outer = F.transform(
        F.sequence(F.lit(0), F.lit(7)), lambda i: vertex(i.cast("double"))
    )
    hole = F.array(
        F.struct((cx - 0.5).alias("x"), (cy - 0.5).alias("y")),
        F.struct((cx + 0.5).alias("x"), (cy - 0.5).alias("y")),
        F.struct((cx + 0.5).alias("x"), (cy + 0.5).alias("y")),
        F.struct((cx - 0.5).alias("x"), (cy + 0.5).alias("y")),
    )
    return n.select(
        "n_nationkey", F.array(outer, hole).alias("poly")
    )


@query(
    "geo_polygon_props",
    oracle="""
    WITH """ + _POLY_ORACLE_RINGS + """,
    r AS (
        SELECT n_nationkey, ring,
               sum(x*y2 - x2*y)/2 AS sa,
               sum(sqrt((x-x2)*(x-x2) + (y-y2)*(y-y2))) AS perim,
               sum((x+x2)*(x*y2 - x2*y)) AS mx,
               sum((y+y2)*(x*y2 - x2*y)) AS my
        FROM e GROUP BY n_nationkey, ring
    )
    SELECT n_nationkey,
           round(sum(CASE WHEN ring=0 THEN abs(sa) ELSE -abs(sa) END), 4) AS area,
           round(sum(perim), 4) AS perimeter,
           round(sum((CASE WHEN ring=0 THEN 1 ELSE -1 END) * mx * sign(sa) / 6)
                 / sum(CASE WHEN ring=0 THEN abs(sa) ELSE -abs(sa) END), 4) AS cx,
           round(sum((CASE WHEN ring=0 THEN 1 ELSE -1 END) * my * sign(sa) / 6)
                 / sum(CASE WHEN ring=0 THEN abs(sa) ELSE -abs(sa) END), 4) AS cy
    FROM r GROUP BY n_nationkey ORDER BY n_nationkey
    """,
)
def geo_polygon_props(spark, sf_dir):
    """ST_Area / ST_Perimeter / ST_Centroid on polygons with holes
    (ExtensionFunctionsGeo.hpp area/perimeter/centroid; shapes per
    Tests/GeospatialTest.cpp conventions). Oracle recomputes shoelace
    sums in SQL over the same generated rings."""
    polys = _nation_polygons(spark, sf_dir)
    cen = geo.st_centroid(F.col("poly"))
    return polys.select(
        "n_nationkey",
        F.round(geo.st_area(F.col("poly")), 4).alias("area"),
        F.round(geo.st_perimeter(F.col("poly")), 4).alias("perimeter"),
        F.round(cen["x"], 4).alias("cx"),
        F.round(cen["y"], 4).alias("cy"),
    ).orderBy("n_nationkey")


@query(
    "geo_polygon_contains_join",
    oracle="""
    WITH """ + _POLY_ORACLE_RINGS + """,
    pts AS (
        SELECT c_custkey,
               CAST(c_custkey % 251 AS DOUBLE) AS px,
               CAST((c_custkey*7) % 31 AS DOUBLE) AS py
        FROM customer
    ),
    crossing AS (
        SELECT e.n_nationkey, p.c_custkey,
               sum(CASE WHEN (e.y > p.py) <> (e.y2 > p.py)
                        THEN CASE WHEN p.px < e.x + (e.x2 - e.x)*(p.py - e.y)/(e.y2 - e.y)
                                  THEN 1 ELSE 0 END
                        ELSE 0 END) AS k
        FROM e, pts p
        GROUP BY e.n_nationkey, p.c_custkey
    )
    SELECT n_nationkey, CAST(count(*) AS BIGINT) AS n_inside
    FROM crossing WHERE k % 2 = 1
    GROUP BY n_nationkey ORDER BY n_nationkey
    """,
)
def geo_polygon_contains_join(spark, sf_dir):
    """Point-in-polygon containment join — the reference's flagship geo
    workload (Tests/GeospatialJoinTest.cpp, ST_Contains on POLYGON):
    bbox prefilter (broadcast of the small polygon side, the
    BoundingBoxIntersectJoinHashTable analogue) + exact even-odd
    ray-cast verify, points inside the hole excluded. Scale shape: the
    polygon relation broadcasts; the point side never shuffles."""
    polys = _nation_polygons(spark, sf_dir).withColumn(
        "bbox", geo.st_polygon_bbox(F.col("poly"))
    )
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        (F.col("c_custkey") % 251).cast("double").alias("px"),
        ((F.col("c_custkey") * 7) % 31).cast("double").alias("py"),
    )
    # single conjunction with bbox FIRST: codegen short-circuits && left
    # to right, so the cheap bbox test gates the O(edges) ray cast (a
    # separate .filter() gets pushed into the join condition ahead of
    # the bbox terms by Catalyst, inverting the evaluation order)
    j = c.join(
        F.broadcast(polys),
        (F.col("px") >= F.col("bbox.xmin"))
        & (F.col("px") <= F.col("bbox.xmax"))
        & (F.col("py") >= F.col("bbox.ymin"))
        & (F.col("py") <= F.col("bbox.ymax"))
        & geo.st_contains_point(F.col("poly"), F.col("px"), F.col("py")),
    )
    return (
        j.groupBy("n_nationkey")
        .agg(F.count(F.lit(1)).alias("n_inside"))
        .orderBy("n_nationkey")
    )


@query(
    "geo_wkt_roundtrip",
    oracle="""
    WITH """ + _POLY_ORACLE_RINGS + """,
    r AS (
        SELECT n_nationkey, ring,
               sum(x*y2 - x2*y)/2 AS sa,
               sum((x+x2)*(x*y2 - x2*y)) AS mx,
               sum((y+y2)*(x*y2 - x2*y)) AS my
        FROM e GROUP BY n_nationkey, ring
    )
    SELECT n_nationkey,
           round(sum(CASE WHEN ring=0 THEN abs(sa) ELSE -abs(sa) END), 4) AS area,
           round(sum((CASE WHEN ring=0 THEN 1 ELSE -1 END) * mx * sign(sa) / 6)
                 / sum(CASE WHEN ring=0 THEN abs(sa) ELSE -abs(sa) END), 4) AS cx,
           round(sum((CASE WHEN ring=0 THEN 1 ELSE -1 END) * my * sign(sa) / 6)
                 / sum(CASE WHEN ring=0 THEN abs(sa) ELSE -abs(sa) END), 4) AS cy
    FROM r GROUP BY n_nationkey ORDER BY n_nationkey
    """,
)
def geo_wkt_roundtrip(spark, sf_dir):
    """WKT export + import round-trip (Geospatial/Types.cpp WKT
    constructors): polygons serialized with ST_AsText, re-parsed with
    ST_GeomFromText, then measured — identical area/centroid to the
    direct computation proves the text round-trip is lossless
    (shortest-roundtrip double formatting)."""
    polys = _nation_polygons(spark, sf_dir)
    wkt = geo.st_astext_polygon(F.col("poly"))
    reparsed = geo.st_geomfromtext_polygon(wkt)
    cen = geo.st_centroid(reparsed)
    return polys.select(
        "n_nationkey",
        F.round(geo.st_area(reparsed), 4).alias("area"),
        F.round(cen["x"], 4).alias("cx"),
        F.round(cen["y"], 4).alias("cy"),
    ).orderBy("n_nationkey")


@query(
    "geo_transform_900913",
    oracle="""
    SELECT c_custkey,
           round(CAST((c_custkey % 151) - 75 AS DOUBLE) * 111319.490778, 4) + 0.0 AS mx,
           round(6378136.99911 * ln(tan(0.00872664626
                 * CAST(((c_custkey*7) % 121) - 60 AS DOUBLE)
                 + 0.785398163397)), 4) + 0.0 AS my
    FROM customer WHERE c_custkey < 500 ORDER BY c_custkey
    """,
)
def geo_transform_900913(spark, sf_dir):
    """ST_Transform(pt, 900913) — WGS-84 to Web Mercator with the
    reference's exact constants (ExtensionFunctions.hpp:402-409
    conv_4326_900913_x/y); oracle applies the same closed form."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    p = geo.st_point(
        (F.col("c_custkey") % 151) - 75,
        ((F.col("c_custkey") * 7) % 121) - 60,
    )
    t = geo.st_transform_4326_900913(p)
    # + 0.0 normalizes IEEE negative zero after rounding (the reference
    # constant is not exactly pi/4, so lat=0 gives -5.7e-6 -> -0.0000)
    return c.select(
        "c_custkey",
        (F.round(t["x"], 4) + 0.0).alias("mx"),
        (F.round(t["y"], 4) + 0.0).alias("my"),
    ).orderBy("c_custkey")


@query(
    "geo_linestring_props",
    oracle="""
    WITH """ + _POLY_ORACLE_RINGS + """
    SELECT n_nationkey,
           round(sum(sqrt((x-x2)*(x-x2) + (y-y2)*(y-y2)))
                 FILTER (WHERE i < 7), 4) AS path_len,
           CAST(8 AS INT) AS npoints,
           round(min(CASE WHEN (x2-x)*(x2-x) + (y2-y)*(y2-y) = 0 THEN
                    sqrt((n_nationkey*10.0 + 1 - x)*(n_nationkey*10.0 + 1 - x)
                         + ((n_nationkey%5)*7.0 - y)*((n_nationkey%5)*7.0 - y))
                ELSE
                    sqrt(pow(n_nationkey*10.0 + 1
                         - (x + least(greatest(((n_nationkey*10.0 + 1 - x)*(x2-x)
                                + ((n_nationkey%5)*7.0 - y)*(y2-y))
                               / ((x2-x)*(x2-x) + (y2-y)*(y2-y)), 0), 1) * (x2-x)), 2)
                       + pow((n_nationkey%5)*7.0
                         - (y + least(greatest(((n_nationkey*10.0 + 1 - x)*(x2-x)
                                + ((n_nationkey%5)*7.0 - y)*(y2-y))
                               / ((x2-x)*(x2-x) + (y2-y)*(y2-y)), 0), 1) * (y2-y)), 2))
                END) FILTER (WHERE i < 7), 4) AS dist_center1
    FROM e WHERE ring = 0
    GROUP BY n_nationkey ORDER BY n_nationkey
    """,
)
def geo_linestring_props(spark, sf_dir):
    """LINESTRING surface (Geospatial/Types.h GeoLineString): the
    octagon's outer vertices as an OPEN path — ST_Length (no closing
    edge), ST_NPoints, and ST_Distance(POINT, LINESTRING) from a point
    offset from each shape's center; oracle recomputes the segment
    walk in SQL over the same generated vertices."""
    polys = _nation_polygons(spark, sf_dir)
    ls = F.element_at(F.col("poly"), 1)  # outer ring, treated as a path
    nk = F.col("n_nationkey").cast("double")
    px = nk * 10.0 + 1.0
    py = (F.col("n_nationkey") % 5).cast("double") * 7.0
    return polys.select(
        "n_nationkey",
        F.round(geo.st_length(ls), 4).alias("path_len"),
        geo.st_npoints(ls).alias("npoints"),
        F.round(
            geo.st_distance_point_linestring(px, py, ls), 4
        ).alias("dist_center1"),
    ).orderBy("n_nationkey")


@query(
    "tf_geo_rasterize_slope",
    oracle="""
    WITH pts AS (
        SELECT CAST(mod(event_id * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(event_id * 17, 1000) AS DOUBLE) / 10 AS y,
               value AS z
        FROM events
    ), raster AS (
        SELECT CAST(floor(x / 5) AS BIGINT) AS ix,
               CAST(floor(y / 5) AS BIGINT) AS iy,
               avg(z) AS z
        FROM pts GROUP BY 1, 2
    ), nb AS (
        SELECT t.ix, t.iy, count(*) AS n_nbr,
               max(CASE WHEN s.ix = t.ix - 1 AND s.iy = t.iy - 1 THEN s.z END) AS n0,
               max(CASE WHEN s.ix = t.ix     AND s.iy = t.iy - 1 THEN s.z END) AS n1,
               max(CASE WHEN s.ix = t.ix + 1 AND s.iy = t.iy - 1 THEN s.z END) AS n2,
               max(CASE WHEN s.ix = t.ix - 1 AND s.iy = t.iy     THEN s.z END) AS n3,
               max(CASE WHEN s.ix = t.ix + 1 AND s.iy = t.iy     THEN s.z END) AS n5,
               max(CASE WHEN s.ix = t.ix - 1 AND s.iy = t.iy + 1 THEN s.z END) AS n6,
               max(CASE WHEN s.ix = t.ix     AND s.iy = t.iy + 1 THEN s.z END) AS n7,
               max(CASE WHEN s.ix = t.ix + 1 AND s.iy = t.iy + 1 THEN s.z END) AS n8
        FROM raster t JOIN raster s
          ON abs(s.ix - t.ix) <= 1 AND abs(s.iy - t.iy) <= 1
        GROUP BY t.ix, t.iy HAVING count(*) = 9
    )
    SELECT CAST(ix * 5.0 AS DOUBLE) AS bin_x, CAST(iy * 5.0 AS DOUBLE) AS bin_y,
           round(degrees(atan(sqrt(
               pow(((n8 + 2*n5 + n2) - (n6 + 2*n3 + n0)) / 40.0, 2)
             + pow(((n6 + 2*n7 + n8) - (n0 + 2*n1 + n2)) / 40.0, 2)))), 4) AS slope,
           round(CASE WHEN sqrt(
               pow(((n8 + 2*n5 + n2) - (n6 + 2*n3 + n0)) / 40.0, 2)
             + pow(((n6 + 2*n7 + n8) - (n0 + 2*n1 + n2)) / 40.0, 2)) < 0.0001
             THEN NULL
             ELSE degrees(atan2(((n8 + 2*n5 + n2) - (n6 + 2*n3 + n0)) / 40.0,
                                ((n6 + 2*n7 + n8) - (n0 + 2*n1 + n2)) / 40.0)) + 180.0
           END, 4) AS aspect
    FROM nb ORDER BY bin_x, bin_y
    """,
)
def tf_geo_rasterize_slope(spark, sf_dir):
    """tf_geo_rasterize_slope (GeoRasterTableFunctions.hpp:993): Horn
    3x3 slope/aspect over the rasterized grid; cells with incomplete
    neighborhoods omitted, aspect NULL on flat cells — oracle
    recomputes the finite differences in SQL."""
    from heavydb_spark.operators.spatial import geo_rasterize_slope

    ev = T(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("event_id") * 17 % 1000) / 10.0).alias("y"),
        F.col("value").alias("z"),
    )
    r = geo_rasterize_slope(pts, bin_size=5.0)
    return r.select(
        "bin_x",
        "bin_y",
        F.round("slope", 4).alias("slope"),
        F.round("aspect", 4).alias("aspect"),
    ).orderBy("bin_x", "bin_y")


@query(
    "geo_polygon_intersects",
    oracle="""
    WITH th AS (
        SELECT n_nationkey, i, 2*pi()*i/8 AS th
        FROM nation, generate_series(0, 7) AS t(i)
    ),
    vo AS (
        SELECT n_nationkey, i,
               n_nationkey*10.0 + (2 + 0.9*sin(3*th + n_nationkey))*cos(th) AS x,
               (n_nationkey%5)*7.0 + (2 + 0.9*sin(3*th + n_nationkey))*sin(th) AS y
        FROM th
    ),
    ea AS (
        SELECT n_nationkey, x, y,
               coalesce(lead(x) OVER w, first_value(x) OVER w) AS x2,
               coalesce(lead(y) OVER w, first_value(y) OVER w) AS y2
        FROM vo WINDOW w AS (PARTITION BY n_nationkey ORDER BY i)
    ),
    eb AS (
        SELECT n_nationkey,
               n_nationkey*10.0 - (y - (n_nationkey%5)*7.0) + 3.8 AS x,
               (n_nationkey%5)*7.0 + (x - n_nationkey*10.0) + 0.4 AS y,
               n_nationkey*10.0 - (y2 - (n_nationkey%5)*7.0) + 3.8 AS x2,
               (n_nationkey%5)*7.0 + (x2 - n_nationkey*10.0) + 0.4 AS y2
        FROM ea
    ),
    seg AS (
        SELECT a.n_nationkey,
               max(CASE WHEN (
                   ((  (b.x2-b.x)*(a.y-b.y)  - (b.y2-b.y)*(a.x-b.x)  > 0) <>
                    (  (b.x2-b.x)*(a.y2-b.y) - (b.y2-b.y)*(a.x2-b.x) > 0))
                   AND
                   ((  (a.x2-a.x)*(b.y-a.y)  - (a.y2-a.y)*(b.x-a.x)  > 0) <>
                    (  (a.x2-a.x)*(b.y2-a.y) - (a.y2-a.y)*(b.x2-a.x) > 0))
               ) THEN 1 ELSE 0 END) AS crossing
        FROM ea a JOIN eb b USING (n_nationkey)
        GROUP BY a.n_nationkey
    ),
    vb0 AS (
        SELECT n_nationkey,
               n_nationkey*10.0 - (y - (n_nationkey%5)*7.0) + 3.8 AS px,
               (n_nationkey%5)*7.0 + (x - n_nationkey*10.0) + 0.4 AS py
        FROM vo WHERE i = 0
    ),
    va0 AS (
        SELECT n_nationkey, x AS px, y AS py FROM vo WHERE i = 0
    ),
    b_in_a AS (
        SELECT e.n_nationkey,
               sum(CASE WHEN (e.y > p.py) <> (e.y2 > p.py)
                        THEN CASE WHEN p.px < e.x + (e.x2 - e.x)*(p.py - e.y)/(e.y2 - e.y)
                                  THEN 1 ELSE 0 END ELSE 0 END) % 2 AS inside
        FROM ea e JOIN vb0 p USING (n_nationkey) GROUP BY e.n_nationkey
    ),
    a_in_b AS (
        SELECT e.n_nationkey,
               sum(CASE WHEN (e.y > p.py) <> (e.y2 > p.py)
                        THEN CASE WHEN p.px < e.x + (e.x2 - e.x)*(p.py - e.y)/(e.y2 - e.y)
                                  THEN 1 ELSE 0 END ELSE 0 END) % 2 AS inside
        FROM eb e JOIN va0 p USING (n_nationkey) GROUP BY e.n_nationkey
    )
    SELECT s.n_nationkey,
           (s.crossing = 1 OR ba.inside = 1 OR ab.inside = 1) AS intersects
    FROM seg s
    JOIN b_in_a ba USING (n_nationkey)
    JOIN a_in_b ab USING (n_nationkey)
    ORDER BY s.n_nationkey
    """,
)
def geo_polygon_intersects(spark, sf_dir):
    """ST_Intersects(POLYGON, POLYGON) — each nation's octagon against
    a 90-degree-rotated copy shifted (+3.8, +0.4); radii vary with the key so the outcome
    differs per nation. Oracle recomputes proper segment crossings +
    mutual first-vertex containment in SQL (single-ring shapes, so the
    proper-crossing test is decisive whenever boundaries meet
    non-degenerately). Spark side uses the full edge-pair + even-odd
    containment expression (functions/geo.py st_intersects)."""
    polys = _nation_polygons(spark, sf_dir).select(
        "n_nationkey", F.slice(F.col("poly"), 1, 1).alias("pa")
    )
    nk = F.col("n_nationkey").cast("double")
    cx = nk * 10.0
    cy = (F.col("n_nationkey") % 5).cast("double") * 7.0
    shift = F.transform(
        F.col("pa"),
        lambda ring: F.transform(
            ring,
            lambda p: F.struct(
                (cx - (p["y"] - cy) + 3.8).alias("x"),
                (cy + (p["x"] - cx) + 0.4).alias("y"),
            ),
        ),
    )
    return polys.select(
        "n_nationkey",
        geo.st_intersects(F.col("pa"), shift).alias("intersects"),
    ).orderBy("n_nationkey")


@query(
    "tf_raster_contour",
    oracle="""
    WITH pts AS (
        SELECT CAST(mod(event_id * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(event_id * 17, 1000) AS DOUBLE) / 10 AS y,
               value AS z
        FROM events
    ), raster AS (
        SELECT CAST(floor(x / 5) AS BIGINT) AS ix,
               CAST(floor(y / 5) AS BIGINT) AS iy,
               avg(z) AS z
        FROM pts GROUP BY 1, 2
    ), cells AS (
        SELECT a.ix AS ax, a.iy AS ay,
               a.z AS z00, b.z AS z10, c.z AS z11, d.z AS z01
        FROM raster a
        JOIN raster b ON b.ix = a.ix + 1 AND b.iy = a.iy
        JOIN raster c ON c.ix = a.ix + 1 AND c.iy = a.iy + 1
        JOIN raster d ON d.ix = a.ix     AND d.iy = a.iy + 1
    ), cfg AS (
        SELECT ax, ay,
               CAST(z00 > 45.0 AS INT) + 2*CAST(z10 > 45.0 AS INT)
             + 4*CAST(z11 > 45.0 AS INT) + 8*CAST(z01 > 45.0 AS INT) AS config,
               ax*5.0 + (45.0 - z00)/(z10 - z00)*5.0 AS xb, ay*5.0 AS yb,
               ax*5.0 + 5.0 AS xr, ay*5.0 + (45.0 - z10)/(z11 - z10)*5.0 AS yr,
               ax*5.0 + (45.0 - z01)/(z11 - z01)*5.0 AS xt, ay*5.0 + 5.0 AS yt,
               ax*5.0 AS xl, ay*5.0 + (45.0 - z00)/(z01 - z00)*5.0 AS yl
        FROM cells
    ), m AS (
        SELECT * FROM (VALUES
            (1,'L','B'), (14,'L','B'), (2,'B','R'), (13,'B','R'),
            (3,'L','R'), (12,'L','R'), (4,'T','R'), (11,'T','R'),
            (6,'B','T'), (9,'B','T'),  (7,'L','T'), (8,'L','T'),
            (5,'L','T'), (5,'B','R'),  (10,'L','B'), (10,'T','R')
        ) AS v(config, e1, e2)
    )
    SELECT round(CASE m.e1 WHEN 'B' THEN xb WHEN 'R' THEN xr
                           WHEN 'T' THEN xt ELSE xl END, 6) AS x1,
           round(CASE m.e1 WHEN 'B' THEN yb WHEN 'R' THEN yr
                           WHEN 'T' THEN yt ELSE yl END, 6) AS y1,
           round(CASE m.e2 WHEN 'B' THEN xb WHEN 'R' THEN xr
                           WHEN 'T' THEN xt ELSE xl END, 6) AS x2,
           round(CASE m.e2 WHEN 'B' THEN yb WHEN 'R' THEN yr
                           WHEN 'T' THEN yt ELSE yl END, 6) AS y2
    FROM cfg JOIN m ON m.config = cfg.config
    ORDER BY x1, y1, x2, y2
    """,
)
def tf_raster_contour(spark, sf_dir):
    """tf_raster_contour_lines (GeoRasterTableFunctions.hpp contour
    UDTFs): marching-squares iso-segments at z=45 over the events
    raster; the oracle replays the same 16-case table (as a VALUES
    join) and edge interpolation in SQL."""
    from heavydb_spark.operators.spatial import raster_contour_lines

    ev = T(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("event_id") * 17 % 1000) / 10.0).alias("y"),
        F.col("value").alias("z"),
    )
    segs = raster_contour_lines(pts, bin_size=5.0, contour_value=45.0)
    return segs.select(
        F.round("x1", 6).alias("x1"),
        F.round("y1", 6).alias("y1"),
        F.round("x2", 6).alias("x2"),
        F.round("y2", 6).alias("y2"),
    ).orderBy("x1", "y1", "x2", "y2")


@query("tf_raster_slope_path")  # iterative SSSP -> rows-only check
def tf_raster_slope_path(spark, sf_dir):
    """tf_raster_graph_shortest_slope_weighted_path
    (GraphTableFunctions.hpp:519): slope-weighted cheapest path across
    the events raster from (2.5,2.5) to (97.5,97.5) — distributed rasterize
    reduction + exact Dijkstra on the materialized grid
    (operators/spatial.py raster_graph_shortest_slope_weighted_path)."""
    from heavydb_spark.operators.spatial import (
        raster_graph_shortest_slope_weighted_path,
    )

    ev = T(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("event_id") * 17 % 1000) / 10.0).alias("y"),
        F.col("value").alias("z"),
    )
    return raster_graph_shortest_slope_weighted_path(
        pts,
        bin_size=5.0,
        origin=(2.5, 2.5),
        destination=(97.5, 97.5),
        slope_weight_exponent=2.0,
        slope_pct_max=2000.0,
    )


@query(
    "tf_cross_section_2d",
    oracle="""
    WITH pts AS (
        SELECT CAST(mod(event_id * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(event_id * 17, 1000) AS DOUBLE) / 10 AS y,
               CAST(mod(event_id * 7, 100) AS DOUBLE) AS lvl,
               value AS v
        FROM events
    ), proj AS (
        SELECT (x - 0.0) * (100.0 / sqrt(2.0 * 100.0 * 100.0))
             + (y - 0.0) * (100.0 / sqrt(2.0 * 100.0 * 100.0)) AS t,
               (x - 0.0) * (100.0 / sqrt(2.0 * 100.0 * 100.0))
             - (y - 0.0) * (100.0 / sqrt(2.0 * 100.0 * 100.0)) AS perp,
               lvl, v
        FROM pts
    ), kept AS (
        SELECT t, lvl, v FROM proj
        WHERE abs(perp) <= 15.0 AND t >= 0
          AND t <= sqrt(2.0 * 100.0 * 100.0)
    ), rng AS (
        SELECT min(lvl) AS lmin, max(lvl) AS lmax FROM kept
    ), binned AS (
        SELECT least(CAST(floor(t / sqrt(2.0 * 100.0 * 100.0) * 20) AS BIGINT), 19) AS bx,
               least(CAST(floor((lvl - lmin) / ((lmax - lmin) / 10.0)) AS BIGINT), 9) AS by,
               v, lmin, lmax
        FROM kept, rng
    )
    SELECT round((bx + 0.5) * (sqrt(2.0 * 100.0 * 100.0) / 20), 6) AS x,
           round(lmin + (by + 0.5) * ((lmax - lmin) / 10.0), 6) AS y,
           round(avg(v), 6) AS color
    FROM binned GROUP BY bx, by, lmin, lmax
    ORDER BY x, y
    """,
)
def tf_cross_section_2d(spark, sf_dir):
    """tf_cross_section_2d (CrossSectionTableFunctions.hpp:134): 2D
    vertical slice along the (0,0)->(100,100) diagonal, 20 stations x
    10 level bins, slab half-width 15 — grid-average re-expression of
    the reference's kd-tree IDW sampling (one groupBy, no spatial
    index; operators/spatial.py cross_section_2d)."""
    from heavydb_spark.operators.spatial import cross_section_2d

    ev = T(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("event_id") * 17 % 1000) / 10.0).alias("y"),
        ((F.col("event_id") * 7 % 100).cast("double")).alias("level"),
        F.col("value").alias("v"),
    )
    out = cross_section_2d(
        pts, 0.0, 0.0, 100.0, 100.0,
        num_points_x=20, num_points_y=10, dwithin=15.0,
        point_cols=("x", "y"), level_col="level", value_col="v",
    )
    return out.select(
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        F.round("color", 6).alias("color"),
    ).orderBy("x", "y")


@query(
    "ml_linear_reg2",
    oracle="""
    WITH s AS (
        SELECT var_samp(l_quantity) AS v11,
               var_samp(l_discount) AS v22,
               covar_samp(l_quantity, l_discount) AS v12,
               covar_samp(l_quantity, l_extendedprice) AS c1,
               covar_samp(l_discount, l_extendedprice) AS c2,
               avg(l_quantity) AS m1, avg(l_discount) AS m2,
               avg(l_extendedprice) AS my
        FROM lineitem
    ), d AS (
        SELECT *, v11 * v22 - v12 * v12 AS det FROM s
    ), b AS (
        SELECT (v22 * c1 - v12 * c2) / det AS b1,
               (v11 * c2 - v12 * c1) / det AS b2,
               m1, m2, my
        FROM d
    )
    SELECT coef_idx, round(coef, 4) AS coef FROM (
        SELECT 0 AS coef_idx, my - b1 * m1 - b2 * m2 AS coef FROM b
        UNION ALL SELECT 1, b1 FROM b
        UNION ALL SELECT 2, b2 FROM b
    ) ORDER BY coef_idx
    """,
)
def ml_linear_reg2(spark, sf_dir):
    """linear_reg_coefs, two-feature form (MLTableFunctions.hpp):
    closed-form normal equations over (co)variance aggregates —
    exactly reproducible, so unlike the MLlib path it has a value
    oracle (operators/ml.py linear_reg_fit2)."""
    li = T(spark, sf_dir, "lineitem")
    return (
        ml.linear_reg_fit2(li, "l_quantity", "l_discount", "l_extendedprice")
        .select("coef_idx", F.round("coef", 4).alias("coef"))
        .orderBy("coef_idx")
    )


@query("ml_var_importance")  # randomized MLlib forest fit -> rows-only
def ml_var_importance(spark, sf_dir):
    """random_forest_reg_fit variable importances
    (MLTableFunctions.hpp): per-feature importance of the fitted
    forest (operators/ml.py forest_var_importance)."""
    li = T(spark, sf_dir, "lineitem").limit(5000)
    return ml.forest_var_importance(
        li, ["l_quantity", "l_discount", "l_tax"], "l_extendedprice"
    ).orderBy("feature")


@query("ml_decision_trees")  # randomized MLlib forest fit -> rows-only
def ml_decision_trees(spark, sf_dir):
    """get_decision_trees (MLTableFunctions.hpp): structure rows of a
    fitted forest (operators/ml.py get_decision_trees)."""
    li = T(spark, sf_dir, "lineitem").limit(5000)
    return ml.get_decision_trees(
        li, ["l_quantity", "l_discount"], "l_extendedprice", num_trees=5
    ).orderBy("tree_id")


@query("ml_pca_fit")  # iterative MLlib eigendecomposition -> rows-only
def ml_pca_fit(spark, sf_dir):
    """pca_fit (MLTableFunctions.hpp): top-2 component loadings +
    explained variance over the embeddings table
    (operators/ml.py pca_fit)."""
    e = T(spark, sf_dir, "embeddings")
    return ml.pca_fit(e, "embedding", k=2).orderBy(
        "component_idx", "feature_idx"
    )


@query(
    "geo_accessors_distance",
    oracle="""
    WITH """ + _POLY_ORACLE_RINGS + """,
    probe AS (
        SELECT n_nationkey,
               n_nationkey*10.0 + 4.0 AS px,
               (n_nationkey%5)*7.0 + 1.0 AS py
        FROM nation
    ),
    segd AS (
        SELECT e.n_nationkey,
               min(CASE WHEN (e.x2-e.x)*(e.x2-e.x)+(e.y2-e.y)*(e.y2-e.y) = 0
                        THEN sqrt((p.px-e.x)*(p.px-e.x)+(p.py-e.y)*(p.py-e.y))
                        ELSE sqrt(
                          (p.px - (e.x + least(greatest(
                             ((p.px-e.x)*(e.x2-e.x)+(p.py-e.y)*(e.y2-e.y))
                             / ((e.x2-e.x)*(e.x2-e.x)+(e.y2-e.y)*(e.y2-e.y)), 0), 1)
                             * (e.x2-e.x)))
                          * (p.px - (e.x + least(greatest(
                             ((p.px-e.x)*(e.x2-e.x)+(p.py-e.y)*(e.y2-e.y))
                             / ((e.x2-e.x)*(e.x2-e.x)+(e.y2-e.y)*(e.y2-e.y)), 0), 1)
                             * (e.x2-e.x)))
                          +
                          (p.py - (e.y + least(greatest(
                             ((p.px-e.x)*(e.x2-e.x)+(p.py-e.y)*(e.y2-e.y))
                             / ((e.x2-e.x)*(e.x2-e.x)+(e.y2-e.y)*(e.y2-e.y)), 0), 1)
                             * (e.y2-e.y)))
                          * (p.py - (e.y + least(greatest(
                             ((p.px-e.x)*(e.x2-e.x)+(p.py-e.y)*(e.y2-e.y))
                             / ((e.x2-e.x)*(e.x2-e.x)+(e.y2-e.y)*(e.y2-e.y)), 0), 1)
                             * (e.y2-e.y))))
                   END) AS edge_dist
        FROM e JOIN probe p USING (n_nationkey)
        GROUP BY e.n_nationkey
    ),
    crossing AS (
        SELECT e.n_nationkey,
               sum(CASE WHEN (e.y > p.py) <> (e.y2 > p.py)
                        THEN CASE WHEN p.px < e.x + (e.x2 - e.x)*(p.py - e.y)/(e.y2 - e.y)
                                  THEN 1 ELSE 0 END
                        ELSE 0 END) AS k
        FROM e JOIN probe p USING (n_nationkey)
        GROUP BY e.n_nationkey
    )
    SELECT s.n_nationkey,
           2 AS numrings,
           12 AS npoints,
           round(CASE WHEN c.k % 2 = 1 THEN 0.0 ELSE s.edge_dist END, 4) AS dist,
           round(0.5 * 16 * 1.5 * 1.5 * sin(2*pi()/16), 4) AS buf_area
    FROM segd s JOIN crossing c USING (n_nationkey)
    ORDER BY s.n_nationkey
    """,
)
def geo_accessors_distance(spark, sf_dir):
    """ST_NumRings / ST_NPoints / ST_Distance(POINT, POLYGON) /
    ST_Buffer(POINT, r) (ExtensionFunctionsGeo.hpp accessors +
    distance_point_poly; buffer per Geospatial/GeosRuntime.cpp scope):
    per-nation probe point against the holed polygon, plus the area of
    a 16-gon buffer — Spark computes it via the generic shoelace over
    the generated ring while the oracle uses the closed-form n-gon
    area, cross-validating both paths."""
    polys = _nation_polygons(spark, sf_dir)
    nk = F.col("n_nationkey").cast("double")
    px = nk * 10.0 + 4.0
    py = (F.col("n_nationkey") % 5).cast("double") * 7.0 + 1.0
    buf = geo.st_buffer_point(
        geo.st_point(px, py), radius=1.5, n_segments=16
    )
    return polys.select(
        "n_nationkey",
        geo.st_numrings(F.col("poly")).alias("numrings"),
        geo.st_npoints_polygon(F.col("poly")).alias("npoints"),
        F.round(
            geo.st_distance_point_polygon(px, py, F.col("poly")), 4
        ).alias("dist"),
        F.round(geo.st_area(buf), 4).alias("buf_area"),
    ).orderBy("n_nationkey")


@query(
    "tf_raster_contour_bands",
    oracle="""
    WITH pts AS (
        SELECT CAST(mod(event_id * 13, 1000) AS DOUBLE) / 10 AS x,
               CAST(mod(event_id * 17, 1000) AS DOUBLE) / 10 AS y,
               value AS z
        FROM events
    ), raster AS (
        SELECT CAST(floor(x / 5) AS BIGINT) AS ix,
               CAST(floor(y / 5) AS BIGINT) AS iy, avg(z) AS z
        FROM pts GROUP BY 1, 2
    ), banded AS (
        SELECT ix, iy, CAST(floor((z - 10.0) / 20.0) AS BIGINT) AS band
        FROM raster
    ), runs AS (
        SELECT ix, iy, band,
               ix - row_number() OVER (PARTITION BY iy, band ORDER BY ix) AS run
        FROM banded
    )
    SELECT CAST(min(ix) * 5.0 AS DOUBLE) AS xmin,
           CAST(iy * 5.0 AS DOUBLE) AS ymin,
           CAST((max(ix) + 1) * 5.0 AS DOUBLE) AS xmax,
           CAST((iy + 1) * 5.0 AS DOUBLE) AS ymax,
           CAST(band * 20.0 + 10.0 AS DOUBLE) AS contour_value
    FROM runs GROUP BY iy, band, run
    ORDER BY ymin, xmin, contour_value
    """,
)
def tf_raster_contour_bands(spark, sf_dir):
    """tf_raster_contour_polygons (GDALTableFunctions.hpp:629): filled
    contour bands (interval 20, offset 10) over the events raster as
    run-length-merged band rectangles
    (operators/spatial.py raster_contour_polygons)."""
    from heavydb_spark.operators.spatial import raster_contour_polygons

    ev = T(spark, sf_dir, "events")
    pts = ev.select(
        ((F.col("event_id") * 13 % 1000) / 10.0).alias("x"),
        ((F.col("event_id") * 17 % 1000) / 10.0).alias("y"),
        F.col("value").alias("z"),
    )
    return raster_contour_polygons(
        pts, bin_size=5.0, contour_interval=20.0, contour_offset=10.0
    ).orderBy("ymin", "xmin", "contour_value")


@query(
    "tf_mandelbrot",
    oracle="""
    WITH RECURSIVE grid AS (
        SELECT CAST(i % 32 AS BIGINT) AS px, CAST(i // 32 AS BIGINT) AS py
        FROM range(0, 1024) AS t(i)
    ), px AS (
        SELECT px, py,
               px * (1.0 - (-2.5)) / 32 + (-2.5) AS x,
               py * (1.25 - (-1.25)) / 32 + (-1.25) AS y
        FROM grid
    ), it AS (
        SELECT x, y, 0 AS n, CAST(0 AS DOUBLE) AS zx, CAST(0 AS DOUBLE) AS zy
        FROM px
        UNION ALL
        SELECT x, y, n + 1, zx*zx - zy*zy + x, 2*zx*zy + y
        FROM it
        WHERE zx*zx + zy*zy < 4 AND n < 48
    )
    SELECT round(x, 6) AS x, round(y, 6) AS y,
           CAST(max(n) AS INTEGER) AS num_iterations
    FROM it GROUP BY x, y ORDER BY x, y
    """,
)
def tf_mandelbrot(spark, sf_dir):
    """tf_mandelbrot (ExampleTableFunctions.h:25): 32x32 escape-time
    grid over [-2.5,1]x[-1.25,1.25], 48 iterations — the compute-only
    UDTF surface. Oracle replays the identical recurrence as a DuckDB
    recursive CTE, so the escape counts are value-checked exactly."""
    from heavydb_spark.operators.series import mandelbrot

    out = mandelbrot(spark, 32, 32, -2.5, 1.0, -1.25, 1.25, 48)
    return out.select(
        F.round("x", 6).alias("x"),
        F.round("y", 6).alias("y"),
        "num_iterations",
    ).orderBy("x", "y")


# ------------------------------------------------------- GEOS op subset
#
# ST_Union / ST_Intersection / ST_Difference / ST_ConvexHull / general
# ST_Transform (RelAlgTranslatorGeo.cpp:333-337,810-819, GeosRuntime.cpp;
# ExtensionFunctionsGeo.hpp ST_Transform overloads). Fixtures are
# closed-form shapes parameterized by nation key, so DuckDB oracles
# compute expected values without a spatial extension.


def _rect_poly(x0, y0, x1, y1):
    """Axis-aligned rectangle as a single-ring POLYGON column."""
    return F.array(
        F.array(
            F.struct(x0.alias("x"), y0.alias("y")),
            F.struct(x1.alias("x"), y0.alias("y")),
            F.struct(x1.alias("x"), y1.alias("y")),
            F.struct(x0.alias("x"), y1.alias("y")),
        )
    )


def _geos_rects(spark, sf_dir):
    """Two overlapping axis-aligned rectangles per nation: A =
    [0, 4+k%3] x [0, 3+k%2], B = [2, 6+k%5] x [1, 5] — overlap widths
    stay positive for every k, so all three boolean results are
    non-empty."""
    n = T(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    zero = F.lit(0.0)
    return n.select(
        "n_nationkey",
        _rect_poly(
            zero, zero,
            (4 + k % 3).cast("double"), (3 + k % 2).cast("double"),
        ).alias("pa"),
        _rect_poly(
            F.lit(2.0), F.lit(1.0),
            (6 + k % 5).cast("double"), F.lit(5.0),
        ).alias("pb"),
    )


@query(
    "geo_geos_union_diff",
    oracle="""
    WITH p AS (
        SELECT n_nationkey,
               CAST(4 + n_nationkey % 3 AS DOUBLE) AS ax1,
               CAST(3 + n_nationkey % 2 AS DOUBLE) AS ay1,
               CAST(6 + n_nationkey % 5 AS DOUBLE) AS bx1
        FROM nation
    ), m AS (
        SELECT n_nationkey,
               ax1 * ay1 AS area_a,
               (bx1 - 2) * 4 AS area_b,
               (least(ax1, bx1) - 2) * (least(ay1, 5.0) - 1) AS area_i
        FROM p
    )
    SELECT n_nationkey,
           round(area_a + area_b - area_i, 4) AS union_area,
           round(area_i, 4) AS inter_area,
           round(area_a - area_i, 4) AS diff_area
    FROM m ORDER BY n_nationkey
    """,
)
def geo_geos_union_diff(spark, sf_dir):
    """ST_Union / ST_Intersection / ST_Difference on per-nation
    rectangle pairs (GEOS ops, RelAlgTranslatorGeo.cpp:333-337) via
    exact trapezoid-overlay pandas UDF kernels (functions/geos.py);
    areas checked against closed-form interval arithmetic."""
    from heavydb_spark.functions import geos

    r = _geos_rects(spark, sf_dir)
    return r.select(
        "n_nationkey",
        F.round(
            geo.st_area_multipolygon(geos.st_union(F.col("pa"), F.col("pb"))), 4
        ).alias("union_area"),
        F.round(
            geo.st_area_multipolygon(
                geos.st_intersection(F.col("pa"), F.col("pb"))
            ),
            4,
        ).alias("inter_area"),
        F.round(
            geo.st_area_multipolygon(
                geos.st_difference(F.col("pa"), F.col("pb"))
            ),
            4,
        ).alias("diff_area"),
    ).orderBy("n_nationkey")


@query(
    "geo_geos_convexhull",
    oracle="""
    WITH v AS (
        SELECT n_nationkey, i,
               n_nationkey*10.0
                 + (2 + n_nationkey % 3) * cos(2*pi()*i/8) AS x,
               (n_nationkey%5)*7.0
                 + (2 + n_nationkey % 3) * sin(2*pi()*i/8) AS y
        FROM nation, generate_series(0, 7) AS t(i)
    ), e AS (
        SELECT n_nationkey, x, y,
               coalesce(lead(x) OVER w, first_value(x) OVER w) AS x2,
               coalesce(lead(y) OVER w, first_value(y) OVER w) AS y2
        FROM v WINDOW w AS (PARTITION BY n_nationkey ORDER BY i)
    )
    SELECT n_nationkey,
           CAST(8 AS INTEGER) AS hull_points,
           round(abs(sum(x*y2 - x2*y)/2), 4) AS hull_area,
           round(sum(sqrt((x-x2)*(x-x2) + (y-y2)*(y-y2))), 4) AS hull_perim
    FROM e GROUP BY n_nationkey ORDER BY n_nationkey
    """,
)
def geo_geos_convexhull(spark, sf_dir):
    """ST_ConvexHull (RelAlgTranslatorGeo.cpp:810-819) via monotone
    chain: per nation, 8 regular-octagon vertices plus 4 strictly
    interior points — the hull must recover exactly the octagon, so
    vertex count, area and perimeter have closed oracles."""
    import math

    from heavydb_spark.functions import geos

    n = T(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("double")
    cx, cy = nk * 10.0, (F.col("n_nationkey") % 5).cast("double") * 7.0
    r = (2 + F.col("n_nationkey") % 3).cast("double")

    def vert(i, scale):
        th = F.lit(2 * math.pi) * i / F.lit(8)
        return F.struct(
            (cx + scale * F.cos(th)).alias("x"),
            (cy + scale * F.sin(th)).alias("y"),
        )

    octagon = F.transform(
        F.sequence(F.lit(0), F.lit(7)), lambda i: vert(i.cast("double"), r)
    )
    inner = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: vert(i.cast("double") * 2 + 0.5, r * 0.3),
    )
    pts = n.select(
        "n_nationkey", F.concat(octagon, inner).alias("pts")
    )
    hull = geos.st_convexhull(F.col("pts"))
    return pts.select(
        "n_nationkey",
        geo.st_npoints_polygon(hull).alias("hull_points"),
        F.round(geo.st_area(hull), 4).alias("hull_area"),
        F.round(geo.st_perimeter(hull), 4).alias("hull_perim"),
    ).orderBy("n_nationkey")


@query(
    "geo_geos_concavehull",
    oracle="""
    SELECT n_nationkey,
           CAST(16 AS INTEGER) AS hull_points,
           round(12.0 * s * s, 4) AS hull_area,
           round(16.0 * s, 4) AS hull_perim,
           round(14.0 * s * s, 4) AS convex_area
    FROM (
        SELECT n_nationkey, CAST(1 + n_nationkey % 3 AS DOUBLE) AS s
        FROM nation
    )
    ORDER BY n_nationkey
    """,
)
def geo_geos_concavehull(spark, sf_dir):
    """ST_ConcaveHull (RelAlgTranslatorGeo.cpp:336,819-825; GEOS
    delegation) via the Moreira-Santos k-NN walk: per nation, a
    unit-grid L-shape ([0,4s]^2 minus the open x>2s, y>2s quadrant,
    21 lattice points) whose concave hull is exactly the L boundary —
    area 12s^2, perimeter 16s, 16 boundary vertices — while the convex
    hull closes the notch at 14s^2, so the oracle distinguishes the two
    in closed form."""
    from heavydb_spark.functions import geos

    n = T(spark, sf_dir, "nation")
    s = (1 + F.col("n_nationkey") % 3).cast("double")
    cx = F.col("n_nationkey").cast("double") * 100.0
    idx = F.sequence(F.lit(0), F.lit(24))
    keep = F.filter(idx, lambda t: ~((F.floor(t / 5) > 2) & (t % 5 > 2)))
    pts = n.select(
        "n_nationkey",
        F.transform(
            keep,
            lambda t: F.struct(
                (cx + F.floor(t / 5).cast("double") * s).alias("x"),
                ((t % 5).cast("double") * s).alias("y"),
            ),
        ).alias("pts"),
    )
    concave = geos.st_concavehull(F.col("pts"), 3)
    convex = geos.st_convexhull(F.col("pts"))
    return pts.select(
        "n_nationkey",
        geo.st_npoints_polygon(concave).alias("hull_points"),
        F.round(geo.st_area(concave), 4).alias("hull_area"),
        F.round(geo.st_perimeter(concave), 4).alias("hull_perim"),
        F.round(geo.st_area(convex), 4).alias("convex_area"),
    ).orderBy("n_nationkey")


@query(
    "geo_multipolygon_props",
    oracle="""
    WITH p AS (
        SELECT n_nationkey,
               CAST(2 + n_nationkey % 3 AS DOUBLE) AS w1,
               CAST(1 + n_nationkey % 2 AS DOUBLE) AS h2,
               n_nationkey * 10.0 AS x0
        FROM nation
    )
    SELECT n_nationkey,
           CAST(2 AS INTEGER) AS num_geoms,
           CAST(8 AS INTEGER) AS n_points,
           round(w1 * 2 + 1 * h2, 4) AS total_area,
           round((w1*2*(x0 + w1/2) + h2*(x0 + 5.5)) / (w1*2 + h2), 4) AS cx,
           round((w1*2*1.0 + h2*(h2/2)) / (w1*2 + h2), 4) AS cy
    FROM p ORDER BY n_nationkey
    """,
)
def geo_multipolygon_props(spark, sf_dir):
    """MULTIPOLYGON type surface (Shared/sqltypes.h:84-97,
    Geospatial/Types.h GeoMultiPolygon; Tests/GeospatialTest.cpp
    MULTIPOLYGON shapes): WKT round-trip + ST_NumGeometries /
    ST_NPoints / ST_Area / ST_Centroid over two disjoint per-nation
    rectangles. The geometry is serialized to WKT and re-parsed before
    measuring, so the round-trip is part of what the oracle checks."""
    n = T(spark, sf_dir, "nation")
    k = F.col("n_nationkey")
    x0 = k.cast("double") * 10.0
    w1 = (2 + k % 3).cast("double")
    h2 = (1 + k % 2).cast("double")
    zero = F.lit(0.0)
    mp = F.array(
        _rect_poly(x0, zero, x0 + w1, F.lit(2.0)),
        _rect_poly(x0 + F.lit(5.0), zero, x0 + F.lit(6.0), h2),
    )
    roundtrip = geo.st_geomfromtext_multipolygon(
        geo.st_astext_multipolygon(mp)
    )
    cen = geo.st_centroid_multipolygon(roundtrip)
    return n.select(
        "n_nationkey",
        geo.st_numgeometries(roundtrip).alias("num_geoms"),
        geo.st_npoints_multipolygon(roundtrip).alias("n_points"),
        F.round(geo.st_area_multipolygon(roundtrip), 4).alias("total_area"),
        F.round(cen["x"], 4).alias("cx"),
        F.round(cen["y"], 4).alias("cy"),
    ).orderBy("n_nationkey")


_UTM_LON_SQL = "6.0 + CAST(c_custkey % 600 AS DOUBLE) / 100"
_UTM_LAT_SQL = "CAST((c_custkey*7) % 8000 AS DOUBLE) / 100"
_UTM_E_SQL, _UTM_N_SQL = geo.utm_from_wgs84_sql(_UTM_LON_SQL, _UTM_LAT_SQL, 32)


@query(
    "geo_transform_utm",
    oracle=f"""
    SELECT c_custkey,
           round({_UTM_E_SQL}, 4) + 0.0 AS utm_e,
           round({_UTM_N_SQL}, 4) + 0.0 AS utm_n
    FROM customer WHERE c_custkey < 400 ORDER BY c_custkey
    """,
)
def geo_transform_utm(spark, sf_dir):
    """General ST_Transform beyond the 900913 pair
    (ExtensionFunctionsGeo.hpp ST_Transform overloads): WGS-84 ->
    UTM zone 32N by the closed-form transverse-Mercator series
    (functions/geo.py utm_from_wgs84). The oracle runs the SAME
    formula as generated SQL text, so both engines execute an
    identical floating-point operation structure (validated to 0.1 mm
    against independent meridian-arc integration in tests)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    lon = F.lit(6.0) + (F.col("c_custkey") % 600).cast("double") / 100
    lat = ((F.col("c_custkey") * 7) % 8000).cast("double") / 100
    utm = geo.utm_from_wgs84(lon, lat, 32)
    return c.select(
        "c_custkey",
        (F.round(utm["x"], 4) + 0.0).alias("utm_e"),
        (F.round(utm["y"], 4) + 0.0).alias("utm_n"),
    ).orderBy("c_custkey")


# ---------------------------------------------------- point-cloud UDTFs

_PC_X0 = "CAST(400000.0 + 1000.0 * n_nationkey AS DOUBLE)"
_PC_Y0 = "CAST(5000000.0 + 500.0 * n_nationkey AS DOUBLE)"
_PC_N = "200 + (n_nationkey % 5) * 100"
_PC_LON_MIN, _PC_LAT_MIN = geo.utm_to_wgs84_sql(_PC_X0, _PC_Y0, 32)
_PC_LON_MAX, _PC_LAT_MAX = geo.utm_to_wgs84_sql(
    f"({_PC_X0}) + 95.0", f"({_PC_Y0}) + (({_PC_N}) / 20 - 1) * 5.0", 32
)


@query(
    "tf_point_cloud_metadata",
    oracle=f"""
    SELECT 'synth://' || CAST(n_nationkey AS VARCHAR) AS file_path,
           CAST(n_nationkey AS VARCHAR) AS file_name,
           CAST(1 AS SMALLINT) AS version_major,
           CAST(4 AS SMALLINT) AS version_minor,
           CAST({_PC_N} AS BIGINT) AS num_points,
           CAST(10 AS SMALLINT) AS num_dims,
           32 AS specified_utm_zone,
           {_PC_X0} AS source_x_min,
           ({_PC_X0}) + 95.0 AS source_x_max,
           {_PC_Y0} AS source_y_min,
           ({_PC_Y0}) + (({_PC_N}) / 20 - 1) * 5.0 AS source_y_max,
           CAST(100.0 AS DOUBLE) AS source_z_min,
           CAST(112.0 AS DOUBLE) AS source_z_max,
           round({_PC_LON_MIN}, 6) + 0.0 AS x_min_4326,
           round({_PC_LON_MAX}, 6) + 0.0 AS x_max_4326,
           round({_PC_LAT_MIN}, 6) + 0.0 AS y_min_4326,
           round({_PC_LAT_MAX}, 6) + 0.0 AS y_max_4326
    FROM nation ORDER BY file_path
    """,
)
def tf_point_cloud_metadata(spark, sf_dir):
    """tf_point_cloud_metadata (PointCloudTableFunctions.h:14): per-file
    header/bounds rows over deterministic synthetic UTM tiles (the LAS
    binary decoder is laspy-gated; sources/pointcloud.py), with
    EPSG:4326 bounds from the closed-form inverse UTM transform. The
    oracle replays the tile arithmetic AND the same generated inverse-
    transform SQL."""
    from heavydb_spark.sources.pointcloud import (
        point_cloud_metadata,
        synthetic_decoder,
    )

    files = T(spark, sf_dir, "nation").select(
        F.concat(F.lit("synth://"), F.col("n_nationkey").cast("string")).alias(
            "path"
        )
    )
    m = point_cloud_metadata(spark, files, utm_zone=32, decoder=synthetic_decoder)
    return m.select(
        "file_path", "file_name", "version_major", "version_minor",
        "num_points", "num_dims", "specified_utm_zone",
        "source_x_min", "source_x_max", "source_y_min", "source_y_max",
        "source_z_min", "source_z_max",
        (F.round("x_min_4326", 6) + 0.0).alias("x_min_4326"),
        (F.round("x_max_4326", 6) + 0.0).alias("x_max_4326"),
        (F.round("y_min_4326", 6) + 0.0).alias("y_min_4326"),
        (F.round("y_max_4326", 6) + 0.0).alias("y_max_4326"),
    ).orderBy("file_path")


@query(
    "tf_load_point_cloud",
    oracle="""
    WITH f AS (
        SELECT n_nationkey AS k, 200 + (n_nationkey % 5) * 100 AS n,
               CAST(400000.0 + 1000.0 * n_nationkey AS DOUBLE) AS x0,
               CAST(5000000.0 + 500.0 * n_nationkey AS DOUBLE) AS y0
        FROM nation WHERE n_nationkey < 5
    ), pts AS (
        SELECT x0 + (i % 20) * 5.0 AS x,
               y0 + (i // 20) * 5.0 AS y,
               CAST(100.0 + (i % 7) * 2.0 AS DOUBLE) AS z,
               CAST((i * 37) % 256 AS INTEGER) AS intensity,
               CAST(i % 3 + 1 AS TINYINT) AS return_num,
               CAST(3 AS TINYINT) AS num_returns,
               CAST(i % 2 AS TINYINT) AS scan_direction_flag,
               CAST(0 AS TINYINT) AS edge_of_flight_line_flag,
               CAST(i % 4 + 1 AS SMALLINT) AS classification,
               CAST(i % 21 - 10 AS TINYINT) AS scan_angle_rank
        FROM f, generate_series(0, 599) AS t(i)
        WHERE i < n
    )
    SELECT * FROM pts
    WHERE x >= 400020.0 AND x <= 402085.0
      AND y >= 5000000.0 AND y <= 5001005.0
    ORDER BY x, y
    """,
)
def tf_load_point_cloud(spark, sf_dir):
    """tf_load_point_cloud (PointCloudTableFunctions.h:117): per-file
    mapInPandas decode fan-out + bbox crop (the 4-arg overload's
    require-clauses) over deterministic synthetic tiles — files k=3,4
    fall wholly outside the box, k=0 and k=2 are partially cropped on
    opposite x edges."""
    from heavydb_spark.sources.pointcloud import (
        load_point_cloud,
        synthetic_decoder,
    )

    files = T(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 5).select(
        F.concat(F.lit("synth://"), F.col("n_nationkey").cast("string")).alias(
            "path"
        )
    )
    return load_point_cloud(
        spark, files,
        x_min=400020.0, x_max=402085.0,
        y_min=5000000.0, y_max=5001005.0,
        decoder=synthetic_decoder,
    ).orderBy("x", "y")


@query(
    "dml_update_correlated_postimage",
    oracle="""
    WITH agg AS (
        SELECT l_suppkey AS k,
               round(CAST(avg(l_extendedprice) AS DOUBLE), 2) AS avg_price
        FROM lineitem WHERE l_quantity > 40 GROUP BY l_suppkey
    )
    SELECT s.s_suppkey,
           CASE WHEN s.s_nationkey < 13 THEN a.avg_price
                ELSE round(CAST(s.s_acctbal AS DOUBLE), 2) END AS s_acctbal
    FROM supplier s LEFT JOIN agg a ON s.s_suppkey = a.k
    ORDER BY s.s_suppkey
    """,
)
def dml_update_correlated_postimage(spark, sf_dir):
    """Correlated-subquery UPDATE post-image
    (Tests/CorrelatedSubqueryTest.cpp Update.Correlated):
    UPDATE supplier SET s_acctbal = (SELECT avg(big-line price) FROM
    lineitem WHERE l_suppkey = s_suppkey) WHERE s_nationkey < 13 —
    unmatched rows in the WHERE set become NULL (empty scalar
    subquery), rows outside it keep their balance; duplicate inner
    keys would raise (operators/mutation.py update_from)."""
    from heavydb_spark.operators.mutation import update_from

    s = T(spark, sf_dir, "supplier")
    li = T(spark, sf_dir, "lineitem")
    agg = (
        li.filter(F.col("l_quantity") > 40)
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(F.round(F.avg("l_extendedprice"), 2).alias("__avg_price"))
    )
    post = update_from(
        s.withColumn("s_acctbal", F.round(F.col("s_acctbal").cast("double"), 2)),
        ["s_suppkey"],
        agg,
        {"s_acctbal": "__avg_price"},
        cond=F.col("s_nationkey") < 13,
    )
    return post.select("s_suppkey", "s_acctbal").orderBy("s_suppkey")


# ----------------------------------------------- Torch obj-detect UDTF
#
# tf_torch_raster_obj_detect (Torch/TorchTableFunctions.h:26). The
# TorchScript kernel is environment-stubbed; the deterministic blob
# detector drives the full tiling / halo / centroid-ownership / NMS
# plumbing, and the planted-rectangle raster (one rectangle per 24px
# coarse cell, all rectangles clear of cell borders so 4-connectivity
# separates them) makes every detection closed-form: the oracle
# recovers each rectangle's bbox by grouping above-threshold pixels on
# the coarse cell.


@query(
    "tf_torch_obj_detect",
    oracle="""
    WITH pix AS (
        SELECT CAST(i % 96 AS BIGINT) AS px, CAST(i // 96 AS BIGINT) AS py
        FROM range(0, 9216) AS t(i)
    ), lit AS (
        SELECT px, py, px // 24 AS cx, py // 24 AS cy,
               (px // 24) * 24 + 4 + ((px // 24) * 5 + (py // 24) * 3) % 7 AS rx0,
               (py // 24) * 24 + 4 + ((px // 24) * 3 + (py // 24) * 5) % 7 AS ry0,
               4 + ((px // 24) + 2 * (py // 24)) % 7 AS rw,
               4 + (2 * (px // 24) + (py // 24)) % 7 AS rh
        FROM pix
    ), on_pix AS (
        SELECT px, py, cx, cy FROM lit
        WHERE px >= rx0 AND px < rx0 + rw AND py >= ry0 AND py < ry0 + rh
    ), boxes AS (
        SELECT cx, cy, min(px) AS x0, max(px) AS x1,
               min(py) AS y0, max(py) AS y1
        FROM on_pix GROUP BY cx, cy
    )
    SELECT 'blob' AS detected_class, CAST(0 AS INTEGER) AS detected_class_id,
           round((x0 + x1 + 1) / 2.0 * 0.5, 4) AS x,
           round((y0 + y1 + 1) / 2.0 * 0.5, 4) AS y,
           round(CAST((x1 - x0 + 1) * 0.5 AS DOUBLE), 4) AS detected_width,
           round(CAST((y1 - y0 + 1) * 0.5 AS DOUBLE), 4) AS detected_height,
           round(CAST(CAST(200.0 / 255.0 AS FLOAT) AS DOUBLE), 4)
               AS detected_confidence
    FROM boxes ORDER BY x, y
    """,
)
def tf_torch_obj_detect(spark, sf_dir):
    """tf_torch_raster_obj_detect (Torch/TorchTableFunctions.h:26):
    object detection over a tiled 96x96 raster (0.5 world units per
    pixel, tile 32, halo 8) with the deterministic blob-detector
    kernel standing in for the TorchScript model
    (operators/objdetect.py raster_obj_detect).  16 planted
    rectangles, several crossing tile boundaries, each recovered
    exactly once via halo'd centroid ownership."""
    from heavydb_spark.operators.objdetect import raster_obj_detect

    px = F.col("id") % 96
    py = (F.col("id") / 96).cast("long")
    cx, cy = px / F.lit(24), py / F.lit(24)
    cx = F.floor(cx).cast("long")
    cy = F.floor(cy).cast("long")
    rx0 = cx * 24 + 4 + (cx * 5 + cy * 3) % 7
    ry0 = cy * 24 + 4 + (cx * 3 + cy * 5) % 7
    rw = 4 + (cx + 2 * cy) % 7
    rh = 4 + (2 * cx + cy) % 7
    inside = (px >= rx0) & (px < rx0 + rw) & (py >= ry0) & (py < ry0 + rh)
    raster = spark.range(96 * 96).select(
        (px * 0.5).alias("x"),
        (py * 0.5).alias("y"),
        F.when(inside, F.lit(200.0)).otherwise(F.lit(10.0)).alias("ch0"),
    )
    out = raster_obj_detect(
        raster,
        channel_cols=["ch0"],
        x_units_per_pixel=0.5,
        y_units_per_pixel=0.5,
        tile_width=32,
        tile_height=32,
        halo_pixels=8,
    )
    return out.select(
        "detected_class",
        "detected_class_id",
        F.round("x", 4).alias("x"),
        F.round("y", 4).alias("y"),
        F.round("detected_width", 4).alias("detected_width"),
        F.round("detected_height", 4).alias("detected_height"),
        F.round(F.col("detected_confidence").cast("double"), 4).alias(
            "detected_confidence"
        ),
    ).orderBy("x", "y")


@query(
    "geo_buffer_dispatch",
    oracle="""
    WITH p AS (
        SELECT n_nationkey,
               0.5 + (n_nationkey % 4) * 0.25 AS r,
               n_nationkey % 3 AS tag,
               CAST(4 + n_nationkey % 5 AS DOUBLE) AS len,
               CAST(3 + n_nationkey % 4 AS DOUBLE) AS w,
               CAST(2 + n_nationkey % 3 AS DOUBLE) AS h
        FROM nation
    )
    SELECT n_nationkey,
           round(CASE tag
             WHEN 0 THEN 16 * r * r * sin(pi() / 16)
             WHEN 1 THEN 2 * r * len + 2 * sqrt(2) * r * r
             ELSE w * h + 2 * r * (w + h) + 2 * sqrt(2) * r * r
           END, 4) AS buf_area
    FROM p ORDER BY n_nationkey
    """,
)
def geo_buffer_dispatch(spark, sf_dir):
    """Single-name ST_Buffer(geom, r) over mixed point / linestring /
    polygon rows (the reference overloads one name by geometry type,
    RelAlgTranslatorGeo.cpp:810-819): the dialect routes statically
    tagged WKT at rewrite time and falls back to the runtime ring-shape
    dispatcher (st_buffer_any) here, where the tag varies per row.
    Oracle: exact closed forms — 32-gon 16*r^2*sin(pi/16) for points
    (matching the registered ST_Buffer point form), 2*r*L + octagon
    for segments, w*h + 2*r*(w+h) + octagon for rectangles (the four
    axis-symmetric corner octagon quarters sum to one octagon; line
    and polygon vertex discs are 8-segment like st_buffer_line/poly)."""
    from heavydb_spark.engine import Engine

    eng = Engine(spark)
    eng.attach(sf_dir)
    buf = eng.sql(
        """
        WITH p AS (
            SELECT n_nationkey,
                   0.5 + (n_nationkey % 4) * 0.25 AS r,
                   CASE n_nationkey % 3
                     WHEN 0 THEN concat('POINT (', n_nationkey, ' ',
                                        n_nationkey, ')')
                     WHEN 1 THEN concat('LINESTRING (0 ', n_nationkey,
                                        ', ', 4 + n_nationkey % 5, ' ',
                                        n_nationkey, ')')
                     ELSE concat('POLYGON ((0 0, ', 3 + n_nationkey % 4,
                                 ' 0, ', 3 + n_nationkey % 4, ' ',
                                 2 + n_nationkey % 3, ', 0 ',
                                 2 + n_nationkey % 3, ', 0 0))')
                   END AS wkt
            FROM nation
        )
        SELECT n_nationkey, ST_Buffer(st_geomfromtext(wkt), r) AS mp
        FROM p
        """
    )
    return buf.select(
        "n_nationkey",
        F.round(geo.st_area_multipolygon(F.col("mp")), 4).alias("buf_area"),
    ).orderBy("n_nationkey")


# lon/lat over the OSGB domain (lon -7..1, lat 49..59); the same
# generated series text runs on both engines.
_BNG_LON_SQL = "-7.0 + CAST(c_custkey % 800 AS DOUBLE) / 100"
_BNG_LAT_SQL = "49.0 + CAST((c_custkey*3) % 1000 AS DOUBLE) / 100"
_BNG_E_SQL, _BNG_N_SQL = geo.tm_from_wgs84_sql(_BNG_LON_SQL, _BNG_LAT_SQL, 27700)
_NZ_LON_SQL = "166.0 + CAST(c_custkey % 1200 AS DOUBLE) / 100"
_NZ_LAT_SQL = "-47.0 + CAST((c_custkey*7) % 1300 AS DOUBLE) / 100"
_NZ_E_SQL, _NZ_N_SQL = geo.tm_from_wgs84_sql(_NZ_LON_SQL, _NZ_LAT_SQL, 2193)


@query(
    "geo_transform_epsg",
    oracle=f"""
    SELECT c_custkey,
           round({_BNG_E_SQL}, 4) + 0.0 AS bng_e,
           round({_BNG_N_SQL}, 4) + 0.0 AS bng_n,
           round({_NZ_E_SQL}, 4) + 0.0 AS nz_e,
           round({_NZ_N_SQL}, 4) + 0.0 AS nz_n
    FROM customer WHERE c_custkey < 400 ORDER BY c_custkey
    """,
)
def geo_transform_epsg(spark, sf_dir):
    """Arbitrary-SRID ST_Transform beyond UTM (ExtensionFunctionsGeo
    .hpp overloads + Geospatial/ proj delegation): the EPSG
    transverse-Mercator parameter table (functions/geo.py _EPSG_TM)
    drives one shared Krueger series — here EPSG 27700 (OSGB British
    National Grid, Airy 1830 ellipsoid, non-zero natural origin and
    false northing) and EPSG 2193 (NZTM, GRS80). The oracle runs the
    SAME generated SQL text, so both engines execute an identical
    floating-point operation structure. Projection-only: datum shifts
    are proj's job and documented out of scope."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    bng_lon = F.lit(-7.0) + (F.col("c_custkey") % 800).cast("double") / 100
    bng_lat = F.lit(49.0) + ((F.col("c_custkey") * 3) % 1000).cast("double") / 100
    nz_lon = F.lit(166.0) + (F.col("c_custkey") % 1200).cast("double") / 100
    nz_lat = F.lit(-47.0) + ((F.col("c_custkey") * 7) % 1300).cast("double") / 100
    bng = geo.tm_from_wgs84(bng_lon, bng_lat, 27700)
    nz = geo.tm_from_wgs84(nz_lon, nz_lat, 2193)
    return c.select(
        "c_custkey",
        (F.round(bng["x"], 4) + 0.0).alias("bng_e"),
        (F.round(bng["y"], 4) + 0.0).alias("bng_n"),
        (F.round(nz["x"], 4) + 0.0).alias("nz_e"),
        (F.round(nz["y"], 4) + 0.0).alias("nz_n"),
    ).orderBy("c_custkey")


from heavydb_spark.functions import render as _render  # noqa: E402

_RB_LON = "(-20.0 + CAST(c_custkey % 4000 AS DOUBLE) / 100)"
_RB_LAT = "(20.0 + CAST((c_custkey*13) % 3000 AS DOUBLE) / 100)"
_RECT_X_SQL = _render.rect_pixel_bin_x_sql(_RB_LON, -20.0, 20.0, 8.0, 3.0, 800)
_RECT_Y_SQL = _render.rect_pixel_bin_y_sql(_RB_LAT, 20.0, 50.0, 8.0, 0.0, 600)
_HEX_X_SQL = _render.reg_hex_horiz_pixel_bin_x_sql(
    _RB_LON, -20.0, 20.0, _RB_LAT, 20.0, 50.0,
    10.0 * _render.SQRT3 / 2.0, 10.0, 0.0, 0.0, 800, 600,
)
_HEX_Y_SQL = _render.reg_hex_horiz_pixel_bin_y_sql(
    _RB_LON, -20.0, 20.0, _RB_LAT, 20.0, 50.0,
    10.0 * _render.SQRT3 / 2.0, 10.0, 0.0, 0.0, 800, 600,
)
_INVIEW_SQL = _render.is_point_in_merc_view_sql(
    _RB_LON, _RB_LAT, -10.0, 15.0, 25.0, 45.0
)

# r14: the Spark-side bin expressions, generated by the same formula
# code as the oracle strings above but over the pre-projected __lon /
# __lat columns. Built once at import as SQL text and handed to the
# parser whole — the Column-backend equivalents chained ~2,300 py4j
# round-trips per build (the B13 F.expr lesson; guide §1/§7.3
# plan-construction cost). The hex pair is STAGED (shared
# intermediates become named withColumn steps) because the flat text
# form re-inlines every reuse into a ~24 KB string per axis and the
# parse/analyze cost of that exceeds the py4j saving. Both backends
# drive the identical _rect_bin / _hex_bin arithmetic, so the trees
# are value-identical.
_PB_RECT_X_SQL = _render.rect_pixel_bin_x_sql("__lon", -20.0, 20.0, 8.0, 3.0, 800)
_PB_RECT_Y_SQL = _render.rect_pixel_bin_y_sql("__lat", 20.0, 50.0, 8.0, 0.0, 600)
_PB_HEX_STAGES, _PB_HEX_X_SQL, _PB_HEX_Y_SQL = (
    _render.reg_hex_pixel_bin_xy_staged_sql(
        "__lon", -20.0, 20.0, "__lat", 20.0, 50.0,
        10.0 * _render.SQRT3 / 2.0, 10.0, 0.0, 0.0, 800, 600,
    )
)
_PB_INVIEW_SQL = _render.is_point_in_merc_view_sql(
    "__lon", "__lat", -10.0, 15.0, 25.0, 45.0
)


@query(
    "render_pixel_bins",
    oracle=f"""
    WITH binned AS (
        SELECT round({_RECT_X_SQL}, 4) AS rect_x,
               round({_RECT_Y_SQL}, 4) AS rect_y,
               round({_HEX_X_SQL}, 4) AS hex_x,
               round({_HEX_Y_SQL}, 4) AS hex_y
        FROM customer WHERE c_custkey < 2000 AND ({_INVIEW_SQL})
    )
    SELECT rect_x, rect_y, hex_x, hex_y, count(*) AS n
    FROM binned GROUP BY rect_x, rect_y, hex_x, hex_y
    ORDER BY rect_x, rect_y, hex_x, hex_y
    """,
)
def render_pixel_bins(spark, sf_dir):
    """Backend-render binned aggregation (ExtensionFunctions.hpp:
    496-980 rect/hex pixel bins + :1112 is_point_in_merc_view): the
    scatter/hex layer query shape — filter to the view, project the
    bin-center pixels, group-by the bins. Pure codegen projections
    plus one hash group-by; the oracle replays the identical generated
    double formulas in DuckDB."""
    # r13: project lon/lat ONCE as named columns before the bin
    # formulas — inlined, the coordinate arithmetic is re-substituted
    # at every valx/valy reference inside the generated hex kernels
    # (a ~25 KB expression tree per bin column), and the driver
    # re-analyzes/optimizes that tree on every execution.
    # CollapseProject keeps the split (it never duplicates non-cheap
    # expressions used more than once), so the values are bit-identical
    # while the plan tree shrinks ~30x.
    c = (
        T(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 2000)
        .select(
            (F.lit(-20.0) + (F.col("c_custkey") % 4000).cast("double") / 100)
            .alias("__lon"),
            (F.lit(20.0) + ((F.col("c_custkey") * 13) % 3000).cast("double") / 100)
            .alias("__lat"),
        )
    )
    # r14: each bin expression arrives as parsed SQL text (see the
    # _PB_*_SQL block above) instead of a chain of py4j Column calls;
    # the hex kernels' shared intermediates are staged withColumn
    # steps so no string re-inlines them.
    binned = c.filter(F.expr(_PB_INVIEW_SQL))
    for _n, _sql in _PB_HEX_STAGES:
        binned = binned.withColumn(_n, F.expr(_sql))
    binned = binned.select(
        F.expr(f"round({_PB_RECT_X_SQL}, 4)").alias("rect_x"),
        F.expr(f"round({_PB_RECT_Y_SQL}, 4)").alias("rect_y"),
        F.expr(f"round({_PB_HEX_X_SQL}, 4)").alias("hex_x"),
        F.expr(f"round({_PB_HEX_Y_SQL}, 4)").alias("hex_y"),
    )
    return (
        binned.groupBy("rect_x", "rect_y", "hex_x", "hex_y")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("rect_x", "rect_y", "hex_x", "hex_y")
    )


from heavydb_spark.functions import h3 as _h3  # noqa: E402

_H3_LON = "CAST(-30.0 + CAST(c_custkey % 6000 AS DOUBLE) / 100 AS DOUBLE)"
_H3_LAT = "CAST(10.0 + CAST((c_custkey*17) % 5000 AS DOUBLE) / 100 AS DOUBLE)"
_H3_CELL_SQL = _h3.h3_lonlat_to_cell_sql(_H3_LON, _H3_LAT, 4)


@query(
    "geo_h3_binning",
    oracle=f"""
    WITH cells AS (
        SELECT {_H3_CELL_SQL} AS cell FROM customer WHERE c_custkey < 3000
    ), agg AS (
        SELECT cell, count(*) AS n FROM cells GROUP BY cell
    )
    SELECT cell,
           n,
           round({_h3.h3_cell_to_lon_sql('cell')}, 6) AS center_lon,
           round({_h3.h3_cell_to_lat_sql('cell')}, 6) AS center_lat,
           {_h3.h3_cell_to_parent_sql('cell', 1)} AS parent1
    FROM agg ORDER BY cell
    """,
)
def geo_h3_binning(spark, sf_dir):
    """H3-style hex binning (ExtensionFunctionsH3.hpp H3_LonLatToCell /
    H3_CellToLon/Lat / H3_CellToParent; engine-local ids — the
    bit-compatibility delta vs h3lib is documented in functions/h3.py):
    the standard hex-map aggregation — encode each point at resolution
    4, count per cell, decode centers, and attach the resolution-1
    parent for coarser rollups. One codegen'd projection + one hash
    group-by; the oracle replays the identical shift/mask id math in
    DuckDB (exact — the packing uses only powers of two)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 3000)
    lon = F.lit(-30.0) + (F.col("c_custkey") % 6000).cast("double") / 100
    lat = F.lit(10.0) + ((F.col("c_custkey") * 17) % 5000).cast("double") / 100
    cells = c.select(_h3.h3_lonlat_to_cell(lon, lat, 4).alias("cell"))
    agg = cells.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
    return agg.select(
        "cell",
        "n",
        F.round(_h3.h3_cell_to_lon(F.col("cell")), 6).alias("center_lon"),
        F.round(_h3.h3_cell_to_lat(F.col("cell")), 6).alias("center_lat"),
        _h3.h3_cell_to_parent(F.col("cell"), 1).alias("parent1"),
    ).orderBy("cell")


_DT_LON = "(-6.0 + CAST(c_custkey % 700 AS DOUBLE) / 100)"
_DT_LAT = "(50.0 + CAST((c_custkey*3) % 900 AS DOUBLE) / 100)"
_DT_S1, _DT_S2, _DT_S3 = geo.datum_sql_stages("lon0", "lat0", 27700)
_DT_BNG_E, _DT_BNG_N = geo.tm_from_wgs84_sql("lon2", "lat2", 27700)
_ED_LON = "(0.0 + CAST(c_custkey % 500 AS DOUBLE) / 100)"
_ED_LAT = "(44.0 + CAST((c_custkey*7) % 700 AS DOUBLE) / 100)"
_ED_S1, _ED_S2, _ED_S3 = geo.datum_sql_stages(
    "elon0", "elat0", 23031, prefix="e"
)
_ED_E, _ED_N = geo.tm_from_wgs84_sql("elon2", "elat2", 23031)


def _stage_sql(stage):
    return ", ".join(f"{sql} AS {name}" for name, sql in stage)


@query(
    "geo_transform_datum",
    oracle=f"""
    WITH s0 AS (
        SELECT c_custkey, {_DT_LON} AS lon0, {_DT_LAT} AS lat0,
               {_ED_LON} AS elon0, {_ED_LAT} AS elat0
        FROM customer WHERE c_custkey < 300
    ),
    s1 AS (SELECT c_custkey, {_stage_sql(_DT_S1)}, {_stage_sql(_ED_S1)}
           FROM s0),
    s2 AS (SELECT c_custkey, {_stage_sql(_DT_S2)}, {_stage_sql(_ED_S2)}
           FROM s1),
    s3 AS (SELECT c_custkey, {_stage_sql(_DT_S3)}, {_stage_sql(_ED_S3)}
           FROM s2)
    SELECT c_custkey,
           round({_DT_BNG_E}, 3) + 0.0 AS bng_e,
           round({_DT_BNG_N}, 3) + 0.0 AS bng_n,
           round({_ED_E}, 3) + 0.0 AS ed50_e,
           round({_ED_N}, 3) + 0.0 AS ed50_n
    FROM s3 ORDER BY c_custkey
    """,
)
def geo_transform_datum(spark, sf_dir):
    """Datum-shifted ST_Transform (closes the r5 'projection-only'
    declared delta for the Helmert-parameter family): WGS-84 ->
    EPSG 27700 applies the OSGB36 7-parameter position-vector Helmert
    (EPSG transformation 1314 — the same +towgs84 proj uses in the
    reference's GDAL path, ExtensionFunctionsGeo.hpp ST_Transform /
    Geospatial delegation) around the Airy TM projection, and WGS-84
    -> EPSG 23031 (ED50/UTM 31N) the 3-parameter European-mean shift
    on Hayford. The oracle replays each pipeline stage (geodetic ->
    geocentric XYZ -> Helmert -> Bowring inverse -> TM) as a chained
    CTE that reads each stage's inputs as columns — the same staging
    as the registered datum functions the Column side calls, so both
    engines execute the identical floating-point structure. Grid
    datums (NAD27, OSTN15) stay documented out of scope."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 300)
    lon = F.lit(-6.0) + (F.col("c_custkey") % 700).cast("double") / 100
    lat = F.lit(50.0) + ((F.col("c_custkey") * 3) % 900).cast("double") / 100
    elon = F.lit(0.0) + (F.col("c_custkey") % 500).cast("double") / 100
    elat = F.lit(44.0) + ((F.col("c_custkey") * 7) % 700).cast("double") / 100
    bng = geo.tm_from_wgs84_full(lon, lat, 27700)
    ed = geo.tm_from_wgs84_full(elon, elat, 23031)
    return c.select(
        "c_custkey",
        (F.round(bng["x"], 3) + 0.0).alias("bng_e"),
        (F.round(bng["y"], 3) + 0.0).alias("bng_n"),
        (F.round(ed["x"], 3) + 0.0).alias("ed50_e"),
        (F.round(ed["y"], 3) + 0.0).alias("ed50_n"),
    ).orderBy("c_custkey")


def _geo_predicates_oracle() -> str:
    """Oracle for sql_dialect_geo_predicates: each reference-named
    predicate/helper replays as either its semantic simplification on
    boundary-safe half-integer shapes (strict between for the
    ray-cast, corner max for DFullyWithin) or — for the Mercator view
    helpers — the package's own dual SQL text (functions/render.py
    *_sql builders emit engine-neutral expressions DuckDB runs
    verbatim, the render_pixel_bins pattern)."""
    from heavydb_spark.functions import render as rnd

    in_view = rnd.is_point_in_merc_view_sql(
        "px", "py", 20.0, 90.0, 4.0, 26.0
    )
    size_in_view = rnd.is_point_size_in_merc_view_sql(
        "px", "py", "50000.0", 20.0, 90.0, 4.0, 26.0
    )
    pix_w = rnd.convert_meters_to_merc_pixel_width_sql(
        "50000.0", "px", "(py + 10.0)", 0.0, 251.0, 1024.0, 1.0
    )
    # lat bounds flow through ops.tan/ln (the Mercator y transform),
    # so they must be expression-wrapped, not raw floats
    pix_h = rnd.convert_meters_to_merc_pixel_height_sql(
        "50000.0", "px", "(py + 10.0)",
        rnd._E("0.0"), rnd._E("41.0"), 1024.0, 1.0
    )
    corners = ["(50.5, 10.5)", "(70.5, 10.5)", "(70.5, 20.5)", "(50.5, 20.5)"]
    dists = ", ".join(
        f"sqrt((px - {x}) * (px - {x}) + (py - {y}) * (py - {y}))"
        for x, y in (c.strip("()").split(", ") for c in corners)
    )
    return f"""
    WITH pts AS (
        SELECT c_custkey,
               CAST(c_custkey % 251 AS DOUBLE) AS px,
               CAST((c_custkey * 7) % 31 AS DOUBLE) AS py
        FROM customer WHERE c_custkey <= 200
    )
    SELECT c_custkey,
           (px > 10.5 AND px < 110.5 AND py > 2.5 AND py < 28.5)
               AS within_rect,
           (c_custkey % 2 = 0) AS equals_parity,
           (greatest({dists}) <= 80.0) AS dfully80,
           2 AS two_rings,
           true AS lit_valid,
           false AS lit_empty,
           (px - 1.0 <= 70.0 AND px + 1.0 >= 50.0
            AND py - 1.0 <= 15.0 AND py + 1.0 >= 5.0) AS box_hit,
           {in_view} AS in_view,
           {size_in_view} AS size_in_view,
           round({pix_w}, 6) AS pix_w,
           round({pix_h}, 6) AS pix_h
    FROM pts ORDER BY c_custkey
    """


@query("sql_dialect_geo_predicates", oracle=_geo_predicates_oracle())
def sql_dialect_geo_predicates(spark, sf_dir):
    """The round-6 reference-name closeouts of the geo/render SQL
    surface, exercised through engine.sql exactly as HeavyDB SQL
    would arrive (HeavyDBSqlOperatorTable.java registered names):
    ST_Within / ST_Equals (the reference's distance<=0 lowering,
    RelAlgTranslatorGeo.cpp:1449) / ST_DFullyWithin / ST_NRings /
    ST_IsValid / ST_IsEmpty / ST_IntersectsBox, plus the renderer's
    is_point_in_view, is_point_size_in_view and
    convert_meters_to_pixel_width/height (ExtensionFunctionsGeo.hpp:
    5406-5500, Mercator-view semantics — double precision here vs the
    reference's float intrinsics, the documented render delta).
    Half-integer shape bounds keep every integer-grid point off the
    ray-cast edges, so the oracle's strict-between replay is exact."""
    from heavydb_spark.engine import Engine

    eng = Engine(spark).attach(sf_dir)
    return eng.sql("""
        WITH pts AS (
            SELECT c_custkey,
                   CAST(c_custkey % 251 AS DOUBLE) AS px,
                   CAST((c_custkey * 7) % 31 AS DOUBLE) AS py
            FROM customer WHERE c_custkey <= 200
        )
        SELECT c_custkey,
               ST_Within(ST_Point(px, py), ST_GeomFromText(
                   'POLYGON ((10.5 2.5, 110.5 2.5, 110.5 28.5, 10.5 28.5, 10.5 2.5))'
               )) AS within_rect,
               ST_Equals(ST_Point(px, py),
                   ST_Point(px, py + CAST(c_custkey % 2 AS DOUBLE))
               ) AS equals_parity,
               ST_DFullyWithin(ST_Point(px, py), ST_GeomFromText(
                   'POLYGON ((50.5 10.5, 70.5 10.5, 70.5 20.5, 50.5 20.5, 50.5 10.5))'
               ), 80.0) AS dfully80,
               ST_NRings(ST_GeomFromText(
                   'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))'
               )) AS two_rings,
               ST_IsValid(ST_GeomFromText(
                   'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS lit_valid,
               ST_IsEmpty(ST_GeomFromText(
                   'POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))')) AS lit_empty,
               ST_IntersectsBox(px - 1.0, py - 1.0, px + 1.0, py + 1.0,
                                50.0, 5.0, 70.0, 15.0) AS box_hit,
               is_point_in_view(px, py, 20.0, 90.0, 4.0, 26.0) AS in_view,
               is_point_size_in_view(px, py, 50000.0, 20.0, 90.0,
                                     4.0, 26.0) AS size_in_view,
               ROUND(convert_meters_to_pixel_width(
                   50000.0, px, py + 10.0, 0.0, 251.0, 1024.0, 1.0), 6)
                   AS pix_w,
               ROUND(convert_meters_to_pixel_height(
                   50000.0, px, py + 10.0, 0.0, 41.0, 1024.0, 1.0), 6)
                   AS pix_h
        FROM pts ORDER BY c_custkey
    """)


# ------------------------------------------- Z-order clustered layout

from heavydb_spark.operators import spatial as _spatial  # noqa: E402

_Z_BITS, _Z_FRAG_BITS = 8, 6


def _zorder_oracle() -> str:
    zexpr = _spatial.zorder_key_sql("qx", "qy", _Z_BITS)
    return f"""
    WITH pts AS (
        SELECT c_custkey,
               (c_custkey % 1000) / 10.0 AS x,
               ((c_custkey * 7) % 1000) / 10.0 AS y
        FROM customer
    ), q AS (
        SELECT c_custkey, x, y,
               CAST(least(greatest(floor(x / 100.0 * 256.0), 0), 255)
                    AS BIGINT) AS qx,
               CAST(least(greatest(floor(y / 100.0 * 256.0), 0), 255)
                    AS BIGINT) AS qy
        FROM pts
    ), z AS (
        SELECT c_custkey, x, y, ({zexpr}) AS zkey FROM q
    ), fr AS (
        SELECT CAST(zkey >> {2 * _Z_BITS - _Z_FRAG_BITS} AS INT)
                   AS fragment,
               zkey, x, y
        FROM z
    )
    SELECT fragment,
           CAST(count(*) AS BIGINT) AS n_rows,
           min(zkey) AS zmin, max(zkey) AS zmax,
           min(x) AS xmin, max(x) AS xmax,
           min(y) AS ymin, max(y) AS ymax,
           (min(x) <= 30.0 AND max(x) >= 10.0
            AND min(y) <= 30.0 AND max(y) >= 10.0) AS scan_hits
    FROM fr GROUP BY fragment ORDER BY fragment
    """


@query("geo_zorder_layout", oracle=_zorder_oracle())
def geo_zorder_layout(spark, sf_dir):
    """Z-order clustered layout + fragment-skipping report
    (operators/spatial.py zorder_fragment_report): customer-derived
    points quantized onto a 256x256 grid, Morton-interleaved (pure
    shift/mask codegen), range-partitioned and sorted by the z key —
    the layout pass that makes chunk min/max metadata (the
    reference's fragment skipping, Fragmenter/ + synthetic metadata)
    EFFECTIVE for 2-D predicates — then one aggregate per explicit
    fragment: count, z range, bbox, and whether a (10,10)-(30,30)
    window scan can skip it. The oracle replays the identical bit
    arithmetic; the skip flag is the evidence a 100 TB spatial scan
    touches a handful of fragments instead of all of them."""
    c = T(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        ((F.col("c_custkey") % 1000) / 10.0).alias("x"),
        (((F.col("c_custkey") * 7) % 1000) / 10.0).alias("y"),
    )
    return _spatial.zorder_fragment_report(
        pts, "x", "y", (0.0, 100.0), (0.0, 100.0),
        bits=_Z_BITS, frag_bits=_Z_FRAG_BITS,
        query_window=(10.0, 10.0, 30.0, 30.0),
    )


_GEO_TYPED_MATH_ORACLE = """
    SELECT tag, CAST(v AS DOUBLE) AS val FROM (VALUES
        ('centroid_mpoly_x', 0.166667),
        ('dist_hole_pt',     0.5),
        ('dist_line_line',   2.0),
        ('dist_poly_poly',   2.0),
        ('dist_pt_poly',     3.0),
        ('geog_km',          9106.0),
        ('isect_corner',     1.0),
        ('len_mls',          6.656854),
        ('peri_holes',       5.656854),
        ('pt_null',          1.0),
        ('sample_null',      0.0)
    ) AS t(tag, v) ORDER BY tag
"""


@query("sql_dialect_geo_typed_math", oracle=_GEO_TYPED_MATH_ORACLE)
def sql_dialect_geo_typed_math(spark, sf_dir):
    """The r11 typed geo math surface through engine.sql, pinned to
    the REFERENCE'S OWN expected values (Tests/GeospatialTest.cpp
    GeoSpatial.Math; kernels: ExtensionFunctionsGeo.hpp ST_Distance_*
    matrix, ST_Length_MultiLineString:1211, exterior-only
    ST_Perimeter_Polygon:1245, ST_Centroid:1490,
    ExtensionFunctions.hpp:433 haversine; ExecuteTest
    Select.SampleRatio) — the oracle is those constants verbatim.
    Candidate head for the r13 window (the committed r12 window runs
    as-is first)."""
    from heavydb_spark.engine import Engine

    eng = Engine(spark).attach(sf_dir)
    return eng.sql("""
        SELECT tag, val FROM (
            SELECT 'dist_line_line' AS tag, round(ST_Distance(
                'LINESTRING(-2 2, 2 2)', 'LINESTRING(4 2, 4 3)'), 6)
                AS val
            UNION ALL SELECT 'dist_pt_poly', round(ST_Distance(
                ST_GeomFromText('POINT(5 -1)'), ST_GeomFromText(
                'POLYGON((2 2, -2 2, -2 -2, 2 -2, 2 2))')), 6)
            UNION ALL SELECT 'dist_hole_pt', round(ST_Distance(
                ST_GeomFromText('POLYGON((2 2, -2 2, -2 -2, 2 -2, 2 2),
                (1 1, -1 1, -1 -1, 1 -1, 1 1))'),
                ST_GeomFromText('POINT(0.5 0.5)')), 6)
            UNION ALL SELECT 'dist_poly_poly', round(ST_Distance(
                'POLYGON((2 2, -2 2, -2 -2, 2 -2, 2 2), (1 1, -1 1,
                -1 -1, 1 -1, 1 1))',
                'POLYGON((4 2, 5 2, 5 3, 4 3, 4 2))'), 6)
            UNION ALL SELECT 'len_mls', round(ST_Length(
                'MULTILINESTRING((1 0, 0 1, -1 0, 0 -1, 1 0),
                (2 2,2 3))'), 6)
            UNION ALL SELECT 'peri_holes', round(ST_Perimeter(
                'POLYGON((1 0, 0 1, -1 0, 0 -1, 1 0),(0.1 0, 0 0.1,
                -0.1 0, 0 -0.1, 0.1 0))'), 6)
            UNION ALL SELECT 'isect_corner', CAST(ST_Intersects(
                ST_GeomFromText('POLYGON((2 2, 0 1, -2 2, -2 0, 2 0,
                2 2))'),
                ST_GeomFromText('LINESTRING(3 3, 3 2, 2 2)'))
                AS DOUBLE)
            UNION ALL SELECT 'centroid_mpoly_x', round(ST_X(
                ST_Centroid('MULTIPOLYGON(((1 0,2 1,2 0,1 0)),
                ((-1 -1,2 2,-1 2,-1 -1)))')), 6)
            UNION ALL SELECT 'geog_km', round(ST_Distance(
                ST_GeogFromText('POINT(-118.4079 33.9434)', 4326),
                ST_GeogFromText('POINT(2.5559 49.0083)', 4326))
                / 1000.0, 0)
            UNION ALL SELECT 'sample_null',
                CAST(sample_ratio(null) AS DOUBLE)
            UNION ALL SELECT 'pt_null', CAST(ST_Point(1.0,
                CAST(NULL AS DOUBLE)) IS NULL AS DOUBLE)
        ) ORDER BY tag
    """)
