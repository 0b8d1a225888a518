"""Unit tests for operator-library pieces not fully covered by oracle
parity: multimodal plumbing, graph path reconstruction, arrays/geo
helpers, generate_series edge cases, Arrow surface."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from heavydb_spark.functions.arrays import cosine_similarity, dot_product
from heavydb_spark.operators import multimodal
from heavydb_spark.operators.graph import shortest_path
from heavydb_spark.operators.series import generate_series


def test_generate_series_edges(spark):
    assert generate_series(spark, 1, 10, 3).count() == 4      # 1,4,7,10
    assert generate_series(spark, 10, 1, -3).count() == 4     # 10,7,4,1
    assert generate_series(spark, 5, 5, 1).count() == 1
    with pytest.raises(ValueError):
        generate_series(spark, 1, 10, 0)


def test_dot_product_and_cosine(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    row = df.select(
        dot_product(F.col("a"), F.col("b")).alias("d"),
        F.round(cosine_similarity(F.col("a"), F.col("a")), 9).alias("self"),
    ).first()
    assert row["d"] == 32.0
    assert row["self"] == 1.0


def test_graph_shortest_path_reconstruction(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (5, 4), (4, 9)], "src long, dst long"
    )
    path = shortest_path(edges, source=1, target=9, max_hops=5).collect()
    nodes = [r["node"] for r in sorted(path, key=lambda r: r["path_step"])]
    assert nodes[0] == 1 and nodes[-1] == 9
    assert len(nodes) == 4  # 1 → (2|5) → .. → 4 → 9 is 3 hops
    # min-id tiebreak picks 1→2→3→4? no: backward walk picks min pred
    assert nodes == [1, 2, 3, 9] or nodes == [1, 5, 4, 9] or nodes == [1, 2, 4, 9]


def test_graph_unreachable(spark):
    edges = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    path = shortest_path(edges, source=1, target=4, max_hops=4)
    assert path.count() == 0


def test_multimodal_feature_extraction(spark):
    media = multimodal.synthetic_media(spark, 30)
    feats = multimodal.extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    assert all(r["n_bytes"] > 0 for r in rows)
    assert len({r["payload_hash"] for r in rows}) == 30  # all distinct
    # deterministic across runs
    again = {r["media_id"]: r["payload_hash"] for r in multimodal.extract_features(media).collect()}
    assert again == {r["media_id"]: r["payload_hash"] for r in rows}


def test_multimodal_frame_sampling(spark):
    media = multimodal.synthetic_media(spark, 30)
    frames = multimodal.sample_video_frames(media, every_ms=1000)
    per = frames.groupBy("media_id").count().collect()
    durations = {
        r["media_id"]: r["duration_ms"]
        for r in media.filter(F.col("kind") == "video").collect()
    }
    for r in per:
        expected = (durations[r["media_id"]] - 1) // 1000 + 1
        assert r["count"] == expected


def test_multimodal_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        multimodal._decode_image(b"bytes")


def test_arrow_result_surface(engine):
    """sql_execute_df analogue (DBHandler.cpp:1457) returns Arrow."""
    tbl = engine.sql_arrow("SELECT 1 AS a, 'x' AS b")
    assert tbl.num_rows == 1
    assert tbl.column_names == ["a", "b"]


def test_ivf_ann_matches_bruteforce_top1(spark):
    """IVF probe must recover the exact nearest neighbor when probing
    enough lists (recall sanity for the data-adaptive ANN path)."""
    from pyspark.sql import functions as F

    from heavydb_spark.catalog import load_table
    from heavydb_spark.operators import similarity

    from conftest import SF_DIR
    e = load_table(spark, SF_DIR, "embeddings").filter(F.col("vec_id") < 2000)
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    base = e.filter(F.col("vec_id") != 0)
    exact = similarity.cosine_topk(base, "embedding", qvec, k=5).collect()
    approx = similarity.ann_topk_ivf(
        base, "embedding", qvec, k=5, n_lists=4, nprobe=4
    ).collect()
    # probing all lists == exact
    assert [r.vec_id for r in approx] == [r.vec_id for r in exact]
    ap2 = similarity.ann_topk_ivf(
        base, "embedding", qvec, k=5, n_lists=4, nprobe=1
    ).collect()
    assert len(ap2) == 5


def test_salted_join_matches_plain_join(spark):
    """Salted join must produce exactly the rows of the plain equi-join,
    including a heavily skewed key."""
    from pyspark.sql import functions as F

    from heavydb_spark.operators.skew import salted_count, salted_join

    # 90% of rows share key 1 (the hot key)
    skewed = spark.range(10000).select(
        F.when(F.col("id") % 10 < 9, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(0, 10000, 1).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dval")
    )
    plain = salted = None
    plain = skewed.join(dim, "k").groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("sp"), F.sum("dval").alias("sd")
    ).collect()[0]
    salted = salted_join(skewed, dim, "k", salt_factor=8).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("payload").alias("sp"), F.sum("dval").alias("sd")
    ).collect()[0]
    assert (plain.n, plain.sp, plain.sd) == (salted.n, salted.sp, salted.sd)

    counts = {r.k: r.n for r in salted_count(skewed, "k", 16).collect()}
    assert counts[1] == 9000
    assert sum(counts.values()) == 10000


def test_engine_explain(engine):
    plan = engine.explain("SELECT count(*) FROM lineitem")
    assert "Physical Plan" in plan or "Scan" in plan


def test_dbscan_two_clusters_and_noise(spark):
    """DBSCAN on two dense grids + an isolated point: two components,
    noise labeled -1 (dbscan UDTF analogue, MLTableFunctions.hpp)."""
    from pyspark.sql import functions as F

    from heavydb_spark.operators.ml import dbscan

    rows = []
    pid = 0
    for cx in (0.0, 100.0):  # two well-separated 4x4 grids, spacing 1
        for i in range(4):
            for j in range(4):
                rows.append((pid, cx + i, j * 1.0))
                pid += 1
    rows.append((pid, 50.0, 50.0))  # isolated noise point
    df = spark.createDataFrame(rows, "pid long, x double, y double")
    got = {r.pid: r.cluster for r in dbscan(df, "pid", "x", "y", eps=1.5, min_pts=4).collect()}
    c0 = {got[i] for i in range(16)}
    c1 = {got[i] for i in range(16, 32)}
    assert len(c0) == 1 and len(c1) == 1 and c0 != c1
    assert got[32] == -1


def test_single_value_semantics(spark):
    """SINGLE_VALUE (sqldefs.h:85): returns the value for 1-distinct
    groups, errors when a group has >1 distinct value."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from heavydb_spark.functions import single_value

    ok = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k int, v string"
    )
    got = {r.k: r.sv for r in ok.groupBy("k").agg(single_value(F.col("v")).alias("sv")).collect()}
    assert got == {1: "a", 2: "b"}
    bad = spark.createDataFrame([(1, "a"), (1, "z")], "k int, v string")
    with _pytest.raises(Exception, match="SINGLE_VALUE"):
        bad.groupBy("k").agg(single_value(F.col("v")).alias("sv")).collect()


def test_lag_lead_in_frame_with_nulls(spark):
    """NULL values must occupy their frame position and be returnable;
    an offset past a bounded frame is NULL for every row."""
    from heavydb_spark.operators.windows import lag_in_frame, lead_in_frame

    df = spark.createDataFrame(
        [(1, 10.0), (2, None), (3, 30.0), (4, 40.0)], "i long, v double"
    )
    part, order = F.lit(1), "i"
    rows = {
        r.i: (r.lag1, r.lead1, r.lag_oof)
        for r in df.select(
            "i",
            lag_in_frame(F.col("v"), 1, part, order).alias("lag1"),
            lead_in_frame(F.col("v"), 1, part, order).alias("lead1"),
            # offset 3 with a 2-PRECEDING frame: out of frame everywhere
            lag_in_frame(F.col("v"), 3, part, order, preceding=2).alias("lag_oof"),
        ).collect()
    }
    # lag1 at i=3 is the NULL at i=2, NOT 10.0 (a NULL-skipping
    # emulation would return that); lead1 at i=1 likewise.
    assert rows[3][0] is None and rows[1][1] is None
    assert rows[2][0] == 10.0 and rows[2][1] == 30.0
    assert rows[4][0] == 30.0 and rows[4][1] is None
    assert rows[1][0] is None  # frame too short
    assert all(v[2] is None for v in rows.values())


def test_no_duplicate_toplevel_defs():
    """Guard against silently-shadowing duplicate module-level
    definitions (a dead r2_score slipped through in round 1)."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "heavydb_spark"
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        seen: set[str] = set()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                assert node.name not in seen, f"{path}: duplicate def {node.name}"
                seen.add(node.name)


def test_polygon_analytic_shapes(spark):
    """ST_Area/Perimeter/Centroid/Contains on hand-computable shapes
    (Tests/GeospatialTest.cpp conventions: square, square-with-hole,
    L-shape; holes flip containment)."""
    from heavydb_spark.functions import geo

    def ring(*pts):
        return F.array(
            *[
                F.struct(F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y"))
                for x, y in pts
            ]
        )

    # 4x4 square (0,0)-(4,4) with 1x1 hole (1,1)-(2,2), CCW outer, CCW
    # hole (orientation must not matter)
    sq_hole = F.array(
        ring((0, 0), (4, 0), (4, 4), (0, 4)),
        ring((1, 1), (2, 1), (2, 2), (1, 2)),
    )
    # L-shape: 2x2 square minus top-right 1x1 => centroid (0.8333, 0.8333)
    ell = F.array(ring((0, 0), (2, 0), (2, 1), (1, 1), (1, 2), (0, 2)))
    df = spark.range(1).select(
        geo.st_area(sq_hole).alias("a1"),
        geo.st_perimeter(sq_hole).alias("p1"),
        geo.st_area(ell).alias("a2"),
        F.round(geo.st_centroid(ell)["x"], 4).alias("cx2"),
        F.round(geo.st_centroid(ell)["y"], 4).alias("cy2"),
        geo.st_contains_point(sq_hole, F.lit(0.5), F.lit(0.5)).alias("in_body"),
        geo.st_contains_point(sq_hole, F.lit(1.5), F.lit(1.5)).alias("in_hole"),
        geo.st_contains_point(sq_hole, F.lit(5.0), F.lit(2.0)).alias("outside"),
        geo.st_polygon_bbox(sq_hole).alias("bbox"),
    )
    r = df.first()
    assert r.a1 == 15.0           # 16 - 1
    assert r.p1 == 20.0           # 16 + 4
    assert r.a2 == 3.0
    assert (r.cx2, r.cy2) == (0.8333, 0.8333)  # 5/6
    assert r.in_body and not r.in_hole and not r.outside
    assert (r.bbox.xmin, r.bbox.ymin, r.bbox.xmax, r.bbox.ymax) == (0, 0, 4, 4)

    # closed-ring form (repeated first point) gives identical results
    sq_closed = F.array(ring((0, 0), (4, 0), (4, 4), (0, 4), (0, 0)))
    r2 = spark.range(1).select(
        geo.st_area(sq_closed).alias("a"),
        geo.st_perimeter(sq_closed).alias("p"),
        F.round(geo.st_centroid(sq_closed)["x"], 4).alias("cx"),
    ).first()
    assert (r2.a, r2.p, r2.cx) == (16.0, 16.0, 2.0)

    # CW (reversed) outer ring: same area/centroid
    sq_cw = F.array(ring((0, 4), (4, 4), (4, 0), (0, 0)))
    r3 = spark.range(1).select(
        geo.st_area(sq_cw).alias("a"),
        F.round(geo.st_centroid(sq_cw)["y"], 4).alias("cy"),
        geo.st_contains_point(sq_cw, F.lit(1.0), F.lit(1.0)).alias("inside"),
    ).first()
    assert (r3.a, r3.cy, r3.inside) == (16.0, 2.0, True)


def test_wkt_parse_and_format(spark):
    """ST_GeomFromText/ST_AsText on literal WKT (Geospatial/Types.cpp
    WKT forms; shapes from Tests/GeospatialTest.cpp)."""
    from heavydb_spark.functions import geo

    wkt = "POLYGON ((0 0, 4 0, 4 4, 0 4), (1 1, 2 1, 2 2, 1 2))"
    df = spark.createDataFrame([(wkt,)], "w string")
    poly = geo.st_geomfromtext_polygon(F.col("w"))
    r = df.select(
        geo.st_area(poly).alias("a"),
        F.size(poly).alias("n_rings"),
        geo.st_contains_point(poly, F.lit(1.5), F.lit(1.5)).alias("in_hole"),
        geo.st_astext_polygon(poly).alias("back"),
        geo.st_astext_point(
            geo.st_geomfromtext_point(F.lit("POINT (2.5 -3.5)"))
        ).alias("pt"),
    ).first()
    assert r.a == 15.0 and r.n_rings == 2 and not r.in_hole
    assert r.back == "POLYGON ((0.0 0.0, 4.0 0.0, 4.0 4.0, 0.0 4.0), (1.0 1.0, 2.0 1.0, 2.0 2.0, 1.0 2.0))"
    assert r.pt == "POINT (2.5 -3.5)"


def test_transform_900913_known_values(spark):
    """Web-mercator transform pinned to the reference constants: the
    equator/prime-meridian origin maps to (0, 0) and x is linear in
    longitude."""
    from heavydb_spark.functions import geo

    df = spark.createDataFrame([(0.0, 0.0), (180.0, 45.0)], "lon double, lat double")
    rows = df.select(
        geo.st_transform_4326_900913(
            geo.st_point(F.col("lon"), F.col("lat"))
        ).alias("m")
    ).collect()
    # the reference's 0.785398163397 is not exactly pi/4, so the origin
    # lands ~6e-6 m off the equator — sub-millimeter
    assert abs(rows[0].m.x) < 1e-9 and abs(rows[0].m.y) < 1e-4
    assert abs(rows[1].m.x - 180.0 * 111319.490778) < 1e-6
    assert abs(rows[1].m.y - 5621521.5) < 2000  # ~45N web mercator


def test_linestring_analytic(spark):
    """ST_Length/NPoints/Start/End/Distance on a hand-computable path +
    WKT parse (Geospatial/Types.h GeoLineString)."""
    from heavydb_spark.functions import geo

    ls = geo.st_geomfromtext_linestring(
        F.lit("LINESTRING (0 0, 3 0, 3 4)")
    )
    r = spark.range(1).select(
        geo.st_length(ls).alias("len"),
        geo.st_npoints(ls).alias("np"),
        geo.st_startpoint(ls)["x"].alias("sx"),
        geo.st_endpoint(ls)["y"].alias("ey"),
        # (5, 0): nearest point on segment (3,0)-(3,4) is (3,0) -> dist 2
        geo.st_distance_point_linestring(F.lit(5.0), F.lit(0.0), ls).alias("d1"),
        # (1, 1): nearest is (1,0) on the first segment -> dist 1
        geo.st_distance_point_linestring(F.lit(1.0), F.lit(1.0), ls).alias("d2"),
    ).first()
    assert (r.len, r.np, r.sx, r.ey) == (7.0, 3, 0.0, 4.0)
    assert (r.d1, r.d2) == (2.0, 1.0)


def test_polygon_intersects(spark):
    """ST_Intersects(POLYGON, POLYGON): overlap, containment, disjoint,
    edge-touch, and the inside-a-hole case."""
    from heavydb_spark.functions import geo

    def sq(x0, y0, s):
        return "POLYGON (({0} {1}, {2} {1}, {2} {3}, {0} {3}))".format(
            x0, y0, x0 + s, y0 + s
        )

    donut = (
        "POLYGON ((0 0, 10 0, 10 10, 0 10), (2 2, 8 2, 8 8, 2 8))"
    )
    cases = [
        (sq(0, 0, 4), sq(2, 2, 4), True),    # partial overlap
        (sq(0, 0, 10), sq(3, 3, 2), True),   # containment
        (sq(0, 0, 2), sq(5, 5, 2), False),   # disjoint
        (sq(0, 0, 2), sq(2, 0, 2), True),    # edge touch
        (donut, sq(4, 4, 2), False),         # entirely inside the hole
        (donut, sq(4, 4, 5), True),          # crosses the hole boundary
    ]
    df = spark.createDataFrame(cases, "wa string, wb string, expected boolean")
    got = df.select(
        "expected",
        geo.st_intersects(
            geo.st_geomfromtext_polygon(F.col("wa")),
            geo.st_geomfromtext_polygon(F.col("wb")),
        ).alias("got"),
    ).collect()
    for r in got:
        assert r.got == r.expected, r


def test_raster_contour_linear_field(spark):
    """Marching squares on z = x: the iso-line at t is the exact
    vertical line x = t (every segment endpoint interpolates to t)."""
    from heavydb_spark.operators.spatial import raster_contour_lines

    pts = [(float(i), float(j), float(i)) for i in range(8) for j in range(8)]
    df = spark.createDataFrame(pts, "x double, y double, z double")
    segs = raster_contour_lines(df, bin_size=1.0, contour_value=3.5).collect()
    assert segs, "no contour segments emitted"
    for s in segs:
        assert abs(s.x1 - 3.5) < 1e-9 and abs(s.x2 - 3.5) < 1e-9
        assert abs(abs(s.y2 - s.y1) - 1.0) < 1e-9  # one cell tall


def test_raster_contour_cone(spark):
    """Radial cone z = 20 - dist: the t=14 contour approximates the
    radius-6 circle; every interpolated endpoint sits within one cell
    of it and the segment count is a closed-loop-sized set."""
    import math

    from heavydb_spark.operators.spatial import raster_contour_lines

    cx = cy = 10.0
    pts = [
        (float(i), float(j), 20.0 - math.hypot(i - cx, j - cy))
        for i in range(21)
        for j in range(21)
    ]
    df = spark.createDataFrame(pts, "x double, y double, z double")
    segs = raster_contour_lines(df, bin_size=1.0, contour_value=14.0).collect()
    assert len(segs) >= 16  # ring around the peak
    for s in segs:
        for (x, y) in ((s.x1, s.y1), (s.x2, s.y2)):
            r = math.hypot(x - cx, y - cy)
            assert abs(r - 6.0) < 1.0, (x, y, r)


def test_multi_rasterize(spark):
    """tf_geo_multi_rasterize: several value columns aggregated in one
    raster pass, each with its own agg."""
    from heavydb_spark.operators.spatial import geo_multi_rasterize

    pts = spark.createDataFrame(
        [(0.5, 0.5, 10.0, 1.0), (0.6, 0.4, 20.0, 3.0), (1.5, 0.5, 5.0, 7.0)],
        "x double, y double, elev double, weight double",
    )
    r = {
        (row.bin_x, row.bin_y): (row.elev_avg, row.weight_sum)
        for row in geo_multi_rasterize(
            pts, 1.0, {"elev": "avg", "weight": "sum"}
        ).collect()
    }
    assert r[(0.0, 0.0)] == (15.0, 4.0)
    assert r[(1.0, 0.0)] == (5.0, 7.0)


def test_pack_sequences_invariants(spark):
    """Greedy packing: bins are contiguous per group, fill never
    exceeds budget unless a single doc alone does, and every doc
    lands in exactly one bin."""
    from heavydb_spark.operators.pipeline import pack_sequences

    rows = [("a", i, t) for i, t in enumerate([40, 50, 60, 200, 10, 10])]
    rows += [("b", i, t) for i, t in enumerate([100, 100, 1])]
    df = spark.createDataFrame(rows, "src string, id long, tok long")
    out = pack_sequences(df, "src", "id", "tok", budget=100).collect()
    assert len(out) == len(rows)
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(r.src, []).append(r)
    for grp, rs in by_grp.items():
        rs.sort(key=lambda r: r.id)
        fills: dict = {}
        for r in rs:
            fills.setdefault(r.bin_id, 0)
            fills[r.bin_id] += r.tok
        for b, f in fills.items():
            docs = [r for r in rs if r.bin_id == b]
            assert f <= 100 or len(docs) == 1, (grp, b, f)
        bins = [r.bin_id for r in rs]
        assert bins == sorted(bins)
        assert bins[0] == 0 and set(bins) == set(range(max(bins) + 1))
    # group a: [40+50], [60], [200], [10+10]
    a = {r.id: r.bin_id for r in by_grp["a"]}
    assert a == {0: 0, 1: 0, 2: 1, 3: 2, 4: 3, 5: 3}


def test_dictionary_codes_dense_and_ordered(spark):
    """build_dictionary: codes are 0..n-1 dense and value-ordered, with
    no single-partition global window in the plan path."""
    from heavydb_spark.operators.pipeline import build_dictionary

    vals = [(w,) for w in "zeta alpha mu beta alpha zeta kappa".split()]
    df = spark.createDataFrame(vals, "s string")
    d = build_dictionary(df, "s").collect()
    got = {r.value: r.code for r in d}
    ordered = sorted(got)
    assert got == {v: i for i, v in enumerate(ordered)}


def test_sample_hash_deterministic_and_unbiased(spark):
    from heavydb_spark.operators.pipeline import sample_hash

    df = spark.range(0, 20000).withColumnRenamed("id", "k")
    a = sample_hash(df, "k", 0.25).count()
    b = sample_hash(df, "k", 0.25).count()
    assert a == b
    assert abs(a / 20000 - 0.25) < 0.02


def test_decontaminate_finds_planted_overlap(spark):
    from heavydb_spark.operators.pipeline import decontaminate_ngram

    train = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely unrelated text with different words here")],
        "id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "quick brown fox jumps over a fence")],
        "id long, text string",
    )
    hits = decontaminate_ngram(train, test, "id", "text", n=3, min_overlap=2).collect()
    assert len(hits) == 1
    assert hits[0].train_id == 1 and hits[0].test_id == 100
    assert hits[0].n_shared >= 2


def test_pii_scrub_patterns(spark):
    from heavydb_spark.operators.pipeline import pii_scrub

    df = spark.createDataFrame(
        [("mail a.b+c@d-e.org call 555-123-4567 ssn 123-45-6789 ip 192.168.0.1",)],
        "t string",
    )
    out = df.select(pii_scrub(F.col("t")).alias("s")).first().s
    assert out == "mail <EMAIL> call <PHONE> ssn <SSN> ip <IP>"


def test_weighted_shortest_path_prefers_cheap_detour(spark):
    """Distributed Bellman-Ford: 1->2->3 (cost 2) beats direct 1->3
    (cost 10); path steps are 1-based and ordered."""
    from heavydb_spark.operators.graph import weighted_shortest_path

    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (1, 3, 10.0)],
        "src long, dst long, w double",
    )
    p = [(r.path_step, r.node) for r in
         weighted_shortest_path(e, 1, 3, max_iters=5).collect()]
    assert p == [(1, 1), (2, 2), (3, 3)]


def test_raster_slope_path_avoids_ridge(spark):
    """Slope-weighted raster path: a flat detour beats climbing a
    steep ridge between origin and destination."""
    from heavydb_spark.operators.spatial import (
        raster_graph_shortest_slope_weighted_path,
    )

    # 3x3 grid: center column is a high ridge; corners flat
    pts = []
    for ix in range(3):
        for iy in range(3):
            z = 100.0 if ix == 1 and iy != 2 else 0.0
            pts.append((ix + 0.5, iy + 0.5, z))
    df = spark.createDataFrame(pts, "x double, y double, z double")
    path = raster_graph_shortest_slope_weighted_path(
        df, 1.0, (0.5, 0.5), (2.5, 0.5),
        slope_weight_exponent=3.0, slope_pct_max=1e9,
    ).collect()
    cells = [(r.x, r.y) for r in path]
    assert cells[0] == (0.5, 0.5) and cells[-1] == (2.5, 0.5)
    # must route through the flat top row (y=2.5), not the ridge cells
    assert (1.5, 2.5) in cells
    assert (1.5, 0.5) not in cells and (1.5, 1.5) not in cells


def test_raster_slope_path_respects_slope_cap(spark):
    """Uphill edges above slope_pct_max are dropped: a wall of
    over-cap climb makes the destination unreachable."""
    from heavydb_spark.operators.spatial import (
        raster_graph_shortest_slope_weighted_path,
    )

    pts = []
    for ix in range(3):
        for iy in range(3):
            z = 1000.0 if ix == 1 else 0.0
            pts.append((ix + 0.5, iy + 0.5, z))
    df = spark.createDataFrame(pts, "x double, y double, z double")
    path = raster_graph_shortest_slope_weighted_path(
        df, 1.0, (0.5, 0.5), (2.5, 0.5),
        slope_weight_exponent=1.0, slope_pct_max=100.0,
    ).collect()
    assert path == []


def test_cross_section_2d_grid_average(spark):
    """2D cross-section: points project onto the line, off-slab points
    are dropped, grid cells average their values."""
    from heavydb_spark.operators.spatial import cross_section_2d

    rows = [
        # on the x-axis line, level 0 and 10
        (1.0, 0.0, 0.0, 10.0),
        (1.2, 0.0, 0.0, 20.0),
        (9.0, 0.0, 10.0, 50.0),
        # far off the slab -> dropped
        (5.0, 99.0, 5.0, 999.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double, level double, v double")
    out = cross_section_2d(
        df, 0.0, 0.0, 10.0, 0.0, num_points_x=5, num_points_y=2,
        dwithin=1.0, level_col="level", value_col="v",
    ).collect()
    vals = {(round(r.x, 3), round(r.y, 3)): r.color for r in out}
    assert len(vals) == 2
    # station 0 (x in [0,2)) -> center 1.0; levels 0&0 -> low bin center 2.5
    assert vals[(1.0, 2.5)] == 15.0
    assert vals[(9.0, 7.5)] == 50.0


def test_ml_accessor_udtfs(spark):
    from heavydb_spark.operators.ml import (
        forest_var_importance,
        get_decision_trees,
        linear_reg_fit2,
        pca_fit,
    )

    df = spark.createDataFrame(
        [(float(i), float(i % 7), 3.0 + 2.0 * i + 0.5 * (i % 7))
         for i in range(200)],
        "x1 double, x2 double, y double",
    )
    coefs = {r.coef_idx: r.coef for r in
             linear_reg_fit2(df, "x1", "x2", "y").collect()}
    assert abs(coefs[0] - 3.0) < 1e-6
    assert abs(coefs[1] - 2.0) < 1e-6
    assert abs(coefs[2] - 0.5) < 1e-6

    imp = forest_var_importance(df, ["x1", "x2"], "y").collect()
    assert {r.feature for r in imp} == {"x1", "x2"}
    assert abs(sum(r.importance for r in imp) - 1.0) < 1e-6

    trees = get_decision_trees(df, ["x1", "x2"], "y", num_trees=3).collect()
    assert [r.tree_id for r in trees] == [0, 1, 2]
    assert all(r.num_nodes >= 1 and r.depth >= 0 for r in trees)

    vecs = spark.createDataFrame(
        [([float(i), float(10 - i), 1.0],) for i in range(20)],
        "emb array<double>",
    )
    comp = pca_fit(vecs, "emb", k=2).collect()
    assert len(comp) == 6  # 2 components x 3 features
    ev = {r.component_idx: r.explained_variance for r in comp}
    assert ev[0] >= ev[1] >= 0.0


def test_geo_buffer_and_point_polygon_distance(spark):
    from heavydb_spark.functions import geo

    # unit square with no holes
    sq = F.array(F.array(
        F.struct(F.lit(0.0).alias("x"), F.lit(0.0).alias("y")),
        F.struct(F.lit(4.0).alias("x"), F.lit(0.0).alias("y")),
        F.struct(F.lit(4.0).alias("x"), F.lit(4.0).alias("y")),
        F.struct(F.lit(0.0).alias("x"), F.lit(4.0).alias("y")),
    ))
    df = spark.range(1).select(sq.alias("poly"))
    row = df.select(
        geo.st_numrings(F.col("poly")).alias("nr"),
        geo.st_npoints_polygon(F.col("poly")).alias("np"),
        geo.st_distance_point_polygon(F.lit(2.0), F.lit(2.0), F.col("poly")).alias("din"),
        geo.st_distance_point_polygon(F.lit(6.0), F.lit(2.0), F.col("poly")).alias("dout"),
        geo.st_distance_point_polygon(F.lit(7.0), F.lit(8.0), F.col("poly")).alias("dcorner"),
    ).first()
    assert row.nr == 1 and row.np == 4
    assert row.din == 0.0
    assert abs(row.dout - 2.0) < 1e-9
    assert abs(row.dcorner - 5.0) < 1e-9  # 3-4-5 to corner (4,4)

    # buffer: 64-gon area converges to pi r^2; bbox intersection
    buf = geo.st_buffer_point(
        geo.st_point(F.lit(10.0), F.lit(10.0)), 2.0, 64
    )
    a = spark.range(1).select(geo.st_area(buf).alias("a")).first().a
    import math
    assert abs(a - math.pi * 4.0) < 0.05

    inter = spark.range(1).select(
        geo.st_intersection_bbox(
            sq,
            F.array(F.array(
                F.struct(F.lit(2.0).alias("x"), F.lit(2.0).alias("y")),
                F.struct(F.lit(9.0).alias("x"), F.lit(2.0).alias("y")),
                F.struct(F.lit(9.0).alias("x"), F.lit(9.0).alias("y")),
                F.struct(F.lit(2.0).alias("x"), F.lit(9.0).alias("y")),
            )),
        ).alias("b")
    ).first().b
    assert (inter.xmin, inter.ymin, inter.xmax, inter.ymax) == (2.0, 2.0, 4.0, 4.0)
    disjoint = spark.range(1).select(
        geo.st_intersection_bbox(
            sq,
            F.array(F.array(
                F.struct(F.lit(10.0).alias("x"), F.lit(10.0).alias("y")),
                F.struct(F.lit(11.0).alias("x"), F.lit(10.0).alias("y")),
                F.struct(F.lit(11.0).alias("x"), F.lit(11.0).alias("y")),
            )),
        ).alias("b")
    ).first().b
    assert disjoint is None


def test_raster_contour_bands_run_merge(spark):
    """Band rectangles: consecutive same-band cells in a row merge into
    one rectangle; different bands split."""
    from heavydb_spark.operators.spatial import raster_contour_polygons

    # row y=[0,1): z values 5,5,25 -> bands 0,0,1 with interval 20
    pts = [(0.5, 0.5, 5.0), (1.5, 0.5, 5.0), (2.5, 0.5, 25.0)]
    df = spark.createDataFrame(pts, "x double, y double, z double")
    rows = sorted(
        raster_contour_polygons(df, 1.0, 20.0, 0.0).collect(),
        key=lambda r: r.xmin,
    )
    assert len(rows) == 2
    assert (rows[0].xmin, rows[0].xmax, rows[0].contour_value) == (0.0, 2.0, 0.0)
    assert (rows[1].xmin, rows[1].xmax, rows[1].contour_value) == (2.0, 3.0, 20.0)


def test_mix_sources_keeps_weighted_fractions(spark):
    """mix_sources value semantics on a synthetic frame: per-source
    keep-rates track the weights, unlisted sources drop entirely, and
    the survivor set is exactly the portable-hash cutoff filter (so a
    rerun is byte-identical)."""
    from heavydb_spark.operators.pipeline import _M31, mix_sources, portable_hash

    n = 6000
    df = spark.range(n).select(
        F.col("id").alias("doc"),
        F.concat(F.lit("s"), (F.col("id") % 3).cast("string")).alias("src"),
    )
    weights = {"s0": 0.5, "s1": 0.9}  # s2 unlisted -> dropped
    out = mix_sources(df, "src", "doc", weights)
    counts = {r.src: r.n for r in out.groupBy("src").agg(F.count("*").alias("n")).collect()}
    assert "s2" not in counts
    assert abs(counts["s0"] / (n / 3) - 0.5) < 0.05
    assert abs(counts["s1"] / (n / 3) - 0.9) < 0.05
    # survivors are exactly {hash < int(w * M31)} — determinism + cutoff math
    kept = {r.doc for r in out.collect()}
    expect = {
        r.doc
        for r in df.select("doc", "src", portable_hash(F.col("doc")).alias("h")).collect()
        if r.src in weights and r.h < int(weights[r.src] * _M31)
    }
    assert kept == expect and kept


def test_embedding_neardup_finds_planted_duplicates(spark):
    """embedding_neardup_pairs on planted near-dups: exact copies and
    colinear scaled copies (cosine exactly 1, same hyperplane signs →
    guaranteed LSH collision) are all recovered; unrelated orthogonal
    vectors produce no pair."""
    from heavydb_spark.operators.similarity import embedding_neardup_pairs

    dim = 8
    base = [
        [1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 1.5, 0.25],
        [-3.0, 1.0, 2.0, -0.5, 0.0, 1.0, -1.0, 2.0],
    ]
    rows = [(i, v) for i, v in enumerate(base)]
    rows.append((10, base[0]))                       # exact duplicate of 0
    rows.append((11, [x * 2.5 for x in base[1]]))    # scaled duplicate of 1
    # orthogonal one-hot vectors: pairwise cosine 0 with everything above? not
    # exactly, but far below threshold
    rows.append((20, [0.0] * 7 + [1000.0]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_pairs(
            df, threshold=0.95, n_planes=4, dim=dim
        ).collect()
    }
    assert set(got) == {(0, 10), (1, 11)}
    assert all(abs(v - 1.0) < 1e-6 for v in got.values())


def test_weighted_shortest_path_equal_cost_tiebreak(spark):
    """Two equal-cost source→9 paths with different hop counts (2 hops
    via 5, 4 hops via 2-3-4). The min tuple must prefer fewer hops so
    every node's stored hops stays consistent with its pred chain —
    otherwise the fixed-length pred walk from a downstream target
    reconstructs a truncated/malformed path."""
    from heavydb_spark.operators.graph import weighted_shortest_path

    e = spark.createDataFrame(
        [
            (1, 5, 1.0), (5, 9, 1.0),                            # cost 2, 2 hops
            (1, 2, 0.5), (2, 3, 0.5), (3, 4, 0.5), (4, 9, 0.5),  # cost 2, 4 hops
            (9, 10, 1.0),
        ],
        "src long, dst long, w double",
    )
    p = [(r.path_step, r.node) for r in
         weighted_shortest_path(e, 1, 10, max_iters=10).collect()]
    assert p == [(1, 1), (2, 5), (3, 9), (4, 10)]


def test_pack_sequences_integer_group_key(spark):
    """pack_sequences must carry a non-string group column through the
    applyInPandas schema (derived from the input type, not hardcoded)."""
    from heavydb_spark.operators.pipeline import pack_sequences

    df = spark.createDataFrame(
        [(7, 0, 60), (7, 1, 60), (8, 0, 10)], "g int, id long, tok long"
    )
    out = pack_sequences(df, "g", "id", "tok", budget=100).collect()
    assert {(r.g, r.id, r.bin_id) for r in out} == {(7, 0, 0), (7, 1, 1), (8, 0, 0)}


def test_raster_slope_path_cell_cap_guard(spark):
    """The driver-side Dijkstra must refuse to materialize a raster
    above max_cells, pointing at the distributed fallback."""
    import pytest as _pytest

    from heavydb_spark.operators.spatial import (
        raster_graph_shortest_slope_weighted_path,
    )

    pts = [(float(ix), float(iy), 0.0) for ix in range(6) for iy in range(6)]
    df = spark.createDataFrame(pts, "x double, y double, z double")
    with _pytest.raises(ValueError, match="weighted_shortest_path"):
        raster_graph_shortest_slope_weighted_path(
            df, 1.0, (0.5, 0.5), (5.5, 5.5), max_cells=10
        )
    # same call under the cap still routes
    ok = raster_graph_shortest_slope_weighted_path(
        df, 1.0, (0.5, 0.5), (5.5, 5.5), max_cells=100
    ).collect()
    assert ok[0].path_step == 1 and len(ok) >= 6


def test_geos_boolean_ops_exact_areas(spark):
    """Trapezoid-overlay boolean ops: rectangle pair and triangle-vs-
    square closed forms, including a hole that re-enters the result
    region (even-odd semantics through the sweep)."""
    from heavydb_spark.functions import geo, geos

    def P(*rings):
        return [[{"x": float(x), "y": float(y)} for (x, y) in r] for r in rings]

    rows = [
        # id, A, B: rect/rect overlap 4
        (1, P([(0, 0), (4, 0), (4, 3), (0, 3)]),
            P([(2, 1), (6, 1), (6, 5), (2, 5)])),
        # triangle containing a square
        (2, P([(0, 0), (6, 0), (3, 6)]),
            P([(2, 1), (4, 1), (4, 3), (2, 3)])),
        # A has a hole inside the overlap region
        (3, P([(0, 0), (4, 0), (4, 3), (0, 3)],
              [(2.5, 1.5), (3, 1.5), (3, 2), (2.5, 2)]),
            P([(2, 1), (6, 1), (6, 5), (2, 5)])),
    ]
    df = spark.createDataFrame(
        rows,
        "id long, pa array<array<struct<x:double,y:double>>>, "
        "pb array<array<struct<x:double,y:double>>>",
    )
    got = {
        r.id: (r.u, r.i, r.d)
        for r in df.select(
            "id",
            F.round(geo.st_area_multipolygon(geos.st_union("pa", "pb")), 6).alias("u"),
            F.round(geo.st_area_multipolygon(geos.st_intersection("pa", "pb")), 6).alias("i"),
            F.round(geo.st_area_multipolygon(geos.st_difference("pa", "pb")), 6).alias("d"),
        ).collect()
    }
    assert got[1] == (24.0, 4.0, 8.0)
    assert got[2] == (18.0, 4.0, 14.0)      # A=18 contains B=4
    # hole (.25) sits inside the overlap: B covers it in the union
    # (24.0) and it cancels out of A\B (8.0); only A∩B loses it
    assert got[3] == (24.0, 3.75, 8.0)
    # result geometry composes with containment: a point in A∩B is in
    # the intersection multipolygon, a point in the hole is not
    inter = df.filter(F.col("id") == 3).select(
        geos.st_intersection("pa", "pb").alias("mp")
    )
    hit = inter.select(
        geo.st_contains_point_multipolygon(F.col("mp"), F.lit(3.5), F.lit(2.5)).alias("a"),
        geo.st_contains_point_multipolygon(F.col("mp"), F.lit(2.7), F.lit(1.7)).alias("b"),
    ).first()
    assert hit.a is True and hit.b is False


def test_geos_buffer_closed_forms(spark):
    """Buffers as multi-shape unions: a horizontal segment with
    4-gon (diamond) caps has area 2*r*L + 2*r^2; buffering a square
    with diamond caps adds perimeter*r + 2*r^2 (corner diamonds
    contribute half each); a holed square's hole shrinks."""
    from heavydb_spark.functions import geo, geos

    line = [[{"x": 0.0, "y": 0.0}, {"x": 4.0, "y": 0.0}]]
    sq = [[(0, 0), (4, 0), (4, 4), (0, 4)]]
    holed = [[(0, 0), (4, 0), (4, 4), (0, 4)],
             [(1, 1), (3, 1), (3, 3), (1, 3)]]

    def P(rings):
        return [[{"x": float(x), "y": float(y)} for (x, y) in r] for r in rings]

    df = spark.createDataFrame(
        [(line[0], P(sq), P(holed))],
        "ls array<struct<x:double,y:double>>, "
        "sq array<array<struct<x:double,y:double>>>, "
        "holed array<array<struct<x:double,y:double>>>",
    )
    row = df.select(
        F.round(
            geo.st_area_multipolygon(geos.st_buffer_linestring("ls", 1.0, 4)), 6
        ).alias("line_area"),
        F.round(
            geo.st_area_multipolygon(geos.st_buffer_polygon("sq", 1.0, 4)), 6
        ).alias("sq_area"),
        F.round(
            geo.st_area_multipolygon(geos.st_buffer_polygon("holed", 0.5, 4)), 6
        ).alias("holed_area"),
    ).first()
    assert row.line_area == 10.0          # 2*1*4 + 2*1^2
    assert row.sq_area == 34.0            # 16 + 16*1 + 2*1^2
    # holed square: outer grows to (16 + 16*.5 + 2*.25) = 24.5, hole
    # 2x2 shrinks by .5 on each side to 1x1 => -1 instead of -4
    assert row.holed_area == 23.5


def test_multipoint_wkt_and_multipolygon_roundtrip(spark):
    from heavydb_spark.functions import geo

    df = spark.createDataFrame(
        [("MULTIPOINT (1 2, 3 4, 5 6)",),
         ("MULTIPOINT ((1 2), (3 4), (5 6))",)],
        "wkt string",
    )
    for r in df.select(
        geo.st_geomfromtext_multipoint("wkt").alias("mp")
    ).collect():
        assert [(p.x, p.y) for p in r.mp] == [(1.0, 2.0), (3.0, 4.0), (5.0, 6.0)]

    mp_wkt = "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2), (0.5 0.5, 1 0.5, 1 1, 0.5 1)), ((5 0, 6 0, 6 1, 5 1)))"
    row = (
        spark.createDataFrame([(mp_wkt,)], "wkt string")
        .select(
            geo.st_astext_multipolygon(
                geo.st_geomfromtext_multipolygon("wkt")
            ).alias("back"),
            geo.st_numgeometries(
                geo.st_geomfromtext_multipolygon("wkt")
            ).alias("ng"),
            F.round(
                geo.st_area_multipolygon(
                    geo.st_geomfromtext_multipolygon("wkt")
                ), 6
            ).alias("area"),
        )
        .first()
    )
    assert row.ng == 2
    assert row.area == 4.75  # (4 - .25) + 1
    assert row.back.replace(".0 ", " ").replace(".0,", ",").replace(".0)", ")") == mp_wkt


def test_kmeans_cluster_invariants(spark):
    """kmeans invariants on 4 well-separated blobs: exactly k clusters
    used, every blob is assigned one consistent cluster, and each row
    sits nearer its own cluster centroid than any other (assignment
    consistency)."""
    import numpy as np

    from heavydb_spark.operators.ml import kmeans_fit

    centers = [(0.0, 0.0), (50.0, 0.0), (0.0, 50.0), (50.0, 50.0)]
    rows = []
    rid = 0
    for bi, (cx, cy) in enumerate(centers):
        for i in range(25):
            rows.append(
                (rid, bi, [cx + (i % 5) * 0.1, cy + (i // 5) * 0.1])
            )
            rid += 1
    df = spark.createDataFrame(rows, "id long, blob int, emb array<double>")
    got = kmeans_fit(df, "emb", k=4).select("id", "blob", "emb", "cluster_id").collect()
    assert len({r.cluster_id for r in got}) == 4
    blob_to_cluster = {}
    for r in got:
        blob_to_cluster.setdefault(r.blob, set()).add(r.cluster_id)
    assert all(len(cs) == 1 for cs in blob_to_cluster.values())
    # assignment consistency: own-centroid distance is minimal
    pts = {c: [] for c in range(4)}
    for r in got:
        pts[r.cluster_id].append(r.emb)
    cents = {c: np.mean(np.array(v), axis=0) for c, v in pts.items()}
    for r in got:
        d = {c: float(np.sum((np.array(r.emb) - cents[c]) ** 2)) for c in cents}
        assert min(d, key=d.get) == r.cluster_id


def test_pca_project_invariants(spark):
    """pca_project on a rank-2 dataset: projection preserves pairwise
    distances (the data lies in the principal plane) and k bounds the
    output dimensionality."""
    import numpy as np

    from heavydb_spark.operators.ml import pca_project

    rng = [(i, [float(i), float(2 * i % 13), float(i) + 2.0 * (2 * i % 13)])
           for i in range(40)]
    df = spark.createDataFrame(rng, "id long, emb array<double>")
    out = {r.id: r.pca_arr for r in pca_project(df, "emb", k=2).collect()}
    assert all(len(v) == 2 for v in out.values())
    src = {i: np.array(e) for i, e in rng}
    prj = {i: np.array(v) for i, v in out.items()}
    for a, b in [(0, 1), (5, 17), (3, 39), (10, 20)]:
        d_src = float(np.linalg.norm(src[a] - src[b]))
        d_prj = float(np.linalg.norm(prj[a] - prj[b]))
        assert abs(d_src - d_prj) < 1e-6 * max(1.0, d_src)


def test_transform_inverses_roundtrip(spark):
    """900913 and UTM transforms invert their forward counterparts."""
    from heavydb_spark.functions import geo

    df = spark.createDataFrame(
        [(l, t) for l in (-120.0, -1.5, 0.0, 33.3) for t in (-55.0, 0.0, 48.9)],
        "lon double, lat double",
    )
    p = geo.st_point(F.col("lon"), F.col("lat"))
    back = geo.st_transform_900913_4326(geo.st_transform_4326_900913(p))
    for r in df.select("lon", "lat", back.alias("b")).collect():
        assert abs(r.b.x - r.lon) < 1e-9 and abs(r.b.y - r.lat) < 1e-9

    utm_df = spark.createDataFrame(
        [(l, t) for l in (6.5, 9.0, 11.5) for t in (1.0, 45.0, 70.0)],
        "lon double, lat double",
    )
    utm = geo.utm_from_wgs84(F.col("lon"), F.col("lat"), 32)
    inv = geo.utm_to_wgs84(utm["x"], utm["y"], 32)
    for r in utm_df.select("lon", "lat", inv.alias("b")).collect():
        assert abs(r.b.x - r.lon) < 1e-7 and abs(r.b.y - r.lat) < 1e-7


def test_lag_lead_in_frame_range_frames(spark):
    """RANGE-framed LAG/LEAD_IN_FRAME: the offset row only counts when
    its order value lies within the range bound of the current row."""
    from heavydb_spark.operators.windows import lag_in_frame, lead_in_frame

    # order values with a gap: 1, 2, 10, 11
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (10, 30.0), (11, 40.0)], "t long, v double"
    )
    rows = {
        r.t: (r.lag1, r.lead1)
        for r in df.select(
            "t",
            lag_in_frame(F.col("v"), 1, F.lit(1), "t", range_preceding=3).alias("lag1"),
            lead_in_frame(F.col("v"), 1, F.lit(1), "t", range_following=3).alias("lead1"),
        ).collect()
    }
    assert rows[2][0] == 1.0      # t=1 within 3 of t=2
    assert rows[10][0] is None    # t=2 is 8 back — outside RANGE 3
    assert rows[11][0] == 30.0
    assert rows[1][1] == 2.0
    assert rows[2][1] is None     # next row t=10 outside RANGE 3 ahead
    assert rows[10][1] == 40.0


def test_st_transform_srid_dispatch(spark):
    import pytest as _pytest

    from heavydb_spark.functions import geo

    df = spark.createDataFrame([(9.5, 47.0)], "lon double, lat double")
    p = geo.st_point(F.col("lon"), F.col("lat"))
    merc = df.select(geo.st_transform(p, 4326, 900913).alias("m")).first().m
    utm = df.select(geo.st_transform(p, 4326, 32632).alias("u")).first().u
    back = df.select(
        geo.st_transform(
            geo.st_transform(p, 4326, 32632), 32632, 4326
        ).alias("b")
    ).first().b
    assert abs(merc.x - 9.5 * 111319.490778) < 1e-6
    assert 500000 - 60000 < utm.x < 500000 + 60000 and utm.y > 5e6
    assert abs(back.x - 9.5) < 1e-7 and abs(back.y - 47.0) < 1e-7
    with _pytest.raises(ValueError, match="unsupported"):
        geo.st_transform(p, 2154, 4326)


def test_geos_boolean_inclusion_exclusion_randomized(spark):
    """Seeded random convex polygon pairs: the three overlay ops are
    computed independently, so area(A∪B) = area(A)+area(B)−area(A∩B)
    and area(A\\B) = area(A)−area(A∩B) cross-validate the sweep."""
    import math
    import random

    from heavydb_spark.functions import geo, geos

    rng = random.Random(1234)
    rows = []
    for i in range(12):
        polys = []
        for _ in range(2):
            cx, cy = rng.uniform(-5, 5), rng.uniform(-5, 5)
            n = rng.randint(3, 8)
            angles = sorted(rng.uniform(0, 2 * math.pi) for _ in range(n))
            r = [rng.uniform(1.0, 4.0) for _ in range(n)]
            ring = [
                {"x": cx + r[j] * math.cos(a), "y": cy + r[j] * math.sin(a)}
                for j, a in enumerate(angles)
            ]
            polys.append([ring])
        rows.append((i, polys[0], polys[1]))
    df = spark.createDataFrame(
        rows,
        "id long, pa array<array<struct<x:double,y:double>>>, "
        "pb array<array<struct<x:double,y:double>>>",
    )
    got = df.select(
        "id",
        geo.st_area(F.col("pa")).alias("a"),
        geo.st_area(F.col("pb")).alias("b"),
        geo.st_area_multipolygon(geos.st_union("pa", "pb")).alias("u"),
        geo.st_area_multipolygon(geos.st_intersection("pa", "pb")).alias("i"),
        geo.st_area_multipolygon(geos.st_difference("pa", "pb")).alias("d"),
    ).collect()
    for r in got:
        assert abs(r.u - (r.a + r.b - r.i)) < 1e-7, (r.id, r.u, r.a, r.b, r.i)
        assert abs(r.d - (r.a - r.i)) < 1e-7, (r.id, r.d, r.a, r.i)
        assert r.i >= -1e-12 and r.u <= r.a + r.b + 1e-9


def _dedup_corpus(spark):
    import random

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(400)]
    docs = []
    for i in range(20):  # unrelated docs: disjoint-ish vocab draws
        docs.append((i, " ".join(rng.choice(vocab) for _ in range(60))))
    base = " ".join(rng.choice(vocab) for _ in range(60))
    docs.append((100, base))                                   # planted pair A
    docs.append((101, base))                                   # exact duplicate
    words = base.split()
    words[30] = "CHANGED"
    docs.append((102, " ".join(words)))                        # near-duplicate
    return spark.createDataFrame(docs, "doc_id long, text string")


def test_minhash_recovers_planted_duplicates(spark):
    """MinHash+LSH: an exact duplicate estimates jaccard 1.0, a
    one-word edit still collides in some band and estimates high,
    and no unrelated pair survives the threshold."""
    from heavydb_spark.operators.dedup import minhash_dedup_pairs

    df = _dedup_corpus(spark)
    pairs = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_dedup_pairs(
            df, "doc_id", "text", n=3, num_perm=64, bands=16, threshold=0.5
        ).collect()
    }
    assert pairs[(100, 101)] == 1.0
    assert (100, 102) in pairs and pairs[(100, 102)] >= 0.5
    assert all(a >= 100 and b >= 100 for (a, b) in pairs)


def test_simhash_blocking_contract(spark):
    """SimHash: the returned pair set equals exactly {pairs sharing a
    16-bit chunk AND within the hamming budget} (recomputed from the
    signatures in-test), and the exact duplicate (hamming 0) is always
    recovered — the documented pigeonhole recall contract."""
    from heavydb_spark.operators.dedup import simhash64, simhash_neardup_pairs

    df = _dedup_corpus(spark)
    m64 = (1 << 64) - 1
    sigs = {
        t[0]: t[1] & m64
        for t in map(tuple, simhash64(df, "doc_id", "text").collect())
    }

    def chunks(s):
        return {(c, (s >> (16 * c)) & 0xFFFF) for c in range(4)}

    ids = sorted(sigs)
    expect = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 12
        and chunks(sigs[a]) & chunks(sigs[b])
    }
    got = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(
            df, "doc_id", "text", max_hamming=12
        ).collect()
    }
    assert got == expect
    assert (100, 101) in got  # exact duplicate: hamming 0, guaranteed


def test_multipolygon_centroid_degenerate_is_null(spark):
    """Centroid of a zero-area / empty multipolygon is NULL, not a
    divide-by-zero — e.g. st_intersection of disjoint polygons."""
    from heavydb_spark.functions import geo, geos

    def P(*rings):
        return [[{"x": float(x), "y": float(y)} for (x, y) in r] for r in rings]

    df = spark.createDataFrame(
        [(P([(0, 0), (1, 0), (1, 1), (0, 1)]), P([(5, 5), (6, 5), (6, 6), (5, 6)]))],
        "pa array<array<struct<x:double,y:double>>>, "
        "pb array<array<struct<x:double,y:double>>>",
    )
    row = df.select(
        geo.st_centroid_multipolygon(
            geos.st_intersection("pa", "pb")
        ).alias("c")
    ).first()
    assert row.c is None


def test_reference_wkt_conventions(spark):
    """Literal expectations from the reference's own test suite
    (Tests/GeospatialTest.cpp): WKT closing vertices are dropped on
    parse (ST_NPoints of 'POLYGON((0 0, 4 0, 0 4, 0 0))' is 3), holed
    polygon area is 2.0 - 0.02, and the two-component holed
    MULTIPOLYGON area is (2.0 - 0.02) + (8.0 - 0.08)."""
    from heavydb_spark.functions import geo

    df = spark.createDataFrame(
        [(
            "POLYGON((0 0, 4 0, 0 4, 0 0))",
            "POLYGON((1 0, 0 1, -1 0, 0 -1, 1 0),"
            "(0.1 0, 0 0.1, -0.1 0, 0 -0.1, 0.1 0))",
            "MULTIPOLYGON(((1 0, 0 1, -1 0, 0 -1, 1 0),"
            " (0.1 0, 0 0.1, -0.1 0, 0 -0.1, 0.1 0)),"
            " ((2 0, 0 2, -2 0, 0 -2, 2 0),"
            " (0.2 0, 0 0.2, -0.2 0, 0 -0.2, 0.2 0)))",
        )],
        "tri string, holed string, mp string",
    )
    row = df.select(
        geo.st_npoints_polygon(geo.st_geomfromtext_polygon("tri")).alias("np"),
        geo.st_numrings(geo.st_geomfromtext_polygon("holed")).alias("nr"),
        F.round(geo.st_area(geo.st_geomfromtext_polygon("holed")), 6).alias("a"),
        F.round(
            geo.st_area_multipolygon(geo.st_geomfromtext_multipolygon("mp")), 6
        ).alias("ma"),
        geo.st_npoints_multipolygon(
            geo.st_geomfromtext_multipolygon("mp")
        ).alias("mnp"),
    ).first()
    assert row.np == 3          # GeospatialTest.cpp:1172 (closing vertex dropped)
    assert row.nr == 2
    assert abs(row.a - 1.98) < 1e-9    # GeospatialTest.cpp:2164
    assert abs(row.ma - 9.9) < 1e-9    # GeospatialTest.cpp:2171
    assert row.mnp == 16        # (outer 4 + hole 4) per component, closing vertices dropped


def test_concave_hull_traces_l_shape():
    """Moreira-Santos k-NN hull on a unit-grid L recovers the exact L
    boundary (area 12, perimeter 16, 16 vertices) where the convex
    hull closes the notch at area 14 — plain-python kernel check."""
    import math

    from heavydb_spark.functions.geos import (
        _concave_hull_points,
        _hull_points,
        _shoelace,
    )

    pts = [
        (float(i), float(j))
        for i in range(5)
        for j in range(5)
        if not (i > 2 and j > 2)
    ]
    ring = _concave_hull_points(pts, 3)
    assert len(ring) == 16
    assert abs(abs(_shoelace(ring)) - 12.0) < 1e-9
    perim = sum(
        math.hypot(
            ring[(i + 1) % len(ring)][0] - ring[i][0],
            ring[(i + 1) % len(ring)][1] - ring[i][1],
        )
        for i in range(len(ring))
    )
    assert abs(perim - 16.0) < 1e-9
    assert abs(abs(_shoelace(_hull_points(pts))) - 14.0) < 1e-9
    # every input point is a lattice point of the L -> hull vertices
    # must be input points
    assert set(ring) <= set(pts)


def test_concave_hull_degenerate_and_escalation():
    from heavydb_spark.functions.geos import _concave_hull_points, _shoelace

    # <=3 points: returned as-is
    assert _concave_hull_points([(0.0, 0.0), (1.0, 0.0)], 3) == [
        (0.0, 0.0),
        (1.0, 0.0),
    ]
    # convex point set: concave hull == convex hull area (square)
    sq = [(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0), (1.0, 1.0)]
    ring = _concave_hull_points(sq, 3)
    assert abs(abs(_shoelace(ring)) - 4.0) < 1e-9


def test_concave_hull_sql_registration(spark):
    from heavydb_spark.functions import register_all

    register_all(spark)
    row = spark.sql(
        """
        SELECT st_concavehull(array(
            named_struct('x', 0.0d, 'y', 0.0d),
            named_struct('x', 1.0d, 'y', 0.0d),
            named_struct('x', 2.0d, 'y', 0.0d),
            named_struct('x', 2.0d, 'y', 1.0d),
            named_struct('x', 2.0d, 'y', 2.0d),
            named_struct('x', 1.0d, 'y', 2.0d),
            named_struct('x', 0.0d, 'y', 2.0d),
            named_struct('x', 0.0d, 'y', 1.0d),
            named_struct('x', 1.0d, 'y', 1.0d)
        )) AS hull
        """
    ).first()
    assert len(row["hull"][0]) == 8  # square boundary, interior excluded


def test_st_transform_composed_pairs(spark):
    """UTM zone -> adjacent UTM zone and UTM <-> Web Mercator compose
    through the 4326 pivot: round-trips recover the original lon/lat
    to sub-millimeter (the closed-form series' accuracy)."""
    from pyspark.sql import functions as F

    from heavydb_spark.functions import geo

    pts = spark.createDataFrame(
        [(14.5, 46.0), (15.2, 47.3), (13.9, 45.1)], "lon DOUBLE, lat DOUBLE"
    ).select(F.struct(F.col("lon").alias("x"), F.col("lat").alias("y")).alias("p"))

    z33 = geo.st_transform(F.col("p"), 4326, 32633)
    z34 = geo.st_transform(z33, 32633, 32634)
    back = geo.st_transform(z34, 32634, 4326)
    merc = geo.st_transform(z33, 32633, 900913)
    merc_direct = geo.st_transform(F.col("p"), 4326, 900913)

    rows = pts.select(
        F.col("p"), back.alias("rt"), merc.alias("m1"), merc_direct.alias("m2")
    ).collect()
    for r in rows:
        assert abs(r["rt"]["x"] - r["p"]["x"]) < 1e-7
        assert abs(r["rt"]["y"] - r["p"]["y"]) < 1e-7
        assert abs(r["m1"]["x"] - r["m2"]["x"]) < 0.01  # meters
        assert abs(r["m1"]["y"] - r["m2"]["y"]) < 0.01


def test_dedup_keep_best_policy(spark):
    """The keep-best rule prefers lower priority over lower id: a
    cluster with (id=1, prio=5) and (id=9, prio=2) keeps id 9."""
    from heavydb_spark.operators.pipeline import dedup_keep_best

    df = spark.createDataFrame(
        [
            ("a", 1, 5),
            ("a", 9, 2),
            ("b", 3, 1),
            ("b", 4, 1),   # priority tie -> lower id wins
            ("c", 7, 9),
        ],
        "cluster STRING, doc_id INT, prio INT",
    )
    got = {
        (r["cluster"], r["keep_id"], r["best_priority"], r["n_dups"])
        for r in dedup_keep_best(df, "cluster", "prio", "doc_id").collect()
    }
    assert got == {("a", 9, 2, 2), ("b", 3, 1, 2), ("c", 7, 9, 1)}


def test_feature_similarity_tf_idf_closed_form(spark):
    """use_tf_idf (SimilarityTableFunctions.hpp:165): cells weight by
    idf(f) = ln((n_keys+1)/df(f)) + 1 before the cosine. Closed-form
    fixture: 3 keys; feature 'common' appears for all (df=3), 'rare'
    for one (df=1). With n=3: idf_common = ln(4/3)+1, idf_rare =
    ln(4)+1. Keys A=(common:1), B=(common:1), C=(common:1, rare:1)."""
    import math

    from heavydb_spark.operators.similarity import feature_self_similarity

    df = spark.createDataFrame(
        [
            ("A", "common", 1.0),
            ("B", "common", 1.0),
            ("C", "common", 1.0),
            ("C", "rare", 1.0),
        ],
        "k STRING, f STRING, m DOUBLE",
    )
    got = {
        (r["key_a"], r["key_b"]): r["cos_sim"]
        for r in feature_self_similarity(
            df, "k", "f", "m", use_tf_idf=True
        ).collect()
    }
    wc = math.log(4.0 / 3.0) + 1.0
    wr = math.log(4.0) + 1.0
    # A.B: identical single-feature vectors -> 1.0
    assert abs(got[("A", "B")] - 1.0) < 1e-6
    # A.C: wc*wc / (wc * sqrt(wc^2 + wr^2))
    want_ac = (wc * wc) / (wc * math.sqrt(wc * wc + wr * wr))
    assert abs(got[("A", "C")] - round(want_ac, 6)) < 1e-6
    # without idf: A.C = 1/sqrt(2)
    got_plain = {
        (r["key_a"], r["key_b"]): r["cos_sim"]
        for r in feature_self_similarity(df, "k", "f", "m").collect()
    }
    assert abs(got_plain[("A", "C")] - round(1 / math.sqrt(2), 6)) < 1e-6
    # idf shifts the similarity down (the rare feature dominates C)
    assert got[("A", "C")] < got_plain[("A", "C")]


def test_minhash_banding_rejects_short_signature(spark):
    """bands*rows_per_band beyond the signature length must error, not
    band over NULLs (which would collapse every doc into one bucket)."""
    import pytest as _pytest
    from heavydb_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    sigs = minhash_signatures(df, "doc_id", "text", num_perm=32)
    with _pytest.raises(ValueError, match="num_perm mismatch"):
        minhash_lsh_candidates(sigs, bands=16, rows_per_band=4)


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain longer than max_iter rounds must raise, never return
    silently-wrong labels."""
    import pytest as _pytest
    from heavydb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "doc_a long, doc_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    ok = {
        r["node"]: r["component"]
        for r in connected_components(chain, max_iter=20).collect()
    }
    assert set(ok.values()) == {0}


def test_tm_epsg_table_accuracy(spark):
    """Arbitrary-SRID transverse Mercator (_EPSG_TM): natural-origin
    identities, round-trips, and a cross-check against the
    independently-validated UTM path for the shared WGS-84 zones."""
    from pyspark.sql import functions as F

    from heavydb_spark.functions import geo

    df = spark.createDataFrame(
        [(-2.0, 49.0), (-1.5, 52.5), (0.5, 57.25)], "lon double, lat double"
    )
    # EPSG 27700: natural origin maps exactly to the false origin
    r = df.select(
        geo.tm_from_wgs84(F.col("lon"), F.col("lat"), 27700).alias("p")
    ).collect()
    assert abs(r[0]["p"]["x"] - 400000.0) < 1e-6
    assert abs(r[0]["p"]["y"] + 100000.0) < 1e-6
    # round-trip through the inverse for every row / several CRSs
    for srid in (27700, 2193, 2157, 32756, 25832):
        pts = spark.createDataFrame(
            [(lon, lat) for lon, lat in [
                (geo._EPSG_TM[srid].lon0 + 1.2,
                 geo._EPSG_TM[srid].lat0 + (3.0 if srid != 2193 else -40.0)),
                (geo._EPSG_TM[srid].lon0 - 0.7,
                 geo._EPSG_TM[srid].lat0 + (1.5 if srid != 2193 else -43.5)),
            ]],
            "lon double, lat double",
        )
        fwd = pts.select(
            "lon", "lat",
            geo.tm_from_wgs84(F.col("lon"), F.col("lat"), srid).alias("p"),
        )
        back = fwd.select(
            "lon", "lat",
            geo.tm_to_wgs84(
                F.col("p")["x"], F.col("p")["y"], srid
            ).alias("q"),
        ).collect()
        for row in back:
            assert abs(row["q"]["x"] - row["lon"]) < 1e-6, (srid, row)
            assert abs(row["q"]["y"] - row["lat"]) < 1e-6, (srid, row)
    # WGS-84 UTM north through the table == the original UTM entry point
    both = df.select(
        geo.tm_from_wgs84(F.col("lon") + 8.0, F.col("lat"), 32632).alias("a"),
        geo.utm_from_wgs84(F.col("lon") + 8.0, F.col("lat"), 32).alias("b"),
    ).collect()
    for row in both:
        assert row["a"]["x"] == row["b"]["x"]
        assert row["a"]["y"] == row["b"]["y"]
    # st_transform dispatches table codes and composes TM->TM via 4326
    p = spark.createDataFrame([(-1.0, 51.0)], "lon double, lat double")
    out = p.select(
        geo.st_transform(
            geo.st_transform(
                F.struct(F.col("lon").alias("x"), F.col("lat").alias("y")),
                4326, 27700,
            ),
            27700, 4326,
        ).alias("q")
    ).first()
    assert abs(out["q"]["x"] + 1.0) < 1e-6 and abs(out["q"]["y"] - 51.0) < 1e-6


def test_mix_token_budget_semantics(spark):
    """mix_token_budget on a synthetic frame: kept docs are exactly
    the hash-ordered prefix whose PRIOR cumulative tokens are under
    budget (boundary doc included), budget 0 / missing source drop
    out, and an over-volume budget keeps the source whole."""
    from pyspark.sql import functions as F

    from heavydb_spark.operators.pipeline import (
        mix_token_budget,
        portable_hash,
    )

    rows = [(i, "a" if i % 2 == 0 else "b", 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string, toks int")
    out = mix_token_budget(
        df, "source", "doc_id", "toks", {"a": 25, "b": 10_000}
    )
    got = out.collect()
    a = [r for r in got if r["source"] == "a"]
    b = [r for r in got if r["source"] == "b"]
    # budget 25 over 10-token docs: prior sums 0,10,20 < 25 -> 3 docs
    assert len(a) == 3 and len(b) == 50
    # the kept a-docs are the 3 smallest by (portable_hash, id)
    order = (
        df.filter(F.col("source") == "a")
        .select("doc_id", portable_hash(F.col("doc_id")).alias("h"))
        .orderBy("h", "doc_id")
        .collect()
    )
    assert sorted(r["doc_id"] for r in a) == sorted(
        r["doc_id"] for r in order[:3]
    )
    # absent source drops out entirely
    none = mix_token_budget(df, "source", "doc_id", "toks", {"a": 25})
    assert none.filter(F.col("source") == "b").count() == 0


def test_render_rect_pixel_bins(spark):
    """rect_pixel_bin_x/_y (ExtensionFunctions.hpp:496-542): closed
    form at offset 0 (floor(val/w)*w + w/2), reference offset math for
    nonzero offsets, and Spark==DuckDB on the generated SQL."""
    import duckdb

    from pyspark.sql import functions as F

    from heavydb_spark.functions import render

    vals = [0.0, 3.7, 9.99, 10.0, 37.0, 55.5, 99.9]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = df.select(
        "v",
        render.rect_pixel_bin_x(F.col("v"), 0.0, 100.0, 10.0, 0.0, 100.0)
        .alias("b0"),
        render.rect_pixel_bin_x(F.col("v"), 0.0, 100.0, 10.0, 13.0, 100.0)
        .alias("b13"),
    ).collect()
    for r in got:
        assert r["b0"] == (r["v"] // 10.0) * 10.0 + 5.0
    # reference port for the offset case (double precision)
    def ref(val, mn, mx, w, off, img):
        o = off % w if off >= 0 else -((-off) % w)
        if o > 0:
            o -= w
        mn = mn + o * (mx - mn) / img
        idx = int((val - mn) / (mx - mn) * (img - o) / w)
        return idx * w + o + w / 2.0

    for r in got:
        assert abs(r["b13"] - ref(r["v"], 0.0, 100.0, 10.0, 13.0, 100.0)) < 1e-9
    # differential: SQL twin on DuckDB == Spark column
    con = duckdb.connect()
    for v in vals:
        sql = render.rect_pixel_bin_x_sql(str(v), 0.0, 100.0, 10.0, 13.0, 100.0)
        dd = con.execute(f"SELECT {sql}").fetchone()[0]
        sp = [r["b13"] for r in got if r["v"] == v][0]
        assert abs(dd - sp) < 1e-9, (v, dd, sp)


def test_render_hex_pixel_bins(spark):
    """reg_hex_{horiz,vert}_pixel_bin_{x,y}: returned centers lie on
    the hexagonal lattice, every point maps to its NEAREST hex center
    (cube-rounding correctness, checked against a brute-force lattice
    scan), and the packed form packs the x/y results."""
    import math

    import duckdb

    from pyspark.sql import functions as F

    from heavydb_spark.functions import render

    hexw, hexh = 10.0 * render.SQRT3 / 2.0, 10.0  # hexsize 5, horiz
    args = (0.0, 100.0, 0.0, 100.0, hexw, hexh, 0.0, 0.0, 100, 100)
    pts = [(x + 0.37, y + 0.91) for x in range(5, 95, 13)
           for y in range(5, 95, 17)]
    df = spark.createDataFrame(pts, "px double, py double")
    got = df.select(
        "px", "py",
        render.reg_hex_horiz_pixel_bin_x(
            F.col("px"), args[0], args[1], F.col("py"), args[2], args[3],
            *args[4:]
        ).alias("hx"),
        render.reg_hex_horiz_pixel_bin_y(
            F.col("px"), args[0], args[1], F.col("py"), args[2], args[3],
            *args[4:]
        ).alias("hy"),
    ).collect()
    hexsize = hexh / 2.0
    for r in got:
        # lattice membership: hy is a multiple of 1.5*hexsize; hx is a
        # multiple of hexsize*sqrt3/2 with parity tied to the row
        row = r["hy"] / (1.5 * hexsize)
        assert abs(row - round(row)) < 1e-6, r
        colstep = r["hx"] / (hexsize * render.SQRT3 / 2.0)
        assert abs(colstep - round(colstep)) < 1e-6, r
        # nearest-center property: round the pixel to the chosen
        # center vs every lattice center in range
        px, py = round(r["px"]), round(r["py"])  # formula rounds pixels
        best = min(
            (
                (math.hypot(px - cx, py - cy), (cx, cy))
                for rr in range(-1, 12)
                for cc in range(-1, 16)
                for (cx, cy) in [(
                    hexsize * render.SQRT3 * (cc + (rr % 2) * 0.5),
                    1.5 * hexsize * rr,
                )]
            ),
        )
        d_chosen = math.hypot(px - r["hx"], py - r["hy"])
        assert d_chosen <= best[0] + 1e-6, (r, best)
    # vert orientation + packed + DuckDB differential on one point
    con = duckdb.connect()
    vx = render.reg_hex_vert_pixel_bin_x_sql(
        "37.37", 0.0, 100.0, "55.91", 0.0, 100.0,
        hexh, hexw, 0.0, 0.0, 100, 100,
    )
    vy = render.reg_hex_vert_pixel_bin_y_sql(
        "37.37", 0.0, 100.0, "55.91", 0.0, 100.0,
        hexh, hexw, 0.0, 0.0, 100, 100,
    )
    dd = con.execute(f"SELECT {vx} AS x, {vy} AS y").fetchone()
    sp = spark.range(1).select(
        render.reg_hex_vert_pixel_bin_x(
            37.37, 0.0, 100.0, 55.91, 0.0, 100.0,
            hexh, hexw, 0.0, 0.0, 100, 100,
        ).alias("x"),
        render.reg_hex_vert_pixel_bin_y(
            37.37, 0.0, 100.0, 55.91, 0.0, 100.0,
            hexh, hexw, 0.0, 0.0, 100, 100,
        ).alias("y"),
        render.reg_hex_vert_pixel_bin_packed(
            37.37, 0.0, 100.0, 55.91, 0.0, 100.0,
            hexh, hexw, 0.0, 0.0, 100, 100,
        ).alias("p"),
    ).first()
    assert abs(dd[0] - sp["x"]) < 1e-9 and abs(dd[1] - sp["y"]) < 1e-9
    assert sp["p"] == (int(sp["x"] * 4) & 0x7FFF) | ((int(sp["y"] * 4) & 0x7FFF) << 16)


def test_render_hex_staged_sql_matches_flat(spark):
    """reg_hex_pixel_bin_xy_staged_sql (horizontal only; it takes no
    orientation) chains its stages to the same values as the flat
    horizontal SQL twins."""
    from pyspark.sql import functions as F

    from heavydb_spark.functions import render

    args = (0.0, 100.0, 10.0 * render.SQRT3 / 2.0, 10.0, 0.0, 0.0, 100, 100)
    head = ("px", 0.0, 100.0, "py")
    stages, x_sql, y_sql = render.reg_hex_pixel_bin_xy_staged_sql(
        *head, *args)
    df = spark.createDataFrame(
        [(x + 0.37, x * 0.7 + 0.91) for x in range(3, 97, 9)],
        "px double, py double")
    for name, sql in stages:
        df = df.withColumn(name, F.expr(sql))
    flat_x = render.reg_hex_horiz_pixel_bin_x_sql(*head, *args)
    flat_y = render.reg_hex_horiz_pixel_bin_y_sql(*head, *args)
    for r in df.select(
        F.expr(x_sql).alias("x"), F.expr(y_sql).alias("y"),
        F.expr(flat_x).alias("fx"), F.expr(flat_y).alias("fy"),
    ).collect():
        assert (r.x, r.y) == (r.fx, r.fy)


def test_render_merc_view_functions(spark):
    """is_point[_size]_in_merc_view + convert_meters_to_merc_pixel_*
    (ExtensionFunctions.hpp:1060-1135): rect containment, radius
    spill-in, min-size clamping, and the latitude blow-up of Mercator
    pixel width."""
    from pyspark.sql import functions as F

    from heavydb_spark.functions import render

    r = spark.range(1).select(
        render.is_point_in_merc_view(5.0, 5.0, 0.0, 10.0, 0.0, 10.0)
        .alias("inside"),
        render.is_point_in_merc_view(11.0, 5.0, 0.0, 10.0, 0.0, 10.0)
        .alias("outside"),
        render.is_point_size_in_merc_view(
            11.0, 5.0, 200_000.0, 0.0, 10.0, 0.0, 10.0
        ).alias("spills_in"),
        render.convert_meters_to_merc_pixel_width(
            1000.0, 5.0, 0.0, 0.0, 10.0, 1000, 0.0
        ).alias("w_eq"),
        render.convert_meters_to_merc_pixel_width(
            1000.0, 5.0, 60.0, 0.0, 10.0, 1000, 0.0
        ).alias("w_60"),
        render.convert_meters_to_merc_pixel_width(
            1.0, 5.0, 0.0, 0.0, 10.0, 1000, 3.0
        ).alias("w_clamped"),
    ).first()
    assert r["inside"] and not r["outside"] and r["spills_in"]
    # Mercator stretch: the same ground meters cover ~2x the pixels at
    # 60 deg latitude (1/cos60)
    assert 1.9 < r["w_60"] / r["w_eq"] < 2.1
    assert r["w_clamped"] == 3.0


def test_h3_cell_roundtrips_and_hierarchy(spark):
    """H3_* family (ExtensionFunctionsH3.hpp; engine-local ids —
    functions/h3.py documents the bit-compatibility delta): encode
    determinism, center roundtrip at every resolution, nearest-center
    property, center-containment parent hierarchy, string roundtrip,
    Spark==DuckDB on the generated SQL, boundary WKT parses and has
    the right hex area."""
    import math

    import duckdb

    from pyspark.sql import functions as F

    from heavydb_spark.functions import h3 as H

    pts = [(-179.9, -89.0), (-73.98, 40.75), (2.35, 48.85),
           (139.69, 35.68), (151.2, -33.85), (0.0, 0.0), (179.9, 89.0)]
    df = spark.createDataFrame(pts, "lon double, lat double")
    for res in (0, 3, 9, 15):
        enc = df.select(
            "lon", "lat",
            H.h3_lonlat_to_cell(F.col("lon"), F.col("lat"), res).alias("c"),
        )
        dec = enc.select(
            "lon", "lat", "c",
            H.h3_cell_to_lon(F.col("c")).alias("clon"),
            H.h3_cell_to_lat(F.col("c")).alias("clat"),
            H.h3_lonlat_to_cell(
                H.h3_cell_to_lon(F.col("c")),
                H.h3_cell_to_lat(F.col("c")), res
            ).alias("rt"),
            H.h3_is_valid_cell(F.col("c")).alias("ok"),
        ).collect()
        size = H._size(res)
        for r in dec:
            assert r["rt"] == r["c"], (res, r)  # center re-encodes
            assert r["ok"]
            # nearest-center: the input point lies within the hex
            # circumradius of its cell center
            d = math.hypot(r["lon"] - r["clon"], r["lat"] - r["clat"])
            assert d <= size + 1e-9, (res, r, d, size)
    # parent hierarchy: parent's re-encode of the child center matches
    h = df.select(
        H.h3_lonlat_to_cell(F.col("lon"), F.col("lat"), 9).alias("c9")
    ).select(
        "c9",
        H.h3_cell_to_parent(F.col("c9"), 4).alias("p4"),
        H.h3_lonlat_to_cell(
            H.h3_cell_to_lon(F.col("c9")), H.h3_cell_to_lat(F.col("c9")), 4
        ).alias("direct4"),
    ).collect()
    for r in h:
        assert r["p4"] == r["direct4"]
    # string roundtrip
    s = df.select(
        H.h3_string_to_cell(
            H.h3_cell_to_string(
                H.h3_lonlat_to_cell(F.col("lon"), F.col("lat"), 6)
            )
        ).alias("rt"),
        H.h3_lonlat_to_cell(F.col("lon"), F.col("lat"), 6).alias("c"),
    ).collect()
    assert all(r["rt"] == r["c"] for r in s)
    # differential: DuckDB runs the identical generated SQL
    con = duckdb.connect()
    for lon, lat in pts:
        # CAST: bare decimal literals are DECIMAL in DuckDB and the
        # axial scaling overflows DECIMAL(18) multiplication
        sql = H.h3_lonlat_to_cell_sql(
            f"CAST({lon!r} AS DOUBLE)", f"CAST({lat!r} AS DOUBLE)", 8
        )
        dd = con.execute(f"SELECT {sql}").fetchone()[0]
        sp = spark.range(1).select(
            H.h3_lonlat_to_cell(lon, lat, 8).alias("c")
        ).first()["c"]
        assert dd == sp, (lon, lat, dd, sp)
        psql = H.h3_cell_to_parent_sql(str(sp), 2)
        dd_p = con.execute(f"SELECT {psql}").fetchone()[0]
        sp_p = spark.range(1).select(
            H.h3_cell_to_parent(sp, 2).alias("p")
        ).first()["p"]
        assert dd_p == sp_p
    # boundary WKT: well-formed closed hex ring with area
    # (3*sqrt(3)/2) * size^2 (shoelace over the parsed vertices)
    b = spark.range(1).select(
        H.h3_cell_to_boundary_wkt(
            H.h3_lonlat_to_cell(2.35, 48.85, 5)
        ).alias("wkt")
    ).first()
    wkt = b["wkt"]
    assert wkt.startswith("POLYGON ((") and wkt.endswith("))")
    verts = [
        tuple(map(float, p.split()))
        for p in wkt[len("POLYGON (("):-2].split(", ")
    ]
    assert len(verts) == 7 and verts[0] == verts[-1]
    ring = verts[:-1]
    area = abs(sum(
        ring[i][0] * ring[(i + 1) % 6][1]
        - ring[(i + 1) % 6][0] * ring[i][1]
        for i in range(6)
    )) / 2.0
    size5 = H._size(5)
    assert abs(area - 3.0 * math.sqrt(3.0) / 2.0 * size5 * size5) < 1e-4


def test_h3_registered_sql_matches_text_builders(spark):
    """The registered H3_* SQL functions, which take the resolution as
    a runtime argument, return exactly what the per-resolution
    `h3_*_sql` text builders return: all 16 resolutions, on seeded
    random points plus hex edge midpoints and vertices, each exactly
    and moved a relative 1e-9 inward and outward. Out-of-range
    resolutions raise each function's own error."""
    import math
    import random

    from heavydb_spark.functions import h3 as H
    from heavydb_spark.functions import register_all

    register_all(spark)
    rng = random.Random(5_000)
    rows = []
    for res in range(16):
        size = H._size(res)
        pts = [(rng.uniform(-180, 180), rng.uniform(-90, 90))
               for _ in range(24)]
        for _ in range(3):
            # a cell center near a random point; its edge midpoints lie
            # one apothem away, its vertices one circumradius
            lon, lat = rng.uniform(-170, 170), rng.uniform(-80, 80)
            q = round((lon * math.sqrt(3) / 3 - lat / 3) / size)
            r = round(lat * 2 / 3 / size)
            clon = (q * math.sqrt(3) + r * math.sqrt(3) / 2) * size
            clat = r * 1.5 * size
            for k in range(6):
                for ang, dist in ((60 * k, size * math.sqrt(3) / 2),
                                  (60 * k + 30, size)):
                    for nudge in (1 - 1e-9, 1.0, 1 + 1e-9):
                        d = dist * nudge
                        pts.append((clon + d * math.cos(math.radians(ang)),
                                    clat + d * math.sin(math.radians(ang))))
        rows += [(len(rows) + i, lon, lat, res, res // 2, (res + 7) % 16)
                 for i, (lon, lat) in enumerate(pts)]
    spark.createDataFrame(
        rows, "id long, lon double, lat double, res int, pa int, pb int"
    ).createOrReplaceTempView("h3_grid")

    got = {
        row[0]: tuple(row[1:]) for row in spark.sql(
            "SELECT id, c, h3_pointtocell(named_struct('x', lon, 'y', lat),"
            " res), h3_celltolon(c), h3_celltolat(c),"
            " h3_celltoparent(c, pa), h3_celltoparent(c, pb),"
            " h3_isvalidcell(c), h3_celltostring(c),"
            " h3_stringtocell(h3_celltostring(c)) FROM ("
            "SELECT *, h3_lonlattocell(lon, lat, res) AS c FROM h3_grid)"
        ).collect()
    }
    want = {}
    for res in range(16):
        for row in spark.sql(
            f"SELECT id, c, {H.h3_cell_to_lon_sql('c')},"
            f" {H.h3_cell_to_lat_sql('c')},"
            f" {H.h3_cell_to_parent_sql('c', res // 2)},"
            f" {H.h3_cell_to_parent_sql('c', (res + 7) % 16)},"
            f" {H.h3_is_valid_cell_sql('c')} FROM ("
            f"SELECT id, {H.h3_lonlat_to_cell_sql('lon', 'lat', res)} AS c"
            f" FROM h3_grid WHERE res = {res})"
        ).collect():
            i, c, lo, la, p_a, p_b, ok = row
            want[i] = (c, c, lo, la, p_a, p_b, ok, f"{c:016x}", c)
    assert len(want) == len(rows)
    diff = [(i, got.get(i), want[i]) for i in sorted(want)
            if got.get(i) != want[i]]
    assert not diff, f"{len(diff)} rows differ, first: {diff[:3]}"

    for sql, msg in (
        ("h3_lonlattocell(lon, lat, res + 16)",
         "H3_LonLatToCell: invalid resolution"),
        ("h3_pointtocell(named_struct('x', lon, 'y', lat), -1 - res)",
         "H3_LonLatToCell: invalid resolution"),
        ("h3_celltoparent(h3_lonlattocell(lon, lat, res), res + 16)",
         "H3_CellToParent: invalid resolution"),
    ):
        with pytest.raises(Exception, match=msg):
            spark.sql(f"SELECT {sql} FROM h3_grid").collect()


def test_h3_geometry_typed_variants(spark):
    """H3_CellToPoint / H3_CellToBoundary (H3Runtime.cpp geometry
    variants): the point is the decoded center; the boundary polygon
    has 6 vertices each one circumradius from the center, and its
    centroid is the center."""
    import math

    from pyspark.sql import functions as F

    from heavydb_spark.functions import h3 as H

    r = spark.range(1).select(
        H.h3_cell_to_point(H.h3_lonlat_to_cell(2.35, 48.85, 6)).alias("p"),
        H.h3_cell_to_boundary(H.h3_lonlat_to_cell(2.35, 48.85, 6)).alias("g"),
        H.h3_cell_to_lon(H.h3_lonlat_to_cell(2.35, 48.85, 6)).alias("lon"),
        H.h3_cell_to_lat(H.h3_lonlat_to_cell(2.35, 48.85, 6)).alias("lat"),
    ).first()
    assert r["p"]["x"] == r["lon"] and r["p"]["y"] == r["lat"]
    ring = r["g"][0]
    size = H._size(6)
    assert len(ring) == 6
    for v in ring:
        d = math.hypot(v["x"] - r["lon"], v["y"] - r["lat"])
        assert abs(d - size) < 1e-9
    cx = sum(v["x"] for v in ring) / 6.0
    cy = sum(v["y"] for v in ring) / 6.0
    assert abs(cx - r["lon"]) < 1e-9 and abs(cy - r["lat"]) < 1e-9


@pytest.mark.parametrize("seed", range(4))
def test_h3_randomized_cross_engine(spark, seed):
    """Randomized differential: H3 encode/decode/parent and rect
    pixel bins agree bit-for-bit between the Spark Column path and the
    generated DuckDB SQL on random inputs."""
    import random

    import duckdb

    from heavydb_spark.functions import h3 as H
    from heavydb_spark.functions import render

    rng = random.Random(seed + 31_000)
    con = duckdb.connect()
    pts = [
        (round(rng.uniform(-180, 180), 6), round(rng.uniform(-89, 89), 6))
        for _ in range(5)
    ]
    res = rng.randint(0, 15)
    pres = rng.randint(0, res)
    for lon, lat in pts:
        sp = spark.range(1).select(
            H.h3_lonlat_to_cell(lon, lat, res).alias("c"),
            H.h3_cell_to_lon(H.h3_lonlat_to_cell(lon, lat, res)).alias("lo"),
            H.h3_cell_to_parent(
                H.h3_lonlat_to_cell(lon, lat, res), pres
            ).alias("p"),
            render.rect_pixel_bin_x(
                lon, -180.0, 180.0, 7.0, float(seed), 720
            ).alias("rb"),
        ).first()
        lon_s = f"CAST({lon!r} AS DOUBLE)"
        lat_s = f"CAST({lat!r} AS DOUBLE)"
        # the cell is a subquery column, so the decode and parent
        # formulas read it once instead of re-inlining its text
        cell_sql = H.h3_lonlat_to_cell_sql(lon_s, lat_s, res)
        dd = con.execute(
            f"SELECT c, {H.h3_cell_to_lon_sql('c')} AS lo, "
            f"{H.h3_cell_to_parent_sql('c', pres)} AS p, "
            f"{render.rect_pixel_bin_x_sql(lon_s, -180.0, 180.0, 7.0, float(seed), 720)} AS rb "
            f"FROM (SELECT {cell_sql} AS c)"
        ).fetchone()
        assert dd[0] == sp["c"], (lon, lat, res)
        assert abs(dd[1] - sp["lo"]) < 1e-12
        assert dd[2] == sp["p"]
        assert abs(dd[3] - sp["rb"]) < 1e-9


@pytest.mark.parametrize("res", (-1, 16))
def test_h3_resolution_checked_when_built(spark, res):
    """A Python-int resolution outside 0-15 raises ValueError while the
    Column is built, before any plan exists."""
    from heavydb_spark.functions import h3 as H

    with pytest.raises(ValueError, match="invalid resolution"):
        H.h3_lonlat_to_cell(F.col("lon"), F.col("lat"), res)
    with pytest.raises(ValueError, match="invalid resolution"):
        H.h3_cell_to_parent(F.col("cell"), res)


def test_column_builders_register_lazily(spark):
    """The H3 and transform Column builders register the SQL functions
    they call on the active session when it has none: with the session
    forgotten by the registry and one function of each family dropped,
    building and collecting re-registers them and returns the same
    values."""
    from pyspark.sql import SparkSession

    from heavydb_spark import functions
    from heavydb_spark.functions import geo
    from heavydb_spark.functions import h3 as H

    assert SparkSession.active() is spark
    functions.register_all(spark)
    df = spark.createDataFrame([(-0.1281, 51.508)], "lon double, lat double")

    def run():
        cell = H.h3_lonlat_to_cell(F.col("lon"), F.col("lat"), 9)
        return df.select(
            H.h3_cell_to_parent(cell, 4).alias("p"),
            geo.tm_from_wgs84_full(F.col("lon"), F.col("lat"), 27700).alias("t"),
        ).first()

    want = run()
    functions._REGISTERED.discard(spark)
    spark.sql("DROP TEMPORARY FUNCTION h3_celltoparent")
    spark.sql("DROP TEMPORARY FUNCTION datum_helmert")
    try:
        assert run() == want
        assert spark in functions._REGISTERED
    finally:
        functions.register_all(spark)


def test_transform_registered_sql_matches_text_builders(spark):
    """The registered transform functions the Column builders call
    agree with the `*_sql` text builders run in DuckDB: the forward and
    inverse series and the datum stages, for one SRID of each _EPSG_TM
    family, within the existing transform tolerances (1e-6 m, 1e-9
    degrees)."""
    import duckdb

    from heavydb_spark.functions import geo

    lats = {32633: (1.0, 45.0, 70.0), 32756: (-5.0, -33.9, -60.0),
            25832: (40.0, 52.0, 60.0), 23031: (38.0, 48.9, 55.0),
            27700: (50.1, 51.5, 57.0), 2157: (51.7, 53.3, 55.2),
            2193: (-36.8, -41.3, -45.9)}
    con = duckdb.connect()

    def duck(select, rows, cols):
        """Run `select` in DuckDB over `rows` as (id, *cols) DOUBLEs."""
        values = ", ".join(
            "(" + ", ".join([str(r[0])] + [f"CAST({v!r} AS DOUBLE)"
                                           for v in r[1:]]) + ")"
            for r in rows)
        src = f"(VALUES {values}) t(id, {', '.join(cols)})"
        return {r[0]: r[1:] for r in con.execute(
            select.format(src=src)).fetchall()}

    def staged(stage_list, inner):
        sel = ", ".join(f"{sql} AS {name}" for name, sql in stage_list)
        return f"(SELECT id, {sel} FROM {inner})"

    for srid, lat_list in lats.items():
        lon0 = geo._EPSG_TM[srid].lon0
        pts = [(i, lon0 + dl, lat) for i, (dl, lat) in enumerate(
            (dl, lat) for dl in (-2.0, 0.3, 2.5) for lat in lat_list)]
        e, n = geo.tm_from_wgs84_sql("lon0", "lat0", srid)
        fwd = duck(f"SELECT id, {e}, {n} FROM {{src}}", pts, ("lon0", "lat0"))
        lon, lat = geo.tm_to_wgs84_sql("e", "n", srid)
        inv = duck(f"SELECT id, {lon}, {lat} FROM {{src}}",
                   [(i, *fwd[i]) for i, _, _ in pts], ("e", "n"))
        full = back = None
        if geo._EPSG_TM[srid].datum is not None:
            fe, fn = geo.tm_from_wgs84_sql("lon2", "lat2", srid)
            inner = "{src}"
            for stage in geo.datum_sql_stages("lon0", "lat0", srid):
                inner = staged(stage, inner)
            full = duck(f"SELECT id, {fe}, {fn} FROM {inner}", pts,
                        ("lon0", "lat0"))
            # inverse TM, then the datum shift back to WGS-84
            inner = f"(SELECT id, {lon} AS ilon, {lat} AS ilat FROM {{src}})"
            for stage in geo.datum_sql_stages("ilon", "ilat", srid,
                                              inverse=True):
                inner = staged(stage, inner)
            back = duck(f"SELECT id, lon2, lat2 FROM {inner}",
                        [(i, *full[i]) for i, _, _ in pts], ("e", "n"))

        df = spark.createDataFrame(
            [(i, x, y, *fwd[i], *(full[i] if full else fwd[i]))
             for i, x, y in pts],
            "id int, lon double, lat double, e double, n double, "
            "fe double, fn double")
        got = df.select(
            "id",
            geo.tm_from_wgs84(F.col("lon"), F.col("lat"), srid).alias("f"),
            geo.tm_to_wgs84(F.col("e"), F.col("n"), srid).alias("b"),
            geo.tm_from_wgs84_full(F.col("lon"), F.col("lat"), srid).alias("ff"),
            geo.tm_to_wgs84_full(F.col("fe"), F.col("fn"), srid).alias("bf"),
        ).collect()
        for r in got:
            i = r["id"]
            checks = [(r["f"], fwd[i], 1e-6), (r["b"], inv[i], 1e-9)]
            if full is not None:
                checks += [(r["ff"], full[i], 1e-6), (r["bf"], back[i], 1e-9)]
            for p, want, tol in checks:
                assert abs(p["x"] - want[0]) < tol, (srid, i, p, want)
                assert abs(p["y"] - want[1]) < tol, (srid, i, p, want)


def test_datum_shift_helmert(spark):
    """Helmert datum transforms (st_transform 4326<->27700/230xx):
    round-trips close to mm, the OSGB36 separation over London lands
    in the surveyed ~125 m band with the right sign pattern (WGS84
    grid-east positive, north negative), ED50 shows the textbook
    ~(+90, +210) m European-mean offset, and the datum-aware London
    answer lands on the real Trafalgar-Square grid square (TQ 3013
    8042) — a pin against external survey truth, not just internal
    consistency."""
    import math

    from heavydb_spark.functions import geo

    df = spark.createDataFrame(
        [(-0.1281, 51.5080)], "lon double, lat double"
    )
    full = geo.tm_from_wgs84_full(F.col("lon"), F.col("lat"), 27700)
    proj = geo.tm_from_wgs84(F.col("lon"), F.col("lat"), 27700)
    r = df.select(full.alias("f"), proj.alias("p")).first()
    # Trafalgar Square: BNG ~ E 530000 N 180400 (100 m square TQ3080)
    assert abs(r.f.x - 530000) < 300 and abs(r.f.y - 180420) < 300
    dx, dy = r.f.x - r.p.x, r.f.y - r.p.y
    assert 80 < dx < 140 and -90 < dy < -20  # OSGB36<-WGS84 over London
    assert 100 < math.hypot(dx, dy) < 160
    back = df.select(
        geo.tm_to_wgs84_full(full["x"], full["y"], 27700).alias("b")
    ).first().b
    assert abs(back.x - -0.1281) < 1e-6 and abs(back.y - 51.5080) < 1e-6

    # ED50 / UTM 31N vs WGS84 / UTM 31N over Paris: European mean shift
    df2 = spark.createDataFrame([(2.3522, 48.8566)], "lon double, lat double")
    ed = geo.tm_from_wgs84_full(F.col("lon"), F.col("lat"), 23031)
    wgs = geo.tm_from_wgs84(F.col("lon"), F.col("lat"), 32631)
    r2 = df2.select(ed.alias("e"), wgs.alias("w")).first()
    assert 60 < r2.e.x - r2.w.x < 130 and 150 < r2.e.y - r2.w.y < 260
    back2 = df2.select(
        geo.tm_to_wgs84_full(ed["x"], ed["y"], 23031).alias("b")
    ).first().b
    assert abs(back2.x - 2.3522) < 1e-6 and abs(back2.y - 48.8566) < 1e-6

    # st_transform dispatch composes the datum step for 27700/230xx
    p = geo.st_point(F.col("lon"), F.col("lat"))
    via = df.select(geo.st_transform(p, 4326, 27700).alias("v")).first().v
    assert abs(via.x - r.f.x) < 1e-6 and abs(via.y - r.f.y) < 1e-6


def test_shared_run_pairs_containment_and_longest_run(spark):
    """shared_run_pairs on crafted docs: a 6-token verbatim quote is
    reported with its exact token length; a fully-contained short doc
    scores containment 1.0 (the case symmetric Jaccard misses); docs
    sharing no window-length run produce no pair."""
    from heavydb_spark.operators.dedup import shared_run_pairs

    rows = [
        (1, "a b c d e f g h i j"),      # base document
        (2, "x y a b c d e f z w"),      # quotes run "a b c d e f"
        (3, "c d e f g h"),              # fully contained in doc 1
        (4, "p q r s t u"),              # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (
            r.shared_windows, r.longest_run_tokens, r.containment
        )
        for r in shared_run_pairs(df, "doc_id", "text", window=4).collect()
    }
    assert got == {
        (1, 2): (3, 6, round(3 / 7, 6)),
        (1, 3): (3, 6, 1.0),
        (2, 3): (1, 4, round(1 / 3, 6)),
    }


def test_ngram_vocab_counts_and_tiebreak(spark):
    """ngram_vocab counts ALL occurrences (not per-doc distinct),
    reports document frequency, and breaks count ties by gram asc."""
    from heavydb_spark.operators.text import ngram_vocab

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    got = [
        (r.gram, r.occurrences, r.doc_freq)
        for r in ngram_vocab(df, "doc_id", "text", n=2, top_k=2).collect()
    ]
    assert got == [("a b", 3, 2), ("b a", 1, 1)]


def test_tfidf_top_terms_scores_and_ranks(spark):
    """tfidf_top_terms: tf·ln(N/df) with 6dp rounding before the
    (score desc, term asc) rank — a corpus-unique term dominates."""
    import math

    from heavydb_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "x x y"), (2, "y z"), (3, "z z z")],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.term, r.tf, r.df, r.score)
        for r in tfidf_top_terms(df, "doc_id", "text", top_k=1).collect()
    }
    assert got == {
        1: ("x", 2, 1, round(2 * math.log(3), 6)),
        2: ("y", 1, 2, round(math.log(1.5), 6)),  # y/z tie -> term asc
        3: ("z", 3, 2, round(3 * math.log(1.5), 6)),
    }


def test_group_shingle_overlap_exact_matrix(spark):
    """group_shingle_overlap: exact shingle intersection / jaccard /
    containment per group pair; disjoint groups produce no row."""
    from heavydb_spark.operators.dedup import group_shingle_overlap

    df = spark.createDataFrame(
        [("A", "a b c d"), ("B", "b c d e"), ("C", "x y z w")],
        "source string, text string",
    )
    rows = group_shingle_overlap(df, "source", "text", n=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.group_a, r.group_b) == ("A", "B")
    assert (r.shared_shingles, r.n_a, r.n_b) == (1, 2, 2)
    assert (r.jaccard, r.containment) == (round(1 / 3, 6), 0.5)


def test_mix_temperature_upsamples_small_sources(spark):
    """mix_temperature with alpha=0.5 on a 100-vs-4 row corpus: the
    small source's rate clamps at 1.0 (kept whole), the big source
    gets the exact normalized rate 10/12*52/100 = 0.433333, and the
    realized keep fraction tracks it."""
    from heavydb_spark.operators.pipeline import mix_temperature

    rows = [(i, "A") for i in range(100)] + [
        (1000 + i, "B") for i in range(4)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = mix_temperature(
        df, "source", "doc_id", alpha=0.5, target_fraction=0.5
    ).collect()
    by_src = {}
    for r in kept:
        by_src.setdefault(r.source, []).append(r)
    assert len(by_src["B"]) == 4  # clamped at 1.0: kept whole
    assert all(r.mix_rate == 1.0 for r in by_src["B"])
    assert all(r.mix_rate == 0.433333 for r in by_src["A"])
    assert 25 <= len(by_src["A"]) <= 60  # hash-realized ~43%


def test_remove_duplicate_spans_edit_semantics(spark):
    """remove_duplicate_spans on crafted docs (window=4): overlapping
    duplicated windows union their covered positions (doc 2 keeps only
    its non-quoted flanks); the first occurrence — min (doc, pos) — is
    always kept verbatim (doc 1 unedited); a within-doc repeat
    collapses to its first copy (doc 5); sub-window docs pass through
    (doc 4)."""
    from heavydb_spark.operators.dedup import remove_duplicate_spans

    rows = [
        (1, "a b c d e f"),          # first occurrence: kept whole
        (2, "x a b c d e y"),        # quotes "a b c d e" from doc 1
        (3, "p q r s"),              # unique window
        (4, "m n"),                  # shorter than window
        (5, "u v w z u v w z"),      # within-doc verbatim repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(
            df, "doc_id", "text", window=4
        ).collect()
    }
    assert got == {
        1: ("a b c d e f", 6, 0),
        2: ("x y", 2, 5),
        3: ("p q r s", 4, 0),
        4: ("m n", 2, 0),
        5: ("u v w z", 4, 4),
    }


def test_remove_duplicate_spans_null_text(spark):
    """A NULL text keeps zero tokens and removes zero — under the
    session's non-ANSI mode size(NULL) is -1 and an unguarded
    sequence(0, size-1) DESCENDS, which once yielded kept_pos
    [0, -1, -2] (n_tokens=3, n_removed=-4) for a null doc."""
    from heavydb_spark.operators.dedup import remove_duplicate_spans

    rows = [(1, "a b c d e f"), (2, None), (3, "a b c d e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed)
        for r in remove_duplicate_spans(
            df, "doc_id", "text", window=4
        ).collect()
    }
    assert got[2] == ("", 0, 0)
    assert got[1] == ("a b c d e f", 6, 0)  # doc 3 quotes doc 1
    assert got[3] == ("", 0, 6)


def test_fuzzy_string_pairs_null_strings(spark):
    """NULL strings never pair (levenshtein is null) and are dropped
    BEFORE the variant explode — many null rows must not block on one
    shared null-hash key (the O(k^2) dead-candidate hazard)."""
    from heavydb_spark.operators.dedup import fuzzy_string_pairs

    rows = [(1, "abc"), (2, "abd"), (3, None), (4, None), (5, None)]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_string_pairs(df, "id", "s").collect()
    }
    assert got == {(1, 2): 1}


def test_remove_boilerplate_segments_semantics(spark):
    """remove_boilerplate_segments on crafted docs (seg=2, min_docs=3):
    a segment repeated in 3+ distinct docs is removed from EVERY doc
    (no keeper — unlike remove_duplicate_spans); a segment in only 2
    docs survives; within-doc repetition counts the doc once (doc 6's
    double "hdr x" does not reach min_docs alone); segmentation is
    disjoint, so doc 5's straddling "x hdr" is NOT a boilerplate hit;
    a short tail segment is its own unit; fully-boilerplate docs come
    back empty, not dropped."""
    from heavydb_spark.operators.dedup import remove_boilerplate_segments

    rows = [
        (1, "hdr x a b"),       # "hdr x" boiler; "a b" only here
        (2, "hdr x c d"),       # "hdr x" boiler
        (3, "hdr x"),           # fully boilerplate -> empty
        (4, "e f e f"),         # "e f" twice in ONE doc: 1 distinct doc
        (5, "q x hdr"),         # segments "q x","hdr": "x hdr" straddles
        (6, "hdr x hdr x g"),   # both "hdr x" segments removed; tail "g"
        (7, "e f z"),           # "e f" now in 2 docs: still < 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.clean_text, r.n_tokens, r.n_removed_segments)
        for r in remove_boilerplate_segments(
            df, "doc_id", "text", seg=2, min_docs=3
        ).collect()
    }
    assert got == {
        1: ("a b", 2, 1),
        2: ("c d", 2, 1),
        3: ("", 0, 1),
        4: ("e f e f", 4, 0),
        5: ("q x hdr", 3, 0),
        6: ("g", 1, 2),
        7: ("e f z", 3, 0),
    }


def test_epoch_oversample_semantics(spark):
    """epoch_oversample on a crafted recipe: whole epochs replicate
    every doc with contiguous 1-based epoch indices, the fractional
    epoch picks the portable-hash fraction (deterministic — rerun
    identical), epochs=1.0 keeps exactly one copy, sub-1.0 recipes
    keep a subset at epoch 1, and unmapped sources drop."""
    from heavydb_spark.operators.pipeline import epoch_oversample

    rows = [(i, "a" if i < 40 else "b" if i < 80 else "c", f"d{i}")
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = epoch_oversample(
        df, "source", "doc_id", {"a": 2.5, "b": 0.5}
    ).collect()
    assert all(r.source in ("a", "b") for r in out)   # 'c' dropped
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r.epoch)
    a_counts = [len(v) for d, v in by_doc.items() if d < 40]
    assert set(a_counts) <= {2, 3} and 2 in a_counts
    assert 18 <= sum(1 for c in a_counts if c == 3) <= 22  # ~half of 40
    for v in by_doc.values():
        assert sorted(v) == list(range(1, len(v) + 1))    # contiguous
    b_docs = [d for d in by_doc if d >= 40]
    assert all(len(by_doc[d]) == 1 for d in b_docs)
    assert 0 < len(b_docs) < 40                           # ~half kept
    rerun = epoch_oversample(
        df, "source", "doc_id", {"a": 2.5, "b": 0.5}
    ).collect()
    assert sorted((r.doc_id, r.epoch) for r in rerun) == sorted(
        (r.doc_id, r.epoch) for r in out
    )


def test_heavy_hitters_exact_with_certificate(spark):
    """heavy_hitters under real Misra-Gries pressure: vocabulary far
    above the summary capacity (cap=4) across multiple partitions, so
    decrements genuinely fire — the two heavy tokens must still
    surface with EXACT counts, ranked deterministically, and the
    N/(cap+1) certificate must hold; a flat corpus (no token above
    the bound) must come back uncertified."""
    from heavydb_spark.operators.text import heavy_hitters

    heavy = ["hot"] * 40 + ["warm"] * 25
    tail = [f"t{i}" for i in range(30) for _ in range(2)]
    words = heavy + tail   # N = 125, bound = 125/5 = 25
    rows = [
        (i, " ".join(words[i::8])) for i in range(8)  # deal round-robin
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    got = heavy_hitters(df, "text", k=2, candidate_factor=2).collect()
    assert [(r.token, r.cnt, r.rank) for r in got] == [
        ("hot", 40, 1), ("warm", 25, 2),
    ]
    # bound is N/(cap+1) = 25; min(top-k) = 25 is NOT strictly above it
    assert all(not r.certified for r in got)
    # a more skewed corpus certifies: warm grows past the bound
    words2 = ["hot"] * 60 + ["warm"] * 40 + tail  # N=160, bound=32
    rows2 = [(i, " ".join(words2[i::8])) for i in range(8)]
    df2 = spark.createDataFrame(rows2, "doc_id long, text string").repartition(4)
    got2 = heavy_hitters(df2, "text", k=2, candidate_factor=2).collect()
    assert [(r.token, r.cnt) for r in got2] == [("hot", 60), ("warm", 40)]
    assert all(r.certified for r in got2)


def test_pq_encode_separable_clusters(spark):
    """PQ on crafted 4-dim data, m=2 subspaces x ksub=2 centroids:
    Lloyd recovers the two well-separated clusters per subspace, so
    vectors agreeing in a subspace share that code; codes land in
    [0, ksub); ADC search ranks the exact duplicate of the query
    first (its reconstruction is the closest attainable) and the
    opposite-cluster vector last."""
    import numpy as np

    from heavydb_spark.operators.similarity import (
        pq_encode, pq_search_adc, pq_train,
    )

    lo, hi = [0.0, 0.1], [10.0, 9.9]
    rows = [
        (0, lo + lo), (1, lo + lo), (2, lo + hi),
        (3, hi + lo), (4, hi + hi), (5, hi + hi),
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    )
    books = pq_train(
        df, "embedding", "vec_id", m=2, ksub=2, sample=6, iters=5
    )
    assert books.shape == (2, 2, 2)
    codes = {
        r.vec_id: tuple(r.codes)
        for r in pq_encode(df, "embedding", books, "vec_id").collect()
    }
    assert all(0 <= c < 2 for cs in codes.values() for c in cs)
    assert codes[0] == codes[1]                    # identical vectors
    assert codes[4] == codes[5]
    assert codes[0][0] == codes[2][0]              # shared lo subspace 1
    assert codes[0][1] == codes[3][1]              # shared lo subspace 2
    assert codes[0][0] != codes[3][0]              # separated clusters
    assert codes[0][1] != codes[2][1]
    got = pq_search_adc(
        df, "embedding", lo + lo, books, k=6
    ).collect()
    assert {r.vec_id for r in got[:2]} == {0, 1}   # exact copies first
    assert got[-1].vec_id in (4, 5)                # opposite cluster last
    assert got[0].adc_dist == got[1].adc_dist


def test_ivfpq_residual_encoding_beats_raw(spark):
    """Residual PQ (FAISS IndexIVFPQ default) on crafted two-cluster
    data: raw PQ with ksub=2 must spend its centroids separating the
    clusters (losing the intra-cluster jitter), while residual PQ
    subtracts the coarse centroid first so the SAME code budget
    encodes the jitter — mean reconstruction error strictly drops.
    The residual-mode search still puts an exact duplicate of the
    query at the minimum ADC distance inside its probed list."""
    from pyspark.sql import functions as F

    from heavydb_spark.operators.similarity import (
        ann_topk_ivfpq, ivf_index, list_residual_col,
        pq_reconstruction, pq_train,
    )

    jitters = [
        (0, 0, 0, 0), (1, 0, 1, 0), (0, 1, 0, 1),
        (1, 1, 1, 1), (2, 0, 0, 2), (0, 2, 2, 0),
    ]
    rows = [
        (cl * 6 + i, [float(base + x) for x in j])
        for cl, base in ((0, 0.0), (1, 100.0))
        for i, j in enumerate(jitters)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    books = pq_train(
        df, "embedding", "vec_id", m=2, ksub=2, sample=12, iters=8
    )
    raw_mse = pq_reconstruction(df, "embedding", books, "vec_id").agg(
        F.avg("recon_sq_err")
    ).first()[0]
    indexed, cents = ivf_index(df, "embedding", n_lists=2, max_iter=8)
    resid = indexed.withColumn(
        "__resid", list_residual_col(cents, "embedding")
    )
    rbooks = pq_train(
        resid, "__resid", "vec_id", m=2, ksub=2, sample=12, iters=8
    )
    res_mse = pq_reconstruction(resid, "__resid", rbooks, "vec_id").agg(
        F.avg("recon_sq_err")
    ).first()[0]
    assert res_mse < raw_mse
    # exact duplicate of vec 1's embedding: minimum ADC distance in
    # residual mode (ties with identical-code vectors allowed)
    q = [1.0, 0.0, 1.0, 0.0]
    top = ann_topk_ivfpq(
        df, "embedding", q, k=3, n_lists=2, nprobe=1, m=2, ksub=2,
        residual=True,
    ).collect()
    d = {r.vec_id: r.adc_dist for r in top}
    assert 1 in d and d[1] == min(d.values())
    # probed-list pruning: the far cluster (ids 6-11) never surfaces
    assert all(r.vec_id < 6 for r in top)


def test_scalar_quantize_code_semantics(spark):
    """scalar_quantize on crafted 3-dim vectors: per-dim min codes to
    0 and max to 255 exactly; a constant dimension codes to 0 with
    zero error; midpoints round half-up; dequantization error is
    bounded by half a quantization step per dimension."""
    from heavydb_spark.operators.similarity import scalar_quantize

    rows = [
        (1, [0.0, 5.0, -1.0]),
        (2, [1.0, 5.0, 1.0]),
        (3, [0.5, 5.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = {
        r.vec_id: r
        for r in scalar_quantize(df, "embedding", "vec_id").collect()
    }
    assert list(out[1].codes) == [0, 0, 0]       # mins (dim2 constant)
    assert list(out[2].codes) == [255, 0, 255]   # maxs; constant dim -> 0
    # 0.5 of [0,1] -> 127.5 rounds half-up to 128
    assert list(out[3].codes) == [128, 0, 128]
    step = 1.0 / 255  # dim ranges are 1.0 and 2.0
    assert out[1].max_abs_err == 0.0
    assert out[2].max_abs_err == 0.0
    for r in out.values():
        # + 5e-7: the report rounds max_abs_err half-up at 6dp
        assert r.max_abs_err <= 2.0 * step / 2 + 5e-7
        assert r.mse <= (2.0 * step / 2) ** 2 + 1e-9


def _py_bpe_encode(word, merges):
    """Reference BPE encode: the trainer's greedy left-to-right fold,
    one pass per merge in priority order."""
    sym = list(word) + ["</w>"]
    for left, right in merges:
        out = []
        for s in sym:
            if out and out[-1] == left and s == right:
                out[-1] = left + right
            else:
                out.append(s)
        sym = out
    return sym


def test_bpe_encode_matches_python_replay(spark):
    """bpe_encode_words against the pure-Python fold on a crafted
    corpus: repeated-symbol merges stay greedy-non-overlapping
    ('aaa' + (a,a) -> [aa, a]), chained merges consume earlier merge
    outputs ((t,a) then (ta,ta) turns 'tata' into one symbol),
    end-marker merges work, and doc-level counts aggregate the
    word-type encodings."""
    from heavydb_spark.operators.text import (
        bpe_encode_docs, bpe_encode_words,
    )

    rows = [
        (1, "tata data aaa"),
        (2, "banana aaaa ta"),
        (3, "t a tat tata"),
    ]
    merges = [("t", "a"), ("a", "a"), ("ta", "ta"), ("a", "</w>")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.word: list(r.symbols)
        for r in bpe_encode_words(df, "text", merges).collect()
    }
    words = {w for _, t in rows for w in t.split()}
    assert set(got) == words
    for w in words:
        assert got[w] == _py_bpe_encode(w, merges), w
    # spot-check the interesting ones explicitly
    assert got["tata"] == ["tata", "</w>"]
    assert got["aaa"] == ["aa", "a</w>"]
    assert got["aaaa"] == ["aa", "aa", "</w>"]
    assert got["banana"] == ["b", "a", "n", "a", "n", "a</w>"]
    docs = {
        r.doc_id: (r.n_words, r.n_subwords)
        for r in bpe_encode_docs(df, "doc_id", "text", merges).collect()
    }
    expect = {
        d: (
            len(t.split()),
            sum(len(_py_bpe_encode(w, merges)) for w in t.split()),
        )
        for d, t in rows
    }
    assert docs == expect


def test_bpe_train_encode_loop_closure(spark):
    """Encoding the training corpus under the learned merges must
    reproduce the trainer's own final word-type symbols (the encoder
    replays the identical fold sequence)."""
    from heavydb_spark.operators.text import bpe_encode_words, bpe_train

    rows = [(1, "low lower lowest low low newer newest new")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(df, "text", n_merges=6).collect()
    ]
    assert len(merges) == 6
    enc = bpe_encode_words(df, "text", merges).collect()
    for r in enc:
        assert list(r.symbols) == _py_bpe_encode(r.word, merges), r.word
        assert "".join(r.symbols) == r.word + "</w>"


def test_semantic_dedup_keep_rule_and_chain(spark):
    """semantic_dedup one-pass keep rule: identical copies collapse to
    the LOWEST id (a three-copy chain maps both later copies to the
    first, not to each other); scaled copies (cosine 1) also collapse;
    distinct vectors are kept with NULL dup_of."""
    from heavydb_spark.operators.similarity import semantic_dedup

    base = [
        [1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 1.5, 0.25],
        [-3.0, 1.0, 2.0, -0.5, 0.0, 1.0, -1.0, 2.0],
    ]
    rows = [(0, base[0]), (1, base[1])]
    rows.append((10, base[0]))                       # copy of 0
    rows.append((30, base[0]))                       # second copy of 0
    rows.append((11, [x * 2.5 for x in base[1]]))    # scaled copy of 1
    rows.append((20, [0.0] * 7 + [1000.0]))          # unrelated
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.kept, r.dup_of)
        for r in semantic_dedup(
            df, "embedding", "vec_id", threshold=0.95, n_planes=4, dim=8
        ).collect()
    }
    assert out[0] == (True, None)
    assert out[1] == (True, None)
    assert out[10] == (False, 0)
    assert out[30] == (False, 0)      # chain collapses to the first id
    assert out[11] == (False, 1)
    assert out[20] == (True, None)


def test_quality_classifier_score_contract(spark):
    """quality_classifier_score: token counts are whitespace counts,
    the label is exactly sign(logit), identical texts score identically,
    and the seeded weight table is deterministic and bounded."""
    from heavydb_spark.operators.text import (
        classifier_weights,
        quality_classifier_score,
    )

    w = classifier_weights(64, 9)
    assert len(w) == 64
    assert w == classifier_weights(64, 9)
    assert all(-1.0 <= v < 1.0 for v in w)

    rows = [
        (1, "the quick brown fox jumps"),
        (2, "the quick brown fox jumps"),
        (3, "lorem"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in quality_classifier_score(df).collect()}
    assert out[1].n_tokens == 5 and out[3].n_tokens == 1
    assert out[1].quality_logit == out[2].quality_logit
    for r in out.values():
        assert r.quality_label == (r.quality_logit >= 0)


def test_lm_perplexity_score_exact_math(spark):
    """lm_perplexity_score with an explicit train corpus: add-one
    bigram probabilities verified by hand — a seen bigram scores
    (c2+1)/(c1+V), an unseen prefix backs off to 1/V-smoothed mass,
    and a one-token doc gets 0 bigrams with NULL score."""
    from heavydb_spark.operators.text import lm_perplexity_score

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
    )
    # train counts: c2(a,b)=2 c2(b,a)=1 c2(a,c)=1; c1(a)=3 c1(b)=1; V=3
    score = spark.createDataFrame(
        [(10, "a b c"), (11, "z"), (12, "z q")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in lm_perplexity_score(score, train_df=train).collect()
    }
    # doc 10: P(a,b)=(2+1)/(3+3)=1/2, P(b,c)=(0+1)/(1+3)=1/4
    assert out[10].n_bigrams == 2
    assert out[10].avg_logprob == -1.039721      # (ln .5 + ln .25)/2
    assert out[10].ppl == 2.8284                 # 2*sqrt(2)
    # doc 11: single token -> no bigrams, null scores
    assert out[11].n_bigrams == 0
    assert out[11].avg_logprob is None and out[11].ppl is None
    # doc 12: unseen prefix z -> P=(0+1)/(0+3)=1/3
    assert out[12].avg_logprob == -1.098612
    assert out[12].ppl == 3.0


def test_shared_run_and_jaccard_max_df_cap(spark):
    """max_df skew cap: a boilerplate run shared by 4 docs exceeds the
    cap and generates NO candidates; a rare run shared by 2 docs
    survives. Jaccard sizes count kept shingles only (true ratio over
    the compared sets)."""
    from heavydb_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shared_run_pairs,
    )

    hot = "every page has this exact same footer line here"
    rows = [
        (1, hot + " unique one alpha beta gamma delta epsilon"),
        (2, hot + " unique one alpha beta gamma delta zeta"),
        (3, hot),
        (4, hot),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = shared_run_pairs(df, "doc_id", "text", window=4)
    assert uncapped.count() == 6          # all C(4,2) pairs via footer
    capped = {
        (r.doc_a, r.doc_b)
        for r in shared_run_pairs(
            df, "doc_id", "text", window=4, max_df=3
        ).collect()
    }
    assert capped == {(1, 2)}             # only the rare shared run

    jac = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=3, threshold=0.3, max_df=3
        ).collect()
    }
    assert jac == {(1, 2)}


def test_semantic_dedup_kmeans_matches_contract(spark):
    """semantic_dedup_kmeans (real k-means clusters) obeys the same
    keep contract as the LSH-blocked variant on planted duplicates:
    identical copies share every centroid distance, so they always
    land in one cluster and collapse to the lowest id."""
    pytest.importorskip("pyspark.ml")
    from heavydb_spark.operators.similarity import semantic_dedup_kmeans

    base = [
        [1.0, 2.0, -1.0, 0.5, 3.0, -2.0, 1.5, 0.25],
        [-3.0, 1.0, 2.0, -0.5, 0.0, 1.0, -1.0, 2.0],
    ]
    rows = [(0, base[0]), (1, base[1]), (10, base[0]), (30, base[0]),
            (11, [x * 2.5 for x in base[1]]), (20, [0.0] * 7 + [1000.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.kept, r.dup_of)
        for r in semantic_dedup_kmeans(
            df, "embedding", "vec_id", threshold=0.95, n_lists=2
        ).collect()
    }
    assert out[10] == (False, 0) and out[30] == (False, 0)
    assert out[11] == (False, 1)
    assert out[0] == (True, None) and out[1] == (True, None)
    assert out[20] == (True, None)


def test_dsir_importance_separates_domains(spark):
    """dsir_importance on a corpus with disjoint domain vocabularies:
    docs written in the target vocabulary get positive mean log ratio
    and are selected; off-domain docs score negative; a mixed doc
    lands between the two."""
    from heavydb_spark.operators.pipeline import dsir_importance

    # words chosen collision-free under the portable hash mod 64
    # (kappa collides with gamma there — merged buckets would blur the
    # domains and are the realistic failure mode, not a test target)
    tgt_words = "alpha beta gamma delta"
    off_words = "omega sigma theta zeta"
    rows = [
        (1, f"{tgt_words} {tgt_words}"),
        (2, f"{tgt_words} alpha beta"),
        (3, f"{off_words} {off_words}"),
        (4, f"{off_words} sigma"),
        (5, f"{tgt_words} {off_words}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = df.filter(F.col("doc_id").isin(1, 2))
    out = {
        r.doc_id: r
        for r in dsir_importance(df, target, n_buckets=64).collect()
    }
    assert out[1].selected and out[2].selected
    assert not out[3].selected and not out[4].selected
    assert out[1].avg_log_ratio > out[5].avg_log_ratio > out[3].avg_log_ratio
    assert out[1].n_tokens == 8


def test_bpe_train_sennrich_worked_example(spark):
    """bpe_train reproduces the greedy merge sequence of the BPE paper's
    worked example (low/lower/newest/widest with end-of-word markers):
    ties at count 9 resolve (left asc) to es -> est -> est</w>, then
    the 7-count l/o chain, then (e,w) from the 6-count tie."""
    from heavydb_spark.operators.text import bpe_train

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(corpus,)], "text string")
    got = [
        (r.step, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train(df, "text", n_merges=6).orderBy("step").collect()
    ]
    assert got == [
        (1, "e", "s", "es", 9),
        (2, "es", "t", "est", 9),
        (3, "est", "</w>", "est</w>", 9),
        (4, "l", "o", "lo", 7),
        (5, "lo", "w", "low", 7),
        (6, "e", "w", "ew", 6),
    ]


def test_bpe_pair_counts_matches_first_round(spark):
    """bpe_pair_counts top-1 equals bpe_train's first merge on the same
    corpus — the oracle-checkable contract for the iterative trainer."""
    from heavydb_spark.operators.text import bpe_pair_counts, bpe_train

    df = spark.createDataFrame(
        [("aa ab aa",), ("ab aa ba",)], "text string"
    )
    top = bpe_pair_counts(df, "text", top_k=1).first()
    first = bpe_train(df, "text", n_merges=1).first()
    assert (top.left, top.right, top.pair_count) == (
        first.left, first.right, first.pair_count
    )


def test_shard_assign_balanced_and_deterministic(spark):
    """shard_assign: every doc gets exactly one (shard, pos); positions
    within a shard are dense 0..n-1 in (hash, id) order; assignment is
    reproducible across runs (portable hash, no RNG)."""
    from heavydb_spark.operators.pipeline import shard_assign

    df = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    out = shard_assign(df, "doc_id", n_shards=4).collect()
    assert len(out) == 200
    by_shard = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r.pos)
    assert set(by_shard) <= set(range(4))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss)))  # dense ranks
    again = {
        (r.doc_id, r.shard, r.pos)
        for r in shard_assign(df, "doc_id", n_shards=4).collect()
    }
    assert again == {(r.doc_id, r.shard, r.pos) for r in out}


def test_label_centroids_coherent_vs_diffuse(spark):
    """label_centroids: a label whose members all equal one vector has
    avg_cos = min_cos = 1.0; a label with two opposite vectors has a
    zero centroid-direction spread (avg_cos 0 against the orthogonal
    residual is degenerate, so use near-opposite vectors: min_cos well
    below the coherent label's)."""
    from heavydb_spark.operators.similarity import label_centroids

    rows = (
        [(i, [1.0, 0.0, 0.0], 0) for i in range(4)]
        + [(10, [1.0, 0.2, 0.0], 1), (11, [-1.0, 0.2, 0.0], 1)]
    )
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        r.label: (r.n_vecs, r.avg_cos, r.min_cos)
        for r in label_centroids(df, "embedding", "label").collect()
    }
    assert got[0] == (4, 1.0, 1.0)
    assert got[1][0] == 2
    assert got[1][2] < 1.0  # near-opposite members can't both align


def test_gopher_filter_rule_attribution(spark):
    """gopher_filter reports WHICH rule rejected each doc: a too-short
    doc fails only ok_len; a one-word-spam doc fails the repetition
    cap and distinct floor; a clean doc passes all four."""
    from heavydb_spark.operators.text import gopher_filter

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # clean
        (2, "tiny doc"),                                        # short
        (3, " ".join(["spam"] * 40)),                           # repeat
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.ok_len, r.ok_top_word, r.ok_distinct, r.kept)
        for r in gopher_filter(
            df, "text", "doc_id",
            min_tokens=5, max_tokens=100,
            max_top_word=0.3, min_distinct=0.3,
        ).collect()
    }
    assert got[1] == (True, True, True, True)
    assert got[2][0] is False and got[2][3] is False
    assert got[3] == (True, False, False, False)


def test_bm25_topk_crafted_corpus(spark):
    """bm25_topk on a hand-built corpus vs a pure-Python Okapi BM25
    (Lucene idf form) computed in the test: exact (doc, n_matched,
    score) agreement after the 4dp half-up rounding, no-match docs
    excluded, score-desc/doc-id ordering, and the k cut applied."""
    import math

    from heavydb_spark.operators.retrieval import bm25_topk

    corpus = {
        1: "cat cat cat dog",
        2: "cat mouse mouse mouse mouse mouse",
        3: "dog",
        4: "mouse bird fish",          # matches nothing
        5: "cat dog cat dog cat dog cat dog",
    }
    df = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    k1, b = 1.2, 0.75
    toks = {d: t.split() for d, t in corpus.items()}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    def score(d, terms):
        s, matched = 0.0, 0
        for t in terms:
            tf = toks[d].count(t)
            df_t = sum(1 for v in toks.values() if t in v)
            if tf:
                matched += 1
            idf = math.log(1 + (n - df_t + 0.5) / (df_t + 0.5))
            dl = len(toks[d])
            s += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
        return matched, math.floor(s * 1e4 + 0.5) / 1e4

    terms = ("cat", "dog")
    exp = [(d,) + score(d, terms) for d in corpus if score(d, terms)[0]]
    exp.sort(key=lambda r: (-r[2], r[0]))

    got = [
        (r.doc_id, r.n_matched, r.score)
        for r in bm25_topk(df, terms, k=10).collect()
    ]
    assert got == exp
    # the k cut keeps the best `k` of the same ordering
    got2 = [
        (r.doc_id, r.n_matched, r.score)
        for r in bm25_topk(df, terms, k=2).collect()
    ]
    assert got2 == exp[:2]


def test_chunk_windows_boundaries(spark):
    """chunk_windows on crafted docs: stride-spaced starts, size-capped
    slices, a short tail chunk, the single-chunk short doc, and full
    token coverage with the declared overlap."""
    from heavydb_spark.operators.text import chunk_windows

    rows = [
        (1, " ".join(f"w{i}" for i in range(10))),  # 10 toks: starts 0,3,6,9
        (2, "a b"),                                  # 2 toks: one chunk
        (3, "solo"),                                 # 1 tok: one chunk
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_idx): (r.start_tok, r.n_chunk_tokens)
        for r in chunk_windows(df, size=4, stride=3).collect()
    }
    assert got == {
        (1, 0): (0, 4), (1, 1): (3, 4), (1, 2): (6, 4), (1, 3): (9, 1),
        (2, 0): (0, 2),
        (3, 0): (0, 1),
    }
    # chunk hashes equal md5 of the joined token slice
    import hashlib
    one = {
        r.chunk_idx: r.chunk_hash
        for r in chunk_windows(df, size=4, stride=3)
        .filter("doc_id = 1").collect()
    }
    toks = [f"w{i}" for i in range(10)]
    for idx, start in enumerate((0, 3, 6, 9)):
        exp = hashlib.md5(" ".join(toks[start:start + 4]).encode()).hexdigest()
        assert one[idx] == exp


def test_hybrid_rerank_two_stage(spark):
    """hybrid_rerank on a crafted corpus: only BM25-matching docs are
    candidates, the dense stage re-orders them by cosine to the query
    vector (not by BM25), scores match a pure-Python computation, and
    the stage-1 cut (m) bounds what stage 2 can return."""
    import math

    from heavydb_spark.operators.retrieval import hybrid_rerank

    docs = [
        (1, "cat cat cat"),      # strong lexical, opposite embedding
        (2, "cat dog"),          # matches, aligned embedding
        (3, "dog"),              # matches, orthogonal embedding
        (4, "mouse bird"),       # no lexical match -> excluded
    ]
    embs = [
        (1, [-1.0, 0.0]),
        (2, [3.0, 0.0]),
        (3, [0.0, 2.0]),
        (4, [1.0, 0.0]),
    ]
    d = spark.createDataFrame(docs, "doc_id long, text string")
    e = spark.createDataFrame(embs, "vec_id long, embedding array<float>")
    qv = [1.0, 1.0]
    got = [
        (r.doc_id, r.cos_sim)
        for r in hybrid_rerank(d, e, ("cat", "dog"), qv, m=10, k=10).collect()
    ]
    cos = lambda v: round(
        (v[0] + v[1]) / (math.hypot(*v) * math.sqrt(2.0)), 6
    )
    assert got == [(2, cos([3.0, 0.0])), (3, cos([0.0, 2.0])),
                   (1, cos([-1.0, 0.0]))]
    # m=2 keeps only the two best BM25 docs before the dense stage
    got2 = [r.doc_id for r in
            hybrid_rerank(d, e, ("cat", "dog"), qv, m=2, k=10).collect()]
    assert set(got2) <= {1, 2, 3} and len(got2) == 2


def test_hll_sketch_merge_rollup(spark, ddb):
    """agg_hll_sketch_merge contract on the fixture corpus: per-source
    exact NDVs, sketch estimates inside the max(2, 5%) tolerance, and
    the __ALL__ row deduplicating across sources via sketch UNION (not
    a rescan) — plus the catalog-level guarantee that the union row's
    n_exact is the true global NDV, not the sum of parts."""
    from heavydb_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    rows = QUERIES["agg_hll_sketch_merge"](spark, SF_DIR).collect()
    per = [r for r in rows if r.source != "__ALL__"]
    total = [r for r in rows if r.source == "__ALL__"]
    assert len(total) == 1 and per
    assert all(r.est_ok for r in rows)
    # cross-source duplicates (if any) make global <= sum of parts
    assert total[0].n_exact <= sum(r.n_exact for r in per)
    exact = ddb.sql(
        f"SELECT count(DISTINCT md5(text)) FROM "
        f"'{SF_DIR}/documents.parquet'"
    ).fetchone()[0]
    assert total[0].n_exact == exact


def test_zorder_layout_bit_exact(spark):
    """zorder_key against hand-interleaved bits; quantize clamping;
    fragment = top bits; the skip flag from fragment bboxes."""
    from heavydb_spark.operators.spatial import (
        zorder_fragment_report, zorder_key, zorder_quantize,
    )
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        zorder_key(F.lit(3).cast("long"), F.lit(5).cast("long"), 3)
        .alias("z"),
        zorder_key(F.lit(0).cast("long"), F.lit(7).cast("long"), 3)
        .alias("z2"),
        zorder_quantize(F.lit(-4.0), 0.0, 100.0, 8).alias("qlo"),
        zorder_quantize(F.lit(250.0), 0.0, 100.0, 8).alias("qhi"),
        zorder_quantize(F.lit(50.0), 0.0, 100.0, 8).alias("qmid"),
    ).first()
    # x=011, y=101 interleaved (y odd bits, x even) -> 100111b = 39
    assert df.z == 39
    # x=000, y=111 -> 101010b = 42
    assert df.z2 == 42
    assert df.qlo == 0 and df.qhi == 255 and df.qmid == 128

    pts = spark.createDataFrame(
        [(i, float(i % 10) * 10.0, float((i * 3) % 10) * 10.0)
         for i in range(100)],
        "pid long, x double, y double",
    )
    rep = zorder_fragment_report(
        pts, "x", "y", (0.0, 100.0), (0.0, 100.0),
        bits=4, frag_bits=2, query_window=(0.0, 0.0, 5.0, 5.0),
    ).collect()
    assert sum(r.n_rows for r in rep) == 100
    for r in rep:
        assert 0 <= r.fragment < 4
        assert r.zmin >> 6 == r.fragment and r.zmax >> 6 == r.fragment
    # the tiny corner window must skip at least one fragment
    assert sum(1 for r in rep if not r.scan_hits) >= 1


def test_asof_join_semantics(spark):
    """asof_join: backward picks the latest right at-or-before,
    equal-ts matches (DuckDB/pandas >= semantics), tolerance nulls
    distant matches, keys without right rows get nulls, and forward
    mirrors the direction."""
    from datetime import datetime as dt

    from heavydb_spark.operators.temporal import asof_join

    l = spark.createDataFrame(
        [
            (1, "u1", dt(2024, 1, 1, 10, 0, 0)),
            (2, "u1", dt(2024, 1, 1, 12, 0, 0)),
            (3, "u2", dt(2024, 1, 1, 9, 0, 0)),   # before any right
            (4, "u3", dt(2024, 1, 1, 9, 0, 0)),   # key has no right rows
        ],
        "id long, k string, ts timestamp",
    )
    r = spark.createDataFrame(
        [
            ("u1", dt(2024, 1, 1, 10, 0, 0), 100.0),  # ties id=1 exactly
            ("u1", dt(2024, 1, 1, 11, 30, 0), 200.0),
            ("u2", dt(2024, 1, 1, 9, 30, 0), 300.0),
        ],
        "k string, ts timestamp, v double",
    )
    got = {
        row.id: (row.r_match_ts, row.r_v)
        for row in asof_join(l, r, ["k"], "ts", "ts").collect()
    }
    assert got[1] == (dt(2024, 1, 1, 10, 0, 0), 100.0)   # equal ts matches
    assert got[2] == (dt(2024, 1, 1, 11, 30, 0), 200.0)  # latest before
    assert got[3] == (None, None)                         # nothing before
    assert got[4] == (None, None)                         # key absent
    # tolerance: id=2's match is 30 min back -> survives 1h, dies at 10s
    tight = {
        row.id: row.r_v
        for row in asof_join(
            l, r, ["k"], "ts", "ts", tolerance_seconds=10
        ).collect()
    }
    assert tight[1] == 100.0 and tight[2] is None
    # forward: id=3 now matches u2's 9:30 row
    fwd = {
        row.id: row.r_v
        for row in asof_join(
            l, r, ["k"], "ts", "ts", direction="forward"
        ).collect()
    }
    assert fwd[3] == 300.0 and fwd[2] is None  # nothing after 12:00


def test_fuzzy_string_pairs_completeness(spark):
    """fuzzy_string_pairs vs a brute-force distance-1 ground truth on
    adversarial strings: substitutions, inserts/deletes across
    lengths, exact duplicates, empty strings, and far pairs that the
    blocking must still exclude."""
    from heavydb_spark.operators.dedup import fuzzy_string_pairs

    vals = ["abc", "abd", "ab", "abcd", "xyz", "abc", "", "a", "zzzz"]
    rows = [(i, s) for i, s in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, s string")

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    expected = {
        (i, j)
        for i in range(len(vals))
        for j in range(i + 1, len(vals))
        if lev(vals[i], vals[j]) <= 1
    }
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_string_pairs(df, "id", "s").collect()
    }
    assert got == expected


def test_weighted_sample_aes(spark):
    """weighted_sample: deterministic across reruns, excludes
    non-positive weights, respects k, and a 100x weight dominates —
    across many disjoint id blocks the heavy id is picked essentially
    always (A-ES inclusion scales with weight)."""
    from heavydb_spark.operators.pipeline import weighted_sample

    rows = []
    for blk in range(40):
        base = blk * 100
        rows.append((base, 10_000.0))            # heavy
        rows += [(base + i, 1.0) for i in range(1, 10)]  # light
    rows.append((9_999, 0.0))                     # excluded
    df = spark.createDataFrame(rows, "id long, w double")
    got = [r.id for r in weighted_sample(df, "id", "w", k=40).collect()]
    assert len(got) == 40 and 9_999 not in got
    heavy_hit = sum(1 for i in got if i % 100 == 0)
    assert heavy_hit >= 30   # ~40 expected; light ids rarely outrank
    rerun = [r.id for r in weighted_sample(df, "id", "w", k=40).collect()]
    assert sorted(got) == sorted(rerun)


def test_winsorize_clamps_exact_bounds(spark):
    """winsorize on a crafted group: exact interpolated p05/p95 of
    0..100 are 5.0/95.0; values clamp to them; inner values pass
    through; a second group is bounded independently."""
    from heavydb_spark.operators.pipeline import winsorize

    rows = [("a", float(v)) for v in range(101)] + [
        ("b", 0.0), ("b", 10.0), ("b", 20.0),
    ]
    df = spark.createDataFrame(rows, "g string, value double")
    out = winsorize(df, "g", "value", 0.05, 0.95)
    a = {r.value: r.value_w for r in out.filter("g = 'a'").collect()}
    assert a[0.0] == 5.0 and a[3.0] == 5.0 and a[5.0] == 5.0
    assert a[50.0] == 50.0
    assert a[95.0] == 95.0 and a[99.0] == 95.0 and a[100.0] == 95.0
    b = out.filter("g = 'b'").select("p_lo", "p_hi").first()
    assert b.p_lo == 1.0 and b.p_hi == 19.0  # interpolated on 3 points


def test_source_divergence_properties(spark):
    """KL on a crafted corpus: a source identical to the corpus-wide
    mix has KL ~0; a skewed source has strictly larger KL; all KLs
    are non-negative (Gibbs)."""
    from heavydb_spark.queries import QUERIES
    import tempfile, os

    rows = (
        [(i, "a b c d", "en", "bal", 7) for i in range(20)]
        + [(100 + i, "a a a a", "en", "skew", 7) for i in range(20)]
        + [(200 + i, "a b c d", "en", "bal2", 7) for i in range(20)]
    )
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(os.path.join(td, "documents.parquet"))
        out = {
            r.source: r.kl_vs_corpus
            for r in QUERIES["text_source_divergence"](spark, td).collect()
        }
    assert all(v >= 0 for v in out.values())
    assert out["skew"] > out["bal"]
    assert out["bal"] == out["bal2"] < 0.2


def test_split_no_leakage_clusters_stay_together(spark):
    """pipe_split_no_leakage on a corpus with planted exact dups: every
    duplicate cluster lands in exactly one split (the leakage guard),
    all docs are assigned, and the assignment is deterministic."""
    import tempfile, os

    from heavydb_spark.queries import QUERIES
    from pyspark.sql import functions as F
    from heavydb_spark.operators import pipeline

    rows = [(i, f"text {i % 30}", "en", "s", 7) for i in range(120)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as td:
        df.coalesce(1).write.parquet(os.path.join(td, "documents.parquet"))
        out = QUERIES["pipe_split_no_leakage"](spark, td).collect()
        # per-split cluster counts must sum to the global cluster count:
        # a cluster straddling two splits would be counted twice
        assert sum(r.n_clusters for r in out) == 30
        assert sum(r.n_docs for r in out) == 120
        rerun = QUERIES["pipe_split_no_leakage"](spark, td).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, rerun))


def test_similarity_degenerate_input_guards(spark):
    """Review r7 robustness: small/degenerate inputs get clear errors
    or correct behavior instead of IndexError/ValueError internals —
    (1) ivf_index tolerates MLlib returning fewer centers than k;
    (2) pq_train errors clearly on tiny/empty samples; (3) _probe_dim
    errors clearly on empty input; (4) feature_similarity binds the
    query relation to the corpus feature type."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from heavydb_spark.operators.similarity import (
        ann_topk_ivf, feature_similarity, ivf_index, pq_train,
        semantic_dedup,
    )

    # 2 distinct vectors, n_lists=8: KMeans returns < 8 centers
    two = spark.createDataFrame(
        [(i, [0.0, 0.0]) for i in range(3)]
        + [(i, [9.0, 9.0]) for i in range(3, 6)],
        "vec_id long, embedding array<float>",
    )
    indexed, cents = ivf_index(two, "embedding", n_lists=8)
    assert len(cents) <= 8 and indexed.count() == 6
    top = ann_topk_ivf(two, "embedding", [9.0, 9.0], k=2, n_lists=8,
                       nprobe=1).collect()
    assert {r.vec_id for r in top} <= {3, 4, 5}

    with _pytest.raises(ValueError, match="training rows < ksub"):
        pq_train(two, "embedding", "vec_id", m=2, ksub=16)
    empty = two.filter(F.col("vec_id") < 0)
    with _pytest.raises(ValueError, match="empty"):
        pq_train(empty, "embedding", "vec_id", m=2, ksub=2)
    with _pytest.raises(ValueError, match="empty|NULL"):
        semantic_dedup(empty, "vec_id", "embedding")

    # integer feature ids: query relation binds to the corpus type
    feats = spark.createDataFrame(
        [(1, 10, 2.0), (1, 11, 1.0), (2, 10, 2.0)],
        "k long, feat int, metric double",
    )
    got = feature_similarity(
        feats, "k", "feat", "metric", {10: 2.0}
    ).collect()
    assert len(got) == 2  # both keys score against the query


def test_builders_do_not_resolve_inside_a_lambda(spark):
    """The H3 and transform builders call SQL functions that
    register_all creates, and Spark passes no lambda variable to a SQL
    function: inside an F.transform lambda they fail analysis with
    MISSING_ATTRIBUTES, as functions._call documents."""
    from pyspark.errors import AnalysisException

    from heavydb_spark.functions import geo
    from heavydb_spark.functions import h3 as H

    df = spark.createDataFrame(
        [([(9.5, 47.0), (9.6, 47.1)],)],
        "ring array<struct<x: double, y: double>>",
    )
    for build in (lambda p: geo.st_transform(p, 4326, 32633),
                  lambda p: H.h3_lonlat_to_cell(p["x"], p["y"], 5)):
        with pytest.raises(AnalysisException, match="MISSING_ATTRIBUTES"):
            df.select(F.transform("ring", build)).collect()
