"""Geometry kernels + split operators (SURVEY.md §2.6) — unit and
property-based tests."""

import math
import random

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from smartpy_arc_spark.geometry import core
from smartpy_arc_spark.geometry.split import (
    recursive_split,
    split_poly,
    split_polygon_wkb,
)
from smartpy_arc_spark.geometry.wkb import (
    decode,
    decode_polygon,
    encode_point,
    encode_polygon,
    to_geojson_str,
    to_wkt_str,
)


def rect(x0, y0, x1, y1):
    return [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]])]


def l_shape():
    # 10x10 square minus 5x5 upper-right notch → area 75
    return [np.array([
        [0, 0], [10, 0], [10, 5], [5, 5], [5, 10], [0, 10], [0, 0]
    ], dtype=float)]


# --- kernels ----------------------------------------------------------


def test_area_perimeter_centroid_rect():
    r = rect(0, 0, 4, 2)
    assert core.polygon_area(r) == pytest.approx(8.0)
    assert core.polygon_perimeter(r) == pytest.approx(12.0)
    assert core.polygon_centroid(r) == pytest.approx((2.0, 1.0))


def test_area_with_hole():
    rings = rect(0, 0, 10, 10) + rect(2, 2, 4, 4)
    assert core.polygon_area(rings) == pytest.approx(96.0)


def test_point_in_polygon_with_hole():
    rings = rect(0, 0, 10, 10) + rect(2, 2, 4, 4)
    assert core.point_in_polygon(5, 5, rings)
    assert not core.point_in_polygon(3, 3, rings)  # inside the hole
    assert not core.point_in_polygon(11, 5, rings)


def test_interior_point_concave():
    # U-shape whose area centroid falls inside the notch (outside the shape)
    rings = [np.array([
        [0, 0], [9, 0], [9, 9], [6, 9], [6, 2], [3, 2], [3, 9], [0, 9], [0, 0]
    ], dtype=float)]
    cx, cy = core.polygon_centroid(rings)
    px, py = core.interior_point(rings)
    assert core.point_in_polygon(px, py, rings)


def test_wkb_roundtrip_polygon():
    rings = l_shape()
    again = decode_polygon(encode_polygon(rings))
    assert core.polygon_area(again) == pytest.approx(75.0)
    kind, pt = decode(encode_point(3.5, -2.25))
    assert kind == "point" and pt == (3.5, -2.25)


def test_wkt_geojson_encodings():
    w = encode_polygon(rect(0, 0, 1, 1))
    assert to_wkt_str(w).startswith("POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))")
    assert '"type": "Polygon"' in to_geojson_str(w)
    assert to_wkt_str(encode_point(2, 3)) == "POINT (2 3)"


# --- G1 ---------------------------------------------------------------


def test_split_poly_halves_rectangle():
    r = rect(0, 0, 10, 4)
    left, right = split_poly(r, 20.0)
    assert left is not None and right is not None
    assert core.polygon_area(left) == pytest.approx(20.0, rel=0.005)
    assert core.polygon_area(right) == pytest.approx(20.0, rel=0.01)
    # split axis is the longer (x) axis: left max x ≈ 5
    assert core.bbox(left)[2] == pytest.approx(5.0, abs=0.1)


def test_split_poly_degenerate_inputs():
    assert split_poly(None, 5.0) == (None, None)
    r = rect(0, 0, 2, 2)
    assert split_poly(r, 10.0) == (None, None)  # target >= area


# --- G2/G3 ------------------------------------------------------------


def test_recursive_split_counts_and_area():
    r = rect(0, 0, 12, 3)
    parts = recursive_split(r, 4, random.Random(1))
    assert len(parts) == 4
    areas = [core.polygon_area(p) for p in parts]
    assert sum(areas) == pytest.approx(36.0, rel=0.01)
    for a in areas:
        assert a == pytest.approx(9.0, rel=0.05)


def test_split_polygon_wkb_deterministic():
    w = encode_polygon(rect(0, 0, 30, 10))
    a = split_polygon_wkb(w, max_area_units=50.0, seed=7)
    b = split_polygon_wkb(w, max_area_units=50.0, seed=7)
    assert [bytes(x) for x in a] == [bytes(x) for x in b]
    assert len(a) == 6  # floor(300/50)


@settings(max_examples=25, deadline=None)
@given(
    w=st.floats(min_value=5, max_value=200),
    h=st.floats(min_value=5, max_value=200),
    parts=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_split_invariants_property(w, h, parts, seed):
    """Parts' areas sum to the parent area; each part is within tolerance
    of the target (poly_splitting.py:70, :85-89)."""
    r = rect(0, 0, w, h)
    total = core.polygon_area(r)
    out = recursive_split(r, parts, random.Random(seed))
    assert len(out) == parts
    areas = [core.polygon_area(p) for p in out]
    assert sum(areas) == pytest.approx(total, rel=1e-6)
    target = total / parts
    for a in areas:
        assert abs(a - target) / target < 0.05


def test_split_equal_area_spark(spark):
    from smartpy_arc_spark.geometry import split_equal_area

    rows = [
        (1, bytearray(encode_polygon(rect(0, 0, 10, 10))), "big"),   # 100 → 4 parts
        (2, bytearray(encode_polygon(rect(0, 0, 5, 4))), "small"),   # 20 → 1 part
    ]
    df = spark.createDataFrame(
        rows, "OBJECTID long, geometry binary, land_use string"
    )
    out = split_equal_area(df, max_area_units=25.0).collect()
    by_fid = {}
    for r in out:
        by_fid.setdefault(r.ORIG_FID, []).append(r)
    assert len(by_fid[1]) == 4 and len(by_fid[2]) == 1
    assert sorted(r.SPLIT_SEQ for r in by_fid[1]) == [1, 2, 3, 4]
    assert all(r.land_use == "big" for r in by_fid[1])
    total = sum(
        core.polygon_area(decode_polygon(bytes(r.geometry))) for r in by_fid[1]
    )
    assert total == pytest.approx(100.0, rel=1e-6)


def test_scan_spatial_derived_and_layer_area(spark, tmp_path):
    from smartpy_arc_spark import create_layer, scan, write_table
    from smartpy_arc_spark.meta import tag_geometry

    df = spark.createDataFrame(
        [(1, bytearray(encode_polygon(rect(0, 0, 6, 2))), "a")],
        "OBJECTID long, geometry binary, name string",
    )
    df = tag_geometry(df, "geometry", crs="EPSG:3857")
    write_table(df, str(tmp_path), "polys")

    # S1 legacy spatial scan: derived SHAPE@ columns from the role column
    scanned = scan(spark, str(tmp_path), "polys", spatial=True)
    row = scanned.collect()[0]
    assert row["SHAPE@AREA"] == pytest.approx(12.0)
    assert row["SHAPE@LENGTH"] == pytest.approx(16.0)

    # P1 layer with geometry-derived <prefix>_area (arc_utils.py:451-455);
    # geometry kept on this scan so the layer can derive from it
    with_geom = scan(spark, str(tmp_path), "polys", drop_geometry=False)
    layer = create_layer(with_geom, "polys_layer", shp_prefix="shp")
    assert layer.collect()[0]["shp_area"] == pytest.approx(12.0)


def test_geometry_derived_columns_spark(spark):
    from smartpy_arc_spark.geometry import add_geometry_derived, get_centroids

    df = spark.createDataFrame(
        [(1, bytearray(encode_polygon(rect(0, 0, 4, 2))), None)],
        "OBJECTID long, geometry binary, name string",
    )
    d = add_geometry_derived(df).collect()[0]
    assert d["SHAPE@AREA"] == pytest.approx(8.0)
    assert d["SHAPE@LENGTH"] == pytest.approx(12.0)
    assert (d["SHAPE@X"], d["SHAPE@Y"]) == (pytest.approx(2.0), pytest.approx(1.0))

    c = get_centroids(df, flds_to_keep=["name"]).collect()[0]
    assert c.src_OBJECTID == 1
    assert c.name == ""  # string-null fill (arc_utils.py:571-573)
    assert (c.x, c.y) == (pytest.approx(2.0), pytest.approx(1.0))


# --- polylines / multipoint / new encodings (round 2) -----------------


def _fixture_geoms():
    from smartpy_arc_spark.geometry import wkb as W

    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]], float)
    far = np.array([[20, 20], [25, 20], [25, 25], [20, 25], [20, 20]], float)
    return {
        "point": W.encode_point(3.5, -2.25),
        "linestring": W.encode_linestring([[0, 0], [3, 4], [3, 8]]),
        "polygon": W.encode_polygon([outer, hole]),
        "multipoint": W.encode_multipoint([[1, 1], [2, 2], [5, 5]]),
        "multilinestring": W.encode_multilinestring(
            [np.array([[0, 0], [1, 0]], float), np.array([[5, 5], [5, 9]], float)]
        ),
        "multipolygon": W.encode_multipolygon([[outer, hole], [far]]),
    }


def _measure(wkb_bytes):
    from smartpy_arc_spark.geometry.columns import (
        _multipart_area,
        _multipart_length,
    )

    return _multipart_area(wkb_bytes), _multipart_length(wkb_bytes)


@pytest.mark.parametrize("encoding", ["wkt", "geojson", "esrijson", "esrishape"])
def test_encoding_roundtrips_preserve_measures(encoding):
    from smartpy_arc_spark.geometry import wkb as W
    from smartpy_arc_spark.geometry import esrishape as E

    conv = {
        "wkt": lambda g: W.from_wkt_str(W.to_wkt_str(g)),
        "geojson": lambda g: W.from_geojson_str(W.to_geojson_str(g)),
        "esrijson": lambda g: W.from_esrijson_str(W.to_esrijson_str(g)),
        "esrishape": lambda g: E.shape_to_wkb(E.wkb_to_shape(g)),
    }[encoding]
    for name, g in _fixture_geoms().items():
        a1, l1 = _measure(g)
        a2, l2 = _measure(conv(g))
        assert a2 == pytest.approx(a1), (encoding, name)
        assert l2 == pytest.approx(l1), (encoding, name)


def test_polyline_wkb_roundtrip_exact():
    from smartpy_arc_spark.geometry import wkb as W

    pts = [[0.5, 1.5], [3.25, 4.75], [3.25, 8.0]]
    kind, arr = W.decode(W.encode_linestring(pts))
    assert kind == "linestring"
    assert np.array_equal(arr, np.asarray(pts))


def test_polyline_measures():
    from smartpy_arc_spark.geometry import wkb as W

    ls = W.encode_linestring([[0, 0], [3, 4], [3, 8]])
    area, length = _measure(ls)
    assert area == 0.0
    assert length == pytest.approx(9.0)  # 5 + 4, open path (no closure)


def test_path_midpoint_on_segment():
    assert core.path_midpoint(np.array([[0, 0], [10, 0]], float)) == (5.0, 0.0)
    # half-length 4.5 falls past the 3-4-5 first segment? no: total 9, half 4.5 < 5
    mx, my = core.path_midpoint(np.array([[0, 0], [3, 4], [3, 8]], float))
    assert (mx, my) == pytest.approx((2.7, 3.6))  # 4.5/5 along (3,4) vector


def test_esrijson_polygon_ring_orientation():
    import json

    from smartpy_arc_spark.geometry import wkb as W

    outer = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[2, 2], [4, 2], [4, 4], [2, 4], [2, 2]], float)
    obj = json.loads(W.to_esrijson_str(W.encode_polygon([outer, hole])))
    rings = obj["rings"]
    assert core.ring_signed_area(np.asarray(rings[0])) < 0  # outer CW
    assert core.ring_signed_area(np.asarray(rings[1])) > 0  # hole CCW


def test_shapefile_roundtrip(tmp_path, spark):
    from smartpy_arc_spark.geometry import wkb as W
    from smartpy_arc_spark.sources.shapefile import (
        iter_shp_wkb,
        read_prj,
        write_shapefile,
    )

    geoms = [
        W.encode_polygon([np.array(
            [[0, 0], [4, 0], [4, 2], [0, 2], [0, 0]], float)]),
        None,  # null shape record
        W.encode_multipolygon([
            [np.array([[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]], float)],
            [np.array([[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]], float)],
        ]),
    ]
    shp = write_shapefile(
        str(tmp_path / "t.shp"),
        [(1, "a"), (2, "b"), (3, "c")],
        [("fid", "N", 10, 0), ("name", "C", 8, 0)],
        geoms,
        crs_wkt='PROJCS["test"]',
    )
    back = list(iter_shp_wkb(shp))
    assert len(back) == 3 and back[1] is None
    assert _measure(back[0])[0] == pytest.approx(8.0)
    assert _measure(back[2])[0] == pytest.approx(5.0)  # 4 + 1
    assert read_prj(shp) == 'PROJCS["test"]'

    # through the Spark data source, attrs + geometry aligned
    from smartpy_arc_spark.sources.scan import scan

    df = scan(spark, str(tmp_path), "t", fmt="shp", drop_geometry=False)
    rows = {r.fid: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2].geometry is None
    assert _measure(bytes(rows[1].geometry))[0] == pytest.approx(8.0)
    # CRS metadata from .prj
    md = dict(df.schema["geometry"].metadata or {})
    assert md.get("crs") == 'PROJCS["test"]'


def test_shapefile_polyline_roundtrip(tmp_path):
    from smartpy_arc_spark.geometry import wkb as W
    from smartpy_arc_spark.sources.shapefile import iter_shp_wkb, write_shapefile

    geoms = [
        W.encode_linestring([[0, 0], [3, 4]]),
        W.encode_multilinestring(
            [np.array([[0, 0], [1, 0]], float), np.array([[2, 0], [2, 7]], float)]
        ),
    ]
    shp = write_shapefile(
        str(tmp_path / "lines.shp"),
        [(1,), (2,)],
        [("fid", "N", 10, 0)],
        geoms,
    )
    back = list(iter_shp_wkb(shp))
    assert _measure(back[0])[1] == pytest.approx(5.0)
    assert _measure(back[1])[1] == pytest.approx(8.0)
    kind, _ = decode(back[1])
    assert kind == "multilinestring"


def test_write_shapefile_dataset_roundtrip(tmp_path, spark):
    from smartpy_arc_spark.geometry import wkb as W
    from smartpy_arc_spark.sinks.write import write_shapefile_dataset
    from smartpy_arc_spark.sources.scan import scan

    rows = [
        (i, f"n{i}", W.encode_polygon([np.array(
            [[0, 0], [i + 1, 0], [i + 1, 2], [0, 2], [0, 0]], float)]))
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "fid long, name string, geometry binary")
    folder = str(tmp_path / "ws")
    write_shapefile_dataset(df.repartition(3), folder, crs_wkt='PROJCS["p"]')

    import glob as _g
    shps = _g.glob(folder + "/*.shp")
    assert 1 <= len(shps) <= 3  # one per non-empty partition

    back = scan(spark, folder, None, fmt="shp", drop_geometry=False)
    got = {r.fid: _measure(bytes(r.geometry))[0] for r in back.collect()}
    assert got == {i: pytest.approx(2.0 * (i + 1)) for i in range(20)}


@pytest.mark.filterwarnings("error:Cannot infer the eval type")
def test_convex_hull_matches_bruteforce(spark):
    """Monotone chain vs brute force (a point is a hull vertex iff it is
    not strictly inside the hull of the others); exact square case."""
    import itertools

    from smartpy_arc_spark.geometry.hull import convex_hulls

    # unit square + interior points: hull = 4 corners, area 100, perim 40
    pts = [(0, 0), (10, 0), (10, 10), (0, 10), (5, 5), (2, 7), (9, 1)]
    df = spark.createDataFrame(
        [("sq", float(x), float(y)) for x, y in pts], "g string, x double, y double"
    )
    r = convex_hulls(df, "g", "x", "y").collect()[0]
    assert r.n_vertices == 4 and r.area_e4 == 100 * 10**4
    assert r.perimeter_e4 == 40 * 10**4
    assert r.hull_wkt.startswith("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))".split("(")[0])
    for corner in ("0 0", "10 0", "10 10", "0 10"):
        assert corner in r.hull_wkt
    assert "5 5" not in r.hull_wkt

    # degenerate: collinear points -> linestring, zero area
    df2 = spark.createDataFrame(
        [("ln", float(i), float(2 * i)) for i in range(5)],
        "g string, x double, y double",
    )
    r2 = convex_hulls(df2, "g", "x", "y").collect()[0]
    assert r2.area_e4 == 0 and r2.n_vertices == 2


def test_split_equal_area_spreads_tiny_inputs(spark):
    """VERDICT r10 item 2: a small input arriving in ONE partition must
    be spread across the cluster before the CPU-heavy bisection UDF
    (observed at sf0.1: 500 rows / 1 partition ran the whole split as
    single-task stages).  A big-partition-count input must pass through
    untouched — no shuffle added to the at-scale path."""
    from pyspark.sql import functions as F

    from smartpy_arc_spark.geometry import split_equal_area

    rows = [
        (i, bytearray(encode_polygon(rect(0, 0, 10, 10))), "x")
        for i in range(1, 41)
    ]
    one_part = spark.createDataFrame(
        rows, "OBJECTID long, geometry binary, land_use string"
    ).coalesce(1)
    assert one_part.rdd.getNumPartitions() == 1
    out = split_equal_area(one_part, max_area_units=25.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan
    assert out.count() == 160  # 40 polygons x 4 parts — values unaffected

    n_wide = max(2, spark.sparkContext.defaultParallelism)
    wide = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_wide),
        "OBJECTID long, geometry binary, land_use string",
    )
    assert wide.rdd.getNumPartitions() == n_wide
    out_wide = split_equal_area(wide, max_area_units=25.0)
    plan_wide = out_wide._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" not in plan_wide
    assert out_wide.count() == 160


def test_split_equal_area_with_area_matches_st_area(spark):
    """r11 optimization: with_area=True folds the st_area pass into the
    split UDF — the emitted part_area must be BIT-identical to running
    st_area over the emitted geometry (same bytes, same kernel)."""
    import struct

    from pyspark.sql import functions as F

    from smartpy_arc_spark.geometry import split_equal_area, st_area

    rows = [
        (1, bytearray(encode_polygon(rect(0, 0, 10, 10))), "big"),
        (2, bytearray(encode_polygon(rect(0, 0, 5, 4))), "small"),
        (3, None, "nullgeom"),
    ]
    df = spark.createDataFrame(
        rows, "OBJECTID long, geometry binary, land_use string"
    )
    fused = split_equal_area(df, max_area_units=25.0, with_area=True)
    assert "part_area" in fused.columns
    two_pass = (
        split_equal_area(df, max_area_units=25.0)
        .withColumn("part_area", st_area(F.col("geometry")))
    )
    a = sorted(
        (r.ORIG_FID, r.SPLIT_SEQ, bytes(r.geometry),
         struct.pack("<d", r.part_area))
        for r in fused.collect()
    )
    b = sorted(
        (r.ORIG_FID, r.SPLIT_SEQ, bytes(r.geometry),
         struct.pack("<d", r.part_area))
        for r in two_pass.collect()
    )
    assert a == b and len(a) == 5
