"""Composed split/clip accessor parity tests.

Goldens transcribed from the reference's split/clip unit expectations
(``/root/reference/linref/tests/test_ext_base.py:2078-2262``): a single
route of three x-axis events [0,5], [5,10], [10,15] with M-enabled
geometries, split/clipped against the polygon x in [3, 12].
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linref_spark.lrs import LRS
from linref_spark.spatial.split import clip_events, split_at_geometry

LRS3 = LRS(key_cols=("route",), beg_col="beg", end_col="end", closed="left_mod")
POLY_X = [3.0, 12.0, 12.0, 3.0]
POLY_Y = [-1.0, -1.0, 1.0, 1.0]


@pytest.fixture()
def roads3(spark):
    rows = [
        ("A", 0.0, 5.0, "x", 0, [0.0, 5.0], [0.0, 0.0], [0.0, 5.0]),
        ("A", 5.0, 10.0, "y", 1, [5.0, 10.0], [0.0, 0.0], [5.0, 10.0]),
        ("A", 10.0, 15.0, "z", 2, [10.0, 15.0], [0.0, 0.0], [10.0, 15.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "route string, beg double, end double, attr string, event_id long, "
        "xs array<double>, ys array<double>, ms array<double>",
    )
    return df.withColumn(
        "geom_m", F.struct(F.col("xs"), F.col("ys"), F.col("ms"))
    ).drop("xs", "ys", "ms")


def spans(df):
    return [
        (r["beg"], r["end"])
        for r in df.orderBy("beg", "end").collect()
    ]


def test_split_polygon_basic(spark, roads3):
    # boundary crosses at x=3 and x=12 (test_ext_base.py:2115-2128)
    out = split_at_geometry(
        roads3, LRS3, POLY_X, POLY_Y, mask_kind="polygon", attr_cols=["attr"]
    )
    assert spans(out) == [(0.0, 3.0), (3.0, 5.0), (5.0, 10.0), (10.0, 12.0), (12.0, 15.0)]


def test_split_cuts_geometry(spark, roads3):
    # each piece's cut geometry length equals end - beg (":2130-2137")
    out = split_at_geometry(roads3, LRS3, POLY_X, POLY_Y, mask_kind="polygon")
    for r in out.collect():
        xs, ys = r["geom_m"]["xs"], r["geom_m"]["ys"]
        length = sum(
            ((xs[i + 1] - xs[i]) ** 2 + (ys[i + 1] - ys[i]) ** 2) ** 0.5
            for i in range(len(xs) - 1)
        )
        assert abs(length - (r["end"] - r["beg"])) < 1e-6
        # Ms track the piece bounds
        assert abs(r["geom_m"]["ms"][0] - r["beg"]) < 1e-9
        assert abs(r["geom_m"]["ms"][-1] - r["end"]) < 1e-9


def test_split_no_cut_geom(spark, roads3):
    out = split_at_geometry(
        roads3, LRS3, POLY_X, POLY_Y, mask_kind="polygon", cut_geom=False
    )
    assert out.count() == 5 and "geom_m" not in out.columns


def test_split_no_intersection_returns_copy(spark, roads3):
    out = split_at_geometry(
        roads3, LRS3, [100.0, 200.0, 200.0, 100.0], [100.0, 100.0, 200.0, 200.0],
        mask_kind="polygon",
    )
    assert spans(out) == [(0.0, 5.0), (5.0, 10.0), (10.0, 15.0)]


def test_split_line_mask(spark, roads3):
    # vertical line at x=7 crosses only the middle event (":2157-2168")
    out = split_at_geometry(roads3, LRS3, [7.0, 7.0], [-1.0, 1.0], mask_kind="line")
    assert spans(out) == [(0.0, 5.0), (5.0, 7.0), (7.0, 10.0), (10.0, 15.0)]


def test_split_invalid_mask_kind(spark, roads3):
    with pytest.raises(TypeError):
        split_at_geometry(roads3, LRS3, [0.0, 1.0], [0.0, 1.0], mask_kind="blob")


def test_clip_inside(spark, roads3):
    out = clip_events(roads3, LRS3, POLY_X, POLY_Y, keep="inside")
    assert spans(out) == [(3.0, 5.0), (5.0, 10.0), (10.0, 12.0)]


def test_clip_outside(spark, roads3):
    out = clip_events(roads3, LRS3, POLY_X, POLY_Y, keep="outside")
    assert spans(out) == [(0.0, 3.0), (12.0, 15.0)]


def test_clip_invalid_args(spark, roads3):
    with pytest.raises(ValueError):
        clip_events(roads3, LRS3, POLY_X, POLY_Y, keep="middle")
    with pytest.raises(ValueError):
        clip_events(roads3, LRS3, POLY_X, POLY_Y, predicate="not_a_predicate")


def test_clip_total_mileage_conservation(spark, roads3):
    inside = clip_events(roads3, LRS3, POLY_X, POLY_Y, keep="inside")
    outside = clip_events(roads3, LRS3, POLY_X, POLY_Y, keep="outside")
    tot = lambda d: d.agg(F.sum(F.col("end") - F.col("beg"))).first()[0]  # noqa: E731
    assert abs(tot(inside) + tot(outside) - 15.0) < 1e-6


def test_clip_within_excludes_boundary_running(spark):
    # an event running exactly ALONG the boundary: covered_by keeps it,
    # within drops it
    rows = [
        ("A", 0.0, 9.0, 0, [3.0, 12.0], [1.0, 1.0], [0.0, 9.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "route string, beg double, end double, event_id long, "
        "xs array<double>, ys array<double>, ms array<double>",
    ).withColumn("geom_m", F.struct("xs", "ys", "ms")).drop("xs", "ys", "ms")
    lrs = LRS(key_cols=("route",), beg_col="beg", end_col="end")
    cov = clip_events(df, lrs, POLY_X, POLY_Y, keep="inside", predicate="covered_by")
    wit = clip_events(df, lrs, POLY_X, POLY_Y, keep="inside", predicate="within")
    assert cov.count() >= 1
    assert wit.count() == 0


def test_clip_leaves_shared_interpolate_udf_deterministic(spark, roads3):
    # clip needs a nondeterministic midpoint UDF; it must not get one by
    # flipping the shared udf_interpolate_m, which other callers use as a
    # deterministic expression
    from linref_spark.geometry.udfs import udf_interpolate_m

    clip_events(roads3, LRS3, POLY_X, POLY_Y).count()
    g = F.col("geom_m")
    probe = roads3.select(udf_interpolate_m(g["xs"], g["ys"], g["ms"], F.col("beg")))
    assert probe._jdf.queryExecution().analyzed().deterministic()
