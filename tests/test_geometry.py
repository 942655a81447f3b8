"""Geometry kernel + UDF parity tests.

Math expectations follow ``/root/reference/linref/tests/test_geometry.py``
(roundtrips, snapping, substring boundary consistency) and the projection
fixture at ``test_ext_base.py:864-932`` (FIXTURES.md 5d).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from linref_spark.geometry import kernels as K
from linref_spark.geometry.direction import with_bearing
from linref_spark.geometry.udfs import (
    add_geom_m,
    cut_geoms,
    extract_m_values,
    generate_linear_events,
    geom_m_struct,
    line_merge_groups,
    udf_geom_m_to_wkt,
    udf_wkt_to_geom_m,
)
from linref_spark.events.frame import add_event_id
from linref_spark.lrs import LRS
from linref_spark.spatial.join import project_points


# --- pure kernels -------------------------------------------------------------


def test_set_m_from_bounds():
    xs = np.array([0.0, 3.0, 3.0])
    ys = np.array([0.0, 0.0, 4.0])  # chords 3, 4 -> total 7
    m = K.set_m_from_bounds(xs, ys, 10.0, 24.0)
    assert m[0] == 10.0 and m[-1] == 24.0
    assert m[1] == pytest.approx(10.0 + 3 / 7 * 14.0)


def test_m_distance_roundtrip():
    xs = np.array([0.0, 10.0, 20.0])
    ys = np.array([0.0, 0.0, 10.0])
    ms = K.set_m_from_bounds(xs, ys, 100.0, 200.0)
    for m_val in [100.0, 120.0, 150.0, 199.0, 200.0]:
        d = K.m_to_distance(xs, ys, ms, np.array([m_val]))[0]
        back = K.distance_to_m(xs, ys, ms, np.array([d]))[0]
        assert back == pytest.approx(m_val)


def test_locate_and_interpolate():
    xs = np.array([0.0, 10.0])
    ys = np.array([0.0, 0.0])
    assert K.locate_point(xs, ys, 5.0, 3.0) == pytest.approx(5.0)
    assert K.locate_point(xs, ys, -2.0, 0.0) == 0.0
    assert K.locate_point(xs, ys, 12.0, 1.0) == pytest.approx(10.0)
    assert K.interpolate_point(xs, ys, 7.5) == (7.5, 0.0)
    assert K.point_line_distance(xs, ys, 5.0, 3.0) == pytest.approx(3.0)


def test_substring_boundary_consistency():
    # adjacent cuts share their boundary vertex exactly
    # (test_geometry.py substring consistency expectations)
    xs = np.array([0.0, 4.0, 10.0])
    ys = np.array([0.0, 3.0, 3.0])
    ms = K.set_m_from_bounds(xs, ys, 0.0)
    a = K.substring(xs, ys, ms, 0.0, 6.0)
    b = K.substring(xs, ys, ms, 6.0, 11.0)
    assert a[0][-1] == b[0][0] and a[1][-1] == b[1][0] and a[2][-1] == b[2][0]
    # vertex-aligned cut keeps the original vertex once
    c = K.substring(xs, ys, ms, 0.0, 5.0)  # chord1 len 5 -> ends at (4, 3)
    assert c[0][-1] == pytest.approx(4.0) and c[1][-1] == pytest.approx(3.0)
    assert len(c[0]) == 2
    # zero-length cut -> duplicated point
    z = K.substring(xs, ys, ms, 3.0, 3.0)
    assert len(z[0]) == 2 and z[0][0] == z[0][1]


def test_merge_lines_chains():
    l1 = (np.array([0.0, 1.0]), np.array([0.0, 0.0]), np.array([0.0, 1.0]))
    l2 = (np.array([1.0, 2.0]), np.array([0.0, 0.0]), np.array([1.0, 2.0]))
    l3 = (np.array([5.0, 6.0]), np.array([0.0, 0.0]), np.array([5.0, 6.0]))
    merged, orders, chains = K.merge_lines([l1, l3, l2])
    assert len(merged) == 2
    assert chains == [0, 1, 0]
    x, y, m = merged[0]
    assert list(x) == [0.0, 1.0, 2.0] and list(m) == [0.0, 1.0, 2.0]
    # M mismatch at terminus blocks merge unless allow_mismatch
    l2m = (np.array([1.0, 2.0]), np.array([0.0, 0.0]), np.array([9.0, 10.0]))
    merged2, _, chains2 = K.merge_lines([l1, l2m])
    assert len(merged2) == 2
    merged3, _, chains3 = K.merge_lines([l1, l2m], allow_mismatch=True)
    assert len(merged3) == 1


def test_wkt_roundtrip():
    xs = np.array([0.0, 10.5])
    ys = np.array([1.0, 2.0])
    ms = np.array([0.0, 12.25])
    w = K.to_wkt_m(xs, ys, ms)
    assert w == "LINESTRING M (0 1 0, 10.5 2 12.25)"
    x2, y2, m2 = K.from_wkt_m(w)
    assert np.allclose(x2, xs) and np.allclose(y2, ys) and np.allclose(m2, ms)


# --- Spark UDF layer ----------------------------------------------------------


ROADS_LRS = LRS(key_cols=("route",), beg_col="beg", end_col="end", closed="left_mod")


@pytest.fixture(scope="module")
def roads(spark):
    # FIXTURES.md 5d / test_ext_base.py:864-909
    rows = [
        ("US-101", 0.0, 10.0, [0.0, 10.0], [0.0, 0.0]),
        ("US-101", 10.0, 20.0, [10.0, 20.0], [0.0, 0.0]),
        ("SR-1", 0.0, 15.0, [0.0, 15.0], [10.0, 10.0]),
    ]
    df = spark.createDataFrame(rows, ["route", "beg", "end", "geom_xs", "geom_ys"])
    df = add_event_id(df, ROADS_LRS)
    return add_geom_m(df, ROADS_LRS).cache()


def test_add_geom_m_and_extract(spark, roads):
    got = {
        (r.route, r.beg): (list(r.geom_m.ms))
        for r in roads.select("route", "beg", "geom_m").collect()
    }
    assert got[("US-101", 0.0)] == [0.0, 10.0]
    assert got[("US-101", 10.0)] == [10.0, 20.0]
    ext = extract_m_values(roads, beg_col="b2", end_col="e2")
    bad = ext.where((F.col("b2") != F.col("beg")) | (F.col("e2") != F.col("end")))
    assert bad.count() == 0


def test_project_points_fixture(spark, roads):
    pts = spark.createDataFrame(
        [(1, 5.0, 0.05, "High"), (2, 15.0, 0.02, "Low"), (3, 7.0, 10.1, "Medium")],
        ["event_id", "x", "y", "severity"],
    )
    out = project_points(roads, pts, ROADS_LRS, buffer=1.0, nearest=True)
    got = {r.event_id: (r.route, r.loc_mp) for r in out.collect()}
    assert got[1][0] == "US-101" and got[1][1] == pytest.approx(5.0)
    assert got[2][0] == "US-101" and got[2][1] == pytest.approx(15.0)
    assert got[3][0] == "SR-1" and got[3][1] == pytest.approx(7.0)


def test_cut_geoms_matches_event_span(spark, roads):
    cut = cut_geoms(
        roads.withColumn("cb", F.col("beg") + 2.0).withColumn("ce", F.col("end") - 3.0),
        "cb", "ce",
    )
    for r in cut.select("cb", "ce", "geom_m_cut").collect():
        ms = list(r.geom_m_cut.ms)
        assert ms[0] == pytest.approx(r.cb) and ms[-1] == pytest.approx(r.ce)
        xs, ys = np.array(r.geom_m_cut.xs), np.array(r.geom_m_cut.ys)
        length = float(np.sqrt(np.diff(xs) ** 2 + np.diff(ys) ** 2).sum())
        assert length == pytest.approx(r.ce - r.cb)  # M == distance here


def test_line_merge_groups(spark, roads):
    merged = line_merge_groups(roads, ROADS_LRS)
    got = {r.route: r for r in merged.collect()}
    assert got["US-101"].n_parts == 2.0
    assert got["US-101"].beg == 0.0 and got["US-101"].end == 20.0
    assert list(got["US-101"].geom_m.xs) == [0.0, 10.0, 20.0]
    assert got["SR-1"].n_parts == 1.0


def test_wkt_udfs(spark, roads):
    g = F.col("geom_m")
    w = roads.withColumn("wkt", udf_geom_m_to_wkt(g["xs"], g["ys"], g["ms"]))
    back = w.withColumn("g2", udf_wkt_to_geom_m(F.col("wkt")))
    bad = back.where(
        F.col("g2.ms") != F.col("geom_m.ms")
    ).count()
    assert bad == 0
    one = w.where("route = 'SR-1'").select("wkt").first()[0]
    assert one == "LINESTRING M (0 10 0, 15 10 15)"


def test_interpolate_udf(spark, roads):
    from linref_spark.geometry.udfs import udf_interpolate_m

    g = F.col("geom_m")
    out = roads.withColumn(
        "pt", udf_interpolate_m(g["xs"], g["ys"], g["ms"], (F.col("beg") + F.col("end")) / 2.0)
    )
    got = {(r.route, r.beg): (r.pt.x, r.pt.y) for r in out.collect()}
    assert got[("US-101", 0.0)] == (5.0, 0.0)
    assert got[("US-101", 10.0)] == (15.0, 0.0)
    assert got[("SR-1", 0.0)] == (7.5, 10.0)


def test_wkb_m_roundtrip_and_interop():
    """WKB LINESTRING M codec: roundtrip + golden bytes + EWKB/2-D/big-endian
    acceptance (the shapely-free parse_geoms_m ingestion path)."""
    import struct

    import numpy as np

    from linref_spark.geometry import kernels as K

    xs = np.array([0.0, 3.0, 7.0])
    ys = np.array([0.0, 4.0, 1.0])
    ms = np.array([0.0, 5.0, 10.0])
    wkb = K.to_wkb_m(xs, ys, ms)
    # golden header: little-endian, ISO type 2002, 3 points
    assert wkb[:9] == struct.pack("<BII", 1, 2002, 3)
    assert wkb[9:17] == struct.pack("<d", 0.0)
    rx, ry, rm = K.from_wkb_m(wkb)
    assert np.array_equal(rx, xs) and np.array_equal(ry, ys)
    assert np.array_equal(rm, ms)

    # hand-built EWKB (M flag on base type 2), big-endian
    ewkb = struct.pack(">BII", 0, 0x40000002, 2) + struct.pack(
        ">6d", 1.0, 2.0, 9.0, 4.0, 6.0, 11.0
    )
    ex, ey, em = K.from_wkb_m(ewkb)
    assert list(ex) == [1.0, 4.0] and list(ey) == [2.0, 6.0]
    assert list(em) == [9.0, 11.0]

    # plain 2-D LINESTRING -> ms zero-filled
    plain = struct.pack("<BII", 1, 2, 2) + struct.pack("<4d", 0.0, 0.0, 3.0, 4.0)
    px, py, pm = K.from_wkb_m(plain)
    assert list(pm) == [0.0, 0.0] and list(px) == [0.0, 3.0]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="LINESTRING"):
        K.from_wkb_m(struct.pack("<BII", 1, 1, 1) + struct.pack("<2d", 0, 0))


def test_wkb_udf_roundtrip(spark):
    """Spark-side WKB encode -> decode roundtrip through the UDF pair."""
    from pyspark.sql import functions as F

    from linref_spark.geometry.udfs import (
        geom_m_struct,
        udf_geom_m_to_wkb,
        udf_wkb_to_geom_m,
    )

    df = spark.createDataFrame(
        [(0, [0.0, 3.0], [0.0, 4.0], [0.0, 5.0]), (1, [1.0, 2.0], [1.0, 1.0], [2.0, 3.0])],
        "rid long, xs array<double>, ys array<double>, ms array<double>",
    )
    df = df.withColumn(
        "wkb", udf_geom_m_to_wkb(F.col("xs"), F.col("ys"), F.col("ms"))
    ).withColumn("geom2", udf_wkb_to_geom_m(F.col("wkb")))
    rows = {r["rid"]: r for r in df.collect()}
    for rid in (0, 1):
        r = rows[rid]
        assert list(r["geom2"]["xs"]) == list(r["xs"])
        assert list(r["geom2"]["ys"]) == list(r["ys"])
        assert list(r["geom2"]["ms"]) == list(r["ms"])


def test_interop_wkb_roundtrip_and_crs(spark):
    """interop.frame_from_wkb/frame_to_wkb: pure-python WKB hop in both
    directions, CRS carried as column metadata, 2-D WKB accepted with
    M=0, junk bytes -> NULL struct; geopandas layer gated with a clear
    ImportError in this container."""
    import numpy as np
    import pytest as _pytest

    from linref_spark import interop as I
    from linref_spark.geometry import kernels as K

    xs = np.array([0.0, 3.0, 3.0]); ys = np.array([0.0, 4.0, 10.0])
    ms = np.array([0.0, 5.0, 11.0])
    wkb_m = K.to_wkb_m(xs, ys, ms)
    # plain 2-D little-endian LINESTRING
    import struct as _s
    wkb_2d = (b"\x01" + _s.pack("<II", 2, 2)
              + _s.pack("<4d", 1.0, 2.0, 3.0, 4.0))
    df = spark.createDataFrame(
        [(0, bytearray(wkb_m)), (1, bytearray(wkb_2d)), (2, bytearray(b"junk"))],
        "gid long, wkb binary",
    )
    out = I.frame_from_wkb(df, crs="EPSG:4326")
    assert I.crs_of(out) == "EPSG:4326"
    rows_ = {r.gid: r.geom_m for r in out.collect()}
    assert list(rows_[0]["xs"]) == [0.0, 3.0, 3.0]
    assert list(rows_[0]["ms"]) == [0.0, 5.0, 11.0]
    assert list(rows_[1]["ms"]) == [0.0, 0.0]  # 2-D -> M zeros
    assert rows_[2] is None                    # junk -> NULL

    # back out: bytes re-parse to the same arrays
    back = I.frame_to_wkb(out.where("gid = 0"))
    b = bytes(back.first()["wkb"])
    x2, y2, m2 = K.from_wkb_m(b)
    assert list(x2) == list(xs) and list(m2) == list(ms)

    if not I.HAS_GEOPANDAS:
        with _pytest.raises(ImportError, match="frame_from_wkb"):
            I.from_geopandas(spark, None)
        with _pytest.raises(ImportError, match="geopandas"):
            I.to_geopandas(out)


def test_interop_facade_wkb(spark):
    """Facade from_wkb/to_wkb: LRS picks up geom_m_col; roundtrip exact."""
    import numpy as np

    from linref_spark import wrap
    from linref_spark.geometry import kernels as K

    xs = np.array([0.0, 10.0]); ys = np.array([0.0, 0.0]); ms = np.array([0.0, 10.0])
    df = spark.createDataFrame(
        [("A", 0.0, 10.0, bytearray(K.to_wkb_m(xs, ys, ms)))],
        "route string, beg double, end double, wkb binary",
    )
    fr = wrap(df, key_cols=("route",), beg_col="beg", end_col="end")
    g = fr.from_wkb(drop_wkb=True)
    assert g.lrs.geom_m_col == "geom_m"
    back = g.to_wkb()
    x2, _, m2 = K.from_wkb_m(bytes(back.df.first()["wkb"]))
    assert list(x2) == [0.0, 10.0] and list(m2) == [0.0, 10.0]


def test_wkb_wkt_ingestion_fuzz(spark):
    """Byte-flip fuzz over the codec ingestion paths (same untrusted-input
    gate as the media parsers): every corruption either parses or raises
    only the exception types the UDFs convert to NULL — then the UDF path
    itself yields parsed-or-NULL for a corrupted batch, never a task
    failure."""
    import struct as _s

    import numpy as np

    from linref_spark.geometry import kernels as K
    from linref_spark.geometry.udfs import udf_wkb_to_geom_m, udf_wkt_to_geom_m
    from pyspark.sql import functions as F

    rng = np.random.default_rng(17)
    xs = np.array([0.0, 3.0, 7.5]); ys = np.array([1.0, 4.0, 2.0])
    ms = np.array([0.0, 5.0, 11.0])
    good = K.to_wkb_m(xs, ys, ms)

    caught = (ValueError, _s.error, IndexError)  # the UDF's except set
    for pos in range(len(good)):
        for flip in (0x01, 0x80, 0xFF):
            b = bytearray(good)
            b[pos] ^= flip
            try:
                K.from_wkb_m(bytes(b))
            except caught:
                pass  # -> NULL in the UDF; anything else fails the test

    # declared-size attack: header claims 2^31 points with 24 bytes of body
    huge = b"\x01" + _s.pack("<II", 0x800007D2, 0x80000000) + b"\x00" * 24
    try:
        K.from_wkb_m(huge)
        raise AssertionError("expected truncation error")
    except caught:
        pass

    wkt_junk = ["LINESTRING M (1 2", "LINESTRING M (1 2 3, 4 5)", "(((", "x"]
    for w in wkt_junk:
        try:
            K.from_wkt_m(w)
        except caught:
            pass

    rows = [(0, bytearray(good), "LINESTRING M (0 1 0, 3 4 5)")]
    for i in range(1, 24):
        b = bytearray(good)
        b[int(rng.integers(len(good)))] ^= int(rng.integers(1, 256))
        rows.append((i, b, wkt_junk[i % len(wkt_junk)]))
    df = spark.createDataFrame(rows, "gid long, wkb binary, wkt string")
    out = df.select(
        "gid",
        udf_wkb_to_geom_m(F.col("wkb")).alias("g1"),
        udf_wkt_to_geom_m(F.col("wkt")).alias("g2"),
    ).collect()  # must not raise
    byg = {r.gid: r for r in out}
    assert list(byg[0].g1["ms"]) == [0.0, 5.0, 11.0]
    assert list(byg[0].g2["ms"]) == [0.0, 5.0]


def test_geopandas_gate_both_branches(spark):
    """VERDICT r05 item 8: exercise the import gate in whichever state the
    environment provides. Without geopandas, from_geopandas/to_geopandas
    must raise the documented ImportError pointing at the WKB path; WITH
    geopandas (the day the environment gains GEOS), the real conversion
    round-trips geometry and CRS through the WKB hop."""
    import pytest as _pytest

    from linref_spark import interop as I

    if not I.HAS_GEOPANDAS:
        with _pytest.raises(ImportError, match="frame_from_wkb"):
            I.from_geopandas(spark, object())
        with _pytest.raises(ImportError, match="frame_from_wkb"):
            I.to_geopandas(spark.range(1))
        return

    import geopandas as gpd
    from shapely.geometry import LineString

    gdf = gpd.GeoDataFrame(
        {"name": ["a", "b"]},
        geometry=[LineString([(0, 0), (3, 4)]), LineString([(1, 1), (4, 5)])],
        crs="EPSG:4326",
    )
    sdf = I.from_geopandas(spark, gdf)
    assert I.crs_of(sdf) == "EPSG:4326"
    back = I.to_geopandas(sdf)
    assert sorted(back["name"]) == ["a", "b"]
    assert str(back.crs) == "EPSG:4326"
    assert back.geometry.iloc[0].length > 0


def test_bearing_direction(spark):
    rows_ = [
        (0, [0.0, 10.0], [0.0, 0.0]),     # east
        (1, [0.0, 0.0], [0.0, 5.0]),      # north
        (2, [0.0, -4.0], [0.0, 0.0]),     # west
        (3, [0.0, 1.0], [0.0, -9.0]),     # ~south
    ]
    df = spark.createDataFrame(rows_, ["i", "xs", "ys"]).select(
        "i", F.struct("xs", "ys").alias("geom_m")
    )
    out = {r.i: (r.bearing, r.direction) for r in with_bearing(df).collect()}
    assert out[0] == (0.0, "E")
    assert out[1] == (90.0, "N")
    assert out[2] == (180.0, "W")
    assert out[3][1] == "S"


def test_generate_linear_events(spark):
    # group R: two contiguous parts given out of order + one disjoint part
    rows_ = [
        ("R", [3.0, 7.0], [0.0, 0.0]),   # second in chain (len 4)
        ("R", [0.0, 3.0], [0.0, 0.0]),   # first in chain (len 3)
        ("R", [50.0, 52.0], [5.0, 5.0]),  # disjoint chain (len 2)
    ]
    df = spark.createDataFrame(rows_, ["route", "geom_xs", "geom_ys"])
    lrs = LRS(key_cols=("route",), beg_col="beg", end_col="end")
    df = add_event_id(df, order_by=["route", "geom_xs"])
    out = generate_linear_events(df, lrs, scale=2.0)
    got = {tuple(r.geom_xs): (r.beg, r.end, r.chain) for r in out.collect()}
    # merge order: part(0-3) then part(3-7) chain 0, then disjoint chain 1;
    # measures are a global cumsum x scale (ext/base.py:1443-1446)
    assert got[(0.0, 3.0)] == (0.0, 6.0, 0.0)
    assert got[(3.0, 7.0)] == (6.0, 14.0, 0.0)
    assert got[(50.0, 52.0)] == (14.0, 18.0, 1.0)
    # M geometry endpoints match the generated bounds
    ms = {tuple(r.geom_xs): list(r.geom_m.ms) for r in out.collect()}
    assert ms[(0.0, 3.0)] == [0.0, 6.0]
