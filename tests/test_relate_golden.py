"""Golden-value parity tests against linref's relate/aggregation fixtures.

Expected cells transcribed from
``/root/reference/linref/tests/test_events_relate.py`` (cited per test).
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from linref_spark.relate import agg as A
from linref_spark.relate.join import (
    EQUI,
    JoinStrategy,
    intersect_pairs,
    overlay_pairs,
)
from tests.conftest import col_as_array, make_events, pairs_to_matrix

BINNED = JoinStrategy("binned", bin_size=7.0)  # deliberately odd width


# --- TestOverlay fixture (test_events_relate.py:23-134) ---------------------


@pytest.fixture(scope="module")
def overlay_fixture(spark):
    left, llrs = make_events(
        spark, begs=[0, 10, 20], ends=[10, 20, 30], groups=[1, 1, 2]
    )
    right, rlrs = make_events(
        spark, begs=[5, 15, 25], ends=[15, 25, 35], groups=[1, 1, 2]
    )
    return left, llrs, right, rlrs


@pytest.mark.parametrize("strategy", [EQUI, BINNED])
def test_overlay_basic(overlay_fixture, strategy):
    left, llrs, right, rlrs = overlay_fixture
    mat = pairs_to_matrix(
        overlay_pairs(left, right, llrs, rlrs, normalize=False, strategy=strategy),
        3, 3, weight=True,
    )
    assert mat[0, 0] == pytest.approx(5.0)
    assert mat[1, 0] == pytest.approx(5.0)
    assert mat[1, 1] == pytest.approx(5.0)
    assert mat[2, 2] == pytest.approx(5.0)
    assert mat[2, 1] == 0.0  # cross-group


def test_overlay_normalized_both_sides(overlay_fixture):
    left, llrs, right, rlrs = overlay_fixture
    for norm_by in ("right", "left"):
        mat = pairs_to_matrix(
            overlay_pairs(left, right, llrs, rlrs, normalize=True, norm_by=norm_by),
            3, 3, weight=True,
        )
        assert mat[0, 0] == pytest.approx(0.5)
        assert mat[1, 0] == pytest.approx(0.5)
        assert mat[1, 1] == pytest.approx(0.5)


def test_overlay_varying_lengths_norm_right(spark):
    left, llrs = make_events(spark, begs=[0, 10, 20], ends=[15, 25, 35])
    right, rlrs = make_events(spark, begs=[5, 20, 30], ends=[10, 25, 40])
    mat = pairs_to_matrix(
        overlay_pairs(left, right, llrs, rlrs, normalize=True, norm_by="right"),
        3, 3, weight=True,
    )
    assert mat[0, 0] == pytest.approx(1.0)
    assert mat[1, 1] == pytest.approx(1.0)
    assert mat[2, 1] == pytest.approx(1.0)
    assert mat[2, 2] == pytest.approx(0.5)


def test_overlay_varying_lengths_norm_left(spark):
    left, llrs = make_events(spark, begs=[0, 10, 20], ends=[10, 22, 40])
    right, rlrs = make_events(spark, begs=[5, 15, 30], ends=[15, 25, 35])
    mat = pairs_to_matrix(
        overlay_pairs(left, right, llrs, rlrs, normalize=True, norm_by="left"),
        3, 3, weight=True,
    )
    assert mat[0, 0] == pytest.approx(0.5)
    assert mat[1, 0] == pytest.approx(5.0 / 12.0)
    assert mat[1, 1] == pytest.approx(7.0 / 12.0)
    assert mat[2, 1] == pytest.approx(0.25)
    assert mat[2, 2] == pytest.approx(0.25)


def test_overlay_no_weight_at_touching_edges(spark):
    # test_events_relate.py:213-233 — touching intervals get zero overlay
    left, llrs = make_events(spark, begs=[0, 20], ends=[10, 30])
    right, rlrs = make_events(spark, begs=[10, 30], ends=[20, 40])
    mat = pairs_to_matrix(
        overlay_pairs(left, right, llrs, rlrs, normalize=False), 2, 2, weight=True
    )
    assert np.all(mat == 0.0)


# --- Closure sensitivity (test_events_relate.py:382-522) --------------------


@pytest.mark.parametrize("strategy", [EQUI, BINNED])
def test_point_linear_left_closed(spark, strategy):
    pts, plrs = make_events(spark, locs=[0, 10])
    lin, llrs = make_events(spark, begs=[0], ends=[10], closed="left")
    mat = pairs_to_matrix(
        intersect_pairs(pts, lin, plrs, llrs, strategy=strategy), 2, 1
    )
    assert mat[0, 0] and not mat[1, 0]


def test_point_linear_right_closed(spark):
    pts, plrs = make_events(spark, locs=[0, 10])
    lin, llrs = make_events(spark, begs=[0], ends=[10], closed="right")
    mat = pairs_to_matrix(intersect_pairs(pts, lin, plrs, llrs), 2, 1)
    assert not mat[0, 0] and mat[1, 0]


def test_point_linear_groups(spark):
    pts, plrs = make_events(spark, locs=[5, 5], groups=[1, 2])
    lin, llrs = make_events(
        spark, begs=[0, 0], ends=[10, 10], groups=[1, 2], closed="both"
    )
    mat = pairs_to_matrix(intersect_pairs(pts, lin, plrs, llrs), 2, 2)
    assert mat[0, 0] and mat[1, 1] and not mat[0, 1] and not mat[1, 0]


def test_linear_linear_basic_neither(spark):
    left, llrs = make_events(spark, begs=[0, 10, 20], ends=[10, 20, 30], closed="neither")
    right, rlrs = make_events(spark, begs=[5, 15, 25], ends=[15, 25, 35], closed="neither")
    mat = pairs_to_matrix(intersect_pairs(left, right, llrs, rlrs), 3, 3)
    exp = np.array(
        [[1, 0, 0], [1, 1, 0], [0, 1, 1]], dtype=bool
    )
    assert np.array_equal(mat, exp)


@pytest.mark.parametrize("strategy", [EQUI, BINNED])
def test_linear_linear_touching_both_closed(spark, strategy):
    left, llrs = make_events(spark, begs=[0, 10], ends=[10, 20], closed="both")
    right, rlrs = make_events(spark, begs=[10, 20], ends=[20, 30], closed="both")
    mat = pairs_to_matrix(
        intersect_pairs(left, right, llrs, rlrs, strategy=strategy), 2, 2
    )
    assert mat[0, 0] and mat[1, 1]


def test_linear_linear_touching_neither_right(spark):
    left, llrs = make_events(spark, begs=[0, 20], ends=[10, 30], closed="both")
    right, rlrs = make_events(spark, begs=[10, 30], ends=[20, 40], closed="neither")
    mat = pairs_to_matrix(intersect_pairs(left, right, llrs, rlrs), 2, 2)
    assert not mat[0, 0] and not mat[1, 1]


def test_linear_linear_groups(spark):
    left, llrs = make_events(
        spark, begs=[0, 0], ends=[10, 10], groups=[1, 2], closed="both"
    )
    right, rlrs = make_events(
        spark, begs=[5, 5], ends=[15, 15], groups=[1, 2], closed="both"
    )
    mat = pairs_to_matrix(intersect_pairs(left, right, llrs, rlrs), 2, 2)
    assert mat[0, 0] and mat[1, 1] and not mat[0, 1] and not mat[1, 0]


# --- Aggregation fixture (test_events_relate.py:680-856) --------------------


@pytest.fixture(scope="module")
def agg_fixture(spark):
    left, llrs = make_events(
        spark, begs=[0, 10, 20, 30], ends=[10, 20, 30, 40], groups=[1, 1, 2, 2]
    )
    right, rlrs = make_events(
        spark,
        begs=[5, 15, 25],
        ends=[15, 25, 35],
        groups=[1, 1, 2],
        extra={"val": [10.0, 20.0, 30.0]},
    )
    ipairs = intersect_pairs(left, right, llrs, rlrs).cache()
    opairs = overlay_pairs(left, right, llrs, rlrs, normalize=True, norm_by="right").cache()
    return left, right, ipairs, opairs


def test_count_axis1(agg_fixture):
    left, right, ipairs, _ = agg_fixture
    out = col_as_array(A.agg_count(ipairs, left, axis=1), "count", 4)
    assert list(out) == [1, 2, 1, 1]


def test_count_axis0(agg_fixture):
    left, right, ipairs, _ = agg_fixture
    out = col_as_array(A.agg_count(ipairs, right, axis=0), "count", 3)
    assert list(out) == [2, 1, 2]


def test_sum_with_overlay(agg_fixture):
    left, right, _, opairs = agg_fixture
    out = col_as_array(
        A.agg_sum(opairs, left, right, "val", axis=1, out_col="s"), "s", 4
    )
    assert [pytest.approx(v) for v in [5.0, 15.0, 15.0, 15.0]] == list(out)


def test_sum_with_intersect(agg_fixture):
    left, right, ipairs, _ = agg_fixture
    out = col_as_array(
        A.agg_sum(ipairs, left, right, "val", axis=1, out_col="s"), "s", 4
    )
    assert [pytest.approx(v) for v in [10.0, 30.0, 30.0, 30.0]] == list(out)


def test_mean_with_overlay(agg_fixture):
    left, right, _, opairs = agg_fixture
    out = col_as_array(
        A.agg_mean(opairs, left, right, "val", axis=1, out_col="m"), "m", 4
    )
    assert [pytest.approx(v) for v in [10.0, 15.0, 30.0, 30.0]] == list(out)


def test_first_last(agg_fixture):
    left, right, ipairs, _ = agg_fixture
    first = col_as_array(
        A.agg_first(ipairs, left, right, "val", axis=1, out_col="f"), "f", 4
    )
    last = col_as_array(
        A.agg_last(ipairs, left, right, "val", axis=1, out_col="l"), "l", 4
    )
    assert list(first[:3]) == [10.0, 10.0, 30.0]
    assert list(last[:3]) == [10.0, 20.0, 30.0]


def test_single_out_of_bounds_is_null(agg_fixture):
    left, right, ipairs, _ = agg_fixture
    out = col_as_array(
        A.agg_single(ipairs, left, right, "val", index=1, axis=1, out_col="s"), "s", 4
    )
    # only left[1] has a 2nd match (right[1] -> 20.0); others NULL
    assert out[1] == 20.0
    assert out[0] is None and out[2] is None and out[3] is None


def test_list_aggregation(agg_fixture):
    left, right, ipairs, _ = agg_fixture
    out = col_as_array(
        A.agg_list(ipairs, left, right, "val", axis=1, out_col="lst"), "lst", 4
    )
    assert list(out[0]) == [10.0]
    assert sorted(out[1]) == [10.0, 20.0]


def test_set_aggregation(spark, agg_fixture):
    left, right, ipairs, _ = agg_fixture
    right_dupes = right.withColumn(
        "val2",
        right["val"] * 0 + 10.0,  # [10, 10, 30]-ish; use explicit mapping below
    )
    # explicit duplicate data [10.0, 10.0, 30.0] per reference test
    from pyspark.sql import functions as F

    right_dupes = right.withColumn(
        "val2", F.when(F.col("event_id") == 2, 30.0).otherwise(10.0)
    )
    out = col_as_array(
        A.agg_set(ipairs, left, right_dupes, "val2", axis=1, out_col="s"), "s", 4
    )
    assert len(out[1]) == 1 and out[1][0] == 10.0


def test_mode_aggregation(agg_fixture):
    left, right, ipairs, _ = agg_fixture
    out = col_as_array(
        A.agg_mode(ipairs, left, right, "val", axis=1, out_col="m"), "m", 4
    )
    # equal weights -> tie breaks to smallest value (sorted-unique argmax)
    assert out[1] in (10.0, 20.0) and out[1] == 10.0
    assert out[0] == 10.0 and out[2] == 30.0 and out[3] == 30.0


def test_sum_conserve(agg_fixture):
    # conserve=True normalizes each source event's weights to sum 1 so the
    # total value is preserved (relate.py:1085-1092)
    left, right, _, opairs = agg_fixture
    out = col_as_array(
        A.agg_sum(opairs, left, right, "val", axis=1, conserve=True, out_col="s"),
        "s", 4,
    )
    total = sum(v for v in out if v is not None and not math.isnan(v))
    # right[0] fully distributed (10), right[1] half-matched -> 20 (all its
    # matched weight goes to left[1]), right[2] -> 30: total 60
    assert total == pytest.approx(60.0)


# --- binned strategy equivalence --------------------------------------------


@pytest.mark.parametrize("closed", ["left", "right", "both", "neither", "left_mod", "right_mod"])
def test_binned_equals_equi_linear(spark, closed):
    left, llrs = make_events(
        spark,
        begs=[0, 5, 10, 10, 20, 0], ends=[10, 15, 20, 18, 30, 3],
        groups=[1, 1, 1, 2, 2, 2], closed=closed,
    )
    right, rlrs = make_events(
        spark,
        begs=[10, 0, 18, 3, 25, 30], ends=[20, 5, 25, 10, 35, 40],
        groups=[1, 1, 2, 2, 2, 1], closed=closed,
    )
    a = pairs_to_matrix(intersect_pairs(left, right, llrs, rlrs, strategy=EQUI), 6, 6)
    b = pairs_to_matrix(intersect_pairs(left, right, llrs, rlrs, strategy=BINNED), 6, 6)
    assert np.array_equal(a, b)
    wa = pairs_to_matrix(
        overlay_pairs(left, right, llrs, rlrs, strategy=EQUI), 6, 6, weight=True
    )
    wb = pairs_to_matrix(
        overlay_pairs(left, right, llrs, rlrs, strategy=BINNED), 6, 6, weight=True
    )
    assert np.allclose(wa, wb)


@pytest.mark.parametrize("closed", ["left", "both", "left_mod"])
def test_auto_equals_equi_linear(spark, closed):
    """kind='auto' must resolve to SOME physical strategy with identical
    results (small groups here resolve to equi; the resolution itself must
    not perturb pair sets or weights)."""
    from linref_spark.relate.join import AUTO

    left, llrs = make_events(
        spark,
        begs=[0, 5, 10, 10, 20, 0], ends=[10, 15, 20, 18, 30, 3],
        groups=[1, 1, 1, 2, 2, 2], closed=closed,
    )
    right, rlrs = make_events(
        spark,
        begs=[10, 0, 18, 3, 25, 30], ends=[20, 5, 25, 10, 35, 40],
        groups=[1, 1, 2, 2, 2, 1], closed=closed,
    )
    a = pairs_to_matrix(intersect_pairs(left, right, llrs, rlrs, strategy=EQUI), 6, 6)
    b = pairs_to_matrix(intersect_pairs(left, right, llrs, rlrs, strategy=AUTO), 6, 6)
    assert np.array_equal(a, b)


def test_auto_resolution_picks_binned_on_hot_group(spark):
    """A group above the occupancy threshold resolves to binned with a
    positive derived bin size; results equal the equi plan."""
    from linref_spark.relate.join import (
        AUTO,
        AUTO_OCCUPANCY_THRESHOLD,
        _narrow,
        _resolve_auto,
    )

    n = AUTO_OCCUPANCY_THRESHOLD + 100
    begs = [float(i % 200) for i in range(n)]
    ends = [b + 5.0 for b in begs]
    left, llrs = make_events(
        spark, begs=begs, ends=ends, groups=[1] * n, closed="left"
    )
    ln = _narrow(left, llrs, "l", False)
    rn = _narrow(left, llrs, "r", False)
    resolved = _resolve_auto(ln, rn, llrs, llrs, AUTO)
    assert resolved.kind == "binned" and resolved.bin_size > 0

    # and a small frame resolves to equi
    small, slrs = make_events(
        spark, begs=[0, 5], ends=[10, 15], groups=[1, 1], closed="left"
    )
    sn = _narrow(small, slrs, "l", False)
    sn2 = _narrow(small, slrs, "r", False)
    assert _resolve_auto(sn, sn2, slrs, slrs, AUTO).kind == "equi"

    # equality of results on the hot frame (subsample pairs for speed)
    eq = intersect_pairs(left, left, llrs, llrs, strategy=EQUI).count()
    au = intersect_pairs(left, left, llrs, llrs, strategy=AUTO).count()
    assert eq == au


def test_value_counts_pivot(spark, agg_fixture):
    left, right, ipairs, _ = agg_fixture
    out = A.agg_value_counts(ipairs, left, right, "val", axis=1)
    rows = {r.event_id: r for r in out.collect()}
    # left[1] matches right[0] (val 10.0) and right[1] (val 20.0)
    assert rows[1]["10.0"] == 1 and rows[1]["20.0"] == 1 and rows[1]["30.0"] == 0
    assert rows[0]["10.0"] == 1 and rows[0]["20.0"] == 0
    assert rows[2]["30.0"] == 1


def test_equal_groups_coerces_binned_to_equi(spark):
    """equal_groups pairs on group equality ALONE: a binned (or auto->
    binned) strategy would drop same-group pairs whose intervals never
    share a bin — equal_groups_pairs must coerce any strategy to equi and
    return every same-group pair regardless of measures."""
    from linref_spark.relate.join import AUTO, equal_groups_pairs

    left, llrs = make_events(
        spark,
        begs=[0, 1000, 0], ends=[1, 1001, 1],  # far-apart intervals
        groups=[1, 1, 2], closed="left",
    )
    n_equi = equal_groups_pairs(left, left, llrs, llrs, strategy=EQUI).count()
    n_binned = equal_groups_pairs(left, left, llrs, llrs, strategy=BINNED).count()
    n_auto = equal_groups_pairs(left, left, llrs, llrs, strategy=AUTO).count()
    # group 1 has 2 rows -> 4 pairs; group 2 -> 1 pair
    assert n_equi == 5 and n_binned == 5 and n_auto == 5


def test_facade_relate_defaults_to_auto(spark):
    """The facade .relate() default is JoinStrategy('auto'): results must
    match the explicit-equi primitive on every `how`."""
    from linref_spark import wrap

    df = spark.createDataFrame(
        [("A", 0.0, 10.0, 1.0), ("A", 5.0, 15.0, 2.0), ("B", 0.0, 4.0, 3.0)],
        "route string, beg double, end double, val double",
    )
    fr = wrap(df, key_cols=("route",), beg_col="beg", end_col="end")
    other = wrap(df, key_cols=("route",), beg_col="beg", end_col="end")
    got = fr.relate(other).count(out_col="n").df.orderBy("route", "beg")
    exp = fr.relate(other, strategy=EQUI).count(out_col="n").df.orderBy(
        "route", "beg"
    )
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in exp.collect()]
    n_eq = fr.relate(other, how="equal_groups").pairs.count()
    assert n_eq == 5  # 2x2 same-group pairs on A + 1 on B


def test_auto_salts_duplicated_interval_flood(spark):
    """MANY identical [beg, end] intervals in one group defeat binning
    (every copy covers the same bins) — auto must pick salt_buckets, and
    the salted pair multiset must equal the unsalted one."""
    from linref_spark.relate.join import (
        AUTO,
        AUTO_SALT_DUP_THRESHOLD,
        _narrow,
        _resolve_auto,
    )

    n = AUTO_SALT_DUP_THRESHOLD * 2
    # one flooded identical interval + a few distinct ones for span
    begs = [10.0] * n + [0.0, 50.0, 90.0]
    ends = [20.0] * n + [5.0, 60.0, 100.0]
    left, llrs = make_events(
        spark, begs=begs, ends=ends, groups=[1] * len(begs), closed="left"
    )
    ln = _narrow(left, llrs, "l", False)
    rn = _narrow(left, llrs, "r", False)
    resolved = _resolve_auto(ln, rn, llrs, llrs, AUTO)
    assert resolved.kind == "binned"
    assert resolved.salt_buckets is not None and resolved.salt_buckets >= 2

    unsalted = JoinStrategy("binned", bin_size=resolved.bin_size)
    n_salted = intersect_pairs(left, left, llrs, llrs, strategy=resolved).count()
    n_plain = intersect_pairs(left, left, llrs, llrs, strategy=unsalted).count()
    assert n_salted == n_plain


def test_auto_probe_memoized_per_input_pair(spark, monkeypatch):
    """An N-op chain over the same relate inputs must run ONE stats probe:
    the auto resolution is memoized on the semantic hash of the narrow
    input plans."""
    import linref_spark.relate.join as J

    calls = {"n": 0}
    real = J._resolve_auto

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(J, "_resolve_auto", counting)
    left, llrs = make_events(
        spark, begs=[0, 5, 10], ends=[10, 15, 20], groups=[1, 1, 2],
        closed="left",
    )
    for _ in range(3):
        intersect_pairs(left, left, llrs, llrs, strategy=J.AUTO).count()
    assert calls["n"] == 1


def test_clear_auto_cache_forces_a_new_probe(spark):
    """The auto-strategy memo answers a repeated frame pair without a stats
    probe; clear_auto_cache() empties it, so the next auto call probes the
    inputs again (the hook for paths overwritten within a session)."""
    from linref_spark.relate.join import (
        AUTO,
        _AUTO_CACHE,
        clear_auto_cache,
        resolve_auto,
    )

    left, llrs = make_events(
        spark, begs=[0, 5, 40], ends=[10, 15, 41], groups=[7, 7, 8],
        closed="left",
    )
    sc = spark.sparkContext

    def probe_jobs(tag):
        sc.setJobGroup(tag, tag)
        try:
            resolve_auto(left, left, llrs, llrs, AUTO)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(tag))

    clear_auto_cache()
    assert len(_AUTO_CACHE) == 0
    assert probe_jobs("auto-first") > 0
    assert len(_AUTO_CACHE) == 1
    assert probe_jobs("auto-memo") == 0
    clear_auto_cache()
    assert len(_AUTO_CACHE) == 0
    assert probe_jobs("auto-cleared") > 0
    assert len(_AUTO_CACHE) == 1
