"""Tests: constrain_to / impute_keys / split_at_locs compositions
(``linref_spark.events.constrain``)."""

from __future__ import annotations

from linref_spark.events.constrain import constrain_to, impute_keys
from tests.conftest import make_events


def rows(df, *cols, order):
    return [tuple(r[c] for c in cols) for r in df.orderBy(*order).collect()]


def test_constrain_to_basic(spark):
    subj, slrs = make_events(
        spark, begs=[0, 20], ends=[10, 30], groups=["R", "R"],
        extra={"attr": ["a", "b"]},
    )
    ref, rlrs = make_events(spark, begs=[5, 22], ends=[8, 40], groups=["R", "R"])
    out = constrain_to(subj, ref, slrs, rlrs, attr_cols=["attr"])
    got = rows(out, "route", "beg", "end", "constrained_index", "attr",
               order=("beg",))
    # subject [0,10] covered only on [5,8]; [20,30] covered on [22,30]
    assert got == [("R", 5.0, 8.0, 0, "a"), ("R", 22.0, 30.0, 1, "b")]


def test_constrain_to_dissolve_merges_contiguous(spark):
    subj, slrs = make_events(spark, begs=[0.0], ends=[30.0], groups=["R"])
    # reference split into touching pieces -> integrate splits, dissolve heals
    ref, rlrs = make_events(
        spark, begs=[5, 10, 20], ends=[10, 15, 25], groups=["R", "R", "R"]
    )
    out = constrain_to(subj, ref, slrs, rlrs)
    got = rows(out, "beg", "end", order=("beg",))
    assert got == [(5.0, 15.0), (20.0, 25.0)]
    nod = constrain_to(subj, ref, slrs, rlrs, dissolve=False)
    assert nod.count() == 3  # every reference edge splits


def test_impute_keys(spark):
    # point events missing an aux key, imputed from overlapping linear frame
    pts, plrs = make_events(spark, locs=[2.0, 7.0], groups=["R", "R"])
    lin, llrs = make_events(
        spark, begs=[0, 5], ends=[5, 10], groups=["R", "R"],
        extra={"county": ["A", "B"]},
    )
    out = impute_keys(pts, lin, plrs, llrs, impute_cols=["county"])
    got = {r.loc: r.county for r in out.collect()}
    assert got[2.0] == "A" and got[7.0] == "B"


def test_split_at_locs(spark):
    from linref_spark.events.constrain import split_at_locs

    seg, slrs = make_events(
        spark, begs=[0.0, 10.0], ends=[10.0, 20.0], groups=["R", "R"],
        extra={"attr": ["a", "b"]},
    )
    pts, plrs = make_events(spark, locs=[4.0, 15.0], groups=["R", "R"])
    out = split_at_locs(seg, pts, slrs, plrs, attr_cols=["attr"])
    got = rows(out, "beg", "end", "split_index", "attr", order=("beg",))
    assert got == [
        (0.0, 4.0, 0, "a"), (4.0, 10.0, 0, "a"),
        (10.0, 15.0, 1, "b"), (15.0, 20.0, 1, "b"),
    ]
