"""Arrow-batched pandas UDFs wrapping the numpy M-geometry kernels.

The ``geom_m`` column convention is ``struct<xs:array<double>,
ys:array<double>, ms:array<double>>`` — parallel coordinate arrays, the
Arrow-friendliest encoding of the reference's ``LineStringM``
(``linref/geometry/linestring_m.py:11-34``). UDFs take the arrays as
separate args (``F.col("geom_m.xs")`` ...) so Arrow moves plain
list<double> buffers, never python objects.

Everything here is the *slow path by design* — per the build plan, geometry
is the only place Python runs, and it runs vectorized per Arrow batch.
"""

from __future__ import annotations

import struct
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from linref_spark.geometry import kernels as K
from linref_spark.lrs import EVENT_ID, LRS

GEOM_M_TYPE = StructType(
    [
        StructField("xs", ArrayType(DoubleType())),
        StructField("ys", ArrayType(DoubleType())),
        StructField("ms", ArrayType(DoubleType())),
    ]
)

XY_TYPE = StructType(
    [StructField("x", DoubleType()), StructField("y", DoubleType())]
)


def geom_m_struct(xs: Column, ys: Column, ms: Column) -> Column:
    return F.struct(xs.alias("xs"), ys.alias("ys"), ms.alias("ms"))


def _np(v) -> np.ndarray:
    return np.asarray(v, dtype=np.float64)


def nondeterministic(udf):
    """Declare a pure UDF nondeterministic, once, where it is defined.

    Every caller of such a UDF filters on its output. Without the flag the
    optimizer pushes a copy of that filter beneath the projection and the
    kernel runs twice per row (two ArrowEvalPython nodes). The function is
    pure; the flag only stops the optimizer duplicating or reordering it.
    ``asNondeterministic()`` mutates the UDF instance it is called on, so
    it must never be called on a shared UDF at a call site: that would
    flip the UDF for every later caller in the session.
    """
    return udf.asNondeterministic()


@F.pandas_udf(ArrayType(DoubleType()))
def udf_set_m_from_bounds(
    xs: pd.Series, ys: pd.Series, beg: pd.Series, end: pd.Series
) -> pd.Series:
    out = []
    for x, y, b, e in zip(xs, ys, beg, end):
        if x is None:
            out.append(None)
            continue
        out.append(K.set_m_from_bounds(_np(x), _np(y), float(b), float(e)))
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def udf_m_to_distance(
    xs: pd.Series, ys: pd.Series, ms: pd.Series, m: pd.Series
) -> pd.Series:
    out = np.full(len(xs), np.nan)
    for i, (x, y, mm, v) in enumerate(zip(xs, ys, ms, m)):
        if x is None or mm is None or v is None:
            continue
        out[i] = K.m_to_distance(_np(x), _np(y), _np(mm), np.array([v]))[0]
    return pd.Series(out)


@F.pandas_udf(DoubleType())
def udf_distance_to_m(
    xs: pd.Series, ys: pd.Series, ms: pd.Series, dist: pd.Series
) -> pd.Series:
    out = np.full(len(xs), np.nan)
    for i, (x, y, mm, v) in enumerate(zip(xs, ys, ms, dist)):
        if x is None or mm is None or v is None:
            continue
        out[i] = K.distance_to_m(_np(x), _np(y), _np(mm), np.array([v]))[0]
    return pd.Series(out)


@nondeterministic
@F.pandas_udf(DoubleType())
def udf_locate_point_m(
    xs: pd.Series, ys: pd.Series, ms: pd.Series, px: pd.Series, py: pd.Series
) -> pd.Series:
    """Project point -> distance along line -> M (``operations.py:14-61``)."""
    out = np.full(len(xs), np.nan)
    for i, (x, y, mm, a, b) in enumerate(zip(xs, ys, ms, px, py)):
        if x is None or a is None:
            continue
        x, y = _np(x), _np(y)
        d = K.locate_point(x, y, float(a), float(b))
        if mm is None:
            out[i] = d
        else:
            out[i] = K.distance_to_m(x, y, _np(mm), np.array([d]))[0]
    return pd.Series(out)


@nondeterministic
@F.pandas_udf(DoubleType())
def udf_point_line_distance(
    xs: pd.Series, ys: pd.Series, px: pd.Series, py: pd.Series
) -> pd.Series:
    out = np.full(len(xs), np.nan)
    for i, (x, y, a, b) in enumerate(zip(xs, ys, px, py)):
        if x is None or a is None:
            continue
        out[i] = K.point_line_distance(_np(x), _np(y), float(a), float(b))
    return pd.Series(out)


@F.pandas_udf(XY_TYPE)
def udf_interpolate_m(
    xs: pd.Series, ys: pd.Series, ms: pd.Series, m: pd.Series
) -> pd.DataFrame:
    """Point at M value (``operations.py:158-203``; M -> distance -> lerp)."""
    outx = np.full(len(xs), np.nan)
    outy = np.full(len(xs), np.nan)
    for i, (x, y, mm, v) in enumerate(zip(xs, ys, ms, m)):
        if x is None or mm is None or v is None:
            continue
        x, y, mm = _np(x), _np(y), _np(mm)
        d = K.m_to_distance(x, y, mm, np.array([v]))[0]
        outx[i], outy[i] = K.interpolate_point(x, y, d)
    return pd.DataFrame({"x": outx, "y": outy})


@F.pandas_udf(GEOM_M_TYPE)
def udf_cut_m(
    xs: pd.Series, ys: pd.Series, ms: pd.Series, beg: pd.Series, end: pd.Series
) -> pd.DataFrame:
    """Substring between two M values (``linestring_m.py:513-594``: M ->
    distance via snapping conversion, then ``substring_m_coords``)."""
    oxs, oys, oms = [], [], []
    for x, y, mm, b, e in zip(xs, ys, ms, beg, end):
        if x is None or mm is None or b is None or e is None:
            oxs.append(None), oys.append(None), oms.append(None)
            continue
        x, y, mm = _np(x), _np(y), _np(mm)
        d = K.m_to_distance(x, y, mm, np.array([b, e], dtype=np.float64))
        cx, cy, cm = K.substring(x, y, mm, float(d[0]), float(d[1]))
        oxs.append(cx), oys.append(cy), oms.append(cm)
    return pd.DataFrame({"xs": oxs, "ys": oys, "ms": oms})


@F.pandas_udf(StringType())
def udf_geom_m_to_wkt(xs: pd.Series, ys: pd.Series, ms: pd.Series) -> pd.Series:
    out = []
    for x, y, mm in zip(xs, ys, ms):
        out.append(None if x is None else K.to_wkt_m(_np(x), _np(y), _np(mm)))
    return pd.Series(out)


@F.pandas_udf(BinaryType())
def udf_geom_m_to_wkb(xs: pd.Series, ys: pd.Series, ms: pd.Series) -> pd.Series:
    """ISO WKB LINESTRING M (little-endian) — binary interchange for the
    geom_m struct (kernels.to_wkb_m)."""
    out = []
    for x, y, mm in zip(xs, ys, ms):
        out.append(None if x is None else K.to_wkb_m(_np(x), _np(y), _np(mm)))
    return pd.Series(out)


@F.pandas_udf(GEOM_M_TYPE)
def udf_wkb_to_geom_m(wkb: pd.Series) -> pd.DataFrame:
    """Parse WKB LINESTRING M bytes (ISO 2002 / EWKB M-flag / plain 2-D)
    into the geom_m struct — the shapely-free ingestion path closing the
    ``parse_geoms_m_shapely`` role (``linref/ext/base.py:3381-3425``).
    Unparseable bytes surface as a NULL struct rather than failing the
    task — ingestion runs over untrusted crawl bytes."""
    oxs, oys, oms = [], [], []
    for b in wkb:
        if b is None:
            oxs.append(None), oys.append(None), oms.append(None)
            continue
        try:
            x, y, m = K.from_wkb_m(bytes(b))
        except (ValueError, struct.error, IndexError):
            x = y = m = None
        oxs.append(x), oys.append(y), oms.append(m)
    return pd.DataFrame({"xs": oxs, "ys": oys, "ms": oms})


@F.pandas_udf(GEOM_M_TYPE)
def udf_wkt_to_geom_m(wkt: pd.Series) -> pd.DataFrame:
    """Unparseable text surfaces as a NULL struct (same untrusted-input
    contract as :func:`udf_wkb_to_geom_m`)."""
    oxs, oys, oms = [], [], []
    for w in wkt:
        if w is None:
            oxs.append(None), oys.append(None), oms.append(None)
            continue
        try:
            x, y, m = K.from_wkt_m(w)
        except (ValueError, IndexError):
            x = y = m = None
        oxs.append(x), oys.append(y), oms.append(m)
    return pd.DataFrame({"xs": oxs, "ys": oys, "ms": oms})


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------


def add_geom_m(
    df: DataFrame,
    lrs: LRS,
    xs_col: str = "geom_xs",
    ys_col: str = "geom_ys",
    out_col: str = "geom_m",
) -> DataFrame:
    """Lift 2-D coordinate arrays + [beg, end] into a geom_m struct
    (``LRS_Accessor.build_geom_m``, ``linref/ext/base.py:991-1036``)."""
    ms = udf_set_m_from_bounds(
        F.col(xs_col), F.col(ys_col), F.col(lrs.beg_col), F.col(lrs.end_col)
    )
    return df.withColumn(
        out_col, geom_m_struct(F.col(xs_col), F.col(ys_col), ms)
    )


def extract_m_values(
    df: DataFrame, geom_col: str = "geom_m", beg_col: str = "beg", end_col: str = "end"
) -> DataFrame:
    """beg/end from geom_m endpoints (``linref/ext/base.py:2676-2731``)."""
    return df.withColumn(
        beg_col, F.element_at(F.col(f"{geom_col}.ms"), 1)
    ).withColumn(end_col, F.element_at(F.col(f"{geom_col}.ms"), -1))


def cut_geoms(
    df: DataFrame,
    beg_col: str,
    end_col: str,
    geom_col: str = "geom_m",
    out_col: str = "geom_m_cut",
) -> DataFrame:
    """Per-row substring of geom_m between [beg, end] M values (the geometry
    leg of resegment / cut_from, ``relate.py:1626-1724``)."""
    g = F.col(geom_col)
    return df.withColumn(
        out_col,
        udf_cut_m(g["xs"], g["ys"], g["ms"], F.col(beg_col), F.col(end_col)),
    )


def line_merge_groups(
    df: DataFrame,
    lrs: LRS,
    geom_col: str = "geom_m",
    allow_mismatch: bool = False,
) -> DataFrame:
    """Merge each route's geometry parts into contiguous chains
    (``line_merge_m``, ``linref/geometry/merge.py:9-173``) via
    ``applyInPandas`` per route key — inherently sequential per group, fully
    parallel across groups.

    Output: one row per (route keys, chain) with merged geom_m, the merged
    span [beg, end] from M endpoints, and n_parts.
    """
    keys = list(lrs.key_cols)
    schema = StructType(
        [df.schema[k] for k in keys]
        + [
            StructField("chain", DoubleType()),
            StructField("geom_m", GEOM_M_TYPE),
            StructField("beg", DoubleType()),
            StructField("end", DoubleType()),
            StructField("n_parts", DoubleType()),
        ]
    )

    def merge_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(EVENT_ID)
        lines = [
            (_np(r["xs"]), _np(r["ys"]), _np(r["ms"]))
            for r in pdf[geom_col]
        ]
        merged, _orders, chains = K.merge_lines(lines, allow_mismatch)
        rows = []
        counts = {}
        for c in chains:
            counts[c] = counts.get(c, 0) + 1
        for ci, (x, y, m) in enumerate(merged):
            row = {k: pdf.iloc[0][k] for k in keys}
            row["chain"] = float(ci)
            row["geom_m"] = {"xs": x, "ys": y, "ms": m}
            row["beg"] = float(m[0])
            row["end"] = float(m[-1])
            row["n_parts"] = float(counts.get(ci, 0))
            rows.append(row)
        return pd.DataFrame(rows)

    return df.groupBy(*keys).applyInPandas(merge_fn, schema)


def get_chains(
    df: DataFrame, lrs: LRS, geom_col: str = "geom_m", out_col: str = "chain"
) -> DataFrame:
    """Chain index per event (``get_linestring_chains``,
    ``merge.py:176-194``; Acc ``linref/ext/base.py:1115-1237``)."""
    keys = list(lrs.key_cols)
    schema = StructType(
        list(df.schema.fields) + [StructField(out_col, DoubleType())]
    )

    def chain_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(EVENT_ID).reset_index(drop=True)
        lines = [
            (_np(r["xs"]), _np(r["ys"]), _np(r["ms"]))
            for r in pdf[geom_col]
        ]
        _m, _o, chains = K.merge_lines(lines, allow_mismatch=False)
        pdf[out_col] = [float(c) for c in chains]
        return pdf

    return df.groupBy(*keys).applyInPandas(chain_fn, schema)


SNAP_TYPE = StructType(
    [StructField("dist", DoubleType()), StructField("loc_m", DoubleType())]
)


@nondeterministic
@F.pandas_udf(SNAP_TYPE)
def udf_snap_by_geom(
    geom_key: pd.Series,
    xs: pd.Series,
    ys: pd.Series,
    ms: pd.Series,
    px: pd.Series,
    py: pd.Series,
) -> pd.DataFrame:
    """Fused distance + M snap, batched per distinct geometry key.

    The candidate join repeats each route geometry across many point rows;
    grouping the Arrow batch by ``geom_key`` runs ONE vectorized
    (points x segments) kernel per geometry instead of a Python iteration
    per row — the same unique-object batching the reference uses
    (``operations.py:114-127``), two orders of magnitude faster at high
    candidate fan-out.
    """
    n = len(geom_key)
    dist = np.full(n, np.nan)
    loc = np.full(n, np.nan)
    pxv = px.to_numpy(dtype=np.float64, na_value=np.nan)
    pyv = py.to_numpy(dtype=np.float64, na_value=np.nan)
    for ii in K.group_indices(geom_key.to_numpy()):
        i0 = int(ii[0])
        x, y, mm = xs.iloc[i0], ys.iloc[i0], ms.iloc[i0]
        if x is None:
            continue
        d, m_out = K.snap_points_batch(
            _np(x), _np(y), None if mm is None else _np(mm), pxv[ii], pyv[ii]
        )
        dist[ii] = d
        loc[ii] = m_out
    return pd.DataFrame({"dist": dist, "loc_m": loc})


def generate_linear_events(
    df: DataFrame,
    lrs: LRS,
    xs_col: str = "geom_xs",
    ys_col: str = "geom_ys",
    scale: float = 1.0,
    decimals: Optional[int] = None,
    beg_col: str = "beg",
    end_col: str = "end",
    chain_col: str = "chain",
    add_geom: bool = True,
    geom_col: str = "geom_m",
) -> DataFrame:
    """Build an LRS from geometry (``LRS_Accessor.generate_linear_events``,
    ``linref/ext/base.py:1310-1477``): per group, order parts by greedy
    line-merge, accumulate scaled (optionally rounded) lengths ACROSS the
    whole merge order (chains share the running measure, matching the
    reference's global cumsum at ``ext/base.py:1443-1446``), assign
    [beg, end) to each part in its original row order, tag chain indices,
    and optionally lift to M-enabled geometry.

    ``applyInPandas`` per route key: the merge is sequential per group,
    parallel across groups.
    """
    keys = list(lrs.key_cols)
    schema = StructType(
        list(df.schema.fields)
        + [
            StructField(beg_col, DoubleType()),
            StructField(end_col, DoubleType()),
            StructField(chain_col, DoubleType()),
        ]
    )

    def gen(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(EVENT_ID).reset_index(drop=True)
        lines = [
            (_np(x), _np(y), np.zeros(len(x)))
            for x, y in zip(pdf[xs_col], pdf[ys_col])
        ]
        _merged, orders, chains = K.merge_lines(lines, allow_mismatch=True)
        lengths = np.array(
            [K.cumdist(_np(x), _np(y))[-1] for x, y in zip(pdf[xs_col], pdf[ys_col])]
        ) * scale
        if decimals is not None:
            lengths = np.round(lengths, decimals=decimals)
        orders = np.array(orders)
        sorter = np.argsort(orders)
        cum = np.cumsum(lengths[orders])
        begs = np.append(0.0, cum[:-1])[sorter]
        ends = cum[sorter]
        pdf[beg_col] = begs
        pdf[end_col] = ends
        pdf[chain_col] = [float(c) for c in chains]
        return pdf

    out = df.groupBy(*keys).applyInPandas(gen, schema)
    if add_geom:
        glrs = LRS(key_cols=tuple(keys), beg_col=beg_col, end_col=end_col)
        out = add_geom_m(out, glrs, xs_col=xs_col, ys_col=ys_col, out_col=geom_col)
    return out
