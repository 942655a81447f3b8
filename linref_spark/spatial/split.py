"""Composed split / clip accessor operators.

From-scratch Spark compositions of ``LRS_Accessor.split`` and ``.clip``
(``/root/reference/linref/ext/base.py:2091-2307``) over the operators the
repo already has:

split:  mask geometry -> intersection points with each event geometry
        (tile-prefiltered, exact segment-intersection kernel) -> locate each
        point's M on the event's own geometry -> integrate with
        ``split_at_locs=True`` (:func:`linref_spark.events.constrain
        .split_at_locs`) -> re-join attributes -> optionally cut new
        M-geometries for the pieces.
clip:   split at the polygon boundary ring, then classify each piece by its
        midpoint: ``covered_by`` = midpoint inside or on the ring (within a
        tolerance), ``within`` = strictly inside (boundary-running pieces
        excluded) — the GEOS predicates re-derived for pieces that are, by
        construction, entirely inside, entirely outside, or boundary-running.

Scale notes: the mask is a driver-provided shape shipped as ONE broadcast
row (arrays), never unrolled into per-coordinate literals; candidate events
are pruned by a tile semi-join against the mask's supercover before the
exact intersection kernel runs; everything downstream is the integrate /
cut machinery, which partitions by route.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linref_spark import pyworker
from linref_spark.events.constrain import split_at_locs
from linref_spark.geometry.udfs import (
    XY_TYPE,
    cut_geoms,
    nondeterministic,
    udf_interpolate_m,
    udf_locate_point_m,
    udf_point_line_distance,
)
from linref_spark.lrs import EVENT_ID, LRS
from linref_spark.spatial.join import udf_point_in_polygon, udf_segment_intersections
from linref_spark.spatial.tiles import polyline_cover_kernel, with_polyline_tiles

# clip's keep-filter reads the midpoint, so it needs a nondeterministic
# instance; a separate one, because the shared udf_interpolate_m is also
# used deterministically. ``.func.__wrapped__`` is the plain function
# under the shared UDF's pyworker entry wrapper.
_udf_interpolate_m_nd = nondeterministic(
    pyworker.pandas_udf(XY_TYPE)(udf_interpolate_m.func.__wrapped__)
)


def _close_ring(xs: Sequence[float], ys: Sequence[float]):
    xs = [float(v) for v in xs]
    ys = [float(v) for v in ys]
    if xs[0] != xs[-1] or ys[0] != ys[-1]:
        xs = xs + [xs[0]]
        ys = ys + [ys[0]]
    return xs, ys


def _mask_df(spark, xs, ys):
    """One-row broadcast frame carrying the mask coordinates — avoids
    unrolling the mask into per-coordinate Catalyst literals."""
    return spark.createDataFrame(
        [(list(map(float, xs)), list(map(float, ys)))],
        "mask_xs array<double>, mask_ys array<double>",
    )


def split_at_geometry(
    df: DataFrame,
    lrs: LRS,
    mask_xs: Sequence[float],
    mask_ys: Sequence[float],
    mask_kind: str = "line",
    geom_col: str = "geom_m",
    cut_geom: bool = True,
    attr_cols: Optional[Sequence[str]] = None,
    res: int = 6,
) -> DataFrame:
    """Split linear events wherever ``mask`` crosses their geometries.

    ``mask_kind='polygon'`` splits at the polygon's boundary ring (the ring
    is closed automatically); ``'line'`` splits at intersections with the
    polyline. Semantics of ``LRS_Accessor.split``
    (``linref/ext/base.py:2091-2213``); events the mask does not touch pass
    through unchanged (measure-identical), like the reference's
    copy-on-no-intersection path.

    Output: key cols, ``beg``/``end`` (per ``lrs``), ``split_index`` (source
    ``event_id``), requested ``attr_cols``, and — when ``cut_geom`` — a
    fresh ``geom_col`` cut from the source geometry between the new Ms.
    """
    if not lrs.is_linear:
        raise ValueError("split requires linear events")
    if mask_kind not in ("line", "polygon"):
        raise TypeError("mask_kind must be 'line' or 'polygon'")
    if EVENT_ID not in df.columns:
        raise ValueError("frame needs an event_id column")
    if mask_kind == "polygon":
        mask_xs, mask_ys = _close_ring(mask_xs, mask_ys)

    spark = df.sparkSession
    keys = list(lrs.key_cols)

    # --- tile prefilter: events whose cover touches the mask's cover -------
    mask_cover = polyline_cover_kernel(
        np.asarray(mask_xs, dtype=np.float64),
        np.asarray(mask_ys, dtype=np.float64),
        res,
        0.0,
    )
    mask_tiles = spark.createDataFrame(
        [(int(t),) for t in mask_cover], "tile_id long"
    )
    tiled = with_polyline_tiles(
        df.select(EVENT_ID, *keys, geom_col), geom_col, res=res, buffer=0.0
    )
    cand = (
        tiled.join(F.broadcast(mask_tiles), on="tile_id", how="leftsemi")
        .dropDuplicates([EVENT_ID])
        .drop("tile_id")
    )

    # --- exact intersection points against the broadcast mask ---------------
    cand = cand.join(F.broadcast(_mask_df(spark, mask_xs, mask_ys)))
    g = F.col(geom_col)
    pts = cand.withColumn(
        "_pts",
        udf_segment_intersections(
            g["xs"], g["ys"], F.col("mask_xs"), F.col("mask_ys")
        ),
    ).where(F.size("_pts") > 0)

    # --- locate each point's M on the event's own geometry ------------------
    locs = pts.select(EVENT_ID, *keys, geom_col, F.explode("_pts").alias("_p"))
    locs = locs.withColumn(
        "loc",
        udf_locate_point_m(
            g["xs"], g["ys"], g["ms"], F.col("_p.x"), F.col("_p.y")
        ),
    ).select(*keys, "loc").where(F.col("loc").isNotNull()).distinct()

    if locs.isEmpty():
        # no intersections: unchanged copy (ext/base.py:2156-2158)
        out = df.withColumn("split_index", F.col(EVENT_ID))
        sel = [*keys, lrs.beg_col, lrs.end_col, "split_index", *(attr_cols or [])]
        if cut_geom:
            sel.append(geom_col)
        return out.select(*sel)

    locs_lrs = LRS(key_cols=tuple(keys), loc_col="loc")
    pieces = split_at_locs(df, locs, lrs, locs_lrs, inverse_col="split_index",
                           attr_cols=attr_cols)
    # split_at_locs emits canonical 'beg'/'end' columns
    if lrs.beg_col != "beg":
        pieces = pieces.withColumnRenamed("beg", lrs.beg_col)
    if lrs.end_col != "end":
        pieces = pieces.withColumnRenamed("end", lrs.end_col)

    if cut_geom:
        src = df.select(F.col(EVENT_ID).alias("_src"), F.col(geom_col).alias("_sg"))
        pieces = pieces.join(src, on=F.col("split_index") == F.col("_src"))
        pieces = (
            pieces.withColumnRenamed("_sg", geom_col)
            .transform(lambda d: cut_geoms(d, lrs.beg_col, lrs.end_col, geom_col, "_cut"))
            .drop(geom_col, "_src")
            .withColumnRenamed("_cut", geom_col)
        )
    return pieces


def clip_events(
    df: DataFrame,
    lrs: LRS,
    polygon_xs: Sequence[float],
    polygon_ys: Sequence[float],
    keep: str = "inside",
    predicate: str = "covered_by",
    geom_col: str = "geom_m",
    cut_geom: bool = True,
    attr_cols: Optional[Sequence[str]] = None,
    res: int = 6,
    boundary_tol: float = 1e-9,
) -> DataFrame:
    """Clip linear events to a polygon (``linref/ext/base.py:2215-2307``):
    split at the boundary ring, then keep pieces classified ``inside`` (or
    ``outside``) by ``predicate``:

    - ``covered_by``: piece midpoint inside the ring, or on it within
      ``boundary_tol`` (boundary-running pieces count as inside);
    - ``within``: strictly inside (boundary-running pieces excluded).

    Pieces are entirely inside / outside / boundary-running by construction
    (they were split at every boundary crossing), so the midpoint test is
    exact for the first two classes and ``boundary_tol`` resolves the third.
    """
    if keep not in ("inside", "outside"):
        raise ValueError("keep must be 'inside' or 'outside'")
    if predicate not in ("covered_by", "within"):
        raise ValueError("predicate must be 'covered_by' or 'within'")
    rx, ry = _close_ring(polygon_xs, polygon_ys)

    pieces = split_at_geometry(
        df, lrs, rx, ry, mask_kind="polygon", geom_col=geom_col,
        cut_geom=cut_geom, attr_cols=attr_cols, res=res,
    )
    # midpoint of each piece on the SOURCE geometry (M midpoint)
    src = df.select(F.col(EVENT_ID).alias("_src"), F.col(geom_col).alias("_sg"))
    test = pieces.join(src, on=F.col("split_index") == F.col("_src")).drop("_src")
    sg = F.col("_sg")
    mid_m = (F.col(lrs.beg_col) + F.col(lrs.end_col)) / 2.0
    test = test.withColumn(
        "_mid", _udf_interpolate_m_nd(sg["xs"], sg["ys"], sg["ms"], mid_m)
    ).drop("_sg")
    test = test.join(F.broadcast(_mask_df(df.sparkSession, rx, ry)))
    inside_raw = udf_point_in_polygon(
        F.col("_mid.x"), F.col("_mid.y"), F.col("mask_xs"), F.col("mask_ys")
    )
    # distance from midpoint to the ring resolves boundary-running pieces
    ring_d = udf_point_line_distance(
        F.col("mask_xs"), F.col("mask_ys"), F.col("_mid.x"), F.col("_mid.y")
    )
    test = test.withColumn("_in_raw", inside_raw).withColumn("_ring_d", ring_d)
    if predicate == "covered_by":
        is_inside = F.col("_in_raw") | (F.col("_ring_d") <= boundary_tol)
    else:  # within
        is_inside = F.col("_in_raw") & (F.col("_ring_d") > boundary_tol)
    cond = is_inside if keep == "inside" else ~is_inside
    return test.where(cond).drop("_mid", "_in_raw", "_ring_d", "mask_xs", "mask_ys")
