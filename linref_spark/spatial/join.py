"""Tiled spatial joins: point snapping (kNN nearest-route), geometric
self-intersection discovery, and point-in-polygon clipping.

From-scratch Spark re-expressions of the reference's GEOS/STRtree spatial
operators (``/root/reference/linref/ext/spatial.py`` and
``linref/ext/base.py:3057-3171``), re-architected for scale:

reference (single node)              ->  here (distributed)
-----------------------------------      -----------------------------------
STRtree / sjoin_nearest                  deterministic grid-tile equi-join
exact GEOS predicates                    numpy kernels in Arrow UDFs
keep-first dedupe of equidistant         explicit window order (dist, keys)

The pattern everywhere: cover geometries with buffered tile ids (explode),
equi-join on tile_id (one hash shuffle), dedupe candidate pairs, refine
with the exact kernel, window for top-1/top-k. Tile candidate generation
is a superset cover, so results equal the exact all-pairs computation —
the tile join only prunes.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, DoubleType, StructField, StructType

from linref_spark.events.frame import global_ordinal_id
from linref_spark.geometry import kernels as K
from linref_spark.geometry.udfs import nondeterministic, udf_snap_by_geom
from linref_spark.lrs import EVENT_ID, LRS
from linref_spark.spatial.tiles import with_point_tile, with_polyline_tiles

XY_LIST_TYPE = ArrayType(
    StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
)



def _resolve_key_collisions(points: DataFrame, keys: list) -> DataFrame:
    """Route key columns win their names in snap outputs; identically-named
    point columns are preserved with a ``_point`` suffix (mirrors the
    suffixing of the reference's sjoin, ``ext/base.py:3132-3140``)."""
    for k in keys:
        if k in points.columns:
            points = points.withColumnRenamed(k, f"{k}_point")
    return points


def _route_rows(routes: DataFrame, keys: list, geom_col: str) -> DataFrame:
    """Route ROW identity as ``_route_eid``: a route key may span several
    geometry rows, and the nearest-row decision needs every row as its own
    candidate. Uses the route table's event_id when present, else a hash
    of the keys and the geometry's M values."""
    if EVENT_ID in routes.columns:
        return routes.select(F.col(EVENT_ID).alias("_route_eid"), *keys, geom_col)
    return routes.select(
        F.xxhash64(*keys, F.col(f"{geom_col}.ms")).alias("_route_eid"),
        *keys,
        geom_col,
    )


def _nearest_within(
    cand: DataFrame,
    snap,
    buffer: float,
    keys: list,
    nearest: bool,
    loc_col: str,
    dist_col: str,
) -> DataFrame:
    """Shared snap tail: unpack the (dist, loc_m) snap struct, keep
    candidates with ``dist <= buffer``, and with ``nearest`` keep the
    closest route row per point, ties broken by (distance, route keys,
    route row) — linref's keep-first on its sorted candidates."""
    cand = (
        cand.withColumn("_snap", snap)
        .withColumn(dist_col, F.col("_snap.dist"))
        .withColumn(loc_col, F.col("_snap.loc_m"))
        .drop("_snap")
        .where(F.col(dist_col) <= buffer)
    )
    if nearest:
        w = Window.partitionBy(EVENT_ID).orderBy(
            F.col(dist_col).asc(),
            *[F.col(k).asc() for k in keys],
            F.col("_route_eid").asc(),
        )
        cand = (
            cand.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    return cand


def project_points(
    routes: DataFrame,
    points: DataFrame,
    route_lrs: LRS,
    buffer: float,
    res: int = 6,
    max_broadcast_routes: int = 200_000,
    *,
    nearest: bool = True,
    x_col: str = "x",
    y_col: str = "y",
    geom_col: str = "geom_m",
    loc_col: str = "loc_mp",
    dist_col: str = "snap_dist",
) -> DataFrame:
    """Auto-selecting snap: broadcast-geometry when the route table is
    small enough to broadcast, tile-partitioned otherwise.

    Measured at local[32] on the 100-route pages workload: broadcast wins
    ~4x at 200k points and ~4x at 3M (the tiled path's candidate
    re-clustering shuffles the full candidate table by route id, which a
    small route table turns into a few hot partitions). Large route
    networks invert that — the broadcast dict stops fitting and the tile
    equi-join's bounded fan-out wins — so the dispatch probes the route
    count with a bounded limit(n+1) count (no full scan).
    """
    opts = dict(
        res=res, nearest=nearest, x_col=x_col, y_col=y_col,
        geom_col=geom_col, loc_col=loc_col, dist_col=dist_col,
    )
    small = (
        routes.limit(max_broadcast_routes + 1).count() <= max_broadcast_routes
    )
    if small:
        # the count above already proved the bound: skip the kernel's own
        # guard re-count
        return project_points_broadcast(
            routes, points, route_lrs, buffer, _skip_route_guard=True, **opts
        )
    return project_points_tiled(routes, points, route_lrs, buffer, **opts)


def project_points_tiled(
    routes: DataFrame,
    points: DataFrame,
    route_lrs: LRS,
    buffer: float,
    res: int = 6,
    nearest: bool = True,
    x_col: str = "x",
    y_col: str = "y",
    geom_col: str = "geom_m",
    loc_col: str = "loc_mp",
    dist_col: str = "snap_dist",
) -> DataFrame:
    """Tile-prefiltered point->route snapping (``project``,
    ``linref/ext/base.py:3057-3171``): candidate (point, route) pairs from a
    tile equi-join over buffer-dilated route covers; exact distance + M
    recovery in vectorized kernels; ``nearest`` keeps the closest route per
    point with deterministic tie-break (distance, then route keys — linref's
    keep-first on its sorted candidates).

    Unlike :func:`project_points_broadcast`, this scales to route tables
    too large to broadcast: the shuffle key is the tile id, and candidate
    fan-out is bounded by tile occupancy.
    """
    if EVENT_ID not in points.columns:
        raise ValueError("points need an event_id column")
    keys = list(route_lrs.key_cols)
    points = _resolve_key_collisions(points, keys)
    rt = with_polyline_tiles(
        _route_rows(routes, keys, geom_col), geom_col, res=res, buffer=buffer
    )
    pt = with_point_tile(points, x_col, y_col, res=res)
    # each point owns exactly ONE tile and a route's cover lists each tile
    # once, so the join cannot duplicate (point, route-row) pairs — no
    # dedupe shuffle needed
    cand = pt.join(rt, on="tile_id", how="inner").drop("tile_id")
    # cluster candidates of the same geometry into the same Arrow batches
    # so the fused snap UDF vectorizes per geometry (points x segments)
    cand = cand.repartition(F.col("_route_eid")).sortWithinPartitions("_route_eid")
    g = F.col(geom_col)
    snap = udf_snap_by_geom(
        F.col("_route_eid"), g["xs"], g["ys"], g["ms"], F.col(x_col), F.col(y_col)
    )
    cand = _nearest_within(cand, snap, buffer, keys, nearest, loc_col, dist_col)
    return cand.drop(geom_col, "_route_eid")


@nondeterministic
@F.pandas_udf(XY_LIST_TYPE)
def udf_segment_intersections(
    xs1: pd.Series, ys1: pd.Series, xs2: pd.Series, ys2: pd.Series
) -> pd.Series:
    out = []
    for x1, y1, x2, y2 in zip(xs1, ys1, xs2, ys2):
        if x1 is None or x2 is None:
            out.append(None)
            continue
        pts = K.segment_intersections(
            np.asarray(x1, dtype=np.float64),
            np.asarray(y1, dtype=np.float64),
            np.asarray(x2, dtype=np.float64),
            np.asarray(y2, dtype=np.float64),
        )
        out.append([{"x": p[0], "y": p[1]} for p in pts])
    return pd.Series(out)


def intersection_pairs(
    df: DataFrame,
    lrs: LRS,
    geom_col: str = "geom_m",
    res: int = 6,
    exclude_same_group: bool = True,
) -> DataFrame:
    """Geometric self-join: pairs of geometries that intersect
    (``generate_intersection_pairs``, ``linref/ext/spatial.py:562-670``).

    Tile-bucketed self equi-join with ``l.id < r.id`` dedupe (the reference's
    i<j STRtree dedupe), same-group exclusion, exact segment-intersection
    refinement. Output: (left_id, right_id, points: array<struct<x,y>>).
    """
    if EVENT_ID not in df.columns:
        raise ValueError("frame needs an event_id column")
    keys = list(lrs.key_cols)
    tiled = with_polyline_tiles(
        df.select(EVENT_ID, *keys, geom_col), geom_col, res=res, buffer=0.0
    )
    left = tiled.select(
        F.col(EVENT_ID).alias("left_id"),
        *[F.col(k).alias(f"_lg_{k}") for k in keys],
        F.col(geom_col).alias("_lg"),
        "tile_id",
    )
    right = tiled.select(
        F.col(EVENT_ID).alias("right_id"),
        *[F.col(k).alias(f"_rg_{k}") for k in keys],
        F.col(geom_col).alias("_rg"),
        "tile_id",
    )
    cand = left.join(right, on="tile_id").where(F.col("left_id") < F.col("right_id"))
    if exclude_same_group and keys:
        same = F.lit(True)
        for k in keys:
            same = same & (F.col(f"_lg_{k}") == F.col(f"_rg_{k}"))
        cand = cand.where(~same)
    cand = cand.dropDuplicates(["left_id", "right_id"])
    lg, rg = F.col("_lg"), F.col("_rg")
    cand = cand.withColumn(
        "points", udf_segment_intersections(lg["xs"], lg["ys"], rg["xs"], rg["ys"])
    )
    return cand.where(F.size("points") > 0).select("left_id", "right_id", "points")


def intersection_nodes(
    pairs: DataFrame, quantize: float = 1e-9
) -> DataFrame:
    """Explode intersection points, dedupe by quantized coordinates, collect
    participating source ids (``generate_intersection_nodes``,
    ``linref/ext/spatial.py:673-743``; WKB-dedupe becomes coordinate
    quantization — deterministic and engine-independent).
    Output: (x, y, node_id, source_ids sorted array).
    """
    pts = pairs.select(
        F.explode("points").alias("p"), "left_id", "right_id"
    ).select(
        F.round(F.col("p.x") / quantize) .cast("long").alias("_qx"),
        F.round(F.col("p.y") / quantize).cast("long").alias("_qy"),
        F.col("p.x").alias("x"),
        F.col("p.y").alias("y"),
        F.array("left_id", "right_id").alias("ids"),
    )
    nodes = pts.groupBy("_qx", "_qy").agg(
        F.first("x").alias("x"),
        F.first("y").alias("y"),
        F.sort_array(
            F.array_distinct(F.flatten(F.collect_list("ids")))
        ).alias("source_ids"),
    )
    # dense node ids by quantized coordinate order — distributed ordinal
    nodes = global_ordinal_id(nodes, ["_qx", "_qy"], "node_id")
    return nodes.drop("_qx", "_qy")


@nondeterministic
@F.pandas_udf(BooleanType())
def udf_point_in_polygon(
    px: pd.Series, py: pd.Series, poly_x: pd.Series, poly_y: pd.Series
) -> pd.Series:
    out = []
    for x, y, qx, qy in zip(px, py, poly_x, poly_y):
        if x is None or qx is None:
            out.append(None)
            continue
        out.append(
            K.point_in_polygon(
                float(x), float(y),
                np.asarray(qx, dtype=np.float64),
                np.asarray(qy, dtype=np.float64),
            )
        )
    return pd.Series(out)


def clip_points(
    points: DataFrame,
    polygon_x: Sequence[float],
    polygon_y: Sequence[float],
    x_col: str = "x",
    y_col: str = "y",
    keep: str = "inside",
    res: int = 4,
) -> DataFrame:
    """Point-in-polygon clip (the predicate core of ``clip``,
    ``linref/ext/base.py:2215-2307``): tile prefilter on the polygon's
    bounding box (pure expressions), exact ray-cast refinement in the UDF.
    """
    if keep not in ("inside", "outside"):
        raise ValueError("keep must be 'inside' or 'outside'")
    minx, maxx = min(polygon_x), max(polygon_x)
    miny, maxy = min(polygon_y), max(polygon_y)
    px = F.array(*[F.lit(float(v)) for v in polygon_x])
    py = F.array(*[F.lit(float(v)) for v in polygon_y])
    bbox = (
        (F.col(x_col) >= minx)
        & (F.col(x_col) <= maxx)
        & (F.col(y_col) >= miny)
        & (F.col(y_col) <= maxy)
    )
    inside = F.when(
        bbox, udf_point_in_polygon(F.col(x_col), F.col(y_col), px, py)
    ).otherwise(F.lit(False))
    marked = points.withColumn("_inside", inside)
    cond = F.col("_inside") if keep == "inside" else ~F.col("_inside")
    return marked.where(cond).drop("_inside")


def project_points_broadcast(
    routes: DataFrame,
    points: DataFrame,
    route_lrs: LRS,
    buffer: float,
    res: int = 6,
    nearest: bool = True,
    x_col: str = "x",
    y_col: str = "y",
    geom_col: str = "geom_m",
    loc_col: str = "loc_mp",
    dist_col: str = "snap_dist",
    max_routes: int = 200_000,
    _skip_route_guard: bool = False,
) -> DataFrame:
    """Snap with the route geometry held in a Spark broadcast variable.

    The tiled variants ship the geometry struct on every candidate row
    through Arrow — fine for fat clusters, wasteful when the route table is
    small (the dissolved-geometry case the north star names). Here the
    candidate join carries only (route_eid, x, y); each python worker
    resolves geometry from a broadcast dict once per process. Cuts Arrow
    traffic by the geometry size x candidate fan-out.

    Semantics identical to :func:`project_points_tiled`. Guarded: refuses
    route tables above ``max_routes`` rows (checked with a bounded
    ``limit(n+1)`` count before any collect) — use
    :func:`project_points_tiled` for large route networks.
    """
    if EVENT_ID not in points.columns:
        raise ValueError("points need an event_id column")
    keys = list(route_lrs.key_cols)
    points = _resolve_key_collisions(points, keys)
    rsel = _route_rows(routes, keys, geom_col)
    # _skip_route_guard: the project_points dispatcher already counted the
    # route table under the same bound — don't re-run its lineage
    if not _skip_route_guard and rsel.limit(max_routes + 1).count() > max_routes:
        raise ValueError(
            f"project_points_broadcast: route table exceeds max_routes="
            f"{max_routes}; collecting it would risk a driver OOM. Use "
            "project_points_tiled for large route networks."
        )
    geom_rows = rsel.select("_route_eid", geom_col).collect()
    spark = routes.sparkSession
    geom_map = spark.sparkContext.broadcast(
        {
            r["_route_eid"]: (
                np.asarray(r[geom_col]["xs"], dtype=np.float64),
                np.asarray(r[geom_col]["ys"], dtype=np.float64),
                np.asarray(r[geom_col]["ms"], dtype=np.float64),
            )
            for r in geom_rows
        }
    )

    # nondeterministic: measured ~1.4x on the pages_pipeline snap leg
    @nondeterministic
    @F.pandas_udf(
        StructType(
            [StructField("dist", DoubleType()), StructField("loc_m", DoubleType())]
        )
    )
    def udf_snap_bc(
        route_eid: pd.Series, px: pd.Series, py: pd.Series
    ) -> pd.DataFrame:
        gm = geom_map.value
        n = len(route_eid)
        dist = np.full(n, np.nan)
        loc = np.full(n, np.nan)
        pxv = px.to_numpy(dtype=np.float64, na_value=np.nan)
        pyv = py.to_numpy(dtype=np.float64, na_value=np.nan)
        kv = route_eid.to_numpy()
        for ii in K.group_indices(kv):
            g = gm.get(int(kv[ii[0]]))
            if g is None:
                continue
            d, m_out = K.snap_points_batch(g[0], g[1], g[2], pxv[ii], pyv[ii])
            dist[ii] = d
            loc[ii] = m_out
        return pd.DataFrame({"dist": dist, "loc_m": loc})

    rt = with_polyline_tiles(rsel, geom_col, res=res, buffer=buffer).drop(
        geom_col
    )
    pt = with_point_tile(points, x_col, y_col, res=res)
    cand = pt.join(F.broadcast(rt), on="tile_id", how="inner").drop("tile_id")
    snap = udf_snap_bc(F.col("_route_eid"), F.col(x_col), F.col(y_col))
    cand = _nearest_within(cand, snap, buffer, keys, nearest, loc_col, dist_col)
    return cand.drop("_route_eid")
