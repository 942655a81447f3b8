"""Line-to-line matching: project linear geometries onto an M-enabled route
network via Hausdorff scoring.

From-scratch Spark re-expression of ``parallel_project_hausdorff``
(``/root/reference/linref/ext/spatial.py:16-273``):

1. candidates: target geometries within ``buffer`` of BOTH endpoints of the
   projected geometry — here a tile equi-join on the two endpoints against
   buffered target covers, requiring both endpoints to hit the same target
   row;
2. score: symmetric Hausdorff distance between the projected geometry and
   the target's substring between the projected endpoints' projections
   (optionally densified);
3. keep the best ``match`` candidates (all within ``max_distance`` when
   match=0), deterministic tie-break by target keys;
4. recover measures: project both endpoints to M on the matched target,
   emit ``beg_m``/``end_m`` (sorted).

Everything heavy runs in one fused Arrow UDF per candidate pair; candidates
are pruned by the tile join, so cost is bounded by tile co-occupancy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

from linref_spark import pyworker
from linref_spark.geometry import kernels as K
from linref_spark.geometry.udfs import udf_snap_by_geom
from linref_spark.lrs import EVENT_ID, LRS
from linref_spark.spatial.tiles import point_tile, with_polyline_tiles

MATCH_TYPE = StructType(
    [
        StructField("hausdorff", DoubleType()),
        StructField("beg_m", DoubleType()),
        StructField("end_m", DoubleType()),
    ]
)


def _make_match_udf(densify):
    @pyworker.pandas_udf(MATCH_TYPE)
    def udf_match(
        tid: pd.Series,
        txs: pd.Series, tys: pd.Series, tms: pd.Series,
        pxs: pd.Series, pys: pd.Series,
    ) -> pd.DataFrame:
        """Batched per TARGET geometry (the trick udf_snap_by_geom uses for
        snapping): all candidate endpoints of one target project in a single
        (2P x S) vectorized pass; Hausdorff scores for the whole candidate
        group run in a few padded (P x L x L) broadcasts
        (kernels.hausdorff_many) and the M recovery is one interpolation
        call over all 2P bounds — only the substring slicing itself remains
        a cheap per-pair list op."""
        n = len(tid)
        hd = np.full(n, np.nan)
        beg = np.full(n, np.nan)
        end = np.full(n, np.nan)
        for idx in K.group_indices(tid.to_numpy()):
            f = int(idx[0])
            if txs.iloc[f] is None:
                continue
            tx = np.asarray(txs.iloc[f], dtype=np.float64)
            ty = np.asarray(tys.iloc[f], dtype=np.float64)
            tm = np.asarray(tms.iloc[f], dtype=np.float64)
            valid, ex, ey = [], [], []
            for i in idx:
                if pxs.iloc[i] is None:
                    continue
                px = np.asarray(pxs.iloc[i], dtype=np.float64)
                py = np.asarray(pys.iloc[i], dtype=np.float64)
                ex.extend((px[0], px[-1]))
                ey.extend((py[0], py[-1]))
                valid.append((i, px, py))
            if not valid:
                continue
            # one vectorized endpoint projection for the whole target group
            along = K.snap_points_batch(
                tx, ty, None, np.asarray(ex), np.asarray(ey)
            )[1]
            bounds = np.sort(along.reshape(-1, 2), axis=1)  # (P, [lo, hi])
            subs = [
                K.substring(tx, ty, tm, lo, hi)[:2]
                for lo, hi in bounds
            ]
            projs = [(px, py) for _, px, py in valid]
            scores = K.hausdorff_many(subs, projs, densify=densify)
            ms = K.distance_to_m(tx, ty, tm, bounds.ravel()).reshape(-1, 2)
            rows = np.fromiter((i for i, _, _ in valid), dtype=np.int64)
            hd[rows] = scores
            beg[rows], end[rows] = ms[:, 0], ms[:, 1]
        return pd.DataFrame({"hausdorff": hd, "beg_m": beg, "end_m": end})

    return udf_match


def _hausdorff_candidates(
    target: DataFrame,
    projected: DataFrame,
    target_lrs: LRS,
    buffer: float,
    res: int,
    geom_col: str,
    proj_geom_col: str,
):
    """Candidate (projected, target) pairs for the Hausdorff matcher:
    targets whose buffered tile cover is reached by BOTH endpoints of the
    projected geometry (spatial.py step 1). Shared by the matcher and its
    drop-metrics companion so both audit the same candidate set."""
    if EVENT_ID not in projected.columns:
        raise ValueError("projected frame needs an event_id column")
    keys = list(target_lrs.key_cols)

    if EVENT_ID in target.columns:
        tsel = target.select(
            F.col(EVENT_ID).alias("_tid"), *keys, F.col(geom_col).alias("_tg")
        )
    else:
        tsel = target.select(
            F.xxhash64(*keys, F.col(f"{geom_col}.ms")).alias("_tid"),
            *keys,
            F.col(geom_col).alias("_tg"),
        )
    tt = with_polyline_tiles(
        tsel.withColumnRenamed("_tg", geom_col), geom_col, res=res, buffer=buffer
    ).withColumnRenamed(geom_col, "_tg")

    pg = F.col(proj_geom_col)
    # both endpoints of the projected geometry, tiled
    ends = projected.select(
        F.col(EVENT_ID).alias("_pid"),
        F.col(proj_geom_col).alias("_pg"),
        F.explode(
            F.array(
                F.struct(
                    F.element_at(pg["xs"], 1).alias("x"),
                    F.element_at(pg["ys"], 1).alias("y"),
                    F.lit(0).alias("which"),
                ),
                F.struct(
                    F.element_at(pg["xs"], -1).alias("x"),
                    F.element_at(pg["ys"], -1).alias("y"),
                    F.lit(1).alias("which"),
                ),
            )
        ).alias("_e"),
    ).select(
        "_pid", "_pg",
        F.col("_e.which").alias("_which"),
        point_tile(F.col("_e.x"), F.col("_e.y"), res).alias("tile_id"),
    )

    hits = ends.join(tt, on="tile_id").drop("tile_id")
    cand = (
        hits.groupBy("_pid", "_tid")
        .agg(
            F.countDistinct("_which").alias("_ne"),
            F.first("_pg").alias("_pg"),
            F.first("_tg").alias("_tg"),
            *[F.first(k).alias(k) for k in keys],
        )
        .where(F.col("_ne") == 2)
        .drop("_ne")
    )
    return cand, keys


def match_candidate_metrics(
    target: DataFrame,
    projected: DataFrame,
    target_lrs: LRS,
    buffer: float,
    max_candidates: int = 10_000,
    res: int = 6,
    geom_col: str = "geom_m",
    proj_geom_col: str = "geom_m",
) -> DataFrame:
    """Audit of :func:`match_lines_hausdorff`'s per-target candidate cap
    (the dedup drop-metrics pattern): one row — n_targets,
    n_capped_targets (targets whose candidate count exceeds the cap) and
    n_dropped_candidates (pairs the capped run skips). Run this alongside
    a capped match to quantify what a pathological flood target loses."""
    cand, _ = _hausdorff_candidates(
        target, projected, target_lrs, buffer, res, geom_col, proj_geom_col
    )
    sizes = cand.groupBy("_tid").agg(F.count("*").alias("_n"))
    return sizes.agg(
        F.count("*").alias("n_targets"),
        F.sum((F.col("_n") > max_candidates).cast("long")).alias(
            "n_capped_targets"
        ),
        F.sum(
            F.when(
                F.col("_n") > max_candidates, F.col("_n") - max_candidates
            ).otherwise(F.lit(0))
        ).alias("n_dropped_candidates"),
    )


def match_lines_hausdorff(
    target: DataFrame,
    projected: DataFrame,
    target_lrs: LRS,
    buffer: float,
    max_distance: float | None = None,
    match: int = 1,
    densify: float | None = None,
    res: int = 6,
    geom_col: str = "geom_m",
    proj_geom_col: str = "geom_m",
    batch_cluster: bool = True,
    max_candidates: int | None = None,
) -> DataFrame:
    """Returns projected rows matched to targets with columns:
    target keys, ``beg_m``, ``end_m``, ``hausdorff``, ``match_rank``.

    ``max_candidates`` caps the candidate pairs scored PER TARGET (lowest
    projected event ids kept, deterministic): a pathological flood target —
    10^6 projected lines landing on one geometry — otherwise serializes
    into a single task's Arrow batches. Dropped pairs are auditable with
    :func:`match_candidate_metrics` under the same cap.
    """
    if max_distance is None:
        max_distance = buffer
    cand, keys = _hausdorff_candidates(
        target, projected, target_lrs, buffer, res, geom_col, proj_geom_col
    )
    if max_candidates is not None:
        w_cap = Window.partitionBy("_tid").orderBy(F.col("_pid").asc())
        cand = (
            cand.withColumn("_cn", F.row_number().over(w_cap))
            .where(F.col("_cn") <= max_candidates)
            .drop("_cn")
        )

    if batch_cluster:
        # co-locate candidates of one target inside Arrow batches so the
        # fused UDF projects all of a target's endpoints in one pass
        cand = cand.repartition(F.col("_tid")).sortWithinPartitions("_tid")
    # asNondeterministic: the hausdorff<=max_distance filter below
    # references the UDF's output — without the flag the optimizer pushes
    # a COPY of the filter under the projection and evaluates the match
    # kernel twice per candidate (see spatial/join.py snap UDFs)
    udf_match = _make_match_udf(densify).asNondeterministic()
    tg, pgc = F.col("_tg"), F.col("_pg")
    scored = cand.withColumn(
        "_m",
        udf_match(F.col("_tid"), tg["xs"], tg["ys"], tg["ms"], pgc["xs"], pgc["ys"]),
    ).select(
        "_pid", "_tid", *keys,
        F.col("_m.hausdorff").alias("hausdorff"),
        F.col("_m.beg_m").alias("beg_m"),
        F.col("_m.end_m").alias("end_m"),
    ).where(F.col("hausdorff") <= max_distance)

    w = Window.partitionBy("_pid").orderBy(
        F.col("hausdorff").asc(), *[F.col(k).asc() for k in keys], F.col("_tid")
    )
    scored = scored.withColumn("match_rank", F.row_number().over(w))
    if match > 0:
        scored = scored.where(F.col("match_rank") <= match)
    return projected.join(
        scored.drop("_tid"), on=F.col(EVENT_ID) == F.col("_pid"), how="inner"
    ).drop("_pid")


SAMPLES_TYPE = ArrayType(
    StructType([StructField("x", DoubleType()), StructField("y", DoubleType())])
)


def _make_samples_udf(samples: int):
    fracs = np.linspace(0.0, 1.0, samples)

    @pyworker.pandas_udf(SAMPLES_TYPE)
    def _samples(xs: pd.Series, ys: pd.Series) -> pd.Series:
        out = []
        for x, y in zip(xs, ys):
            if x is None:
                out.append(None)
                continue
            x = np.asarray(x, dtype=np.float64)
            y = np.asarray(y, dtype=np.float64)
            cd = K.cumdist(x, y)
            d = fracs * cd[-1]
            px = np.interp(d, cd, x)
            py = np.interp(d, cd, y)
            out.append([{"x": float(a), "y": float(b)} for a, b in zip(px, py)])
        return pd.Series(out)

    return _samples


def parallel_project_samples(
    target: DataFrame,
    projected: DataFrame,
    target_lrs: LRS,
    buffer: float,
    samples: int = 3,
    match: int | str = "all",
    choose: int | str = 1,
    res: int = 6,
    geom_col: str = "geom_m",
    proj_geom_col: str = "geom_m",
) -> DataFrame:
    """Sample-point line matcher — ``ParallelProjector``
    (``/root/reference/linref/ext/spatial.py:276-559``), re-architected:

    1. ``samples`` evenly-spaced points (linspace over arc length, endpoints
       included) along each projected geometry;
    2. candidate (projector, target) pairs: sample point within ``buffer``
       of the target geometry — a point-tile x buffered-target-cover
       equi-join refined by the exact fused snap kernel (the reference's
       buffered sjoin);
    3. pairs hit by >= ``match`` samples ('all' = every sample) score by
       MEAN sample distance; per projector keep the ``choose`` best
       ('all' = every match), deterministic tie-break by target keys;
    4. the projector's endpoints project onto the chosen target for
       ``beg_m``/``end_m`` (sorted — the reference's sort_locs=True).

    Output: projected rows + target keys + beg_m/end_m + n_hits +
    mean_dist + match_rank.
    """
    if isinstance(match, str):
        if match != "all":
            raise ValueError("match must be 'all' or an integer <= samples")
        match_n = samples
    else:
        match_n = int(match)
    if isinstance(choose, str) and choose != "all":
        raise ValueError("choose must be 'all' or an integer >= 1")
    if isinstance(choose, int) and choose < 1:
        raise ValueError("Integer choose parameter must be >= 1")
    if EVENT_ID not in projected.columns:
        raise ValueError("projected frame needs an event_id column")
    keys = list(target_lrs.key_cols)

    if EVENT_ID in target.columns:
        tsel = target.select(
            F.col(EVENT_ID).alias("_tid"), *keys, F.col(geom_col).alias("_tg")
        )
    else:
        tsel = target.select(
            F.xxhash64(*keys, F.col(f"{geom_col}.ms")).alias("_tid"),
            *keys,
            F.col(geom_col).alias("_tg"),
        )
    tt = with_polyline_tiles(
        tsel.withColumnRenamed("_tg", geom_col), geom_col, res=res, buffer=buffer
    ).withColumnRenamed(geom_col, "_tg")

    pg = F.col(proj_geom_col)
    samples_udf = _make_samples_udf(samples)
    sp = projected.select(
        F.col(EVENT_ID).alias("_pid"),
        F.posexplode(samples_udf(pg["xs"], pg["ys"])).alias("_sidx", "_s"),
    ).select(
        "_pid", "_sidx",
        F.col("_s.x").alias("_sx"), F.col("_s.y").alias("_sy"),
        point_tile(F.col("_s.x"), F.col("_s.y"), res).alias("tile_id"),
    )

    hits = sp.join(tt, on="tile_id").drop("tile_id")
    tg = F.col("_tg")
    snap = udf_snap_by_geom(
        F.col("_tid"), tg["xs"], tg["ys"], tg["ms"], F.col("_sx"), F.col("_sy")
    )
    hits = hits.withColumn("_d", snap["dist"]).where(F.col("_d") <= buffer)

    pair = hits.groupBy("_pid", "_tid").agg(
        F.countDistinct("_sidx").alias("n_hits"),
        F.avg("_d").alias("mean_dist"),
        *[F.first(k).alias(k) for k in keys],
    ).where(F.col("n_hits") >= match_n)

    w = Window.partitionBy("_pid").orderBy(
        F.col("mean_dist").asc(), *[F.col(k).asc() for k in keys], F.col("_tid")
    )
    pair = pair.withColumn("match_rank", F.row_number().over(w))
    if choose != "all":
        pair = pair.where(F.col("match_rank") <= int(choose))

    # endpoint M recovery on the chosen target (batched per target geometry)
    chosen = (
        pair.join(tsel.select("_tid", "_tg"), on="_tid")
        .join(
            projected.select(
                F.col(EVENT_ID).alias("_pid2"), F.col(proj_geom_col).alias("_pg")
            ),
            on=F.col("_pid") == F.col("_pid2"),
        )
        .drop("_pid2")
    )
    bounds = _make_match_udf(None)
    tgc, pgc = F.col("_tg"), F.col("_pg")
    chosen = chosen.withColumn(
        "_m",
        bounds(F.col("_tid"), tgc["xs"], tgc["ys"], tgc["ms"], pgc["xs"], pgc["ys"]),
    ).select(
        "_pid", *keys, "n_hits", "mean_dist", "match_rank",
        F.col("_m.beg_m").alias("beg_m"),
        F.col("_m.end_m").alias("end_m"),
    )
    return projected.join(
        chosen, on=F.col(EVENT_ID) == F.col("_pid"), how="inner"
    ).drop("_pid")
