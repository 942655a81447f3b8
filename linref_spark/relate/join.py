"""Interval relate joins: the engine's core.

From-scratch Spark re-expression of linref's ``EventsRelation`` matrices
(``/root/reference/linref/events/relate.py``). The reference materializes a
sparse m-by-n matrix over the row cross product (``relate.py:294-306``); the
distributed analogue is simply a *pair table*:

- ``intersect_pairs``  -> DataFrame(left_id, right_id)            [boolean matrix]
- ``overlay_pairs``    -> DataFrame(left_id, right_id, weight)    [float matrix]

Semantics ported exactly (cited per function); execution is Spark-first:

- The reference's ``_grouped_operation_wrapper`` (``relate.py:1821-1919``)
  loops routes in Python; here the route key IS the join key, so Catalyst's
  shuffled hash / sort-merge join performs the same group partitioning for
  free, with AQE handling sizing and skew.
- The reference's ``_chunked_operation_wrapper`` (``relate.py:1921-1956``)
  bounds memory by tiling the dense cross product; Spark partitions rows, so
  it is unnecessary.
- The per-route theta (interval overlap) part executes, under plain equi-join
  on route, as a per-key filter — fine when routes are small, quadratic when
  a route is hot. ``strategy='binned'`` adds a *measure-axis bin* to the join
  key: each interval explodes to bins floor(beg/B)..floor(end/B), pairs join
  on (route, bin), and each candidate pair is counted exactly once in its
  *ownership bin* ``floor(greatest(l.beg, r.beg)/B)`` (a deterministic
  dedupe; any true match's ownership bin lies in both covers). This bounds
  per-task pair counts by bin occupancy instead of route size — the 100 TB
  scale path called out in SURVEY.md §4.

All expressions are JVM-side (no UDFs anywhere in the join).
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass
from typing import Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linref_spark.events.frame import MOD_EDGE, with_modified_edges
from linref_spark.lrs import EVENT_ID, LRS
from linref_spark.relate.profile import Antideriv, resolve_profile

LEFT_ID = "left_id"
RIGHT_ID = "right_id"
WEIGHT = "weight"


@dataclass(frozen=True)
class JoinStrategy:
    """Physical strategy knobs for the relate join (results unaffected).

    - ``kind='equi'``: join on route keys only; theta evaluated as a filter.
    - ``kind='binned'``: add measure-axis bins of width ``bin_size`` to the
      join key (scale path for hot routes / ungrouped data).
    - ``kind='auto'``: measure the inputs once (per-group row counts +
      interval-length stats, one cheap aggregate job over the narrow
      projections) and pick equi vs binned-with-a-derived-bin-size. This
      is the DEFAULT for the composition operators (integrate /
      constrain_to / split_at_locs): a default-arguments user on a hot
      route gets the bounded-occupancy plan without knowing the knob
      exists. See :func:`_resolve_auto` for the heuristic.
    - ``broadcast``: broadcast the right side (use when right is a small
      dimension, e.g. dissolved route geometry).
    - ``salt_buckets`` (binned/auto only): also split each (group, bin)
      join key ``S`` ways — left rows take ``hash(id) % S``, right rows
      replicate to all ``S`` salts. Binning normally spreads hot routes by
      the measure axis, but it stops helping when MANY IDENTICAL
      ``[beg, end]`` intervals flood one bin (degenerate duplicated data):
      every copy lands on the same (group, bin) reducer. Salting bounds
      that reducer at 1/S of the flood for an S-times replication of the
      (narrow) right side. Results are identical: each candidate pair
      meets on exactly one salt.
    """

    kind: str = "equi"
    bin_size: Optional[float] = None
    broadcast: bool = False
    salt_buckets: Optional[int] = None

    def __post_init__(self):
        if self.kind not in ("equi", "binned", "auto"):
            raise ValueError("strategy kind must be 'equi', 'binned' or 'auto'")
        if self.kind == "binned" and not (self.bin_size and self.bin_size > 0):
            raise ValueError("binned strategy requires a positive bin_size")
        if self.salt_buckets is not None:
            if self.kind == "equi":
                raise ValueError(
                    "salt_buckets applies to the binned strategy only "
                    "(the equi join key has no measure axis to flood)"
                )
            if self.salt_buckets < 2:
                raise ValueError("salt_buckets must be >= 2")


EQUI = JoinStrategy("equi")
AUTO = JoinStrategy("auto")

# auto heuristic knobs: switch to binned when the hottest shared group
# holds more rows than this on either side (the equi join's per-task pair
# count grows as n_l * n_r of that group) ...
AUTO_OCCUPANCY_THRESHOLD = 512
# ... and size bins so the hottest group spreads to ~occ/target bins.
AUTO_TARGET_OCCUPANCY = 64
# Binning spreads a hot group along the measure axis, but MANY IDENTICAL
# [beg, end] intervals all land in the same bins regardless of bin size —
# when the worst duplicate count exceeds this, auto also salts the
# (group, bin) key so the flood splits across reducers.
AUTO_SALT_DUP_THRESHOLD = 4 * AUTO_TARGET_OCCUPANCY
AUTO_SALT_MAX = 32

# Memoized auto resolutions, keyed by the SEMANTIC hash of both narrow
# input plans (+ the knobs that survive into the resolved strategy): a
# facade chain that relates the same pair of frames N times pays ONE stats
# probe instead of N. Identical semantic plans mean identical inputs, and
# the resolved strategy only shapes the physical plan (results are
# strategy-independent), so a hit can never change answers. Bounded LRU.
_AUTO_CACHE: "OrderedDict[tuple, JoinStrategy]" = OrderedDict()
_AUTO_CACHE_MAX = 256


def _auto_cache_key(
    lnarrow: DataFrame, rnarrow: DataFrame, strategy: "JoinStrategy"
) -> Optional[tuple]:
    try:
        lh = lnarrow._jdf.queryExecution().analyzed().semanticHash()
        rh = rnarrow._jdf.queryExecution().analyzed().semanticHash()
    except Exception:  # pragma: no cover - py4j surface changes
        return None
    return (lh, rh, strategy.broadcast, strategy.salt_buckets)


def _require_event_id(df: DataFrame, side: str) -> None:
    if EVENT_ID not in df.columns:
        raise ValueError(
            f"{side} frame needs an '{EVENT_ID}' column; use events.frame.add_event_id"
        )


def _narrow(df: DataFrame, lrs: LRS, side: str, mod_edges: bool) -> DataFrame:
    """Project the minimal relate columns with side-prefixed aliases.

    Keeping the join input narrow means the shuffle moves only
    (id, keys, measures[, mod_edge]) — attributes re-join by id afterwards.
    """
    _require_event_id(df, side)
    if mod_edges and lrs.closed_mod and lrs.is_linear:
        df = with_modified_edges(df, lrs, sorted_within_group=lrs.is_grouped)
    cols = [F.col(EVENT_ID).alias(f"{side}_id")]
    for i, k in enumerate(lrs.key_cols):
        cols.append(F.col(k).alias(f"{side}_g{i}"))
    if lrs.loc_col:
        cols.append(F.col(lrs.loc_col).cast("double").alias(f"{side}_loc"))
    if lrs.beg_col:
        cols.append(F.col(lrs.beg_col).cast("double").alias(f"{side}_beg"))
        cols.append(F.col(lrs.end_col).cast("double").alias(f"{side}_end"))
    if mod_edges and lrs.closed_mod and lrs.is_linear:
        cols.append(F.col(MOD_EDGE).alias(f"{side}_mod"))
    return df.select(*cols)


def _group_condition(llrs: LRS, rlrs: LRS) -> Optional[Column]:
    if not llrs.is_grouped:
        return None
    cond = None
    for i in range(len(llrs.key_cols)):
        c = F.col(f"l_g{i}") == F.col(f"r_g{i}")
        cond = c if cond is None else (cond & c)
    return cond


def _side_stats(narrow: DataFrame, lrs: LRS, side: str) -> DataFrame:
    """Per-group (rows, interval-length sum, measure lo/hi, worst
    duplicate-interval count) on a narrow projection. Two-level
    aggregation in one job: partial-aggregated counts per exact
    (group, interval), reduced to one row per group — the first level is
    what exposes the max-duplicate count that drives auto-salting."""
    gcols = [f"{side}_g{i}" for i in range(len(lrs.key_cols))]
    if lrs.is_linear:
        lo, hi = F.col(f"{side}_beg"), F.col(f"{side}_end")
    else:
        lo = hi = F.col(f"{side}_loc")
    per_iv = narrow.groupBy(
        *gcols, lo.alias("_lo"), hi.alias("_hi")
    ).agg(F.count(F.lit(1)).alias("_dup"))
    iv_len = F.col("_hi") - F.col("_lo")
    return gcols, per_iv.groupBy(*gcols).agg(
        F.sum("_dup").alias(f"{side}_n"),
        F.sum(iv_len * F.col("_dup")).alias(f"{side}_lensum"),
        F.min(F.col("_lo")).alias(f"{side}_lo"),
        F.max(F.col("_hi")).alias(f"{side}_hi"),
        F.max(F.col("_dup")).alias(f"{side}_dup"),
    )


def _resolve_auto(
    lnarrow: DataFrame,
    rnarrow: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    strategy: JoinStrategy,
) -> JoinStrategy:
    """Measure the join inputs once and pick the physical strategy.

    Heuristic: find the hottest group SHARED by both sides (groups on one
    side only produce no pairs). If neither side exceeds
    ``AUTO_OCCUPANCY_THRESHOLD`` rows there, the per-group theta filter is
    cheap — use equi. Otherwise bin the measure axis so the hot group
    spreads across ~occ/AUTO_TARGET_OCCUPANCY bins, floored at the mean
    interval length so per-row bin replication stays <= ~2x
    (replication = len/bin_size + 1).
    """
    lg, ls = _side_stats(lnarrow, llrs, "l")
    rg, rs = _side_stats(rnarrow, rlrs, "r")
    if lg:
        cond = None
        for a, b in zip(lg, rg):
            c = F.col(a).eqNullSafe(F.col(b))
            cond = c if cond is None else (cond & c)
        joined = ls.join(rs, on=cond, how="inner")
    else:
        joined = ls.crossJoin(rs)
    occ = F.greatest(F.col("l_n"), F.col("r_n"))
    span = F.greatest(F.col("l_hi"), F.col("r_hi")) - F.least(
        F.col("l_lo"), F.col("r_lo")
    )
    row = joined.select(
        F.max(F.struct(occ.alias("occ"), span.alias("span"))).alias("hot"),
        (
            (F.sum("l_lensum") + F.sum("r_lensum"))
            / (F.sum("l_n") + F.sum("r_n"))
        ).alias("avg_len"),
        F.max(F.greatest(F.col("l_dup"), F.col("r_dup"))).alias("max_dup"),
    ).first()
    equi = JoinStrategy("equi", broadcast=strategy.broadcast)
    if row is None or row["hot"] is None:
        return equi  # no shared groups: the join is empty either way
    hot_occ, hot_span = row["hot"]["occ"], row["hot"]["span"]
    if (
        hot_occ <= AUTO_OCCUPANCY_THRESHOLD
        or hot_span is None
        or not hot_span > 0.0
    ):
        return equi
    avg_len = float(row["avg_len"] or 0.0)
    bin_size = max(
        float(hot_span) * AUTO_TARGET_OCCUPANCY / float(hot_occ), avg_len
    )
    salt = strategy.salt_buckets
    max_dup = int(row["max_dup"] or 0)
    if salt is None and max_dup > AUTO_SALT_DUP_THRESHOLD:
        # binning cannot spread identical intervals (every copy covers the
        # same bins); split the flooded (group, bin) reducer key instead.
        # Results are unchanged — each candidate pair meets on one salt.
        salt = max(
            2, min(AUTO_SALT_MAX, -(-max_dup // AUTO_SALT_DUP_THRESHOLD))
        )
    return JoinStrategy(
        "binned",
        bin_size=bin_size,
        broadcast=strategy.broadcast,
        salt_buckets=salt,
    )


def _resolve_auto_cached(
    lnarrow: DataFrame,
    rnarrow: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    strategy: JoinStrategy,
) -> JoinStrategy:
    key = _auto_cache_key(lnarrow, rnarrow, strategy)
    if key is not None and key in _AUTO_CACHE:
        _AUTO_CACHE.move_to_end(key)
        return _AUTO_CACHE[key]
    resolved = _resolve_auto(lnarrow, rnarrow, llrs, rlrs, strategy)
    if key is not None:
        _AUTO_CACHE[key] = resolved
        while len(_AUTO_CACHE) > _AUTO_CACHE_MAX:
            _AUTO_CACHE.popitem(last=False)
    return resolved


def clear_auto_cache() -> None:
    """Forget every memoized auto resolution, so the next ``auto`` call on
    any frame pair probes its inputs again.

    Call it after overwriting data under a path that was already related in
    this session: see :func:`resolve_auto` for why the memo can be stale.
    """
    _AUTO_CACHE.clear()


def resolve_auto(
    left: DataFrame,
    right: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    strategy: JoinStrategy = AUTO,
) -> JoinStrategy:
    """Resolve an 'auto' strategy against a frame pair (memoized on the
    semantic hash of the narrow plans). For callers that relate a DERIVED
    frame (integrate's per-call interval table): probing the derived frame
    defeats the memo — every call mints a fresh plan — while probing the
    stable SOURCE layers both hits the cache on repeat calls and measures
    the same group structure. Any resolution is correct (strategy shapes
    the physical plan only).

    The memo lives as long as the Python process and keys on the plans, not
    on the data: after the same path is overwritten, a read of it has the
    same plan, so the memo returns the strategy probed from the old files.
    Results stay right; only the plan may fit the new data badly.
    :func:`clear_auto_cache` drops the memo."""
    if strategy.kind != "auto":
        return strategy
    lnarrow = _narrow(left, llrs, "l", False)
    rnarrow = _narrow(right, rlrs, "r", False)
    return _resolve_auto_cached(lnarrow, rnarrow, llrs, rlrs, strategy)


def _candidates_binned(
    lnarrow: DataFrame,
    rnarrow: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    strategy: JoinStrategy,
) -> DataFrame:
    """Binned candidate production with explicit ownership-bin dedupe."""
    b = float(strategy.bin_size)
    rside = F.broadcast(rnarrow) if strategy.broadcast else rnarrow
    group_cond = _group_condition(llrs, rlrs)

    def with_bins(df: DataFrame, lrs: LRS, side: str) -> DataFrame:
        if lrs.is_linear:
            lo = F.floor(F.col(f"{side}_beg") / b)
            hi = F.floor(F.col(f"{side}_end") / b)
            return df.withColumn(f"{side}_bin", F.explode(F.sequence(lo, hi)))
        return df.withColumn(f"{side}_bin", F.floor(F.col(f"{side}_loc") / b))

    lb = with_bins(lnarrow, llrs, "l")
    rb = with_bins(rside, rlrs, "r")
    cond = F.col("l_bin") == F.col("r_bin")
    if group_cond is not None:
        cond = cond & group_cond
    if strategy.salt_buckets:
        s = int(strategy.salt_buckets)
        lb = lb.withColumn("_lsalt", F.pmod(F.xxhash64(F.col("l_id")), F.lit(s)))
        rb = rb.withColumn(
            "_rsalt", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(s - 1)))
        )
        cond = cond & (F.col("_lsalt") == F.col("_rsalt"))
    joined = lb.join(rb, on=cond, how="inner")
    if strategy.salt_buckets:
        joined = joined.drop("_lsalt", "_rsalt")

    if llrs.is_linear and rlrs.is_linear:
        anchor = F.greatest(F.col("l_beg"), F.col("r_beg"))
    elif llrs.is_linear and rlrs.is_point:
        anchor = F.col("r_loc")
    else:
        anchor = F.col("l_loc")
    joined = joined.where(F.col("l_bin") == F.floor(anchor / b))
    return joined.drop("l_bin", "r_bin")


def candidates(
    left: DataFrame,
    right: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    strategy: JoinStrategy = EQUI,
    mod_edges: bool = False,
) -> DataFrame:
    """Candidate pair table (exact theta predicate NOT yet applied)."""
    llrs.check_compatibility(rlrs)
    lnarrow = _narrow(left, llrs, "l", mod_edges)
    rnarrow = _narrow(right, rlrs, "r", mod_edges)
    if strategy.kind == "auto":
        strategy = _resolve_auto_cached(lnarrow, rnarrow, llrs, rlrs, strategy)
    if strategy.kind == "binned":
        return _candidates_binned(lnarrow, rnarrow, llrs, rlrs, strategy)
    rside = F.broadcast(rnarrow) if strategy.broadcast else rnarrow
    group_cond = _group_condition(llrs, rlrs)
    if group_cond is not None:
        return lnarrow.join(rside, on=group_cond, how="inner")
    return lnarrow.crossJoin(rside)


# ---------------------------------------------------------------------------
# Exact predicates (closure semantics)
# ---------------------------------------------------------------------------


def _ll_intersect_pred(llrs: LRS, rlrs: LRS, enforce_edges: bool) -> Column:
    """linear x linear intersect, ``relate.py:2192-2273``.

    Base: strict overlap ``l.end > r.beg AND l.beg < r.end``. With
    ``enforce_edges``, touching endpoints count per the combined-closure rules
    (skip entirely when either side 'neither' or both same-side closed;
    ``l.beg == r.end`` tested when l.closed != 'right' and r.closed != 'left',
    gated by ``modified_edges`` for ``*_mod``; mirrored for l.end == r.beg).
    """
    lb, le = F.col("l_beg"), F.col("l_end")
    rb, re_ = F.col("r_beg"), F.col("r_end")
    pred = (le > rb) & (lb < re_)
    if not enforce_edges:
        return pred
    lc, rc = llrs.closed, rlrs.closed
    test_edges = not (
        (lc == "neither")
        or (rc == "neither")
        or (lc == "left" and rc == "left")
        or (lc == "right" and rc == "right")
    )
    if not test_edges:
        return pred
    if lc != "right" and rc != "left":
        e1 = lb == re_
        if lc == "right_mod":
            e1 = e1 & F.col("l_mod")
        if rc == "left_mod":
            e1 = e1 & F.col("r_mod")
        pred = pred | e1
    if lc != "left" and rc != "right":
        e2 = le == rb
        if lc == "left_mod":
            e2 = e2 & F.col("l_mod")
        if rc == "right_mod":
            e2 = e2 & F.col("r_mod")
        pred = pred | e2
    return pred


def _pl_intersect_pred(
    point_side: str, linear_side: str, linear_lrs: LRS, enforce_edges: bool
) -> Column:
    """point x linear intersect, ``relate.py:2141-2188``.

    Closure of the *linear* side decides edge inclusion; ``*_mod`` closures
    additionally accept the group-terminal edge where ``modified_edges`` is
    set (``relate.py:2176-2183``).
    """
    loc = F.col(f"{point_side}_loc")
    beg = F.col(f"{linear_side}_beg")
    end = F.col(f"{linear_side}_end")
    base = linear_lrs.closed_base
    lo = loc >= beg if base in ("left", "both") else loc > beg
    hi = loc <= end if base in ("right", "both") else loc < end
    pred = lo & hi
    if linear_lrs.closed_mod and enforce_edges:
        mod = F.col(f"{linear_side}_mod")
        if base == "left":
            pred = pred | ((loc == end) & mod)
        elif base == "right":
            pred = pred | ((loc == beg) & mod)
    return pred


def _intersect_pred(llrs: LRS, rlrs: LRS, enforce_edges: bool) -> Column:
    if llrs.is_point and rlrs.is_point:
        return F.col("l_loc") == F.col("r_loc")
    if llrs.is_point and rlrs.is_linear:
        return _pl_intersect_pred("l", "r", rlrs, enforce_edges)
    if llrs.is_linear and rlrs.is_point:
        return _pl_intersect_pred("r", "l", llrs, enforce_edges)
    return _ll_intersect_pred(llrs, rlrs, enforce_edges)


def intersect_pairs(
    left: DataFrame,
    right: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    enforce_edges: bool = True,
    strategy: JoinStrategy = EQUI,
) -> DataFrame:
    """Boolean relation as a pair table (left_id, right_id).

    Dispatch across point/linear shapes mirrors ``EventsRelation.intersect``
    (``relate.py:655-706``), including linear-x-point as the transpose of
    point-x-linear.
    """
    need_mod = enforce_edges and (llrs.closed_mod or rlrs.closed_mod)
    cand = candidates(left, right, llrs, rlrs, strategy, mod_edges=need_mod)
    pred = _intersect_pred(llrs, rlrs, enforce_edges)
    return cand.where(pred).select(
        F.col("l_id").alias(LEFT_ID), F.col("r_id").alias(RIGHT_ID)
    )


def intersect_full(
    left: DataFrame,
    right: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    enforce_edges: bool = True,
    strategy: JoinStrategy = EQUI,
) -> DataFrame:
    """:func:`intersect_pairs`, but returning the LEFT side's narrow relate
    columns (keys under their original names, measures, ``event_id``)
    alongside each matching ``right_id``.

    For callers that would otherwise join the bare pair table straight
    back onto ``left`` (one row per match — integrate's ``expand``), this
    skips that join entirely: the candidate join already carries the left
    narrow columns, so projecting them out only to re-join them by id
    costs an Exchange + Sort on the id for both sides. Same pair multiset
    as ``intersect_pairs`` by construction (shared candidates + predicate).
    """
    need_mod = enforce_edges and (llrs.closed_mod or rlrs.closed_mod)
    cand = candidates(left, right, llrs, rlrs, strategy, mod_edges=need_mod)
    pred = _intersect_pred(llrs, rlrs, enforce_edges)
    cols = [
        F.col(f"l_g{i}").alias(k) for i, k in enumerate(llrs.key_cols)
    ]
    if llrs.is_linear:
        cols.append(F.col("l_beg").alias(llrs.beg_col))
        cols.append(F.col("l_end").alias(llrs.end_col))
    if llrs.loc_col:
        cols.append(F.col("l_loc").alias(llrs.loc_col))
    cols.append(F.col("l_id").alias(EVENT_ID))
    cols.append(F.col("r_id").alias(RIGHT_ID))
    return cand.where(pred).select(*cols)


def overlay_pairs(
    left: DataFrame,
    right: DataFrame,
    llrs: LRS,
    rlrs: LRS,
    normalize: bool = True,
    norm_by: str = "right",
    profile: Union[None, str, Antideriv] = None,
    strategy: JoinStrategy = EQUI,
    keep_zeros: bool = False,
) -> DataFrame:
    """Float relation (left_id, right_id, weight): overlap lengths.

    Weight formula ported verbatim from ``overlay`` (``relate.py:2014-2030``):
    ``clip(min(l.end - r.beg, r.end - l.beg, min(len_l, len_r)), 0, inf)`` —
    the identical (non-algebraically-rewritten) expression, so float64
    arithmetic matches the reference bit-for-bit. Normalization divides by
    the norm_by side's length (zero-length -> weight 0 via the where-inf
    trick, ``relate.py:2077-2084``); profile weighting integrates the profile
    antiderivative over the normalized overlap span (``relate.py:2034-2071``).

    Zero-weight pairs are dropped by default — the reference stores results
    sparsely (``sp.coo_array`` keeps only nonzeros, ``relate.py:1936``), so
    downstream argmax-style aggregations never see them.
    """
    if norm_by not in ("right", "left"):
        raise ValueError("norm_by must be 'right' or 'left'")
    if not (llrs.is_linear and rlrs.is_linear):
        raise ValueError("overlay requires linear events on both sides")
    antideriv = resolve_profile(profile)

    cand = candidates(left, right, llrs, rlrs, strategy, mod_edges=False)
    lb, le = F.col("l_beg"), F.col("l_end")
    rb, re_ = F.col("r_beg"), F.col("r_end")
    llen, rlen = le - lb, re_ - rb

    overlap = F.least(le - rb, re_ - lb, F.least(llen, rlen))
    overlap = F.greatest(overlap, F.lit(0.0))

    if normalize:
        if antideriv is not None:
            ov_start = F.greatest(lb, rb)
            ov_end = F.least(le, re_)
            has_overlap = ov_end > ov_start
            ebeg = rb if norm_by == "right" else lb
            elen = rlen if norm_by == "right" else llen
            safe_len = F.when(elen == 0.0, F.lit(float("inf"))).otherwise(elen)
            t0 = F.least(F.greatest((ov_start - ebeg) / safe_len, F.lit(0.0)), F.lit(1.0))
            t1 = F.least(F.greatest((ov_end - ebeg) / safe_len, F.lit(0.0)), F.lit(1.0))
            weight = F.when(has_overlap, antideriv(t1) - antideriv(t0)).otherwise(
                F.lit(0.0)
            )
        else:
            denom = rlen if norm_by == "right" else llen
            safe = F.when(denom == 0.0, F.lit(float("inf"))).otherwise(denom)
            weight = overlap / safe
    else:
        weight = overlap

    out = cand.select(
        F.col("l_id").alias(LEFT_ID),
        F.col("r_id").alias(RIGHT_ID),
        weight.cast("double").alias(WEIGHT),
    )
    if not keep_zeros:
        out = out.where(F.col(WEIGHT) != 0.0)
    return out


def equal_groups_pairs(
    left: DataFrame, right: DataFrame, llrs: LRS, rlrs: LRS,
    strategy: JoinStrategy = EQUI,
) -> DataFrame:
    """Plain route-equi pair table (``relate.py:2090-2110``).

    The pairing predicate is group equality ALONE — measure-axis binning
    would silently drop same-group pairs whose intervals never share a
    bin — so binned/auto strategies are coerced to equi here (the
    broadcast flag is honored)."""
    if strategy.kind != "equi":
        strategy = JoinStrategy("equi", broadcast=strategy.broadcast)
    cand = candidates(left, right, llrs, rlrs, strategy, mod_edges=False)
    return cand.select(F.col("l_id").alias(LEFT_ID), F.col("r_id").alias(RIGHT_ID))
