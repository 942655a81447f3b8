"""Shared Spark test fixtures.

One session per pytest run (local[*], AQE on, small shuffle partition count
so tiny-fixture tests don't pay 200-partition overhead).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import SparkSession

from linref_spark import session
from linref_spark.lrs import EVENT_ID, LRS


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.appName("linref-spark-tests")
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(session.CODEGEN_CACHE_ENTRIES))
        .getOrCreate()
    )
    yield s
    s.stop()


def make_events(
    spark: SparkSession,
    begs=None,
    ends=None,
    locs=None,
    groups=None,
    closed: str = "right",
    extra: dict | None = None,
):
    """Build an event frame + LRS from parallel lists, mirroring how the
    reference tests construct ``EventsData`` inline. ``event_id`` is the
    0-based positional index, exactly linref's generic index.
    """
    n = len(begs) if begs is not None else len(locs)
    rows = []
    for i in range(n):
        row = {"event_id": i}
        if groups is not None:
            row["route"] = groups[i]
        if locs is not None:
            row["loc"] = float(locs[i])
        if begs is not None:
            row["beg"] = float(begs[i])
            row["end"] = float(ends[i])
        if extra:
            for k, vals in extra.items():
                row[k] = vals[i]
        rows.append(row)
    df = spark.createDataFrame(rows)
    lrs = LRS(
        key_cols=("route",) if groups is not None else (),
        loc_col="loc" if locs is not None else None,
        beg_col="beg" if begs is not None else None,
        end_col="end" if begs is not None else None,
        closed=closed,
    )
    return df, lrs


def pairs_to_matrix(pairs_df, m, n, weight=False):
    """Collect a pair table into a dense numpy matrix for golden asserts."""
    mat = np.zeros((m, n), dtype=float if weight else bool)
    for row in pairs_df.collect():
        mat[row["left_id"], row["right_id"]] = row["weight"] if weight else True
    return mat


def col_as_array(df, col, n, id_col=EVENT_ID, fill=np.nan):
    """Collect a result column ordered by event_id into a numpy array."""
    out = np.full(n, fill, dtype=object)
    for row in df.select(id_col, col).collect():
        out[row[id_col]] = row[col]
    return out
