"""Checkpointed pipeline: resume, invalidation, lineage metrics."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from linref_spark.pipeline.checkpoint import Pipeline, Stage


@pytest.fixture()
def base_dir(tmp_path):
    return str(tmp_path / "pipe")


def make_stages(counter):
    def s_a(spark, _):
        counter["a"] += 1
        return spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("v"))

    def s_b(spark, ins):
        counter["b"] += 1
        return ins["a"].where(F.col("v") % 4 == 0)

    return [Stage("a", s_a), Stage("b", s_b, inputs=("a",))]


def test_pipeline_runs_and_resumes(spark, base_dir):
    counter = {"a": 0, "b": 0}
    pipe = Pipeline(base_dir, make_stages(counter))
    out1 = pipe.run(spark, log=None)
    assert out1["b"].count() == 50
    assert counter == {"a": 1, "b": 1}
    # second run: both stages resume from checkpoints, no recompute
    out2 = pipe.run(spark, log=None)
    assert out2["b"].count() == 50
    assert counter == {"a": 1, "b": 1}
    # metrics/lineage recorded
    m = pipe.metrics()
    assert m["a"]["rows"] == 100 and m["b"]["rows"] == 50
    assert m["b"]["inputs"]["a"] == m["a"]["fingerprint"]
    assert m["a"]["wall_sec"] > 0 and m["a"]["bytes"] > 0
    assert m["a"]["partitions"] >= 1 and m["a"]["skew_ratio"] >= 1.0


def test_pipeline_version_bump_invalidates_downstream(spark, base_dir):
    counter = {"a": 0, "b": 0}
    pipe = Pipeline(base_dir, make_stages(counter))
    pipe.run(spark, log=None)
    assert counter == {"a": 1, "b": 1}
    # bump stage a's version: a AND b recompute (transitive fingerprints)
    stages2 = make_stages(counter)
    stages2[0].version = "2"
    pipe2 = Pipeline(base_dir, stages2)
    pipe2.run(spark, log=None)
    assert counter == {"a": 2, "b": 2}
    # unchanged rerun resumes again
    pipe2.run(spark, log=None)
    assert counter == {"a": 2, "b": 2}


def test_pipeline_partial_output_not_committed(spark, base_dir):
    counter = {"a": 0, "b": 0}
    stages = make_stages(counter)

    def s_fail(spark, ins):
        raise RuntimeError("boom")

    pipe = Pipeline(base_dir, [stages[0], Stage("bad", s_fail, inputs=("a",))])
    with pytest.raises(RuntimeError):
        pipe.run(spark, log=None)
    # stage a committed, bad did not
    m = pipe.metrics()
    assert "a" in m and "bad" not in m
    assert not os.path.exists(os.path.join(base_dir, "bad"))
    # fixing the stage resumes a, runs bad's replacement
    pipe2 = Pipeline(base_dir, make_stages(counter))
    pipe2.run(spark, log=None)
    assert counter["a"] == 1  # resumed, not recomputed


def test_provider_factory_and_iceberg_guard(spark, tmp_path):
    from linref_spark.pipeline.checkpoint import (
        IcebergProvider,
        ParquetProvider,
        make_provider,
    )

    assert isinstance(make_provider("parquet", str(tmp_path)), ParquetProvider)
    assert isinstance(make_provider("iceberg", str(tmp_path)), IcebergProvider)
    with pytest.raises(ValueError):
        make_provider("delta", str(tmp_path))
    # no Iceberg catalog configured in this container -> clear error
    ice = IcebergProvider(catalog="local")
    if spark.conf.get("spark.sql.catalog.local", None) is None:
        with pytest.raises(RuntimeError, match="Iceberg catalog"):
            ice.exists(spark, "s1")
    else:  # pragma: no cover - only on Iceberg-enabled clusters
        assert ice.exists(spark, "nonexistent_stage_xyz") is False


def test_pipeline_iceberg_format_flag_is_config_swap(spark, tmp_path):
    """format='iceberg' must be accepted at construction (the swap is
    config, not code) and fail with the catalog guidance only at run."""
    from linref_spark.pipeline.checkpoint import Pipeline, Stage

    p = Pipeline(
        str(tmp_path),
        [Stage("a", lambda s, _: s.range(3).toDF("x"))],
        format="iceberg",
    )
    if spark.conf.get("spark.sql.catalog.local", None) is None:
        with pytest.raises(RuntimeError, match="Iceberg catalog"):
            p.run(spark, log=None)
    else:  # pragma: no cover
        assert p.run(spark, log=None)["a"].count() == 3


def test_bucketed_tables_join_without_exchange(spark, tmp_path):
    """Two tables bucketed by route with matching specs must relate-join
    with ZERO Exchange nodes (the 100 TB co-location story); bucket_spec
    reads the saved spec back so partners can be written to match.
    Buckets are written AFTER add_event_id — id minting materializes via
    localCheckpoint, which erases partitioning info, so mint-then-bucket
    is the order that keeps the elision."""
    from linref_spark.events.frame import add_event_id
    from linref_spark.lrs import LRS
    from linref_spark.pipeline.bucketed import (
        bucket_spec,
        load_bucketed,
        save_bucketed,
    )
    from linref_spark.relate.join import EQUI, JoinStrategy, intersect_pairs

    lrs = LRS(key_cols=("route",), beg_col="beg", end_col="end")
    rows = [
        (f"R{r}", float(b), float(b + 3)) for r in range(6) for b in range(0, 30, 2)
    ]
    df = spark.createDataFrame(rows, "route string, beg double, end double")
    left = add_event_id(df, lrs)
    right = add_event_id(df, lrs)
    save_bucketed(left, "bk_left", ["route"], n_buckets=4,
                  path=str(tmp_path / "bk_left"))
    spec = bucket_spec(spark, "bk_left")
    assert spec == (("route",), 4)
    save_bucketed(right, "bk_right", [spec[0][0]], n_buckets=spec[1],
                  path=str(tmp_path / "bk_right"))

    lb, rb = load_bucketed(spark, "bk_left"), load_bucketed(spark, "bk_right")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pairs = intersect_pairs(lb, rb, lrs, lrs, strategy=EQUI)
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
        # and the join is still CORRECT: same pair count as the plain path
        expected = intersect_pairs(left, right, lrs, lrs, strategy=EQUI).count()
        assert pairs.count() == expected and expected > 0

        # binned keys are (route, bin) — a SUPERSET of the bucket cols;
        # with requireAllClusterKeysForCoPartition relaxed the route
        # clustering satisfies them and the binned join is also
        # exchange-free, with identical pairs
        spark.conf.set(
            "spark.sql.requireAllClusterKeysForCoPartition", "false"
        )
        binned = intersect_pairs(
            lb, rb, lrs, lrs, strategy=JoinStrategy("binned", bin_size=5.0)
        )
        plan2 = binned._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan2, plan2
        assert binned.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.conf.unset("spark.sql.requireAllClusterKeysForCoPartition")
        spark.sql("DROP TABLE IF EXISTS bk_left")
        spark.sql("DROP TABLE IF EXISTS bk_right")


def test_pipeline_bucketed_stage_joins_without_exchange(spark, tmp_path):
    """VERDICT r05 item 3: a stage declaring bucket_by persists its output
    route-clustered, a downstream stage's relate join reads it with ZERO
    Exchange on that side, and resume re-registers the bucketed table in
    a fresh catalog (DDL from the on-disk files)."""
    from linref_spark.lrs import LRS
    from linref_spark.relate.join import EQUI, intersect_pairs

    lrs = LRS(key_cols=("route",), beg_col="beg", end_col="end")
    base = str(tmp_path / "bpipe")

    def s_big(spark, _):
        return spark.range(400).select(
            (F.col("id") % 8).cast("string").alias("route"),
            (F.col("id") % 50).cast("double").alias("beg"),
            ((F.col("id") % 50) + 3.0).alias("end"),
            F.col("id").alias("event_id"),
        )

    def s_small(spark, _):
        return spark.range(40).select(
            (F.col("id") % 8).cast("string").alias("route"),
            (F.col("id") % 50).cast("double").alias("beg"),
            ((F.col("id") % 50) + 5.0).alias("end"),
            F.col("id").alias("event_id"),
        )

    captured = {}

    def s_joined(spark, ins):
        pairs = intersect_pairs(ins["small"], ins["big"], lrs, lrs,
                                strategy=EQUI)
        captured["plan"] = pairs._jdf.queryExecution().executedPlan().toString()
        return pairs

    stages = [
        Stage("big", s_big, bucket_by=("route",), n_buckets=4),
        Stage("small", s_small, bucket_by=("route",), n_buckets=4),
        Stage("joined", s_joined, inputs=("small", "big")),
    ]
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        pipe = Pipeline(base, stages)
        out = pipe.run(spark, log=None)
        n = out["joined"].count()
        assert n > 0
        assert "Exchange hashpartitioning" not in captured["plan"], captured["plan"]

        # resume path across a cold catalog: drop the registered tables,
        # rerun — provider.read must re-register from the on-disk files
        # with the clustering intact and recompute NOTHING
        for s in ("big", "small"):
            tbl = pipe.provider._table(s)
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        captured.clear()
        pipe2 = Pipeline(base, stages)
        out2 = pipe2.run(spark, log=None)
        assert out2["joined"].count() == n
        # joined was resumed from its checkpoint, so no plan was captured
        assert "plan" not in captured
        # and the re-registered tables still join exchange-free
        pairs = intersect_pairs(
            out2["small"], out2["big"], lrs, lrs, strategy=EQUI
        )
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        for s in ("big", "small"):
            spark.sql(f"DROP TABLE IF EXISTS `{pipe.provider._table(s)}`")


def test_pipeline_bucket_spec_change_recomputes(spark, tmp_path):
    """The bucket spec is part of a stage's fingerprint: rerunning a stage
    with a smaller n_buckets must recompute it, not re-register the old
    bucket files under the new spec (which silently drops the rows in the
    buckets the new spec no longer declares)."""
    base = str(tmp_path / "respec")

    def s_big(spark, _):
        return spark.range(400).select(
            (F.col("id") % 8).cast("string").alias("route"),
            F.col("id").alias("event_id"),
        )

    def run(n_buckets):
        pipe = Pipeline(base, [Stage("big", s_big, bucket_by=("route",),
                                     n_buckets=n_buckets)])
        lines = []
        out = pipe.run(spark, log=lines.append)
        # grouping on the bucket column reads through the bucketed scan,
        # which is where stale bucket files go missing
        n = out["big"].groupBy("route").count().agg(F.sum("count")).first()[0]
        # a fresh session would have no catalog entry: make the next run
        # read the checkpoint through _register, as a restart does
        spark.sql(f"DROP TABLE IF EXISTS `{pipe.provider._table('big')}`")
        return lines, n

    lines4, n4 = run(4)
    assert n4 == 400 and "computed" in lines4[0]
    lines2, n2 = run(2)
    assert "computed" in lines2[0], lines2
    assert "resume from checkpoint" not in lines2[0]
    assert n2 == 400
    # unchanged spec still resumes
    lines2b, n2b = run(2)
    assert "resume from checkpoint" in lines2b[0] and n2b == 400


def test_register_rejects_bucket_ids_beyond_spec(spark, tmp_path):
    """A directory written with more buckets than the provider's spec must
    not be registered: the bucketed scan reads only buckets below
    n_buckets, so it would silently return fewer rows."""
    from linref_spark.pipeline.checkpoint import ParquetProvider

    base = str(tmp_path / "ids")

    def s_big(spark, _):
        return spark.range(400).select(
            (F.col("id") % 8).cast("string").alias("route"),
            F.col("id").alias("event_id"),
        )

    pipe = Pipeline(base, [Stage("big", s_big, bucket_by=("route",),
                                 n_buckets=4)])
    pipe.run(spark)
    # written outside this provider: a fresh session has no catalog entry
    spark.sql(f"DROP TABLE IF EXISTS `{pipe.provider._table('big')}`")
    narrow = ParquetProvider(base, {"big": (("route",), 2)})
    with pytest.raises(ValueError, match="Recompute the stage, or set n_buckets"):
        narrow.read(spark, "big")
    # the matching spec still registers and reads every row
    same = ParquetProvider(base, {"big": (("route",), 4)})
    assert same.read(spark, "big").count() == 400
    spark.sql(f"DROP TABLE IF EXISTS `{same._table('big')}`")


def test_pipeline_refuses_bucket_by_without_parquet_provider(tmp_path):
    stage = Stage("a", lambda s, _: s.range(3).toDF("x"), bucket_by=("x",))
    with pytest.raises(ValueError, match="bucketing needs the parquet provider"):
        Pipeline(str(tmp_path), [stage], format="iceberg")
    # unbucketed stages keep the config-swap behaviour
    Pipeline(str(tmp_path), [Stage("a", stage.fn)], format="iceberg")
