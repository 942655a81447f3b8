"""SparkSession factory tuned for this engine.

Local defaults mirror what the cluster config would be: AQE on (runtime
re-planning + skew-join handling), Arrow enabled for pandas UDF kernels,
shuffle partitions sized to cores. At real cluster scale the same settings
apply, plus per-job ``spark.sql.files.maxPartitionBytes`` sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "linref-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or (int(cpus) if str(cpus).isdigit() else 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let a table hash-clustered on a SUBSET of the join keys (e.g.
        # route-bucketed tables under the (route, bin) binned join) satisfy
        # co-partitioning — semantics-preserving (same route+bin rows still
        # co-locate); elides the big-side exchange on bucketed checkpoints
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing: the 10k-row default leaves narrow numeric
        # UDF batches overhead-bound (measured ~12% on the snap kernel at
        # 50k rows/batch); the BYTE cap is what bounds worker memory for
        # wide rows (page text, long geometry arrays), so raising the
        # record cap stays safe.
        # Env-overridable for cluster-specific worker memory budgets.
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_ROWS", "50000"),
        )
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_BYTES", str(64 * 1024 * 1024)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    return builder.getOrCreate()
