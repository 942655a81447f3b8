"""Checkpointed, resumable pipeline stages with lineage and metrics.

The north rule requires every stage to write snapshot checkpoints with
per-partition lineage + metrics so a 10^12-document run resumes instead of
recomputing. Storage is a pluggable provider (``Pipeline(format=...)``):

- ``parquet`` (default, always available): atomic-rename directories + a
  JSON manifest — the sandbox stand-in for a table catalog;
- ``iceberg``: ``writeTo(...).createOrReplace()`` against a configured
  Iceberg catalog (a config swap, not a code change — this container has
  no Iceberg jars, so the provider raises a clear error unless
  ``spark.sql.catalog.<name>`` is configured; tests skip accordingly).

Semantics:

- a ``Stage`` is a named pure function ``(spark, {input stages}) -> DataFrame``;
- ``Pipeline.run`` executes stages in order; a stage is SKIPPED when the
  manifest holds a committed entry whose *input fingerprints* match the
  current upstream fingerprints (transitive: editing stage 2 re-runs 3..n
  but not 1); a stage's fingerprint also covers its version and, when it
  declares ``bucket_by``, its bucket spec;
- each committed entry records: fingerprint, input fingerprints, row
  count, wall seconds, bytes written, and per-partition row counts
  (lineage + skew evidence: max/mean partition ratio).

Writes are atomic-ish: output lands in ``<stage>.tmp-<fingerprint>`` and is
renamed into place before the manifest commits, so a crashed run never
leaves a committed-but-partial stage.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST = "_manifest.json"
# a bucketed data file's name ends in its bucket id, as Spark's
# BucketingUtils.getBucketId reads it: part-...-<uuid>_00003.c000.snappy.parquet
_BUCKET_ID = re.compile(r".*_(\d+)(?:\..*)?$")


@dataclass
class Stage:
    name: str
    fn: Callable[[SparkSession, Dict[str, DataFrame]], DataFrame]
    inputs: Sequence[str] = field(default_factory=tuple)
    # version participates in the fingerprint: bump to force recompute
    version: str = "1"
    # bucket_by: persist this stage's output hash-clustered on these
    # columns (pipeline/bucketed.py) so downstream stages' equi/binned
    # joins on them read co-located buckets with NO exchange of this
    # side — the repeated-join shuffle eliminated at the storage layer.
    bucket_by: Optional[Sequence[str]] = None
    n_buckets: int = 64


def _partition_counts(df: DataFrame) -> List[int]:
    rows = (
        df.groupBy(F.spark_partition_id().alias("p"))
        .count()
        .orderBy("p")
        .collect()
    )
    return [int(r["count"]) for r in rows]


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _check_bucket_ids(path: str, n_buckets: int) -> None:
    """Raise unless every data file under ``path`` names a bucket id below
    ``n_buckets``. A bucketed scan reads only buckets ``0..n_buckets-1``, so
    registering files written with more buckets (or without bucketing)
    would silently drop the rows in the others."""
    bad = []
    for f in sorted(os.listdir(path)):
        if f.startswith(("_", ".")):  # _SUCCESS, .crc checksums
            continue
        m = _BUCKET_ID.match(f)
        if m is None or int(m.group(1)) >= n_buckets:
            bad.append(f)
    if bad:
        raise ValueError(
            f"{path} holds {len(bad)} data file(s) without a bucket id below "
            f"n_buckets={n_buckets} (first: {bad[0]}): the directory was "
            "written with another bucket spec. Recompute the stage, or set "
            "n_buckets to the count it was written with."
        )


class ParquetProvider:
    """Atomic-rename parquet directories under ``base_dir``.

    Stages declaring ``bucket_by`` are written through ``saveAsTable``
    into the same tmp-dir + atomic-rename protocol as plain parquet (the
    temporary catalog entry points at the tmp dir and is dropped after
    the write; the files keep their bucket-id names), then the FINAL
    directory is registered via DDL — the same DDL a fresh session uses
    to resume — so the hash-clustering AND the within-bucket sort order
    survive for downstream joins across restarts, and a crashed write
    can never leave a committed-looking partial directory.
    """

    def __init__(self, base_dir: str, bucket_specs: Optional[dict] = None):
        self.base_dir = base_dir
        # name -> (bucket_cols tuple, n_buckets)
        self.bucket_specs = dict(bucket_specs or {})

    def _dir(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def _table(self, name: str) -> str:
        # the session catalog only allows [A-Za-z0-9_] in relation names
        # (quoting does not help), so sanitize the stage name and append a
        # short hash of the RAW name — 'a-b' and 'a_b' must not collide
        tag = hashlib.sha256(self.base_dir.encode()).hexdigest()[:8]
        safe = re.sub(r"[^A-Za-z0-9_]", "_", name)
        ntag = hashlib.sha256(name.encode()).hexdigest()[:4]
        return f"linref_ckpt_{tag}_{safe}_{ntag}"

    def exists(self, spark: SparkSession, name: str) -> bool:
        return os.path.exists(self._dir(name))

    def _register(self, spark: SparkSession, name: str) -> None:
        """(Re-)register the bucketed external table over the FINAL stage
        directory. Identifiers are backquoted (stage names may carry
        dashes etc.) and the within-bucket sort spec is declared too —
        ``save_bucketed`` sorts by the bucket cols by default, and a
        registration that omitted SORTED BY would silently re-sort every
        bucket in downstream sort-merge joins after a session restart."""
        cols, n = self.bucket_specs[name]
        _check_bucket_ids(self._dir(name), n)
        tbl = self._table(name)
        schema = spark.read.parquet(self._dir(name)).schema
        col_ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        quoted = ", ".join(f"`{c}`" for c in cols)
        spark.sql(f"DROP TABLE IF EXISTS `{tbl}`")
        spark.sql(
            f"CREATE TABLE `{tbl}` ({col_ddl}) USING parquet "
            f"CLUSTERED BY ({quoted}) SORTED BY ({quoted}) INTO {n} BUCKETS "
            f"LOCATION '{self._dir(name)}'"
        )

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        spec = self.bucket_specs.get(name)
        if spec is None:
            return spark.read.parquet(self._dir(name))
        tbl = self._table(name)
        if not spark.catalog.tableExists(f"`{tbl}`"):
            # fresh session resuming an existing checkpoint
            self._register(spark, name)
        return spark.table(f"`{tbl}`")

    def write(self, spark: SparkSession, name: str, df: DataFrame, fp: str) -> None:
        out_dir = self._dir(name)
        tmp_dir = f"{out_dir}.tmp-{fp}"
        if os.path.exists(tmp_dir):
            shutil.rmtree(tmp_dir)
        spec = self.bucket_specs.get(name)
        if spec is not None:
            from linref_spark.pipeline.bucketed import save_bucketed

            cols, n = spec
            tmp_tbl = f"{self._table(name)}_tmp"
            spark.sql(f"DROP TABLE IF EXISTS `{tmp_tbl}`")
            save_bucketed(
                df, f"`{tmp_tbl}`", list(cols), n_buckets=n, path=tmp_dir,
                mode="overwrite",
            )
            # drop the tmp catalog entry (external: files stay), publish
            # the directory atomically, then register the final location
            spark.sql(f"DROP TABLE IF EXISTS `{tmp_tbl}`")
            if os.path.exists(out_dir):
                shutil.rmtree(out_dir)
            os.replace(tmp_dir, out_dir)
            self._register(spark, name)
            return
        df.write.mode("overwrite").parquet(tmp_dir)
        if os.path.exists(out_dir):
            shutil.rmtree(out_dir)
        os.replace(tmp_dir, out_dir)

    def bytes_written(self, spark: SparkSession, name: str) -> int:
        return _dir_bytes(self._dir(name))


class IcebergProvider:
    """Iceberg-table checkpoints: one table per stage in a configured
    catalog. Commit atomicity and snapshot history come from Iceberg
    itself; the JSON manifest still carries the fingerprints and metrics.
    Requires the Iceberg runtime jars + ``spark.sql.catalog.<catalog>``
    to be configured on the session."""

    def __init__(self, catalog: str = "local", namespace: str = "linref_ckpt"):
        self.catalog = catalog
        self.namespace = namespace

    def _require(self, spark: SparkSession) -> None:
        if spark.conf.get(f"spark.sql.catalog.{self.catalog}", None) is None:
            raise RuntimeError(
                f"Iceberg catalog '{self.catalog}' is not configured "
                f"(spark.sql.catalog.{self.catalog}). Add the Iceberg "
                "runtime jar and catalog config, or use format='parquet'."
            )

    def _table(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    def exists(self, spark: SparkSession, name: str) -> bool:
        self._require(spark)
        return spark.catalog.tableExists(self._table(name))

    def read(self, spark: SparkSession, name: str) -> DataFrame:
        self._require(spark)
        return spark.read.table(self._table(name))

    def write(self, spark: SparkSession, name: str, df: DataFrame, fp: str) -> None:
        self._require(spark)
        spark.sql(
            f"CREATE NAMESPACE IF NOT EXISTS {self.catalog}.{self.namespace}"
        )
        df.writeTo(self._table(name)).using("iceberg").createOrReplace()

    def bytes_written(self, spark: SparkSession, name: str) -> int:
        self._require(spark)
        row = spark.sql(
            f"SELECT sum(file_size_in_bytes) AS b FROM {self._table(name)}.files"
        ).first()
        return int(row["b"] or 0)


def make_provider(fmt: str, base_dir: str, bucket_specs=None, **kwargs):
    if fmt == "parquet":
        return ParquetProvider(base_dir, bucket_specs=bucket_specs)
    if fmt == "iceberg":
        return IcebergProvider(**kwargs)
    raise ValueError(f"Unknown checkpoint format: {fmt!r}")


class Pipeline:
    def __init__(
        self,
        base_dir: str,
        stages: Sequence[Stage],
        format: str = "parquet",
        provider=None,
        **provider_kwargs,
    ):
        self.base_dir = base_dir
        self.stages = list(stages)
        bucket_specs = {
            s.name: (tuple(s.bucket_by), int(s.n_buckets))
            for s in stages
            if s.bucket_by
        }
        self.provider = provider or make_provider(
            format, base_dir, bucket_specs=bucket_specs, **provider_kwargs
        )
        if bucket_specs and not isinstance(self.provider, ParquetProvider):
            raise ValueError(
                f"Stages {sorted(bucket_specs)} declare bucket_by, but bucketing "
                "needs the parquet provider (format='parquet'); got "
                f"{type(self.provider).__name__}. Drop bucket_by or use parquet."
            )
        names = [s.name for s in stages]
        if len(set(names)) != len(names):
            raise ValueError("Stage names must be unique")

    # -- manifest -------------------------------------------------------------
    def _manifest_path(self) -> str:
        return os.path.join(self.base_dir, MANIFEST)

    def _load_manifest(self) -> dict:
        p = self._manifest_path()
        if os.path.exists(p):
            with open(p) as f:
                return json.load(f)
        return {"stages": {}}

    def _save_manifest(self, manifest: dict) -> None:
        os.makedirs(self.base_dir, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        os.replace(tmp, self._manifest_path())

    def _fingerprint(self, stage: Stage, input_fps: Dict[str, str]) -> str:
        spec = {"name": stage.name, "version": stage.version, "inputs": input_fps}
        if stage.bucket_by:
            # the on-disk layout is part of the output: a changed bucket
            # spec must recompute, never re-register stale bucket files
            spec["bucket_by"] = list(stage.bucket_by)
            spec["n_buckets"] = int(stage.n_buckets)
        payload = json.dumps(spec, sort_keys=True)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]

    # -- execution ------------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        force: bool = False,
        log: Optional[Callable[[str], None]] = print,
    ) -> Dict[str, DataFrame]:
        manifest = self._load_manifest()
        outputs: Dict[str, DataFrame] = {}
        fps: Dict[str, str] = {}
        for stage in self.stages:
            missing = [i for i in stage.inputs if i not in outputs]
            if missing:
                raise ValueError(f"Stage {stage.name} missing inputs: {missing}")
            input_fps = {i: fps[i] for i in stage.inputs}
            fp = self._fingerprint(stage, input_fps)
            fps[stage.name] = fp
            entry = manifest["stages"].get(stage.name)
            if (
                not force
                and entry
                and entry.get("fingerprint") == fp
                and entry.get("committed")
                and self.provider.exists(spark, stage.name)
            ):
                if log:
                    log(f"[pipeline] {stage.name}: resume from checkpoint ({fp})")
                outputs[stage.name] = self.provider.read(spark, stage.name)
                continue

            t0 = time.time()
            df = stage.fn(spark, {i: outputs[i] for i in stage.inputs})
            self.provider.write(spark, stage.name, df, fp)
            committed = self.provider.read(spark, stage.name)
            part_counts = _partition_counts(committed)
            n_rows = sum(part_counts)
            elapsed = time.time() - t0
            mean_p = (n_rows / len(part_counts)) if part_counts else 0.0
            manifest["stages"][stage.name] = {
                "fingerprint": fp,
                "inputs": input_fps,
                "committed": True,
                "rows": n_rows,
                "bytes": self.provider.bytes_written(spark, stage.name),
                "wall_sec": round(elapsed, 3),
                "partitions": len(part_counts),
                "partition_rows_max": max(part_counts) if part_counts else 0,
                "partition_rows_mean": round(mean_p, 2),
                "skew_ratio": round(max(part_counts) / mean_p, 3)
                if part_counts and mean_p > 0
                else 0.0,
                "completed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
            self._save_manifest(manifest)
            if log:
                log(
                    f"[pipeline] {stage.name}: computed {n_rows} rows in "
                    f"{elapsed:.1f}s ({fp})"
                )
            outputs[stage.name] = committed
        return outputs

    def metrics(self) -> dict:
        return self._load_manifest()["stages"]
