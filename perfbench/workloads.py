"""The benchmark workloads.

Each workload is built only from the library's public functions, the
``__spark_entry__`` event derivations (``_seg``, ``_pts``, ``SEG_LRS``,
``PTS_LRS``) and ``run_pipeline.build_pipeline``. A workload pins its
inputs in ``setup`` and lists its operations in ``ops``: each operation
forces its output through the noop sink and returns what it observed on
the way (row count, an order-insensitive hash of the rounded output, and
any invariant sums), so every timed pass is also checked.
"""

from __future__ import annotations

import os
import shutil
import time
from types import SimpleNamespace

from pyspark.sql import Observation
from pyspark.sql import functions as F

import __spark_entry__ as E
import run_pipeline as RP
from linref_spark.events import modify as MOD
from linref_spark.events.constrain import split_at_locs
from linref_spark.relate import agg as AGG
from linref_spark.relate.distribute import distribute
from linref_spark.relate.join import (
    EQUI, RIGHT_ID, JoinStrategy, candidates, intersect_pairs, overlay_pairs,
)
from linref_spark.web import ann as ANN
from linref_spark.web import dedup as DD

from perfbench import inputs
from perfbench.spans import scan_rdd_ids

BINNED = JoinStrategy("binned", bin_size=25.0)
PIPELINE_ROWS = 4_000


def _rounded(df):
    cols = []
    for name, dtype in df.dtypes:
        c = F.col(f"`{name}`")
        if dtype in ("double", "float"):
            c = F.round(c, 4)
        elif dtype in ("array<double>", "array<float>"):
            c = F.transform(c, lambda x: F.round(x, 4))
        cols.append(c)
    return cols


def output_digest(df, **extra) -> list:
    """Aggregates for a row count and an order-insensitive hash of ``df``
    rounded to 4 decimals, plus ``extra`` named aggregates."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*_rounded(df)).cast("decimal(38,0)")).alias("hash"),
        *[agg.alias(name) for name, agg in extra.items()],
    ]


def _plain(row: dict) -> dict:
    return {k: (str(v) if k == "hash" else v) for k, v in row.items()}


def sink(df, **extra) -> dict:
    """Force ``df`` through the noop sink; return what was observed."""
    obs = Observation()
    df.observe(obs, *output_digest(df, **extra)).write.format("noop").mode(
        "overwrite"
    ).save()
    return _plain(obs.get)


def digest(df, **extra) -> dict:
    """The same aggregates as :func:`sink`, computed by a query of their own."""
    return _plain(df.agg(*output_digest(df, **extra)).first().asDict())


def _seeded(df, key: str, seed: int, nproc: int):
    """Spread rows by ``xxhash64(key, seed)`` and pin them: the physical
    layout follows the seed, the contents do not."""
    return df.repartition(2 * nproc, F.xxhash64(key, F.lit(seed))).localCheckpoint()


class EventsRelate:
    """The eight linear-referencing operators over seeded event tables."""

    name = "events_relate"
    groups = {
        "interval_join_s": ["count_overlaps_equi", "count_overlaps_binned",
                            "overlay_sum_binned", "pts_on_seg_binned"],
        "modify_s": ["dissolve", "resegment"],
        "distribute_s": ["distribute"],
        "split_s": ["split_at_locs"],
    }
    pass_ops = [op for ops in groups.values() for op in ops]
    nominal_pass_s = 8.0  # wall time of one pass on a 4-core host

    def setup(self, spark, inputs_dir, seed, nproc, tr):
        self.seg1 = _seeded(E._seg(spark, inputs_dir, 1), "event_id", seed, nproc)
        self.seg2 = _seeded(E._seg(spark, inputs_dir, 2), "event_id", seed, nproc)
        self.pts = _seeded(E._pts(spark, inputs_dir), "event_id", seed, nproc)
        self.tr = tr

    def _pairs(self, fn, right, rlrs, strategy=None):
        kw = {} if strategy is None else {"strategy": strategy}
        tr = self.tr
        pairs = tr.call("relate.join", fn, self.seg1, right, E.SEG_LRS, rlrs, **kw)
        if tr.enabled:
            tr.last["candidates"] = tr.probe("relate.candidates", lambda: candidates(
                self.seg1, right, E.SEG_LRS, rlrs, strategy or EQUI
            ).count())
        return pairs

    def _count(self, right, rlrs, strategy=None):
        pairs = self._pairs(intersect_pairs, right, rlrs, strategy)
        return sink(self.tr.call("relate.agg", AGG.agg_count, pairs, self.seg1, out_col="n"))

    def _overlay_sum(self):
        pairs = self._pairs(overlay_pairs, self.seg2, E.SEG_LRS, BINNED)
        return sink(self.tr.call(
            "relate.agg", AGG.agg_sum, pairs, self.seg1, self.seg2, "val", out_col="s"
        ))

    def _distribute(self):
        tr = self.tr
        pairs = self._pairs(intersect_pairs, self.pts, E.PTS_LRS)
        out = tr.call(
            "relate.distribute", distribute, pairs, self.seg1, self.pts,
            E.SEG_LRS, E.PTS_LRS, value_col=None, decay_size=2, decay_func="linear",
        )
        if tr.enabled:
            pinned = set(scan_rdd_ids(pairs))
            tr.last["pairs_scans"] = sum(r in pinned for r in tr.last["scan_rdds"])
        return sink(out, total=F.sum("distributed"))

    def ops(self):
        tr = self.tr
        return {
            "count_overlaps_equi": lambda: self._count(self.seg2, E.SEG_LRS),
            "count_overlaps_binned": lambda: self._count(self.seg2, E.SEG_LRS, BINNED),
            "overlay_sum_binned": self._overlay_sum,
            "pts_on_seg_binned": lambda: self._count(self.pts, E.PTS_LRS, BINNED),
            "dissolve": lambda: sink(tr.call("events.modify", MOD.dissolve, self.seg1, E.SEG_LRS)),
            "resegment": lambda: sink(tr.call(
                "events.modify", MOD.resegment, self.seg1, E.SEG_LRS, length=7.0, fill="cut"
            )),
            "distribute": self._distribute,
            "split_at_locs": lambda: sink(tr.call(
                "events.constrain", split_at_locs, self.seg1, self.pts,
                E.SEG_LRS, E.PTS_LRS, inverse_col="six",
            )),
        }

    def references(self) -> dict:
        """Seed-dependent reference counts, computed once per run."""
        pairs = lambda right, rlrs, s=EQUI: intersect_pairs(  # noqa: E731
            self.seg1, right, E.SEG_LRS, rlrs, strategy=s)
        matched = pairs(self.pts, E.PTS_LRS).select(RIGHT_ID).distinct().count()
        join_rows = (
            2 * pairs(self.seg2, E.SEG_LRS).count()
            + overlay_pairs(self.seg1, self.seg2, E.SEG_LRS, E.SEG_LRS, strategy=BINNED).count()
            + pairs(self.pts, E.PTS_LRS).count()
        )
        return {"matched_points": matched, "join_rows": join_rows}

    def invariants(self, out: dict, ref: dict) -> list[str]:
        bad = []
        equi, binned = out["count_overlaps_equi"], out["count_overlaps_binned"]
        if (equi["rows"], equi["hash"]) != (binned["rows"], binned["hash"]):
            bad.append("binned count_overlaps differs from equi")
        total = out["distribute"]["total"]
        if abs(total - ref["matched_points"]) > 1e-6 * max(1, ref["matched_points"]):
            bad.append(f"distribute total {total} != {ref['matched_points']} matched points")
        return bad

    throughput_name = "join_rows_per_s"

    def throughput(self, ref: dict, pass_s: float) -> float:
        return ref["join_rows"] / pass_s


def _dir_usage(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f != "_manifest.json":
                n_bytes += os.path.getsize(os.path.join(root, f))
                n_files += 1
    return n_bytes, n_files


class WebPipeline:
    """``run_pipeline.build_pipeline`` cold through all seven stages, then
    resumed; minhash LSH dedup over the documents; three top-k searches
    over the embeddings.

    The pipeline takes no seed, so its stages are the same on every seed;
    the documents and embeddings follow the seed.
    """

    name = "web_pipeline"
    groups = {
        "cold_s": ["cold"],
        "resume_s": ["resume"],
        "dedup_s": ["minhash_lsh"],
        "ann_s": ["cosine_topk", "lsh_topk", "ivfpq_topk"],
    }
    pass_ops = [op for ops in groups.values() for op in ops]
    nominal_pass_s = 20.0
    # layer calls the pipeline's stage functions make, traced in place
    traced_calls = {
        "web.pages": ("generate_pages", "with_extracted_text", "geocode_pages"),
        "spatial.join": ("project_points_tiled",),
        "events.modify": ("resegment",),
        "relate.join": ("intersect_pairs",),
        "relate.distribute": ("distribute",),
        "spatial.tiles": ("with_point_tile", "tile_aggregate"),
    }

    def setup(self, spark, inputs_dir, seed, nproc, tr):
        self.spark, self.nproc, self.tr = spark, nproc, tr
        self.root = os.path.join(os.path.dirname(inputs_dir), "pipeline")
        self.n_pass = 0
        read = lambda t: spark.read.parquet(os.path.join(inputs_dir, f"{t}.parquet"))  # noqa: E731
        self.docs = _seeded(read("documents"), "doc_id", seed, nproc)
        self.emb = _seeded(read("embeddings"), "vec_id", seed, nproc)
        self.queries = self.emb.where(F.col("vec_id") % 50 == 0)
        t0 = time.perf_counter()
        self.centroids = ANN.train_ivf_centroids(
            self.emb, inputs.DIM, n_centroids=32, sample_size=4000)
        self.codebooks = ANN.train_pq_codebooks(
            self.emb, inputs.DIM, m=8, n_codes=64, sample_size=4000)
        self.train_s = time.perf_counter() - t0

    # -- the staged pipeline ---------------------------------------------------

    def _log(self, msg: str) -> None:
        now = time.perf_counter()
        name = msg.split("]", 1)[1].split(":", 1)[0].strip()
        start, job0 = self._mark
        resumed = "resume from checkpoint" in msg
        self.stage_log.append((name, resumed))
        if self.tr.enabled:
            self.tr.add(f"pipeline.stage.{name}", "pipeline.stage", start, now,
                        stage=name, resumed=resumed, jobs=self.tr.last_job_id() - job0)
        self._mark = (now, self.tr.last_job_id() if self.tr.enabled else 0)

    def _run_pipeline(self) -> dict:
        tr = self.tr
        pipe = RP.build_pipeline(PIPELINE_ROWS, self.out_dir, partitions=4 * self.nproc)
        if tr.enabled:
            write = pipe.provider.write

            def traced_write(spark, name, df, fp):
                with tr.span(f"pipeline.checkpoint.{name}", "pipeline.checkpoint") as c:
                    c["stage"] = name
                    write(spark, name, df, fp)

            pipe.provider.write = traced_write
        self.stage_log = []
        self._mark = (time.perf_counter(), tr.last_job_id() if tr.enabled else 0)
        self.outputs = pipe.run(self.spark, log=self._log)
        return {
            "stages": len(self.stage_log),
            "stages_resumed": sum(resumed for _, resumed in self.stage_log),
        }

    def begin_pass(self) -> None:
        """Untimed: give the pass a fresh pipeline directory."""
        shutil.rmtree(self.root, ignore_errors=True)
        self.n_pass += 1
        self.out_dir = os.path.join(self.root, f"run{self.n_pass}")

    def after_op(self, op: str, obs: dict) -> None:
        """Untimed: digest the tiles the pipeline committed and size its output."""
        if op in ("cold", "resume"):
            obs.update(digest(self.outputs["tiles"], tile_total=F.sum("n")))
        if op == "cold":
            obs["stored_bytes"], obs["stored_files"] = _dir_usage(self.out_dir)

    def patch_layers(self):
        """Trace the layer calls inside the pipeline's stage functions by
        swapping traced wrappers into ``run_pipeline``'s namespace; returns
        the originals for :meth:`restore_layers`."""
        tr = self.tr
        saved = {}

        def wrap(layer, fn):
            return lambda *a, **kw: tr.call(layer, fn, *a, **kw)

        def snap(*a, **kw):
            out = tr.call("spatial.join", saved["project_points_tiled"], *a, **kw)
            tr.last["points_in"] = PIPELINE_ROWS
            return out

        def pairs(left, right, llrs, rlrs, **kw):
            out = tr.call("relate.join", saved["intersect_pairs"], left, right, llrs, rlrs, **kw)
            counters = tr.last
            counters["candidates"] = tr.probe("relate.candidates", lambda: candidates(
                left, right, llrs, rlrs, kw.get("strategy", EQUI)).count())
            return out

        for layer, names in self.traced_calls.items():
            for name in names:
                saved[name] = getattr(RP, name)
                setattr(RP, name, wrap(layer, saved[name]))
        RP.project_points_tiled, RP.intersect_pairs = snap, pairs
        saved["AGG"] = RP.AGG
        RP.AGG = SimpleNamespace(agg_count=wrap("relate.agg", AGG.agg_count))
        return saved

    @staticmethod
    def restore_layers(saved: dict) -> None:
        for name, fn in saved.items():
            setattr(RP, name, fn)

    # -- dedup and search ------------------------------------------------------

    def _ann(self, fn, **kw):
        tr = self.tr
        out = tr.call("web.ann", fn, self.emb, self.queries, k=5, **kw)
        if tr.enabled:
            tr.last["queries"] = self.n_queries
        return sink(out)

    def ops(self):
        dim = inputs.DIM
        return {
            "cold": self._run_pipeline,
            "resume": self._run_pipeline,
            "minhash_lsh": lambda: sink(self.tr.call(
                "web.dedup", DD.minhash_lsh_pairs, self.docs, num_hashes=16, bands=4)),
            "cosine_topk": lambda: self._ann(ANN.cosine_topk),
            "lsh_topk": lambda: self._ann(ANN.lsh_topk, dim=dim, n_planes=16, bands=4),
            "ivfpq_topk": lambda: self._ann(
                ANN.ivfpq_topk, dim=dim, n_centroids=32, n_probe=4, m=8, n_codes=64,
                rerank_factor=4, centroids=self.centroids, codebooks=self.codebooks,
            ),
        }

    def references(self) -> dict:
        self.n_queries = self.queries.count()
        return {"queries": self.n_queries}

    def invariants(self, out: dict, ref: dict) -> list[str]:
        # the extracted stage itself raises when any page's extracted text
        # is not byte-identical to its text, which fails the "cold" op
        cold, resume = out["cold"], out["resume"]
        bad = []
        if cold["tile_total"] != PIPELINE_ROWS:
            bad.append(f"tiles hold {cold['tile_total']} of {PIPELINE_ROWS} pages")
        if (cold["rows"], cold["hash"]) != (resume["rows"], resume["hash"]):
            bad.append("tiles after resume differ from the cold run")
        if resume["stages_resumed"] != resume["stages"]:
            bad.append(f"resumed {resume['stages_resumed']} of {resume['stages']} stages")
        return bad

    throughput_name = "docs_per_s"

    def throughput(self, ref: dict, pass_s: float) -> float:
        return (PIPELINE_ROWS + inputs.N_DOCS) / pass_s


WORKLOADS = {w.name: w for w in (EventsRelate, WebPipeline)}
