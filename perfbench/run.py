"""Benchmark command: one workload, one seed, one measured window.

    python3 perfbench/run.py --workload events_relate --seed 1 --seconds 10 --trace 0

Run from the repository root. The run starts one Spark session, then sets
the workload up three times (seeded inputs pinned, quantizers trained).
Then it runs one discarded warm-up pass, then as many timed passes as
``--seconds`` holds at the workload's nominal pass time (at least one),
one operation at a time on ``local[nproc]``, each output forced through
the noop sink and checked. Each operation's wall and CPU time (user +
system, summed over the driver, the JVM and the Python workers) is its
median over the timed passes; ``pass_s`` and ``pass_cpu_s`` are the sums
of those medians. ``setup_s`` is the CPU time of the session start plus
the median CPU time of the set-ups; ``setup_wall_s`` is the same in wall
time. ``--trace 1`` times its first pass untraced and the rest with spans
around every layer call, and reports per-layer metrics instead.
Everything the run writes stays under ``.bench_work/``.

The second-to-last line of standard output is a full report (every metric
by workload with its unit and sample count, the checks, the host); the
last line is ``{"correct", "attempted", "failed", "metrics"}``. A failed
check makes the exit code 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work")
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
DEFAULT_SEED = 1
SETUP_REPS = 3
LIBRARY = ("linref_spark", "__spark_entry__.py", "run_pipeline.py")
PIPELINE_STAGES = ("pages", "extracted", "events", "routes", "snapped", "segments", "tiles")


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# -- process-tree memory and CPU time ------------------------------------------

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        kids = children.get(stack.pop(), [])
        out.extend(kids)
        stack.extend(kids)
    return out


class RssSampler:
    """Peak resident memory of this process and all its descendants
    (JVM, Python workers), sampled from /proc every 0.5 s."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        total = 0
        for pid in [os.getpid(), *_descendants(os.getpid())]:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) this process and its descendants have
    used so far, reaped children included. Time the hypervisor gives to
    other guests (steal) is not in it."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


# -- environment ----------------------------------------------------------------

def _configure_env(nproc: int) -> None:
    """Keep Spark's scratch, warehouse and temp files inside the checkout;
    must run before pyspark starts the JVM."""
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.ui.enabled=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        "pyspark-shell",
    ])
    # import the library and this package from the checkout, and keep this
    # directory's module names from shadowing anything else
    sys.path[0] = ROOT


def _source_digest() -> str:
    h = hashlib.sha256()
    for entry in LIBRARY:
        path = os.path.join(ROOT, entry)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(r, f) for r, _, fs in os.walk(path) for f in fs if f.endswith(".py")
        )
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def _commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _stop_jvm() -> None:
    """Stop the JVM pyspark launched, then wait for every process it left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    leftovers = _descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()  # the gateway server exits on EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 15
    while leftovers and time.monotonic() < deadline:
        leftovers = [p for p in leftovers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in leftovers:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


# -- statistics -----------------------------------------------------------------

def _median(xs):
    return statistics.median(xs) if xs else 0.0


def timed_passes(seconds: float, nominal_pass_s: float, trace: int) -> int:
    """How many passes are timed: as many as ``seconds`` holds at the
    workload's nominal pass time on a quiet 4-core host, at least one (two
    when traced, the first being untraced). The count depends on
    ``seconds`` alone, never on how fast this run goes, so every run
    measures the same passes: the JVM keeps compiling across passes, and
    a run that fitted more of them would read as cheaper."""
    return max(2 if trace else 1, round(seconds / nominal_pass_s))


def _summary(xs: list[float], unit: str) -> dict:
    return {"value": _median(xs), "unit": unit, "n": len(xs),
            "min": min(xs, default=0.0), "max": max(xs, default=0.0)}


LAYERS = {
    "relate.join": ("self_s", "plan_s", "eager_jobs", "candidates", "pairs_out",
                    "exchanges", "shuffle_bytes"),
    "relate.agg": ("self_s", "shuffle_bytes", "spill_bytes"),
    "relate.distribute": ("self_s", "eager_jobs", "exchanges", "pairs_scans", "shuffle_bytes"),
    "events.modify": ("self_s", "exchanges", "rows_out"),
    "events.constrain": ("self_s", "plan_s", "eager_jobs", "rows_out"),
    "web.pages": ("self_s", "rows_out"),
    "spatial.join": ("self_s", "eager_jobs", "udf_rows_in", "points_in", "python_s",
                     "python_bytes_sent"),
    "spatial.tiles": ("self_s", "python_s"),
    "web.dedup": ("self_s", "exchanges", "shuffle_bytes", "candidate_pairs", "pairs_out"),
    "web.ann": ("self_s", "eager_jobs", "python_s", "scored", "queries"),
}
# ratio metric -> (layer, numerator, denominator); both counts are reported too
RATIOS = {
    "relate.join.pairs_per_candidate": ("relate.join", "pairs_out", "candidates"),
    "spatial.join.candidates_per_point": ("spatial.join", "udf_rows_in", "points_in"),
    "web.dedup.pairs_per_candidate": ("web.dedup", "pairs_out", "candidate_pairs"),
    "web.ann.scored_per_query": ("web.ann", "scored", "queries"),
    "pipeline.checkpoint.jobs_per_stage": ("pipeline.checkpoint", "jobs", "stages"),
}
UNITS = {"_s": "s", "_bytes": "bytes", "_frac": "ratio"}


def _unit(name: str) -> str:
    if name in RATIOS:
        return "ratio"
    if "bytes" in name:
        return "bytes"
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def _span_value(span: dict, key: str) -> float:
    c = span["counters"]
    if key == "self_s":
        return span["self_s"]
    if key == "pairs_out":
        return c.get("rows_out", 0)
    if key == "candidate_pairs":
        return c.get("join_rows", 0)
    if key == "python_s":
        return c.get("python_ms", 0) / 1000.0
    if key == "udf_rows_in":
        return c.get("python_rows_out", 0)
    if key == "scored":
        return c.get("join_rows", 0) + c.get("python_rows_out", 0)
    return c.get(key, 0)


def layer_metrics(spans: list[dict], passes: list[int], extra: dict) -> dict:
    """Per-layer metrics: each is summed over a layer's spans within one
    traced pass, then the median over traced passes is taken."""
    per_pass: dict[str, list[float]] = {}

    def put(name, value):
        per_pass.setdefault(name, []).append(value)

    for p in passes:
        in_pass = [s for s in spans if s["pass"] == p]
        for layer, keys in LAYERS.items():
            ls = [s for s in in_pass if s["layer"] == layer]
            for k in keys:
                put(f"{layer}.{k}", sum(_span_value(s, k) for s in ls))
        stages = [s for s in in_pass
                  if s["layer"] == "pipeline.stage" and not s["counters"]["resumed"]]
        writes = {s["counters"]["stage"]: s for s in in_pass
                  if s["layer"] == "pipeline.checkpoint"}
        for st in PIPELINE_STAGES:
            w = writes.get(st)
            put(f"pipeline.checkpoint.{st}.write_s", w["end"] - w["start"] if w else 0.0)
        put("pipeline.checkpoint.jobs", sum(s["counters"]["jobs"] for s in stages))
        put("pipeline.checkpoint.stages", len(stages))
        w = writes.get("snapped")
        put("pipeline.bucketed.write_s", w["end"] - w["start"] if w else 0.0)
        seg = [s for s in stages if s["counters"]["stage"] == "segments"]
        put("pipeline.bucketed.segments_exchanges", sum(
            s["counters"].get("exchanges", 0) for s in in_pass
            if seg and s["parent"] == seg[0]["id"]))
    out = {name: _median(v) for name, v in per_pass.items()}
    for name, (layer, num, den) in RATIOS.items():
        d = out.get(f"{layer}.{den}", 0)
        out[name] = out.get(f"{layer}.{num}", 0) / d if d else 0.0
    out.update(extra)
    return out


# -- the run --------------------------------------------------------------------

class Run:
    """Runs passes of one workload and keeps their timings and checks."""

    def __init__(self, wl, expected: dict, tr):
        self.wl, self.expected, self.tr = wl, expected, tr
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.samples: dict[str, list[float]] = {}
        self.first_digest: dict[str, dict] = {}
        self.traced_passes: list[int] = []
        self.pass_times: dict[str, list[float]] = {"untraced": [], "traced": []}
        self.ref: dict = {}
        self.passes: list[dict] = []

    def _problem(self, msg: str) -> None:
        self.failed += 1
        self.problems.append(msg)

    def _check(self, n_pass: int, op: str, obs: dict) -> None:
        got = (obs.get("rows"), obs.get("hash"))
        first = self.first_digest.setdefault(op, obs)
        want = self.expected.get(op)
        if got != (first.get("rows"), first.get("hash")):
            self._problem(f"pass {n_pass} {op}: output differs from the warm-up pass")
        elif want and got != (want["rows"], want["hash"]):
            self._problem(f"pass {n_pass} {op}: output {got} differs from recorded {want}")

    def one_pass(self, n_pass: int) -> None:
        """Run every operation once, in order, one at a time. Pass 0 is the
        discarded warm-up; its outputs are checked like any other's."""
        wl, tr = self.wl, self.tr
        tr.pass_no = n_pass
        if hasattr(wl, "begin_pass"):
            wl.begin_pass()
        ops = wl.ops()
        out, op_s, op_cpu = {}, {}, {}
        steal0 = host_steal()
        for op, fn in ops.items():
            self.attempted += 1
            c0 = tree_cpu_s()
            t0, p0 = time.perf_counter(), tr.probe_s
            try:
                obs = fn()
            except Exception as e:  # a failed operation is a result, not a crash
                self._problem(f"pass {n_pass} {op}: {type(e).__name__}: {e}")
                continue
            op_s[op] = time.perf_counter() - t0 - (tr.probe_s - p0)
            op_cpu[op] = tree_cpu_s() - c0
            if hasattr(wl, "after_op"):
                wl.after_op(op, obs)
            out[op] = obs
            self._check(n_pass, op, obs)
        if len(out) < len(ops):
            return
        for bad in wl.invariants(out, self.ref):
            self._problem(f"pass {n_pass}: {bad}")
        steal1 = host_steal()
        self.passes.append({
            "pass": n_pass, "traced": tr.enabled, "wall_s": sum(op_s.values()),
            "cpu_s": sum(op_cpu.values()),
            "steal_frac": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        })
        if n_pass == 0:
            return
        add = lambda k, v: self.samples.setdefault(k, []).append(v)  # noqa: E731
        for k in ("stored_bytes", "stored_files"):
            if k in out.get("cold", {}):
                add(k, out["cold"][k])
        self.pass_times["traced" if tr.enabled else "untraced"].append(sum(op_s.values()))
        if tr.enabled:
            self.traced_passes.append(n_pass)
            add("all_ops_s", sum(op_s.values()))
        else:  # operation latencies come from untraced passes only
            for op in ops:
                add(f"op.{op}_s", op_s[op])
                add(f"op.{op}_cpu_s", op_cpu[op])

    def latencies(self) -> dict[str, float]:
        """Each operation's median wall and CPU time over the untraced timed
        passes, the group sums of those medians, and ``pass_s`` and
        ``pass_cpu_s``, their totals: one slow pass moves a median less
        than it moves a pass total."""
        if any(f"op.{o}_s" not in self.samples for o in self.wl.pass_ops):
            return {}  # no pass completed
        out = {}
        for kind in ("_s", "_cpu_s"):
            op = {o: _median(self.samples[f"op.{o}{kind}"]) for o in self.wl.pass_ops}
            out.update({g[:-2] + kind: sum(op[o] for o in members)
                        for g, members in self.wl.groups.items()})
            out["pass" + kind] = sum(op.values())
        return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="write this run's per-operation digests to expected.json "
                         "(default seed only)")
    args = ap.parse_args()

    missing = [p for p in LIBRARY if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        _fail(f"run from the repository root; missing {', '.join(missing)}")
    nproc = len(os.sched_getaffinity(0))
    _configure_env(nproc)

    import pyarrow
    import pyspark
    from linref_spark.session import get_spark
    from perfbench import inputs
    from perfbench.spans import Tracer
    from perfbench.workloads import PIPELINE_ROWS, WORKLOADS

    if args.workload not in WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    shutil.rmtree(os.path.join(WORK, "pipeline"), ignore_errors=True)
    t0 = time.perf_counter()
    inputs_dir = inputs.write_inputs(os.path.join(WORK, "inputs"), args.seed)
    phases = {"inputs_s": time.perf_counter() - t0}
    wl = WORKLOADS[args.workload]()

    expected = {}
    if args.seed == DEFAULT_SEED and not args.record and os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f).get(wl.name, {})

    run = Run(wl, expected, Tracer(None, wl.name, enabled=False))
    n_timed = timed_passes(args.seconds, wl.nominal_pass_s, args.trace)
    with RssSampler() as rss:
        t0, c0 = time.perf_counter(), tree_cpu_s()
        spark = get_spark(f"perfbench-{wl.name}", master=f"local[{nproc}]",
                          shuffle_partitions=2 * nproc)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()  # the first job starts the scheduler
        session_s, session_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        run.tr.spark = spark

        def setup() -> tuple[float, float]:
            t0, c0 = time.perf_counter(), tree_cpu_s()
            wl.setup(spark, inputs_dir, args.seed, nproc, run.tr)
            return (session_s + time.perf_counter() - t0,
                    session_cpu_s + tree_cpu_s() - c0)

        setups = [setup() for _ in range(SETUP_REPS)]
        t0 = time.perf_counter()
        run.ref = wl.references()
        run.one_pass(0)
        phases["warmup_s"] = time.perf_counter() - t0
        rss.peak_bytes = 0  # memory is reported for the timed passes

        t0 = time.perf_counter()
        saved_layers = None
        for n_pass in range(1, n_timed + 1):
            if run.failed:
                break
            if args.trace and n_pass == 2:
                run.tr.enabled = True
                saved_layers = wl.patch_layers() if hasattr(wl, "patch_layers") else None
            run.one_pass(n_pass)
        phases["timed_s"] = time.perf_counter() - t0
        if saved_layers is not None:
            wl.restore_layers(saved_layers)
        t0 = time.perf_counter()
        spark.stop()
        _stop_jvm()
        phases["stop_s"] = time.perf_counter() - t0
    samples, tr = run.samples, run.tr
    attempted, failed, problems = run.attempted, run.failed, run.problems
    first_digest, ref = run.first_digest, run.ref
    pass_times, traced_passes = run.pass_times, run.traced_passes
    # -- report ------------------------------------------------------------------
    units = {"stored_bytes": "bytes", "stored_files": "count"}
    e2e = {name: _summary(xs, units.get(name, "s")) for name, xs in samples.items()}
    n_timed = len(pass_times["untraced"])
    for name, value in run.latencies().items():
        if name not in e2e:  # op.<op>_s already has its own summary
            e2e[name] = {"value": value, "unit": "s", "n": n_timed}
    if "pass_s" in e2e:
        e2e["throughput"] = {"value": wl.throughput(ref, e2e["pass_s"]["value"]),
                             "unit": "rows/s", "n": n_timed}
    e2e["setup_s"] = _summary([c for _, c in setups], "s")
    e2e["setup_wall_s"] = _summary([w for w, _ in setups], "s")
    e2e["peak_rss_mb"] = {"value": rss.peak_bytes / 2**20, "unit": "MB", "n": 1}
    e2e["failed_frac"] = {"value": failed / max(attempted, 1), "unit": "ratio",
                          "n": attempted}
    if "stored_bytes" in samples:
        e2e["stored_bytes_per_page"] = {
            "value": _median(samples["stored_bytes"]) / PIPELINE_ROWS, "unit": "bytes", "n": 1}
    if "throughput" in e2e:
        e2e[wl.throughput_name] = e2e["throughput"]

    report = {
        "workload": wl.name, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": nproc, "master": f"local[{nproc}]",
        "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0], "commit": _commit(),
        "source_digest": _source_digest(), "references": ref,
        "rows": {op: d["rows"] for op, d in first_digest.items()}, "problems": problems,
        "phases": {"session_s": session_s, "session_cpu_s": session_cpu_s, **phases},
        "passes": run.passes, "end_to_end": e2e,
    }
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        trace_path = os.path.join(WORK, "trace", f"{wl.name}-seed{args.seed}.json")
        spans = tr.dump(trace_path)
        unattributed = []
        for i, p in enumerate(traced_passes):
            in_pass = [s for s in spans if s["pass"] == p]
            # probes are kept out of the pass time, also when nested in a span
            covered = sum(s["end"] - s["start"] for s in in_pass if s["parent"] is None) - sum(
                s["end"] - s["start"] for s in in_pass if s["layer"] == "probe")
            unattributed.append(samples["all_ops_s"][i] - covered)
        untraced = _median(pass_times["untraced"])
        traced = _median(pass_times["traced"])
        extra = {
            "session.start_s": session_s,
            "web.ann.train_s": getattr(wl, "train_s", 0.0),
            "pipeline.checkpoint.bytes_written": _median(samples.get("stored_bytes", [])),
            "pipeline.checkpoint.files_written": _median(samples.get("stored_files", [])),
            "pipeline.checkpoint.stages_resumed": first_digest.get("resume", {}).get(
                "stages_resumed", 0),
            "unattributed_s": _median(unattributed),
            "unattributed_frac": _median(unattributed) / _median(samples["all_ops_s"]),
            "untraced_pass_s": untraced,
            "traced_pass_s": traced,
            "trace_overhead_frac": traced / untraced - 1.0 if untraced else 0.0,
        }
        layers = layer_metrics(spans, traced_passes, extra)
        report["per_layer"] = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
        report["trace_file"] = os.path.relpath(trace_path, ROOT)
        metrics = report["per_layer"]
    else:
        metrics = {k: {"value": e2e[k]["value"], "unit": e2e[k]["unit"]}
                   for k in ("pass_cpu_s", "setup_s") if k in e2e}

    if args.record and not problems and args.seed == DEFAULT_SEED:
        recorded = {}
        if os.path.exists(EXPECTED):
            with open(EXPECTED) as f:
                recorded = json.load(f)
        recorded[wl.name] = {op: {"rows": d["rows"], "hash": d["hash"]}
                             for op, d in first_digest.items()}
        with open(EXPECTED, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")

    for d in ("pipeline", "inputs", "spark-local", "warehouse", "tmp"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
