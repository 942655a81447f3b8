"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/collect.py --workloads events_relate web_pipeline \
        --seeds 1-10 --sets 2 --out perfbench/baseline.json

Run from the repository root. Each set runs every workload once per seed.
For every set, workload and end-to-end metric of the report line (the
ones ``BENCHMARK.json`` bounds and the per-operation ones it does not),
this prints and records the median, the quartiles (``statistics.quantiles``
with ``n=4``) and the spread: the distance between the quartiles as a share
of the median. With two or more sets it also records, per metric, how much
worse each later set's median is than the first set's, as a share of the
first; for a bounded metric both figures are checked against its bound
(the spread of ``setup_s`` excepted), and a miss makes the exit code 1.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
            "n": len(values)}


def run_set(workloads: list[str], seeds: list[int], seconds: str) -> tuple[dict, bool]:
    out: dict = {}
    ok = True
    for wl in workloads:
        runs, values = [], {}
        for seed in seeds:
            cmd = [sys.executable, "perfbench/run.py", "--workload", wl, "--seed", str(seed),
                   "--seconds", seconds, "--trace", "0"]
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            report = json.loads(lines[-2])["report"] if len(lines) > 1 else {}
            ok &= proc.returncode == 0 and result.get("correct", False)
            runs.append({"seed": seed, "exit": proc.returncode, "result": result})
            for name, m in report.get("end_to_end", {}).items():
                if m and m["unit"] != "ratio":
                    values.setdefault(name, []).append(m["value"])
            print(wl, seed, proc.returncode, json.dumps(result.get("metrics", {})), flush=True)
        out[wl] = {"metrics": {m: summarize(v) for m, v in sorted(values.items())
                               if len(v) == len(seeds)},
                   "runs": runs}
        for m, s in out[wl]["metrics"].items():
            print(f"{wl} {m}: median {s['median']:.4g} q1 {s['q1']:.4g} q3 {s['q3']:.4g} "
                  f"spread {s['spread']:.3f}", flush=True)
    return out, ok


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10", help="inclusive range, e.g. 1-10")
    ap.add_argument("--seconds", help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out", help="write the summary here as JSON")
    args = ap.parse_args()

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounded = {m["name"]: m for m in bench["end_to_end"]}
    args.seconds = args.seconds or str(bench["run_seconds"])
    sets, ok = [], True
    for _ in range(args.sets):
        summary, set_ok = run_set(args.workloads, _seeds(args.seeds), args.seconds)
        sets.append(summary)
        ok &= set_ok
    checks = []
    for wl in args.workloads:
        first = sets[0][wl]["metrics"]
        for name, spec in bounded.items():
            if name not in first:
                checks.append(f"{wl} {name}: missing")
                continue
            for i, later in enumerate(sets):
                s = later[wl]["metrics"][name]
                if name != "setup_s" and s["spread"] > spec["bound"]:
                    checks.append(f"{wl} {name}: set {i + 1} spread {s['spread']:.3f} "
                                  f"above bound {spec['bound']}")
                sign = 1 if spec["better"] == "lower" else -1
                worse = sign * (s["median"] - first[name]["median"]) / first[name]["median"]
                later[wl].setdefault("worse_than_set1", {})[name] = worse
                if worse > spec["bound"]:
                    checks.append(f"{wl} {name}: set {i + 1} median {worse:.3f} worse "
                                  f"than set 1, above bound {spec['bound']}")
    for line in checks:
        print("check:", line, flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"seeds": args.seeds, "seconds": args.seconds, "sets": sets,
                       "checks_failed": checks}, f, indent=1)
            f.write("\n")
    return 0 if ok and not checks else 1


if __name__ == "__main__":
    sys.exit(main())
