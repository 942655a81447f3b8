"""Round-6 optimization harness (guide §1): per-query plan capture and
noop-sink isolation timing for the frozen ``bench.py`` query set.

``bench.py`` is frozen for measurement, so every extra instrument lives
here. The query DataFrames come from ``bench.bench_queries`` itself, run
with ``bench.materialize`` swapped for a capturing function, so they are
exactly the frames bench.py times. That lets us:

- ``--explain``: write ``.explain("formatted")`` for each query to
  ``plans/r06/<query>_<tag>.txt`` (the judge-checkable plan evidence);
- ``--time``: time each query in isolation with the noop sink, N reps,
  with ``setJobDescription`` labels (guide §1.4/§1.5);
- ``--query NAME``: restrict to one query.

Usage: python bench_extra.py --explain --tag before
       python bench_extra.py --time --reps 5 --query seg_split
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import bench as B  # noqa: E402
from linref_spark.session import get_spark  # noqa: E402

CPUS = B.CPUS


def query_frames(spark):
    """Dict of name -> zero-arg callable returning the DataFrame that
    bench.py materializes for that query."""
    queries = B.bench_queries(spark)

    def capture(run):
        frames = []
        materialize, B.materialize = B.materialize, frames.append
        try:
            run()
        finally:
            B.materialize = materialize
        (df,) = frames
        return df

    return {name: (lambda run=run: capture(run)) for name, run in queries.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--explain", action="store_true")
    ap.add_argument("--time", action="store_true")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--query", default=None)
    args = ap.parse_args()

    os.makedirs("/dev/shm/spark-tmp", exist_ok=True)
    os.environ.setdefault("SPARK_LOCAL_DIRS", "/dev/shm/spark-tmp")
    spark = get_spark("linref-bench-extra", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS * 2)
    spark.sparkContext.setLogLevel("ERROR")
    frames = query_frames(spark)
    names = [args.query] if args.query else list(frames)

    if args.explain:
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = frames[name]()
            path = f"plans/r06/{name}_{args.tag}.txt"
            with open(path, "w") as fh:
                fh.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            print(f"wrote {path}")

    if args.time:
        out = {}
        for name in names:
            ts = []
            for r in range(args.reps):
                spark.sparkContext.setJobDescription(f"{name} rep{r}")
                t0 = time.time()
                frames[name]().write.format("noop").mode("overwrite").save()
                ts.append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
            ts_sorted = sorted(ts)
            out[name] = {
                "median": ts_sorted[len(ts) // 2] if len(ts) % 2
                else (ts_sorted[len(ts) // 2 - 1] + ts_sorted[len(ts) // 2]) / 2,
                "min": ts_sorted[0], "max": ts_sorted[-1], "samples": ts,
            }
            print(name, out[name])
        print(json.dumps(out))


if __name__ == "__main__":
    main()
