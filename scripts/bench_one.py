"""Run one (or more) bench entries isolated: fresh session, warmup,
median-of-N, optional .explain("formatted") dump.

Usage: python scripts/bench_one.py [--reps N] [--explain OUTDIR] name [name...]

Resolves each name through bench.py's ENTRIES table (corpus and timed
action), so the numbers are comparable with BENCH_r{N}; any other
registry query runs on the sf corpus with a collect.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="directory to write <name>.txt explain dumps")
    args = ap.parse_args()

    from dask_expr_spark.queries import collect_queries
    from dask_expr_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench_one")
    registry = collect_queries()
    B._warm_session(spark, registry)
    dirs = {"sf": sf_dir,
            "x10": B._ensure_x10(spark, sf_dir),
            "x100": B._ensure_x100(spark, sf_dir)}
    B._ensure_ann_artifacts(spark, dirs["x10"])

    out = {}
    for name in args.names:
        fn, e = B.resolve(name, registry)
        qdir = dirs[e.corpus]
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        spark.sparkContext.setJobDescription(name)
        runs = []
        for _ in range(args.reps):
            t0 = time.perf_counter()
            B.run_action(fn(spark, qdir), e.action)
            runs.append(round(time.perf_counter() - t0, 3))
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = fn(spark, qdir)
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as fh:
                fh.write(df._sc is not None and "" or "")
                fh.write(df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode
                    .fromString("formatted")))
        runs.sort()
        suffix = "" if e.corpus == "sf" else f"_{e.corpus}"
        out[name + suffix] = {"median": runs[len(runs) // 2], "runs": runs}
        print(json.dumps({name + suffix: out[name + suffix]}), flush=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
