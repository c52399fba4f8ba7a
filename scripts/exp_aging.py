"""Reproduce (and A/B candidate fixes for) in-session JVM aging.

Runs ONE bench entry N times inside a single session, mimicking
bench.py's inter-entry hygiene (clearCache + System.gc()) and timing
the entry's own action from bench.ENTRIES, and prints the per-rep wall
times.  If per-rep time grows with rep index on identical code+data,
the inflation is session state, not the query.

Usage:
    python scripts/exp_aging.py [--reps N] [--conf k=v ...] name

--conf pairs are applied ON TOP of the standard session config, so
candidate structural fixes (e.g. status-store retention caps) can be
A/B'd against the default in identical session shapes.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--reps", type=int, default=10)
    ap.add_argument("--conf", action="append", default=[])
    args = ap.parse_args()

    from dask_expr_spark.queries import collect_queries
    from dask_expr_spark import session as S

    # apply overrides by wrapping the builder: get_spark builds from
    # SparkSession.builder, so pre-seed the ones we want via
    # SparkConf-level defaults (builder.config on the first build wins)
    from pyspark.sql import SparkSession

    overrides = dict(c.split("=", 1) for c in args.conf)
    real_get = S.get_spark

    def patched(app_name="dask_expr_spark", cpus=None):
        for k, v in overrides.items():
            SparkSession.builder.config(k, v)
        return real_get(app_name, cpus)

    S.get_spark = patched
    spark = patched("exp_aging")
    for k in overrides:
        print(f"conf {k} = {spark.conf.get(k, '<unset>')}", flush=True)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = collect_queries()
    B._warm_session(spark, registry)
    dirs = {"sf": sf_dir,
            "x10": B._ensure_x10(spark, sf_dir),
            "x100": B._ensure_x100(spark, sf_dir)}
    B._ensure_ann_artifacts(spark, dirs["x10"])

    for name in args.names:
        fn, e = B.resolve(name, registry)
        qdir = dirs[e.corpus]
        times = []
        for i in range(args.reps):
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            B.run_action(fn(spark, qdir), e.action)
            dt = time.perf_counter() - t0
            times.append(dt)
            rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
            used_mb = (rt.totalMemory() - rt.freeMemory()) / 1e6
            print(f"{name} rep{i}: {dt:.2f}s  heap_used={used_mb:.0f}MB",
                  flush=True)
        print(f"{name} reps: " + " ".join(f"{t:.2f}" for t in times),
              flush=True)


if __name__ == "__main__":
    main()
