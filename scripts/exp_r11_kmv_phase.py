"""Phase profile of kmv_distinct_slices on the x100 corpus (VERDICT
r10 item 7): split the entry into its estimate side (md5 hash +
MapInPandas prune + collect_set rollup) and its exact side
(countDistinct anchor), then time the prune stage against a no-prune
straw man so the §4 boundary's cost is measured, not assumed.

Usage: python scripts/exp_r11_kmv_phase.py
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from dask_expr_spark.session import get_spark  # noqa: E402


def t(label, fn, reps=3):
    runs = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    runs.sort()
    print(f"{label:38s} med {runs[len(runs)//2]:6.2f}s  {['%.2f' % r for r in runs]}",
          flush=True)


def main() -> None:
    spark = get_spark("exp_kmv", cpus=32)
    x100 = B._ensure_x100(spark, os.environ.get("SPARK_GRAFT_SF_DIR",
                                                "/root/testdata/sf0.1"))
    from dask_expr_spark.functions.sketches import (_md5_long, kmv_estimate,
                                                    kmv_rollup)
    from dask_expr_spark.queries.approx import _KMV_K, _kmv_slices

    spark.read.parquet(f"{x100}/orders.parquet").count()
    a, b = _kmv_slices(spark, x100)
    src = a.unionByName(b)

    t("full entry (registry fn)", lambda: __import__(
        "dask_expr_spark.queries", fromlist=["collect_queries"])
        .collect_queries()["kmv_distinct_slices"][0](spark, x100).collect())
    t("exact side alone (countDistinct)", lambda: (
        src.groupBy("grp").agg(F.countDistinct("o_orderkey")).collect()))
    t("est side alone (rollup+estimate)", lambda: (
        kmv_estimate(kmv_rollup(src, ["grp"], "o_orderkey", k=_KMV_K),
                     ["grp"]).collect()))
    # md5 hash cost alone (the oracle-pinned part)
    h = _md5_long(F.lit("kmv"), F.col("o_orderkey").cast("string"))
    t("md5 hash scan alone (noop)", lambda: (
        src.select("grp", h.alias("__h"))
        .write.format("noop").mode("overwrite").save()))


if __name__ == "__main__":
    main()
