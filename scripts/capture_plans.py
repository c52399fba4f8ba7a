"""Capture .explain("formatted") for every LAZY bench entry (queries
that return an unexecuted DataFrame — the composites that collect()
internally return LocalRelations whose plan says nothing).

Writes <outdir>/<entry>.txt and prints a one-line red-flag summary per
entry: #Exchange, join strategies, Python-eval nodes, scan pushdown.

Usage: python scripts/capture_plans.py OUTDIR [name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench as B  # noqa: E402

# Entries whose query fn returns a lazy plan (no internal collect/write
# side effects): safe + meaningful to explain without running them.
LAZY = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_revenue_by_nation",
    "q6_forecast_revenue", "q2_min_cost_supplier", "q11_important_stock",
    "q20_potential_promotion",
    "join_broadcast_part", "join_semi",
    "window_user_sessions", "asof_purchase_click", "resample_hourly",
    "dedup_exact_docs", "dedup_ngram_jaccard", "text_stats_by_lang",
    "text_token_frequencies", "ann_cosine_topk", "text_lm_perplexity",
    "text_bm25_search", "semantic_dedup_kept", "dedup_substring_spans",
    "heavy_hitter_tokens", "hll_rollup_users",
    "hist_rollup_price_quantiles", "sample_weighted_orders",
    "dedup_incremental_minhash", "dedup_exact_incremental",
    "sample_n_per_group_orders", "drift_price_psi", "cms_custkey_counts",
    "kmv_distinct_slices", "ann_mmr_rerank", "cms_join_cardinality",
    "diff_after_upsert", "split_temporal_events", "scd2_history_orders",
    "ann_pq_topk_persisted", "ann_ivfpq_topk_persisted",
]


def flags(plan: str) -> str:
    n_ex = len(re.findall(r"\bExchange\b", plan))
    joins = re.findall(
        r"\b(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)\b", plan)
    py = re.findall(r"\b(BatchEvalPython|ArrowEvalPython|MapInArrow|"
                    r"FlatMapGroupsInPandas|MapInPandas)\b", plan)
    pushed = len(re.findall(r"PushedFilters: \[[^\]]", plan))
    from collections import Counter
    return (f"exch={n_ex} joins={dict(Counter(joins))} "
            f"py={dict(Counter(py))} scansWithPushedFilters={pushed}")


def main() -> None:
    outdir = sys.argv[1]
    names = sys.argv[2:] or LAZY
    os.makedirs(outdir, exist_ok=True)
    from dask_expr_spark.queries import collect_queries
    from dask_expr_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture_plans")
    registry = collect_queries()
    dirs = {"sf": sf_dir,
            "x10": B._ensure_x10(spark, sf_dir),
            "x100": B._ensure_x100(spark, sf_dir)}
    B._ensure_ann_artifacts(spark, dirs["x10"])
    for name in names:
        fn, e = B.resolve(name, registry)
        qdir = dirs[e.corpus]
        try:
            df = fn(spark, qdir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: ERROR {exc}")
            continue
        with open(os.path.join(outdir, f"{name}.txt"), "w") as fh:
            fh.write(plan)
        print(f"{name}: {flags(plan)}")


if __name__ == "__main__":
    main()
