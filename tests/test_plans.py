"""Plan-shape tests — our analogue of the reference's optimizer unit
tests (SURVEY.md §5: they assert expression-tree shape after rewrite;
we assert the Catalyst physical plan has the properties we rely on at
100 TB: pushdown, pruning, broadcast, shuffle elision, top-k)."""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from dask_expr_spark.sources.io import read_parquet


def plan_of(df) -> str:
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    buf = io.StringIO()
    with redirect_stdout(buf):
        sdf.explain("formatted")
    return buf.getvalue()


def n_nodes(plan: str, op: str) -> int:
    """count physical-plan nodes of a type — formatted explain prints
    each node in the tree AND a detail section, so count detail
    headers `(n) Op` only."""
    return len(re.findall(rf"^\(\d+\) {op}", plan, flags=re.M))


@pytest.fixture(scope="module")
def li(spark, sf_dir):
    return read_parquet(spark, os.path.join(sf_dir, "lineitem.parquet"))


@pytest.fixture(scope="module")
def part(spark, sf_dir):
    return read_parquet(spark, os.path.join(sf_dir, "part.parquet"))


def test_filter_pushdown_to_parquet(li):
    """reference: DNF pushdown io/parquet.py:1574 — Catalyst must push
    the comparison into the scan."""
    p = plan_of(li.filter(li.l_quantity > 30)[["l_orderkey", "l_quantity"]])
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]" in p


def test_projection_pruning(li):
    """reference: column projection absorbed into ReadParquet
    (io/io.py:68-102) — ReadSchema must contain only what's selected."""
    p = plan_of(li[["l_orderkey", "l_quantity"]])
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in p


def test_broadcast_join_hint(li, part):
    p = plan_of(li.merge(part, left_on="l_partkey", right_on="p_partkey", broadcast=True))
    assert "BroadcastHashJoin" in p


def test_small_dim_autobroadcast(li, part):
    """bytes-based auto-broadcast (strictly better than the reference's
    partition-count heuristic, _merge.py:281) — no hint needed."""
    p = plan_of(li.merge(part, left_on="l_partkey", right_on="p_partkey"))
    assert "BroadcastHashJoin" in p


def test_semi_join_strategy(li, part):
    p = plan_of(
        li.merge(part[["p_partkey"]].rename({"p_partkey": "l_partkey"}),
                 on="l_partkey", how="leftsemi")
    )
    assert "LeftSemi" in p


def test_topk_is_take_ordered(li):
    """reference rewrite: head(sort) → NFirst (_shuffle.py:915) —
    Catalyst's TakeOrderedAndProject."""
    p = plan_of(li.sort_values("l_quantity", ascending=False).head(5))
    assert "TakeOrderedAndProject" in p


def test_shuffle_reuse_after_repartition(li):
    """reference: partitioning-knowledge shuffle elision
    (_expr.py:409-438) — a groupBy on the same key as a prior
    repartition must not add a second exchange."""
    pre = li.shuffle("l_orderkey")
    p = plan_of(pre.groupby("l_orderkey").agg(n=("l_quantity", "count")))
    assert n_nodes(p, "Exchange") == 1, p


def test_global_agg_no_extra_shuffle(li):
    """partial (map-side) aggregation before the exchange — the
    reference's TreeReduce analogue is automatic."""
    p = plan_of(li.agg(total=("l_quantity", "sum")))
    # two HashAggregates (partial + final), one exchange between them
    assert n_nodes(p, "HashAggregate") == 2
    assert n_nodes(p, "Exchange") == 1


def test_count_star_uses_footer(spark, sf_dir, li):
    """reference: Len short-circuit from parquet statistics
    (_reductions.py:1039, io/parquet.py:757) — Spark reads counts from
    footers via LocalTableScan/specialized count, at minimum prunes all
    columns."""
    p = plan_of(li[["l_orderkey"]].to_spark().groupBy().count())
    assert "ReadSchema: struct<>" in p or "LocalTableScan" in p

def test_groupby_idxmax_is_single_aggregation(spark, sf_dir):
    """idxmax must be partial+final HashAggregate — no Window, no join
    (the struct-min trick keeps it an ordinary aggregation)."""
    orders = read_parquet(spark, os.path.join(sf_dir, "orders.parquet"))
    plan = plan_of(orders.groupby("o_orderpriority").idxmax("o_totalprice", "o_orderkey"))
    assert "Window" not in plan
    # struct-min is sort-based, but still partial + final with ONE exchange
    assert n_nodes(plan, "SortAggregate") + n_nodes(plan, "HashAggregate") == 2
    assert n_nodes(plan, "Exchange") == 1
    assert "Join" not in plan


def test_series_idxmax_broadcasts_extreme(spark, sf_dir):
    """Series.idxmax: 1-row aggregate joined back via broadcast —
    never an empty-partitionBy window (which would single-partition)."""
    orders = read_parquet(spark, os.path.join(sf_dir, "orders.parquet"))
    plan = plan_of(orders["o_totalprice"].idxmax(order_by="o_orderkey").to_spark())
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_tail_is_take_ordered(spark, sf_dir):
    orders = read_parquet(spark, os.path.join(sf_dir, "orders.parquet"))
    plan = plan_of(orders.tail(5, order_by="o_orderkey"))
    assert "TakeOrderedAndProject" in plan


def test_pairwise_corr_single_pass(spark, sf_dir):
    """frame corr(): all pairs in ONE aggregate over one scan."""
    li2 = read_parquet(spark, os.path.join(sf_dir, "lineitem.parquet"))
    plan = plan_of(li2.corr(["l_quantity", "l_extendedprice", "l_discount"]))
    assert n_nodes(plan, "Scan parquet") == 1
    # moment sums reduce via partial + final aggregation
    assert n_nodes(plan, "HashAggregate") + n_nodes(plan, "SortAggregate") >= 1


def test_pivot_table_partial_aggregation(spark, sf_dir):
    """pinned column_values: no distinct-scan job; pivot compiles to
    partial+final aggregation over one scan."""
    orders = read_parquet(spark, os.path.join(sf_dir, "orders.parquet"))
    pv = orders.pivot_table("o_orderpriority", "o_orderstatus", "o_totalprice",
                            "sum", column_values=["F", "O", "P"])
    plan = plan_of(pv)
    assert n_nodes(plan, "Scan parquet") == 1
    # Spark pivot = two partial+final phases: (group, pivot-col) agg,
    # then pivot to columns — 4 hash aggregates, 2 exchanges, no
    # distinct-scan job for the pinned values
    assert n_nodes(plan, "HashAggregate") == 4


def test_q17_correlated_avg_single_fact_pass(spark, sf_dir):
    """the correlated-AVG subquery (TPC-H Q17 shape) must compile to a
    window over partitionBy(l_partkey), not an aggregate joined back to
    the fact — i.e. exactly ONE lineitem scan and no fact-fact join."""
    from dask_expr_spark.queries import collect_queries

    fn, _ = collect_queries()["q17_small_quantity_revenue"]
    plan = plan_of(fn(spark, sf_dir))
    assert n_nodes(plan, "Scan parquet") == 2  # lineitem + part, once each
    assert n_nodes(plan, "SortMergeJoin") == 0
    assert n_nodes(plan, "Window") == 1


def test_q21_lone_late_supplier_single_shuffle(spark, sf_dir):
    """TPC-H Q21's EXISTS/NOT-EXISTS pair must collapse into one
    per-order aggregate — one shuffle of the fact on l_orderkey, no
    fact-fact self-join."""
    from dask_expr_spark.queries import collect_queries

    fn, _ = collect_queries()["q21_waiting_supplier"]
    plan = plan_of(fn(spark, sf_dir))
    # lineitem scanned once; orders scanned once; supplier broadcast
    assert n_nodes(plan, "Scan parquet") == 3
    assert n_nodes(plan, "BroadcastHashJoin") >= 1


# queries where a nested-loop/cartesian shape is the DESIGN, not a bug:
#   q22_idle_customers      — 1-row scalar subquery broadcast cross join
#   q11_important_stock     — 1-row grand-total scalar broadcast cross join
#   ann_ivf_topk            — every vector scored against the (tiny,
#                             broadcast) centroid table for cell assignment
#   dedup_embedding_cosine  — documented exact-quadratic baseline; the
#                             LSH/IVF variants are the scale path
#   monotonic_orders        — cross join of two 1-row boolean scalars
#   text_lm_perplexity      — 1-row vocab-size scalar broadcast onto the
#                             bigram stream (scalar attach, not a join)
#   text_bm25_search        — 1-row (N, avgdl) stats scalar broadcast
#   size_len_scalars        — crossJoin of two 1-row count-star footers
#                             (1x1 by construction)
#   ann_cosine_topk_blocked — the corpus×query BLOCK grid (one fat row
#                             per ≤block_rows vectors) is deliberately a
#                             cross join of two tiny-row-count frames;
#                             exact brute force IS the quadratic grid
#   heavy_hitter_tokens     — 1-row total-count scalar broadcast onto the
#                             ≤ ceil(1/phi)·P candidate counts
#   stream_heavy_hitters    — same 1-row total broadcast in its offline
#                             exact-recount stage
NESTED_LOOP_OK = {"q22_idle_customers", "q11_important_stock",
                  "ann_cosine_topk_blocked", "heavy_hitter_tokens",
                  "stream_heavy_hitters",
                  "dedup_embedding_cosine",
                  "monotonic_orders", "text_lm_perplexity", "text_bm25_search",
                  "size_len_scalars",
                  # r6: 1-row exact-median scalar attached to the
                  # 3-row profile for the q_ok tolerance flag — the
                  # same deliberate broadcast-scalar class as
                  # heavy_hitter_tokens' total attach
                  "profile_orders_stats",
                  # r6b: 1-row exact-intersection count attached to
                  # the 1-row KMV sketch estimate for the inter_ok
                  # flag (the join key is the literal sketch
                  # parameter k, which constant-folds) — same class
                  "kmv_intersect_slices",
                  # r6b: 1-row exact-join-count attached to the 1-row
                  # CMS inner-product estimate for over_ok — same
                  # deliberate scalar-attach class
                  "cms_join_cardinality"}


# The whole-registry cartesian/row-UDF guardrail now rides the oracle
# sweep (tests/test_correctness.py assert_scale_safe_plan): a separate
# registry pass re-executed every composite query's writes just to
# read the final plan — 165 s for a check the sweep performs for free
# on the same DataFrames; it imports NESTED_LOOP_OK from here.


def test_plan_construction_is_lazy(spark, sf_dir):
    """building facade plans (no .compute()) must trigger NO Spark
    jobs — the lazy contract. Documented exceptions, tested below:
    ungrouped-ordered bucketing (bounds sampling), rank (per-bucket
    counts), get_dummies (category collect), Scalar.compute."""
    import os as _os

    from dask_expr_spark import concat

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    li = read_parquet(spark, _os.path.join(sf_dir, "lineitem.parquet"))
    o = read_parquet(spark, _os.path.join(sf_dir, "orders.parquet"))
    sc.setJobGroup("lazy-sweep", "plan building must not run jobs")
    try:
        plans = [
            li[li["l_quantity"] > 10][["l_orderkey", "l_extendedprice"]],
            li.assign(x=li["l_extendedprice"] * 2),
            li.merge(o, left_on="l_orderkey", right_on="o_orderkey"),
            li.groupby("l_returnflag").agg({"l_quantity": "sum"}),
            li.dropna(),
            li.drop_duplicates(),
            li.sort_values("l_extendedprice"),
            li.fillna(0),
            li["l_comment"].str.upper(),
            li.groupby("l_returnflag").rolling(3, order_by="l_orderkey")
              .mean(["l_quantity"]),
            li.groupby("l_suppkey").cumsum(order_by="l_orderkey"),
            concat([li, li]),
            li.melt(id_vars=["l_orderkey"],
                    value_vars=["l_quantity", "l_extendedprice"]),
        ]
        for p in plans:
            sdf = p.to_spark() if hasattr(p, "to_spark") else p
            _ = sdf.schema  # force full analysis
        ran = list(tracker.getJobIdsForGroup("lazy-sweep"))
        assert ran == [], f"plan construction ran Spark jobs: {ran}"
    finally:
        sc.setJobGroup("default", "")


def test_plan_eager_jobs_bounded(spark, sf_dir):
    """the documented eager plan-build steps stay bounded: bucketing
    samples ONCE per ordered op (a tiny column-pruned TakeOrdered),
    rank adds one counts job — nothing proportional to operators
    stacked downstream."""
    import os as _os

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    o = read_parquet(spark, _os.path.join(sf_dir, "orders.parquet"))
    sc.setJobGroup("eager-sweep", "bounded eager plan builds")
    try:
        d = o.set_index("o_orderkey")
        lazy = d.cumsum(columns=["o_totalprice"])
        after_cumsum = len(tracker.getJobIdsForGroup("eager-sweep"))
        # downstream chaining must not resample
        lazy2 = lazy.shift(columns=["o_totalprice"], periods=1)
        _ = lazy2.to_spark().schema
        after_chain = len(tracker.getJobIdsForGroup("eager-sweep"))
    finally:
        sc.setJobGroup("default", "")
    assert 1 <= after_cumsum <= 3, after_cumsum
    # the chained shift adds its own single sampling pass, nothing more
    assert after_chain - after_cumsum <= 3, (after_cumsum, after_chain)


def test_presorted_sort_elides_exchange(spark, sf_dir):
    """sorting by the column the frame is already range-sorted on must
    not add an exchange (reference: presortedness detection,
    _shuffle.py:1412-1423) — our known_sorted metadata rule."""
    li = read_parquet(spark, os.path.join(sf_dir, "lineitem.parquet"))
    idx = li.set_index("l_orderkey")
    base = plan_of(idx)
    resorted = idx.sort_values("l_orderkey")
    again = idx.set_index("l_orderkey")
    assert plan_of(resorted) == base
    assert plan_of(again) == base


def test_lsh_rank_exchange_is_skinny(spark, sf_dir):
    """lsh_bucketed_topk's candidate exchanges must never carry a
    vector payload: the corpus vector attaches via the shuffle join
    while pairs are skinny, the query vector via broadcast (map-side),
    and both are pruned before the rank window.  The former join order
    (broadcast qv first) dragged dim×8 bytes per candidate through the
    neighbor_id exchange — a ~30 GB shuffle at a ×1000 probe."""
    from pyspark.sql import functions as F

    from dask_expr_spark.functions import similarity as SIM

    emb = read_parquet(
        spark, os.path.join(sf_dir, "embeddings.parquet")).to_spark()
    q = emb.filter(F.col("vec_id") % 100 == 0)
    res = SIM.lsh_bucketed_topk(emb, q, dim=64, k=5,
                                num_tables=4, planes_per_table=3)
    plan = plan_of(res)
    # every Exchange node's detail section (formatted explain prints
    # "Input [n]: [cols]" under each `(i) Exchange` header): no
    # CANDIDATE PAIR (a row with BOTH query_id and neighbor_id) may
    # shuffle with a vector attached — pairs are ~corpus × bucket-depth
    # many, so a vector payload multiplies the dominant exchange by
    # dim×8 bytes.  Each SIDE's own exchange legitimately carries its
    # vector (one row per vector, the unavoidable attach volume).
    blocks = re.findall(r"^\(\d+\) Exchange\b.*?(?=^\(\d+\) )", plan,
                        flags=re.M | re.S)
    assert blocks, plan  # regex must keep matching Spark's format
    for block in blocks:
        is_pair = "query_id" in block and "neighbor_id" in block
        assert not (is_pair and ("__qv" in block or "__vv" in block)), block


def test_ivf_cell_assignment_is_map_only(spark, sf_dir):
    """IVF cell assignment (similarity._nearest_cells) must be
    map-only: scan -> Arrow-batched matmul -> project, with NO
    exchange keyed on the row id.  The former plan broadcast-joined
    rows x centroids and ranked with Window.partitionBy(row id) — a
    shuffle num_cells x the corpus row count that grew with the
    quantizer instead of the data."""
    from pyspark.sql import functions as F

    from dask_expr_spark.functions import similarity as SIM

    emb = read_parquet(
        spark, os.path.join(sf_dir, "embeddings.parquet")).to_spark()
    assigned = SIM.semantic_cells(emb, dim=64, id_col="vec_id",
                                  method="ivf", num_cells=4, lloyd_iters=1)
    plan = assigned._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan
    assert "ArrowEvalPython" in plan or "PythonMapInArrow" in plan, plan
    # and the assignment itself stays correct: every vector lands in
    # exactly one existing cell
    cents = SIM._train_ivf_cells(
        emb.select(F.col("vec_id").alias("id"),
                   SIM.as_double(F.col("embedding")).alias("__v")),
        "id", "__v", 4, 1)
    cells = {r.cell for r in cents.select("cell").collect()}
    got = assigned.groupBy("cell").count().collect()
    assert {r.cell for r in got} <= cells
    assert sum(r["count"] for r in got) == emb.count()


def test_q2_reads_fact_table_once(spark, sf_dir):
    """TPC-H Q2 shape: the correlated per-part min must be a window
    over the aggregated cost frame, not an agg + join-back — Catalyst
    compiles the join-back as TWO copies of the lineitem-agg subtree
    (round-5 audit caught the double scan)."""
    from dask_expr_spark.queries import collect_queries

    df = collect_queries()["q2_min_cost_supplier"][0](spark, sf_dir)
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem") == 1, plan.count("lineitem")


def test_q20_reads_fact_table_once(spark, sf_dir):
    """same audit finding as Q2: the half-of-total dominance filter is
    a window over the (supplier, part) aggregate, not an agg +
    join-back that would duplicate the fact subtree."""
    from dask_expr_spark.queries import collect_queries

    df = collect_queries()["q20_potential_promotion"][0](spark, sf_dir)
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem") == 1, plan.count("lineitem")


def test_q11_consumers_share_cached_aggregate(spark, sf_dir):
    """Q11's per-part value frame feeds two consumers (rows + grand
    total); both must read the persisted aggregate, not rebuild the
    fact-scan subtree (round-5 audit: 2 lineitem scans without it)."""
    from dask_expr_spark.queries import collect_queries

    df = collect_queries()["q11_important_stock"][0](spark, sf_dir)
    sdf = df.to_spark() if hasattr(df, "to_spark") else df
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 2, plan[:1500]


def test_exact_dedup_against_single_batch_scan(spark, sf_dir):
    """the incoming batch is hashed and scanned ONCE: first-occurrence
    comes from a whole-partition window min whose text_hash exchange
    is the same partitioning the index join uses (the groupBy +
    join-back alternative scanned the batch twice)."""
    from pyspark.sql import functions as F

    from dask_expr_spark.functions import dedup as DD

    # a cached identical subtree from an earlier test would substitute
    # InMemoryRelation and hide the scans this test counts
    spark.catalog.clearCache()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    idx = DD.exact_hash_index(
        docs.where(F.col("doc_id") % 10 != 0), "doc_id", "text")
    out = DD.exact_dedup_against(
        docs.where(F.col("doc_id") % 10 == 0), idx, "doc_id", "text")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one scan for the batch + one for the index side
    assert plan.count("documents") == 2, plan.count("documents")
    assert "CartesianProduct" not in plan


def test_sample_n_per_group_two_phase_windows(spark, sf_dir):
    """the salted exact-n per-group draw compiles to exactly two
    window passes (per-(group,salt) pre-prune, per-group final) and
    never a global sort or cartesian — the plan that bounds any one
    task to ~group/salts rows."""
    from dask_expr_spark.functions import sampling as S

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    out = S.sample_n_per_group(o, "o_orderpriority", "o_orderkey", 5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 2
    assert "CartesianProduct" not in plan
    assert "Exchange SinglePartition" not in plan  # no global funnel


def test_read_manifested_keeps_pushdown_and_pruning(spark, tmp_path):
    """a pointer table's explicit file-list scan is still a normal
    parquet scan to Catalyst: filters push to the source and the
    column projection prunes the read schema."""
    import pandas as pd

    from dask_expr_spark.functions import maintenance as M

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({"k": range(50),
                        "v": [float(i) for i in range(50)],
                        "w": ["x"] * 50,
                        "part": [str(i % 3) for i in range(50)]})
    (spark.createDataFrame(pdf).write.mode("overwrite")
     .partitionBy("part").parquet(path))
    M.manifest_bootstrap(path, "part")
    df = (M.read_manifested(spark, path)
          .where("k > 40").select("k", "v"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,40)]" in plan
    assert "w" not in plan.split("ReadSchema")[1][:200]
    assert sorted(r["k"] for r in df.collect()) == list(range(41, 50))


def test_manifest_pruned_read_plan(spark, tmp_path):
    """read_manifested(partition_values=...) prunes the FILE LIST
    before the scan is planned: the plan's input files are exactly the
    named partitions' committed files, predicate pushdown and column
    pruning still reach the parquet scan, and the untouched
    partitions' files never enter the plan."""
    import os

    import pandas as pd
    from pyspark.sql import functions as F

    from dask_expr_spark.functions import maintenance as M

    path = str(tmp_path / "t")
    pdf = pd.DataFrame({
        "k": range(120), "v": [float(i) for i in range(120)],
        "part": [("a", "b", "c")[i % 3] for i in range(120)]})
    (spark.createDataFrame(pdf).repartition(4)
     .write.partitionBy("part").parquet(path))
    M.manifest_bootstrap(path, "part")
    man = M.read_commit(path)
    total = len(M.manifest_files(man, path))
    pruned = (M.read_manifested(spark, path, partition_values=["a"])
              .where(F.col("k") > 10).select("k"))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,10)]" in plan
    assert "ReadSchema: struct<k:bigint>" in plan
    files = pruned.inputFiles()
    assert 0 < len(files) < total
    assert all("part=a" in f for f in files)


@pytest.mark.parametrize("name", [
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_incremental_minhash",
    "dedup_substring_spans", "dedup_simhash", "dedup_chunk_minhash"])
def test_text_dedup_spreads_small_corpus_scan(spark, sf_dir, name):
    """A corpus scan with fewer files than cores runs its shingle and
    hash work in as many tasks as it has files, so the dedup operators
    put a round-robin exchange (functions/dedup.py _spread_input)
    before that work.  Plan only: nothing is collected."""
    from dask_expr_spark.queries import collect_queries

    docs = read_parquet(spark, os.path.join(sf_dir, "documents.parquet"))
    n_files = len(docs.to_spark().inputFiles())
    if n_files >= spark.sparkContext.defaultParallelism:
        pytest.skip(f"{n_files} corpus files already fill "
                    f"{spark.sparkContext.defaultParallelism} cores")
    plan = plan_of(collect_queries()[name][0](spark, sf_dir))
    assert "RoundRobinPartitioning" in plan
