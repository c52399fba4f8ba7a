"""Third TPC-H-style batch — completes the 22 classic query shapes that
are expressible on the driver testdata's slimmed schema (no partsupp,
no comment/phone/shipmode/commitdate columns; shapes adapted, semantics
preserved): multi-way star join with year rollup (Q9), conditional
two-way counts (Q12), outer-join histogram (Q13), distinct-count with
NOT-IN exclusion (Q16), correlated-average scalar filter (Q17),
only-late-supplier anti/semi composition (Q21), scalar-subquery +
anti-join segment stats (Q22).

Scale notes (100 TB): every query keeps the big fact tables (lineitem,
orders) shuffle-joined on their keys or pre-aggregated before the join;
dimensions (part, supplier, customer, nation) are broadcast. No
collect()-based logic anywhere; the single scalar in Q17/Q22 is a
1-row broadcast cross join, not a driver round-trip.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import cent_sum, cent_sum_sql, dec_sum, dec_sum_sql, query, tbl


Q9_SQL = f"""
SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
       {dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders   ON l_orderkey = o_orderkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
ORDER BY n_name, o_year DESC
"""


@query("q9_profit_by_nation", Q9_SQL)
def q9_profit_by_nation(spark, sf_dir):
    """TPC-H Q9 shape (no partsupp → profit = discounted revenue):
    per-nation, per-year profit on parts whose name contains 'red'.

    reference parity: multi-merge + groupby.agg (dask-expr
    _merge.py:50, _groupby.py:430); here the two fact tables join
    shuffle-side while part/supplier/nation broadcast."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    part = tbl(spark, sf_dir, "part")
    supp = tbl(spark, sf_dir, "supplier")
    nation = tbl(spark, sf_dir, "nation")

    red_parts = part.filter(part.p_name.str.contains("red"))
    res = (
        li.merge(red_parts, left_on="l_partkey", right_on="p_partkey",
                 broadcast=True)
        .merge(supp, left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(nation, left_on="s_nationkey", right_on="n_nationkey",
               broadcast=True)
        .assign(profit=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]))
    )
    sdf = res.to_spark()
    return (
        sdf.groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(dec_sum(F.col("profit"), 4).alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate
  AND l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus ORDER BY l_linestatus
"""


@query("q12_late_priority_counts", Q12_SQL)
def q12_late_priority_counts(spark, sf_dir):
    """TPC-H Q12 shape (no shipmode → group by l_linestatus): for lines
    shipped after the order date in 1997, count high- vs low-priority
    orders per line status. Conditional aggregation (CASE WHEN inside
    SUM), orders⋈lineitem on the shuffle key."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    j = li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
    j = j.filter(j["l_shipdate"] > j["o_orderdate"])
    j = j.filter(
        (j["l_shipdate"] >= "1997-01-01") & (j["l_shipdate"] < "1998-01-01")
    )
    sdf = j.to_spark()
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        sdf.groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q13_SQL = """
SELECT c_count, count(*) AS custdist
FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("q13_customer_distribution", Q13_SQL)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: histogram of per-customer order counts, including
    zero-order customers (left outer join). Two aggregation levels; the
    first groups on the join key so Catalyst reuses the exchange."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    urgent = orders.filter(orders.o_orderpriority != "1-URGENT")
    per_cust = (
        cust.merge(urgent, how="left", left_on="c_custkey",
                   right_on="o_custkey")
        .to_spark()
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q16_SQL = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
"""


@query("q16_supplier_variety", Q16_SQL)
def q16_supplier_variety(spark, sf_dir):
    """TPC-H Q16 shape (no partsupp → part↔supplier pairs observed in
    lineitem): distinct suppliers able to supply each (brand, type)
    excluding Brand#1 and suppliers with negative account balance
    (the NOT IN subquery → broadcast anti join). The heavy dedup of
    (partkey, suppkey) pairs happens before the dimension join."""
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    supp = tbl(spark, sf_dir, "supplier")

    pairs = li[["l_partkey", "l_suppkey"]].drop_duplicates()
    bad = supp.filter(supp.s_acctbal < 0)[["s_suppkey"]]
    keep = pairs.merge(bad, how="leftanti", left_on="l_suppkey",
                       right_on="s_suppkey")
    okpart = part.filter(part.p_brand != "Brand#1")
    joined = keep.merge(okpart, left_on="l_partkey", right_on="p_partkey",
                        broadcast=True)
    sdf = joined.to_spark()
    return (
        sdf.groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


Q17_SQL = f"""
SELECT {dec_sum_sql('l_extendedprice', 2)} / 7.0 AS avg_yearly
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#21'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)
"""


@query("q17_small_quantity_revenue", Q17_SQL)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: average yearly revenue lost if small-quantity orders
    (below 20% of the part's average order quantity) were not filled,
    for one brand. The correlated AVG subquery becomes a window
    average over partitionBy(l_partkey) — ONE lineitem scan and ONE
    exchange, vs two of each for the aggregate-then-join-back
    formulation; the brand filter broadcasts."""
    from pyspark.sql.window import Window

    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")

    brand = part.filter(part.p_brand == "Brand#21")[["p_partkey"]]
    li_b = li.merge(brand, left_on="l_partkey", right_on="p_partkey",
                    broadcast=True)
    sdf = li_b.to_spark()
    thr = (F.avg("l_quantity").over(Window.partitionBy("l_partkey")) * 0.2)
    small = sdf.withColumn("qty_threshold", thr).filter(
        F.col("l_quantity") < F.col("qty_threshold")
    )
    return small.agg(
        (dec_sum(F.col("l_extendedprice"), 2) / F.lit(7.0)).alias("avg_yearly")
    )


Q21_SQL = """
WITH lf AS (
  SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
), per_order AS (
  SELECT l_orderkey,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN l_shipdate > o_orderdate THEN l_suppkey END) AS n_late,
         max(CASE WHEN l_shipdate > o_orderdate THEN l_suppkey END) AS late_supp
  FROM lf GROUP BY l_orderkey
)
SELECT s_name, count(DISTINCT l_orderkey) AS numwait
FROM per_order JOIN supplier ON late_supp = s_suppkey
WHERE n_supp > 1 AND n_late = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name LIMIT 20
"""


@query("q21_waiting_supplier", Q21_SQL)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21 shape (late = shipped after order date): per supplier,
    the number of finished multi-supplier orders where that supplier
    was the ONLY late one. The EXISTS / NOT EXISTS pair collapses into
    one per-order aggregate (distinct suppliers vs distinct late
    suppliers) — a single shuffle on l_orderkey instead of two
    self-joins of the fact table."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    supp = tbl(spark, sf_dir, "supplier")

    fin = orders.filter(orders.o_orderstatus == "F")[["o_orderkey", "o_orderdate"]]
    lf = li.merge(fin, left_on="l_orderkey", right_on="o_orderkey")
    sdf = lf.to_spark()
    late = F.col("l_shipdate") > F.col("o_orderdate")
    per_order = sdf.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(F.when(late, F.col("l_suppkey"))).alias("n_late"),
        F.max(F.when(late, F.col("l_suppkey"))).alias("late_supp"),
    )
    lone = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late") == 1)
    ).select("l_orderkey", "late_supp")
    return (
        lone.join(F.broadcast(supp.to_spark()),
                  lone.late_supp == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


Q22_SQL = f"""
SELECT c_mktsegment, count(*) AS numcust,
       {dec_sum_sql('c_acctbal', 2)} AS totacctbal
FROM customer
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0)
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query("q22_idle_customers", Q22_SQL)
def q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape (no phone → group by market segment): customers
    with above-average positive balances and no orders at all, counted
    per market segment. Scalar subquery → 1-row broadcast cross join;
    NOT EXISTS → native left-anti join on the orders fact."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")

    csdf = cust.to_spark()
    avg_bal = csdf.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    rich = csdf.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    no_orders = rich.join(
        orders.to_spark().select("o_custkey"),
        rich.c_custkey == F.col("o_custkey"),
        "left_anti",
    )
    return (
        no_orders.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dec_sum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_mktsegment")
    )
