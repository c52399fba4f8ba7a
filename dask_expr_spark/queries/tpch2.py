"""Second TPC-H-style batch: exists-semijoins, having filters,
window-max selection, OR-predicate pushdown, ratio metrics — adapted
to the driver testdata's columns."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ._util import dec_sum, dec_sum_sql, query, tbl


Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("q4_priority_late", Q4_SQL)
def q4_priority_with_late_lines(spark, sf_dir):
    """EXISTS semi-join + groupby (TPC-H Q4 shape): orders from 1997
    that have a lineitem shipped after the order date."""
    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    o = orders.filter(orders.o_orderdate >= "1997-01-01").filter(
        orders.o_orderdate < "1998-01-01"
    )
    late = (
        o.to_spark()
        .join(
            li.to_spark(),
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q10_SQL = f"""
SELECT c_custkey, c_name, n_name,
       {dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       count(l_orderkey) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20
"""


@query("q10_returned_revenue", Q10_SQL)
def q10_returned_revenue(spark, sf_dir):
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    nation = tbl(spark, sf_dir, "nation")
    res = (
        li.filter(li.l_returnflag == "R")
        .merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey", broadcast=True)
        .merge(nation, left_on="c_nationkey", right_on="n_nationkey", broadcast=True)
        .assign(rev=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]))
        .groupby(["c_custkey", "c_name", "n_name"])
        .agg(revenue=("rev", lambda c: dec_sum(c, 4)), n_items=("l_orderkey", "count"))
        .sort_values(["revenue", "c_custkey"], ascending=[False, True])
        .head(20)
    )
    return res.to_spark()


Q14_SQL = """
SELECT 100.0 * CAST(sum(CAST(CASE WHEN p_type = 'ECONOMY'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END AS DECIMAL(27,4))) AS DOUBLE)
             / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,4))) AS DOUBLE)
         AS economy_pct,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-07-01'
"""


@query("q14_type_revenue_ratio", Q14_SQL)
def q14_type_revenue_ratio(spark, sf_dir):
    """TPC-H Q14 shape: % of revenue from ECONOMY-type parts.
    Ratio of two decimal-exact sums → identical doubles."""
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    j = (
        li.filter(li.l_shipdate >= "1997-01-01")
        .filter(li.l_shipdate < "1997-07-01")
        .merge(part, left_on="l_partkey", right_on="p_partkey", broadcast=True)
    )
    sdf = j.to_spark()
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    eco = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))
    out = sdf.agg(
        (
            F.lit(100.0)
            * F.sum(eco.cast("decimal(27,4)")).cast("double")
            / F.sum(rev.cast("decimal(27,4)")).cast("double")
        ).alias("economy_pct"),
        F.count(F.lit(1)).alias("n"),
    )
    return out


Q15_SQL = f"""
WITH rev AS (
  SELECT l_suppkey, {dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
ORDER BY s_suppkey
"""


@query("q15_top_suppliers", Q15_SQL)
def q15_top_suppliers(spark, sf_dir):
    """TPC-H Q15 shape: supplier(s) with max revenue — window max over
    an aggregate (exact decimal revenue → deterministic max set)."""
    li = tbl(spark, sf_dir, "lineitem")
    supplier = tbl(spark, sf_dir, "supplier")
    rev = (
        li.filter(li.l_shipdate >= "1997-01-01")
        .filter(li.l_shipdate < "1997-04-01")
        .assign(r=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]))
        .groupby("l_suppkey")
        .agg(total_rev=("r", lambda c: dec_sum(c, 4)))
    )
    sdf = rev.to_spark().withColumn(
        "max_rev", F.max("total_rev").over(Window.partitionBy())
    )
    out = (
        sdf.filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supplier.to_spark()),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
        .orderBy("s_suppkey")
    )
    return out


Q18_SQL = f"""
WITH big AS (
  SELECT l_orderkey, {dec_sum_sql('l_quantity', 2)} AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) > 150
)
SELECT l_orderkey, o_custkey, o_totalprice, total_qty
FROM big JOIN orders ON l_orderkey = o_orderkey
ORDER BY total_qty DESC, l_orderkey LIMIT 50
"""


@query("q18_large_orders", Q18_SQL)
def q18_large_orders(spark, sf_dir):
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold
    (groupBy + HAVING + join back)."""
    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    big = (
        li.groupby("l_orderkey")
        .agg(total_qty=("l_quantity", lambda c: dec_sum(c, 2)))
        .filter(F.col("total_qty") > 150)
    )
    out = (
        big.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .sort_values(["total_qty", "l_orderkey"], ascending=[False, True])
        .head(50)[["l_orderkey", "o_custkey", "o_totalprice", "total_qty"]]
    )
    return out.to_spark()


Q19_SQL = f"""
SELECT {dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 20 AND 40)
"""


@query("q19_or_predicates", Q19_SQL)
def q19_or_predicates(spark, sf_dir):
    """TPC-H Q19 shape: disjunction of conjunctive range predicates —
    exercises Catalyst CNF conversion + pushdown (reference:
    rewrite_filters, _expr.py:3898)."""
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey", broadcast=True)
    sdf = j.to_spark()
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & F.col("l_quantity").between(10, 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & F.col("l_quantity").between(20, 40))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return sdf.filter(cond).agg(
        F.sum(rev.cast("decimal(27,4)")).cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n"),
    )


Q7_SQL = f"""
SELECT supp_nation, cust_nation, year, volume, n FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate) AS year,
         {dec_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS volume,
         count(l_orderkey) AS n
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
    AND n1.n_name <> n2.n_name
  GROUP BY 1, 2, 3
) WHERE n >= 20 ORDER BY supp_nation, cust_nation, year
"""


@query("q7_nation_volume", Q7_SQL)
def q7_nation_volume(spark, sf_dir):
    """TPC-H Q7 shape: shipping volume between supplier-nation and
    customer-nation pairs — two independent dimension chains joined to
    the fact, both broadcast."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    supp = tbl(spark, sf_dir, "supplier")
    nation = tbl(spark, sf_dir, "nation")
    n1 = nation.rename({"n_nationkey": "s_nkey", "n_name": "supp_nation",
                        "n_regionkey": "r1"})
    n2 = nation.rename({"n_nationkey": "c_nkey", "n_name": "cust_nation",
                        "n_regionkey": "r2"})
    res = (
        li.filter(li.l_shipdate >= "1996-01-01")
        .filter(li.l_shipdate < "1998-01-01")
        .merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey", broadcast=True)
        .merge(supp, left_on="l_suppkey", right_on="s_suppkey", broadcast=True)
        .merge(n1, left_on="s_nationkey", right_on="s_nkey", broadcast=True)
        .merge(n2, left_on="c_nationkey", right_on="c_nkey", broadcast=True)
    )
    res = res.filter(res.supp_nation != res.cust_nation)
    out = (
        res.assign(
            rev=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]),
            year=lambda d: d["l_shipdate"].dt.year.astype("long"),
        )
        .groupby(["supp_nation", "cust_nation", "year"])
        .agg(volume=("rev", lambda c: dec_sum(c, 4)), n=("l_orderkey", "count"))
        .sort_values(["supp_nation", "cust_nation", "year"])
        # keep output compact: only pairs with meaningful volume
        .filter(F.col("n") >= 20)
    )
    return out.to_spark()


Q8_SQL = """
SELECT year(o_orderdate) AS year,
       CAST(sum(CAST(round(CASE WHEN n_name = 'NATION_0'
                                THEN l_extendedprice * (1 - l_discount)
                                ELSE 0.0 END * 10000) AS BIGINT)) AS DOUBLE)
       / CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE)
         AS mkt_share,
       count(*) AS n
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
GROUP BY 1 ORDER BY 1
"""


@query("q8_market_share", Q8_SQL)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8 shape: NATION_0's share of revenue per year — ratio of
    a conditional exact sum over the total exact sum."""
    li = tbl(spark, sf_dir, "lineitem")
    orders = tbl(spark, sf_dir, "orders")
    cust = tbl(spark, sf_dir, "customer")
    nation = tbl(spark, sf_dir, "nation")
    j = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey", broadcast=True)
        .merge(nation, left_on="c_nationkey", right_on="n_nationkey", broadcast=True)
    )
    sdf = j.to_spark()
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("n_name") == "NATION_0", rev).otherwise(F.lit(0.0))
    out = (
        sdf.withColumn("year", F.year("o_orderdate").cast("long"))
        .groupBy("year")
        .agg(
            (
                F.sum(F.round(target * 10000).cast("long")).cast("double")
                / F.sum(F.round(rev * 10000).cast("long")).cast("double")
            ).alias("mkt_share"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("year")
    )
    return out
