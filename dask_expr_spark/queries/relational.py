"""Reshape / grouping-sets / set-operation queries (facade surface:
melt, rollup, cube, except_all, intersect, get_dummies — SURVEY.md
§2.5 note and §2.8: absent in the reference, native in Spark)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import dec_sum, dec_sum_sql, query, tbl


MELT_SQL = f"""
WITH long AS (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
SELECT l_returnflag, measure, count(val) AS n, {dec_sum_sql('val', 2)} AS total
FROM long GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("melt_measures", MELT_SQL)
def melt_measures(spark, sf_dir):
    """unpivot lineitem measures → long form → agg per (flag, variable)
    (reference: melt, _collection.py:4047)."""
    li = tbl(spark, sf_dir, "lineitem")
    long = li.melt(
        id_vars=["l_returnflag"],
        value_vars=["l_quantity", "l_discount", "l_tax"],
        var_name="measure",
        value_name="val",
    )
    return (
        long.groupby(["l_returnflag", "measure"])
        .agg(n=("val", "count"), total=("val", lambda c: dec_sum(c, 2)))
        .sort_values(["l_returnflag", "measure"])
        .to_spark()
    )


ROLLUP_SQL = f"""
SELECT year(o_orderdate) AS y, o_orderstatus,
       count(o_orderkey) AS n, {dec_sum_sql('o_totalprice', 2)} AS total
FROM orders
GROUP BY ROLLUP (year(o_orderdate), o_orderstatus)
ORDER BY y, o_orderstatus
"""


@query("rollup_revenue", ROLLUP_SQL)
def rollup_revenue(spark, sf_dir):
    """ROLLUP grouping sets: (year, status) → (year) → () totals."""
    orders = tbl(spark, sf_dir, "orders")
    res = (
        orders.assign(y=lambda d: d["o_orderdate"].dt.year.astype("long"))
        .rollup("y", "o_orderstatus")
        .agg(n=("o_orderkey", "count"), total=("o_totalprice", lambda c: dec_sum(c, 2)))
        .sort_values(["y", "o_orderstatus"])
    )
    return res.to_spark()


CUBE_SQL = """
SELECT o_orderpriority, o_orderstatus, count(o_orderkey) AS n
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority, o_orderstatus
"""


@query("cube_priority_status", CUBE_SQL)
def cube_priority_status(spark, sf_dir):
    """CUBE grouping sets over two dims."""
    orders = tbl(spark, sf_dir, "orders")
    res = (
        orders.cube("o_orderpriority", "o_orderstatus")
        .agg(n=("o_orderkey", "count"))
        .sort_values(["o_orderpriority", "o_orderstatus"])
    )
    return res.to_spark()


EXCEPT_SQL = """
WITH inactive AS (
  SELECT c_custkey FROM customer
  EXCEPT ALL
  SELECT o_custkey FROM orders
)
SELECT count(c_custkey) AS n_inactive, min(c_custkey) AS min_key,
       max(c_custkey) AS max_key
FROM inactive
"""


@query("except_inactive_customers", EXCEPT_SQL)
def except_inactive_customers(spark, sf_dir):
    """EXCEPT ALL: all custkeys minus those appearing in orders."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    inactive = cust[["c_custkey"]].except_all(
        orders[["o_custkey"]].rename({"o_custkey": "c_custkey"})
    )
    return inactive.agg(
        n_inactive=("c_custkey", "count"),
        min_key=("c_custkey", "min"),
        max_key=("c_custkey", "max"),
    ).to_spark()


INTERSECT_SQL = """
WITH both_keys AS (
  SELECT l_partkey FROM lineitem
  INTERSECT
  SELECT p_partkey FROM part
)
SELECT count(l_partkey) AS n, min(l_partkey) AS lo, max(l_partkey) AS hi
FROM both_keys
"""


@query("intersect_active_parts", INTERSECT_SQL)
def intersect_active_parts(spark, sf_dir):
    """INTERSECT (distinct): part keys present in both lineitem and part."""
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    both = li[["l_partkey"]].intersect(
        part[["p_partkey"]].rename({"p_partkey": "l_partkey"})
    )
    return both.agg(
        n=("l_partkey", "count"), lo=("l_partkey", "min"), hi=("l_partkey", "max")
    ).to_spark()


DUMMIES_SQL = """
SELECT c_nationkey,
       CAST(sum(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END) AS BIGINT) AS seg_AUTOMOBILE,
       CAST(sum(CASE WHEN c_mktsegment = 'BUILDING'   THEN 1 ELSE 0 END) AS BIGINT) AS seg_BUILDING,
       CAST(sum(CASE WHEN c_mktsegment = 'FURNITURE'  THEN 1 ELSE 0 END) AS BIGINT) AS seg_FURNITURE,
       CAST(sum(CASE WHEN c_mktsegment = 'HOUSEHOLD'  THEN 1 ELSE 0 END) AS BIGINT) AS seg_HOUSEHOLD,
       CAST(sum(CASE WHEN c_mktsegment = 'MACHINERY'  THEN 1 ELSE 0 END) AS BIGINT) AS seg_MACHINERY
FROM customer GROUP BY c_nationkey ORDER BY c_nationkey
"""


@query("dummies_by_nation", DUMMIES_SQL)
def dummies_by_nation(spark, sf_dir):
    """one-hot encode mktsegment → per-nation segment counts
    (reference: get_dummies, _dummies.py:10)."""
    cust = tbl(spark, sf_dir, "customer")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    dum = cust.get_dummies("c_mktsegment", segs, prefix="seg")
    return (
        dum.groupby("c_nationkey")
        .agg(**{f"seg_{s}": (f"seg_{s}", lambda c: F.sum(c).cast("long")) for s in segs})
        .sort_values("c_nationkey")
        .to_spark()
    )
