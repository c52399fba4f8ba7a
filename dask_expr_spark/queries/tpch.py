"""TPC-H-style relational queries over the driver testdata star schema.

These exercise the engine's filter/projection/groupby-agg/join/sort
surface (SURVEY.md §2.2-2.5, §2.7) end-to-end; Catalyst handles
pushdown + join strategy (broadcast for the small dims via AQE).

Money measures are summed via the fixed-point (cent_sum) helpers in
_util: exact and engine-identical like the decimal path, but summed as
longs inside whole-stage codegen (~2.3x faster). Magnitude bounds are
documented on the helper; at unbounded scale switch to dec_sum.
"""

from __future__ import annotations

from ._util import cent_avg, cent_avg_sql, cent_sum, cent_sum_sql, query, tbl


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {cent_sum_sql('l_quantity', 2)}                                       AS sum_qty,
       {cent_sum_sql('l_extendedprice', 2)}                                  AS sum_base_price,
       {cent_sum_sql('l_extendedprice * (1 - l_discount)', 4)}               AS sum_disc_price,
       {cent_sum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
       {cent_avg_sql('l_quantity', 2)}                                       AS avg_qty,
       {cent_avg_sql('l_extendedprice', 2)}                                  AS avg_price,
       {cent_avg_sql('l_discount', 2)}                                       AS avg_disc,
       count(l_quantity)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@query("q1_pricing_summary", Q1_SQL)
def q1_pricing_summary(spark, sf_dir):
    """Flagship: filter + derived cols + groupby agg + sort
    (reference build-plan target, SURVEY.md §7.1)."""
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        li.filter(li.l_shipdate <= "1998-09-02")
        .assign(
            disc_price=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]),
            charge=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]) * (1 + d["l_tax"]),
        )
        .groupby(["l_returnflag", "l_linestatus"])
        .agg(
            sum_qty=("l_quantity", lambda c: cent_sum(c, 2)),
            sum_base_price=("l_extendedprice", lambda c: cent_sum(c, 2)),
            sum_disc_price=("disc_price", lambda c: cent_sum(c, 4)),
            sum_charge=("charge", lambda c: cent_sum(c, 6)),
            avg_qty=("l_quantity", lambda c: cent_avg(c, 2)),
            avg_price=("l_extendedprice", lambda c: cent_avg(c, 2)),
            avg_disc=("l_discount", lambda c: cent_avg(c, 2)),
            count_order=("l_quantity", "count"),
        )
        .sort_values(["l_returnflag", "l_linestatus"])
    )
    return res.to_spark()


Q3_SQL = f"""
SELECT o_orderkey, o_orderdate,
       {cent_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@query("q3_shipping_priority", Q3_SQL)
def q3_shipping_priority(spark, sf_dir):
    """3-way join + filter + groupby + top-k (reference: Merge lowering
    /root/reference/dask_expr/_merge.py:348; NFirst _reductions.py:1373)."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        cust.filter(cust.c_mktsegment == "BUILDING")
        .merge(orders, left_on="c_custkey", right_on="o_custkey")
        .merge(li, left_on="o_orderkey", right_on="l_orderkey")
    )
    res = res.filter(res.o_orderdate < "1998-01-01").filter(res.l_shipdate > "1998-01-01")
    res = (
        res.assign(rev=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]))
        .groupby(["o_orderkey", "o_orderdate"])
        .agg(revenue=("rev", lambda c: cent_sum(c, 4)))
        .sort_values(["revenue", "o_orderkey"], ascending=[False, True])
        .head(10)
    )
    return res.to_spark()


Q5_SQL = f"""
SELECT r_name, n_name,
       {cent_sum_sql('l_extendedprice * (1 - l_discount)', 4)} AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY r_name, n_name
ORDER BY r_name, n_name
"""


@query("q5_revenue_by_nation", Q5_SQL)
def q5_revenue_by_nation(spark, sf_dir):
    """4-way star join (region→nation→customer→orders→lineitem) + agg.
    Dims broadcast; the fact table shuffles once on the join key."""
    region = tbl(spark, sf_dir, "region")
    nation = tbl(spark, sf_dir, "nation")
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        li.merge(orders, left_on="l_orderkey", right_on="o_orderkey")
        .merge(cust, left_on="o_custkey", right_on="c_custkey", broadcast=True)
        .merge(nation, left_on="c_nationkey", right_on="n_nationkey", broadcast=True)
        .merge(region, left_on="n_regionkey", right_on="r_regionkey", broadcast=True)
    )
    res = (
        res.filter(res.o_orderdate >= "1996-01-01")
        .filter(res.o_orderdate < "1998-01-01")
        .assign(rev=lambda d: d["l_extendedprice"] * (1 - d["l_discount"]))
        .groupby(["r_name", "n_name"])
        .agg(revenue=("rev", lambda c: cent_sum(c, 4)), n_orders=("o_orderkey", "nunique"))
        .sort_values(["r_name", "n_name"])
    )
    return res.to_spark()


Q6_SQL = f"""
SELECT {cent_sum_sql('l_extendedprice * l_discount', 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


@query("q6_forecast_revenue", Q6_SQL)
def q6_forecast_revenue(spark, sf_dir):
    """Scan-heavy filter + global agg; predicates push into the parquet
    scan (reference: DNF pushdown, io/parquet.py:1574)."""
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        li.filter(li.l_shipdate >= "1996-01-01")
        .filter(li.l_shipdate < "1997-01-01")
        .filter(li.l_discount.between(0.05, 0.07))
        .filter(li.l_quantity < 24)
        .assign(rev=lambda d: d["l_extendedprice"] * d["l_discount"])
        .agg(revenue=("rev", lambda c: cent_sum(c, 4)))
    )
    return res.to_spark()


JOIN_BROADCAST_SQL = f"""
SELECT p_brand, count(l_quantity) AS n_items,
       {cent_sum_sql('l_quantity', 2)} AS total_qty,
       {cent_avg_sql('p_retailprice', 2)} AS avg_retail
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand ORDER BY p_brand
"""


@query("join_broadcast_part", JOIN_BROADCAST_SQL)
def join_broadcast_part(spark, sf_dir):
    """Explicit broadcast join of fact with a small dim (reference:
    BroadcastJoin, _merge.py:739)."""
    li = tbl(spark, sf_dir, "lineitem")
    part = tbl(spark, sf_dir, "part")
    res = (
        li.merge(part, left_on="l_partkey", right_on="p_partkey", broadcast=True)
        .groupby("p_brand")
        .agg(
            n_items=("l_quantity", "count"),
            total_qty=("l_quantity", lambda c: cent_sum(c, 2)),
            avg_retail=("p_retailprice", lambda c: cent_avg(c, 2)),
        )
        .sort_values("p_brand")
    )
    return res.to_spark()


JOIN_SEMI_SQL = f"""
SELECT o_orderstatus, count(o_orderkey) AS n, {cent_sum_sql('o_totalprice', 2)} AS total
FROM orders
WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_quantity >= 45)
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("join_semi", JOIN_SEMI_SQL)
def join_semi(spark, sf_dir):
    """left-semi join (reference: SemiMerge, _merge.py:881)."""
    orders = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    big = li.filter(li.l_quantity >= 45)[["l_orderkey"]].rename({"l_orderkey": "o_orderkey"})
    res = (
        orders.merge(big, on="o_orderkey", how="leftsemi")
        .groupby("o_orderstatus")
        .agg(n=("o_orderkey", "count"), total=("o_totalprice", lambda c: cent_sum(c, 2)))
        .sort_values("o_orderstatus")
    )
    return res.to_spark()


JOIN_ANTI_SQL = f"""
SELECT c_mktsegment, count(c_custkey) AS n_customers, {cent_avg_sql('c_acctbal', 2)} AS avg_bal
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query("join_anti", JOIN_ANTI_SQL)
def join_anti(spark, sf_dir):
    """left-anti join (Spark-native; reference expresses it only via
    isin negation — SURVEY.md §2.3 note)."""
    cust = tbl(spark, sf_dir, "customer")
    orders = tbl(spark, sf_dir, "orders")
    ok = orders[["o_custkey"]].rename({"o_custkey": "c_custkey"})
    res = (
        cust.merge(ok, on="c_custkey", how="leftanti")
        .groupby("c_mktsegment")
        .agg(n_customers=("c_custkey", "count"), avg_bal=("c_acctbal", lambda c: cent_avg(c, 2)))
        .sort_values("c_mktsegment")
    )
    return res.to_spark()


JOIN_OUTER_SQL = """
SELECT n_name, count(s_suppkey) AS n_suppliers
FROM nation FULL OUTER JOIN supplier ON n_nationkey = s_nationkey
GROUP BY n_name ORDER BY n_name
"""


@query("join_outer", JOIN_OUTER_SQL)
def join_outer(spark, sf_dir):
    """full outer join with null sides (reference: how='outer',
    _collection.py:2847)."""
    nation = tbl(spark, sf_dir, "nation")
    supplier = tbl(spark, sf_dir, "supplier")
    res = (
        nation.merge(supplier, left_on="n_nationkey", right_on="s_nationkey", how="outer")
        .groupby("n_name", dropna=False)
        .agg(n_suppliers=("s_suppkey", "count"))
        .sort_values("n_name")
    )
    return res.to_spark()
