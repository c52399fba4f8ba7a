"""Operator micro-queries: one per row-op / reduction / groupby variant
from SURVEY.md §2.2, §2.4, §2.5, §2.7, §2.8. Each runs through the
pandas-style facade and has an exact DuckDB oracle.  Also the
partitioning invariance queries (repartition, shuffle, persist,
divisions, partitions[i]): route the data through the operator, finish
with a deterministic aggregate, let the value hash catch any lost or
duplicated row.

Cross-engine dtype rules (learned the hard way, see tests/oracle.py):
ints are made BIGINT on both sides; decimal sums cast to DOUBLE before
any division; var/std/corr composed from decimal-exact component sums
so both engines execute identical IEEE double ops.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..collection import concat
from ._util import (
    cent_avg_sql, cent_sum, cent_sum_sql, dec_avg, dec_avg_sql, dec_sum,
    dec_sum_sql, query, tbl,
)


FILTER_ISIN_SQL = f"""
SELECT o_orderpriority, count(o_orderkey) AS n, {dec_sum_sql('o_totalprice', 2)} AS total
FROM orders
WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_totalprice BETWEEN 1000.0 AND 200000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("filter_isin_between", FILTER_ISIN_SQL)
def filter_isin_between(spark, sf_dir):
    """Isin (_expr.py:1364) + Between (:1401) + And filter chain."""
    orders = tbl(spark, sf_dir, "orders")
    cond = orders.o_orderpriority.isin(["1-URGENT", "2-HIGH"]) & orders.o_totalprice.between(
        1000.0, 200000.0
    )
    res = (
        orders.filter(cond)
        .groupby("o_orderpriority")
        .agg(n=("o_orderkey", "count"), total=("o_totalprice", lambda c: dec_sum(c, 2)))
        .sort_values("o_orderpriority")
    )
    return res.to_spark()


CASE_WHEN_SQL = f"""
SELECT CASE WHEN o_totalprice < 50000.0 THEN 'low'
            WHEN o_totalprice < 150000.0 THEN 'mid'
            ELSE 'high' END AS bucket,
       o_orderstatus,
       count(o_orderkey) AS n,
       {dec_avg_sql('o_totalprice', 2)} AS avg_price
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("case_when_buckets", CASE_WHEN_SQL)
def case_when_buckets(spark, sf_dir):
    """multi-branch conditional (reference: CaseWhen, _expr.py:1966)."""
    orders = tbl(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000.0, "low")
        .when(F.col("o_totalprice") < 150000.0, "mid")
        .otherwise("high")
    )
    res = (
        orders.assign(bucket=bucket)
        .groupby(["bucket", "o_orderstatus"])
        .agg(n=("o_orderkey", "count"), avg_price=("o_totalprice", lambda c: dec_avg(c, 2)))
        .sort_values(["bucket", "o_orderstatus"])
    )
    return res.to_spark()


STRING_OPS_SQL = """
SELECT c_mktsegment, count(c_custkey) AS n,
       min(CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)) AS min_num,
       max(CAST(regexp_extract(c_name, '([0-9]+)$', 1) AS BIGINT)) AS max_num,
       max(CAST(length(c_name) AS BIGINT)) AS max_len,
       min(upper(c_name)) AS min_uname
FROM customer
WHERE contains(c_name, 'Customer#')
GROUP BY c_mktsegment ORDER BY c_mktsegment
"""


@query("string_ops", STRING_OPS_SQL)
def string_ops(spark, sf_dir):
    """.str accessor surface (reference: _str_accessor.py:22-75):
    regexp_extract, upper, length, contains, startswith."""
    cust = tbl(spark, sf_dir, "customer")
    res = (
        cust.assign(
            cust_num=lambda d: d["c_name"].str.extract(r"([0-9]+)$", 1).astype("long"),
            uname=lambda d: d["c_name"].str.upper(),
            name_len=lambda d: d["c_name"].str.len().astype("long"),
        )
        .filter(cust.c_name.str.contains("Customer#", regex=False))
        .groupby("c_mktsegment")
        .agg(
            n=("c_custkey", "count"),
            min_num=("cust_num", "min"),
            max_num=("cust_num", "max"),
            max_len=("name_len", "max"),
            min_uname=("uname", "min"),
        )
        .sort_values("c_mktsegment")
    )
    return res.to_spark()


DATE_OPS_SQL = f"""
SELECT year(o_orderdate) AS y, quarter(o_orderdate) AS q,
       count(o_orderkey) AS n, {dec_sum_sql('o_totalprice', 2)} AS total
FROM orders GROUP BY 1, 2 ORDER BY 1, 2
"""


@query("date_ops", DATE_OPS_SQL)
def date_ops(spark, sf_dir):
    """.dt accessor surface (reference: _datetime.py:4): year/quarter/
    month extraction + groupby."""
    orders = tbl(spark, sf_dir, "orders")
    res = (
        orders.assign(
            y=lambda d: d["o_orderdate"].dt.year.astype("long"),
            q=lambda d: d["o_orderdate"].dt.quarter.astype("long"),
        )
        .groupby(["y", "q"])
        .agg(n=("o_orderkey", "count"), total=("o_totalprice", lambda c: dec_sum(c, 2)))
        .sort_values(["y", "q"])
    )
    return res.to_spark()


VALUE_COUNTS_SQL = """
SELECT l_returnflag, count(*) AS count FROM lineitem GROUP BY l_returnflag
"""


@query("value_counts_flag", VALUE_COUNTS_SQL)
def value_counts_flag(spark, sf_dir):
    """reference: ValueCounts, _reductions.py:1394."""
    li = tbl(spark, sf_dir, "lineitem")
    return li["l_returnflag"].value_counts(sort=False).to_spark()


DISTINCT_SQL = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


@query("distinct_pairs", DISTINCT_SQL)
def distinct_pairs(spark, sf_dir):
    """reference: DropDuplicates/Unique, _reductions.py:599,565."""
    li = tbl(spark, sf_dir, "lineitem")
    return li[["l_returnflag", "l_linestatus"]].distinct().to_spark()


NUNIQUE_SQL = """
SELECT l_returnflag,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("nunique_by_group", NUNIQUE_SQL)
def nunique_by_group(spark, sf_dir):
    """exact + approx distinct counts (reference: NUnique
    _collection.py:3808, NuniqueApprox _reductions.py:1295 — approx is
    rows-only checked via n>=0, exact is hash-checked)."""
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        li.groupby("l_returnflag")
        .agg(
            n_parts=("l_partkey", "nunique"),
            n_supps=("l_suppkey", "nunique"),
            n_orders=("l_orderkey", "nunique"),
        )
        .sort_values("l_returnflag")
    )
    return res.to_spark()


TOPK_SQL = """
SELECT o_orderkey, o_custkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
"""


@query("topk_orders", TOPK_SQL)
def topk_orders(spark, sf_dir):
    """top-k via sort+limit → Catalyst TakeOrderedAndProject
    (reference: NLargest, _reductions.py:1341)."""
    orders = tbl(spark, sf_dir, "orders")
    res = (
        orders[["o_orderkey", "o_custkey", "o_totalprice"]]
        .sort_values(["o_totalprice", "o_orderkey"], ascending=[False, True])
        .head(10)
    )
    return res.to_spark()


FILLNA_SQL = f"""
SELECT l_returnflag, count(l_orderkey) AS n,
       CAST(sum(CASE WHEN nullif(l_tax, 0.0) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_tax,
       {dec_sum_sql('coalesce(nullif(l_tax, 0.0), -1.0)', 2)} AS sum_filled
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("fillna_mask", FILLNA_SQL)
def fillna_mask(spark, sf_dir):
    """null handling: Mask (_expr.py:1540), Fillna (:1349), IsNa (:1534)."""
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        li.assign(
            t=lambda d: d["l_tax"].mask(d["l_tax"] == 0.0),
        )
        .assign(
            t_filled=lambda d: d["t"].fillna(-1.0),
            is_null=lambda d: d["t"].isna().astype("long"),
        )
        .groupby("l_returnflag")
        .agg(
            n=("l_orderkey", "count"),
            n_zero_tax=("is_null", "sum"),
            sum_filled=("t_filled", lambda c: dec_sum(c, 2)),
        )
        .sort_values("l_returnflag")
    )
    return res.to_spark()


UNION_SQL = f"""
SELECT src, count(o_orderkey) AS n, {dec_sum_sql('o_totalprice', 2)} AS total
FROM (
  SELECT *, 'fulfilled' AS src FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT *, 'open' AS src FROM orders WHERE o_orderstatus = 'O'
) GROUP BY src ORDER BY src
"""


@query("union_concat", UNION_SQL)
def union_concat(spark, sf_dir):
    """axis=0 concat (reference: Concat, _concat.py:25) via unionByName."""
    orders = tbl(spark, sf_dir, "orders")
    a = orders.filter(orders.o_orderstatus == "F").assign(src="fulfilled")
    b = orders.filter(orders.o_orderstatus == "O").assign(src="open")
    res = (
        concat([a, b])
        .groupby("src")
        .agg(n=("o_orderkey", "count"), total=("o_totalprice", lambda c: dec_sum(c, 2)))
        .sort_values("src")
    )
    return res.to_spark()


PIVOT_SQL = """
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS P
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("pivot_status", PIVOT_SQL)
def pivot_status(spark, sf_dir):
    """reference: pivot_table, _reductions.py:655 — Spark groupBy().pivot
    with explicit values (no extra distinct scan)."""
    orders = tbl(spark, sf_dir, "orders")
    res = (
        orders.groupby("o_orderpriority")
        .pivot("o_orderstatus", values=["F", "O", "P"])
        .fillna(0)
        .sort_values("o_orderpriority")
    )
    return res.to_spark()


MINMAX_BY_SQL = """
SELECT l_orderkey,
       arg_min(l_partkey, CAST(l_linenumber AS BIGINT) * 10000000 + l_partkey) AS first_part,
       arg_max(l_partkey, CAST(l_linenumber AS BIGINT) * 10000000 + l_partkey) AS last_part,
       count(l_linenumber) AS n_lines
FROM lineitem GROUP BY l_orderkey
"""


@query("minmax_by_group", MINMAX_BY_SQL)
def minmax_by_group(spark, sf_dir):
    """idxmin/idxmax analogue (reference: IdxMin/IdxMax,
    _reductions.py:980) via min_by/max_by."""
    li = tbl(spark, sf_dir, "lineitem")
    # l_linenumber is NOT unique within an order in this testdata, so
    # tie-break with the value itself to keep arg_min deterministic
    key = F.col("l_linenumber").cast("long") * 10_000_000 + F.col("l_partkey")
    res = li.groupby("l_orderkey").agg(
        first_part=("l_partkey", lambda c: F.min_by(c, key)),
        last_part=("l_partkey", lambda c: F.max_by(c, key)),
        n_lines=("l_linenumber", "count"),
    )
    return res.to_spark()


QUANTILES_SQL = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 4) AS p99
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("quantiles_exact", QUANTILES_SQL)
def quantiles_exact(spark, sf_dir):
    """exact percentiles (reference: SeriesQuantile, _quantile.py:14;
    Median _collection.py:3873). Both engines interpolate at rank
    p*(n-1); interpolation of 2-decimal values can't tie at 1e-4, so
    round(4) is hash-stable."""
    orders = tbl(spark, sf_dir, "orders")
    res = (
        orders.groupby("o_orderstatus")
        .agg(
            p50=("o_totalprice", lambda c: F.round(F.expr("percentile(o_totalprice, 0.5)"), 4)),
            p90=("o_totalprice", lambda c: F.round(F.expr("percentile(o_totalprice, 0.9)"), 4)),
            p99=("o_totalprice", lambda c: F.round(F.expr("percentile(o_totalprice, 0.99)"), 4)),
        )
        .sort_values("o_orderstatus")
    )
    return res.to_spark()


STATS_SQL = f"""
WITH m AS (
  SELECT l_returnflag, count(l_quantity) AS n,
         {dec_sum_sql('l_quantity', 2)} AS sx,
         {dec_sum_sql('l_quantity * l_quantity', 4)} AS sxx
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       (sxx - sx * sx / n) / (n - 1) AS var_q,
       sqrt((sxx - sx * sx / n) / (n - 1)) AS std_q
FROM m ORDER BY l_returnflag
"""


@query("stats_var_std", STATS_SQL)
def stats_var_std(spark, sf_dir):
    """Var/Std (reference: _reductions.py:1116) composed from
    decimal-exact moment sums so both engines run identical double ops:
    var = (Σx² − (Σx)²/n) / (n−1)."""
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        li.assign(q2=lambda d: d["l_quantity"] * d["l_quantity"])
        .groupby("l_returnflag")
        .agg(
            n=("l_quantity", "count"),
            sx=("l_quantity", lambda c: dec_sum(c, 2)),
            sxx=("q2", lambda c: dec_sum(c, 4)),
        )
        .assign(
            var_q=lambda d: (d["sxx"] - d["sx"] * d["sx"] / d["n"]) / (d["n"] - 1),
        )
        .assign(std_q=lambda d: d["var_q"].sqrt())
        .drop(["sx", "sxx"])
        .sort_values("l_returnflag")
    )
    return res.to_spark()


CORR_SQL = f"""
WITH m AS (
  SELECT l_returnflag, count(l_quantity) AS n,
         {dec_sum_sql('l_quantity', 2)} AS sx,
         {dec_sum_sql('l_extendedprice', 2)} AS sy,
         {dec_sum_sql('l_quantity * l_extendedprice', 4)} AS sxy,
         {dec_sum_sql('l_quantity * l_quantity', 4)} AS sxx,
         {dec_sum_sql('l_extendedprice * l_extendedprice', 4)} AS syy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round((sxy - sx * sy / n) / (n - 1), 4) AS cov_qp,
       round(((sxy - sx * sy / n) / (n - 1))
         / (sqrt((sxx - sx * sx / n) / (n - 1)) * sqrt((syy - sy * sy / n) / (n - 1))), 6) AS corr_qp
FROM m ORDER BY l_returnflag
"""


@query("corr_cov", CORR_SQL)
def corr_cov(spark, sf_dir):
    """Cov/Corr (reference: _reductions.py:1009,1035) from decimal-exact
    component sums: cov = (Σxy − ΣxΣy/n)/(n−1), corr = cov/(σx σy)."""
    li = tbl(spark, sf_dir, "lineitem")
    res = (
        li.assign(
            xy=lambda d: d["l_quantity"] * d["l_extendedprice"],
            x2=lambda d: d["l_quantity"] * d["l_quantity"],
            y2=lambda d: d["l_extendedprice"] * d["l_extendedprice"],
        )
        .groupby("l_returnflag")
        .agg(
            n=("l_quantity", "count"),
            sx=("l_quantity", lambda c: dec_sum(c, 2)),
            sy=("l_extendedprice", lambda c: dec_sum(c, 2)),
            sxy=("xy", lambda c: dec_sum(c, 4)),
            sxx=("x2", lambda c: dec_sum(c, 4)),
            syy=("y2", lambda c: dec_sum(c, 4)),
        )
        .assign(
            cov_qp=lambda d: ((d["sxy"] - d["sx"] * d["sy"] / d["n"]) / (d["n"] - 1)).round(4),
        )
        .assign(
            # chained double ops can differ in the last ULP across engines
            # (FMA contraction) — round to 6 to make the hash stable
            corr_qp=lambda d: (
                ((d["sxy"] - d["sx"] * d["sy"] / d["n"]) / (d["n"] - 1))
                / (
                    ((d["sxx"] - d["sx"] * d["sx"] / d["n"]) / (d["n"] - 1)).sqrt()
                    * ((d["syy"] - d["sy"] * d["sy"] / d["n"]) / (d["n"] - 1)).sqrt()
                )
            ).round(6),
        )
        .drop(["sx", "sy", "sxy", "sxx", "syy"])
        .sort_values("l_returnflag")
    )
    return res.to_spark()


TRANSFORM_SQL = """
WITH t AS (
  SELECT l_returnflag,
         l_quantity / (CAST(sum(CAST(l_quantity AS DECIMAL(27,2)))
                       OVER (PARTITION BY l_returnflag) AS DOUBLE)) AS pct
  FROM lineitem
)
SELECT l_returnflag, round(max(pct), 12) AS max_pct, round(min(pct), 12) AS min_pct,
       count(*) AS n
FROM t GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("transform_pct_of_group", TRANSFORM_SQL)
def transform_pct_of_group(spark, sf_dir):
    """groupby.transform: each row's share of its group total
    (reference: GroupByTransform, _groupby.py:1027) — window aggregate,
    exact decimal group totals → identical ratios."""
    li = tbl(spark, sf_dir, "lineitem")
    # NOTE: .over() must attach to the aggregate itself — cast AFTER
    t = li[["l_returnflag", "l_orderkey", "l_quantity"]].groupby("l_returnflag").transform(
        {"l_quantity": lambda c: F.sum(c.cast("decimal(27,2)"))},
        suffix="_grp",
    )
    sdf = t.to_spark().withColumn(
        "pct", F.col("l_quantity") / F.col("l_quantity_grp").cast("double")
    )
    return (
        sdf.groupBy("l_returnflag")
        .agg(
            F.round(F.max("pct"), 12).alias("max_pct"),
            F.round(F.min("pct"), 12).alias("min_pct"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


EXPANDING_SQL = """
SELECT user_id,
       count(value) AS final_count,
       count(*) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
"""


@query("expanding_running_share", EXPANDING_SQL)
def expanding_running_share(spark, sf_dir):
    """expanding window (cumulative count) per user via the facade's
    expanding() — checked as final expanding count == group size."""
    ev = tbl(spark, sf_dir, "events")
    r = ev.expanding(order_by=["ts", "event_id"], partition_by="user_id").count(["value"])
    sdf = r.to_spark()
    return (
        sdf.groupBy("user_id")
        .agg(
            F.max("value_rcount").alias("final_count"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


CATEGORIZE_SQL = """
WITH dic AS (
  SELECT c_mktsegment AS val,
         CAST(row_number() OVER (ORDER BY c_mktsegment) - 1 AS INT) AS code
  FROM (SELECT DISTINCT c_mktsegment FROM customer)
)
SELECT c_mktsegment, code AS c_mktsegment_code, count(c_custkey) AS n
FROM customer JOIN dic ON c_mktsegment = dic.val
GROUP BY 1, 2 ORDER BY 2
"""


@query("categorize_segments", CATEGORIZE_SQL)
def categorize_segments(spark, sf_dir):
    """dictionary encoding (reference: categorize, _collection.py:3749;
    categoricals → label ints, SURVEY.md §1.3): codes assigned by
    sorted value order, then aggregated per code."""
    cust = tbl(spark, sf_dir, "customer")
    encoded, dicts = cust.categorize(["c_mktsegment"])
    return (
        encoded.groupby(["c_mktsegment", "c_mktsegment_code"])
        .agg(n=("c_custkey", "count"))
        .sort_values("c_mktsegment_code")
        .to_spark()
    )


DROP_DUP_SQL = """
SELECT o_custkey,
       arg_min(o_orderkey, CAST(epoch(o_orderdate) AS BIGINT) * 100000000 + o_orderkey) AS first_orderkey,
       min(o_orderdate) AS first_date,
       count(*) AS n_orders
FROM orders GROUP BY o_custkey ORDER BY o_custkey
"""


@query("drop_dup_keep_first", DROP_DUP_SQL)
def drop_dup_keep_first(spark, sf_dir):
    """drop_duplicates(subset, keep='first') with a deterministic order
    (reference: DropDuplicates keep=, _reductions.py:599): one order
    per customer — the earliest (orderdate, orderkey)."""
    sdf = tbl(spark, sf_dir, "orders").to_spark()
    # min_by with a composite (date, orderkey) key = keep='first' under
    # a deterministic order; NTZ needs a cast before unix_micros
    # epoch SECONDS (dates have no sub-second part) so the composite
    # fits in int64 on both engines
    key = (
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")) * 100_000_000
        + F.col("o_orderkey")
    )
    first = sdf.groupBy("o_custkey").agg(
        F.min_by(F.col("o_orderkey"), key).alias("first_orderkey"),
        F.min("o_orderdate").alias("first_date"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return first.orderBy("o_custkey")


COMBINE_FIRST_SQL = """
WITH s AS (
  SELECT s_nationkey AS nk,
         CAST(sum(CAST(s_acctbal AS DECIMAL(27,2))) AS DOUBLE) AS bal
  FROM supplier GROUP BY 1
),
c AS (
  SELECT c_nationkey AS nk,
         CAST(sum(CAST(c_acctbal AS DECIMAL(27,2))) AS DOUBLE) AS bal
  FROM customer GROUP BY 1
)
SELECT coalesce(s.nk, c.nk) AS nk, coalesce(s.bal, c.bal) AS bal
FROM s FULL OUTER JOIN c ON s.nk = c.nk
ORDER BY nk
"""


@query("combine_first_balances", COMBINE_FIRST_SQL)
def combine_first_balances(spark, sf_dir):
    """combine_first (reference: CombineFirst, _expr.py:1138): prefer
    the supplier's account balance, fall back to the customer's, over
    the shared nationkey-index of per-nation aggregates."""
    cust = tbl(spark, sf_dir, "customer")
    supp = tbl(spark, sf_dir, "supplier")
    # per-nation average balances from two different frames
    a = (
        supp.groupby("s_nationkey")
        .agg(bal=("s_acctbal", lambda c: F.sum(c.cast("decimal(27,2)")).cast("double")))
        .rename({"s_nationkey": "nk"}).set_index("nk")
    )
    b = (
        cust.groupby("c_nationkey")
        .agg(bal=("c_acctbal", lambda c: F.sum(c.cast("decimal(27,2)")).cast("double")))
        .rename({"c_nationkey": "nk"}).set_index("nk")
    )
    combined = a.combine_first(b)
    return combined.reset_index().to_spark().orderBy("nk")


STRING_OPS2_SQL = """
SELECT p_brand, count(p_partkey) AS n,
       CAST(sum(CASE WHEN regexp_matches(p_name, '^[a-z]+ [a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_two_words,
       CAST(sum(len(regexp_extract_all(p_name, '[a-z]+', 0))) AS BIGINT) AS sum_words,
       min(translate(p_name, 'aeiou', 'AEIOU')) AS min_vowels,
       min(array_to_string(regexp_extract_all(p_name, '[a-z]+', 0), ',')) AS min_words,
       max(lpad(p_name, 16, '.')) AS max_padded,
       min(CASE WHEN strpos(p_name, ' ') > 0
                THEN substr(p_name, 1, strpos(p_name, ' ') - 1) || '| |' ||
                     substr(p_name, strpos(p_name, ' ') + 1)
                ELSE p_name || '||' END) AS min_head
FROM part GROUP BY p_brand ORDER BY p_brand
"""


@query("string_ops2", STRING_OPS2_SQL)
def string_ops2(spark, sf_dir):
    """.str accessor batch 3 (reference: _str_accessor.py:22-75):
    translate, findall (regexp_extract_all), partition, rjust,
    match-at-start, istitle-style predicate."""
    part = tbl(spark, sf_dir, "part")
    res = (
        part.assign(
            vowels=lambda d: d["p_name"].str.translate("aeiou", "AEIOU"),
            n_words=lambda d: d["p_name"].str.count("[a-z]+").astype("long"),
            words=lambda d: d["p_name"].str.findall("[a-z]+").str.join(","),
            head=lambda d: d["p_name"].str.partition(" ").str.join("|"),
            padded=lambda d: d["p_name"].str.rjust(16, "."),
            two_words=lambda d: d["p_name"].str.match("[a-z]+ [a-z]+$"),
        )
        .groupby("p_brand")
        .agg(
            n=("p_partkey", "count"),
            n_two_words=("two_words", lambda c: F.sum(c.cast("long"))),
            sum_words=("n_words", "sum"),
            min_vowels=("vowels", "min"),
            min_words=("words", "min"),
            max_padded=("padded", "max"),
            min_head=("head", "min"),
        )
        .sort_values("p_brand")
    )
    return res.to_spark()


DATE_OPS2_SQL = """
SELECT event_type, count(event_id) AS n,
       CAST(sum(CASE WHEN (year(ts) % 4 = 0 AND (year(ts) % 100 <> 0 OR year(ts) % 400 = 0)) THEN 1 ELSE 0 END) AS BIGINT) AS n_leap,
       CAST(sum(CASE WHEN date_trunc('day', ts) = date_trunc('quarter', ts) + INTERVAL 3 MONTH - INTERVAL 1 DAY THEN 1 ELSE 0 END) AS BIGINT) AS n_qend,
       CAST(sum(CASE WHEN month(ts) = 12 AND day(ts) = 31 THEN 1 ELSE 0 END) AS BIGINT) AS n_yend,
       CAST(count(DISTINCT to_timestamp(CAST(round(epoch(ts)/3600) AS BIGINT)*3600)) AS BIGINT) AS n_hours,
       max(CAST(to_timestamp(CAST(round(epoch(ts)/3600) AS BIGINT)*3600) AS TIMESTAMP)) AS max_rhour,
       CAST(sum((dayofweek(ts) + 6) % 7) AS BIGINT) AS sum_wd
FROM events GROUP BY event_type ORDER BY event_type
"""


@query("date_ops2", DATE_OPS2_SQL)
def date_ops2(spark, sf_dir):
    """.dt accessor batch 3 (reference: _datetime.py:15-71):
    is_leap_year, is_quarter_end, is_year_end, round-to-hour,
    weekday alias — aggregated per event_type."""
    ev = tbl(spark, sf_dir, "events")
    res = (
        ev.assign(
            leap=lambda d: d["ts"].dt.is_leap_year,
            qend=lambda d: d["ts"].dt.is_quarter_end,
            yend=lambda d: d["ts"].dt.is_year_end,
            rhour=lambda d: d["ts"].dt.round("H"),
            wd=lambda d: d["ts"].dt.weekday,
        )
        .groupby("event_type")
        .agg(
            n=("event_id", "count"),
            n_leap=("leap", lambda c: F.sum(c.cast("long"))),
            n_qend=("qend", lambda c: F.sum(c.cast("long"))),
            n_yend=("yend", lambda c: F.sum(c.cast("long"))),
            n_hours=("rhour", "nunique"),
            max_rhour=("rhour", "max"),
            sum_wd=("wd", lambda c: F.sum(c.cast("long"))),
        )
        .sort_values("event_type")
    )
    return res.to_spark()


# -- .cat codes ---------------------------------------------------------
CAT_CODES_SQL = """
WITH c AS (
  SELECT c_mktsegment,
         dense_rank() OVER (ORDER BY c_mktsegment) - 1 AS code
  FROM customer
)
SELECT code, c_mktsegment AS segment, count(*) AS n
FROM c GROUP BY code, c_mktsegment
"""


@query("cat_codes_segments", CAT_CODES_SQL)
def cat_codes_segments(spark, sf_dir):
    """Series.cat.codes (reference _categorical.py:21): dense codes in
    sorted-category order, dictionary broadcast back."""
    cu = tbl(spark, sf_dir, "customer")
    codes = cu["c_mktsegment"].cat.codes.alias("code")
    sdf = codes._anchor.select(
        codes._scol.alias("code"), F.col("c_mktsegment").alias("segment")
    )
    return (
        sdf.groupBy("code", "segment").agg(F.count(F.lit(1)).alias("n"))
    )


# -- axis=1 row stats ---------------------------------------------------
AXIS1_SQL = """
WITH r AS (
  SELECT l_orderkey,
         least(l_quantity, l_discount, l_tax) AS rmin,
         greatest(l_quantity, l_discount, l_tax) AS rmax
  FROM lineitem
)
SELECT count(*) AS n, CAST(sum(CAST(rmin AS DECIMAL(27,4))) AS DOUBLE) AS sum_min,
       CAST(sum(CAST(rmax AS DECIMAL(27,4))) AS DOUBLE) AS sum_max
FROM r
"""


@query("axis1_row_stats", AXIS1_SQL)
def axis1_row_stats(spark, sf_dir):
    """axis=1 reductions (JVM array higher-order fns): per-row min/max
    across measures, then exact aggregation."""
    li = tbl(spark, sf_dir, "lineitem")[["l_quantity", "l_discount", "l_tax"]]
    rmin = li.min(axis=1).alias("rmin")
    rmax = li.max(axis=1).alias("rmax")
    sdf = rmin._anchor.select(rmin._scol.alias("rmin"), rmax._scol.alias("rmax"))
    return sdf.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rmin").cast("decimal(27,4)")).cast("double").alias("sum_min"),
        F.sum(F.col("rmax").cast("decimal(27,4)")).cast("double").alias("sum_max"),
    )


# -- groupby by-expression key (round 3: _clean_by_expr parity) ---------
GROUPBY_EXPR_SQL = """
SELECT CAST(o_custkey // 100 AS BIGINT) AS cust_bucket,
       o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
GROUP BY 1, 2
ORDER BY cust_bucket, o_orderpriority
"""


@query("groupby_expr_buckets", GROUPBY_EXPR_SQL)
def groupby_expr_buckets(spark, sf_dir):
    """groupby(by=[Series expr, name], sort=True) — the reference's
    _clean_by_expr surface (_groupby.py:1322): the derived bucket key
    is materialized as a key column, aggregated in one exchange, and
    sort=True orders the output by the keys."""
    od = tbl(spark, sf_dir, "orders")
    dec = od.assign(__p=F.col("o_totalprice").cast("decimal(18,2)"))
    bucket = (dec["o_custkey"] // 100).alias("cust_bucket")
    out = dec.groupby([bucket, "o_orderpriority"], sort=True).agg(
        n=("o_orderkey", "count"), revenue=("__p", "sum")
    )
    return out.to_spark().select(
        F.col("cust_bucket").cast("long").alias("cust_bucket"),
        "o_orderpriority",
        "n",
        F.col("revenue").cast("double").alias("revenue"),
    )


# -- explicit .cat categories (round 3: _categorical.py:21 parity) ------
CAT_EXPLICIT_SQL = """
SELECT o_orderkey,
       CAST(CASE o_orderpriority
            WHEN '3-MEDIUM' THEN 0 WHEN '1-URGENT' THEN 1 ELSE -1
       END AS INT) AS prio_code
FROM orders
"""


@query("cat_codes_explicit", CAT_EXPLICIT_SQL)
def cat_codes_explicit(spark, sf_dir):
    """set_categories + codes: explicit category order compiles to a
    literal map, membership misses -> -1 (pandas convention)."""
    od = tbl(spark, sf_dir, "orders")
    s = od.set_index("o_orderkey")["o_orderpriority"]
    codes = s.cat.set_categories(["3-MEDIUM", "1-URGENT"]).cat.codes
    return codes.to_frame().to_spark().withColumnRenamed(
        "o_orderpriority", "prio_code"
    )


# -- Series.mode, deterministic tie-break (reference: Mode,
#    _reductions.py:1270) ------------------------------------------------
MODE_SQL = """
SELECT o_orderpriority AS mode_o_orderpriority
FROM (SELECT o_orderpriority, count(*) AS n FROM orders
      GROUP BY o_orderpriority
      ORDER BY n DESC, o_orderpriority ASC LIMIT 1)
"""


@query("mode_order_priority", MODE_SQL)
def mode_order_priority(spark, sf_dir):
    """most frequent order priority — dropna=False path (deterministic
    count-desc/value-asc tie-break on both engines)."""
    o = tbl(spark, sf_dir, "orders")
    return o["o_orderpriority"].mode(dropna=False).to_spark()


# -- groupby head (reference: _groupby.py:858) --------------------------
GB_HEAD_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority
FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
                                   ORDER BY o_orderkey) AS rn
      FROM orders)
WHERE rn <= 3
"""


@query("groupby_head_orders", GB_HEAD_SQL)
def groupby_head_orders(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders")
    return o.groupby("o_orderstatus").head(3, order_by="o_orderkey").to_spark()


# -- groupby get_group (reference: _groupby.py:1095) --------------------
GET_GROUP_SQL = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
FROM customer WHERE c_mktsegment = 'BUILDING'
"""


@query("get_group_building", GET_GROUP_SQL)
def get_group_building(spark, sf_dir):
    c = tbl(spark, sf_dir, "customer")
    return c.groupby("c_mktsegment").get_group("BUILDING").to_spark()


# -- concat(axis=1) indexed alignment (reference: Concat _concat.py) ----
CONCAT1_SQL = """
SELECT c_nationkey, count(*) AS n_cust, max(c_acctbal) AS max_bal
FROM customer GROUP BY c_nationkey
"""


@query("concat_axis1_customer", CONCAT1_SQL)
def concat_axis1_customer(spark, sf_dir):
    import dask_expr_spark as dx
    c = tbl(spark, sf_dir, "customer")
    a = (c.groupby("c_nationkey").agg(n_cust=("c_custkey", "count"))
         .set_index("c_nationkey"))
    b = (c.groupby("c_nationkey").agg(max_bal=("c_acctbal", "max"))
         .set_index("c_nationkey"))
    return dx.concat([a, b], axis=1).to_spark()


# -- query() + eval() (reference: Query _expr.py:1186, Eval :1173) ------
QUERY_EVAL_SQL = """
SELECT o_orderkey, o_totalprice, o_totalprice / 1000.0 AS price_k
FROM orders WHERE o_totalprice > 200000 AND o_orderstatus = 'O'
"""


@query("query_eval_orders", QUERY_EVAL_SQL)
def query_eval_orders(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders")
    out = (o.query("o_totalprice > 200000 and o_orderstatus = 'O'")
            .eval("price_k = o_totalprice / 1000.0"))
    return out.to_spark().select("o_orderkey", "o_totalprice", "price_k")


# -- ufunc protocol (np.sqrt is IEEE-exact per row) ---------------------
UFUNC_SQL = """
SELECT p_partkey, sqrt(p_retailprice) AS root_price
FROM part WHERE p_partkey <= 500
"""


@query("ufunc_sqrt_price", UFUNC_SQL)
def ufunc_sqrt_price(spark, sf_dir):
    import numpy as np
    p = tbl(spark, sf_dir, "part")[["p_partkey", "p_retailprice"]]
    p = p[p["p_partkey"] <= 500]
    p = p.assign(root_price=np.sqrt(p["p_retailprice"]))
    return p.to_spark().select("p_partkey", "root_price")


# -- Series.dot (reference: _collection.py:5325) ------------------------
DOT_SQL = """
SELECT round(sum(l_quantity * l_discount), 2) AS dot_l_quantity_l_discount
FROM lineitem WHERE l_orderkey <= 1000
"""


@query("dot_qty_discount", DOT_SQL)
def dot_qty_discount(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    li = li[li["l_orderkey"] <= 1000]
    sc = li["l_quantity"].dot(li["l_discount"]).to_spark()
    col = sc.columns[0]
    return sc.select(F.round(F.col(col), 2).alias(col))


# -- Series.combine (reference: _collection.py:4251) --------------------
COMBINE_SQL = """
SELECT c_custkey, greatest(c_acctbal, CAST(c_custkey % 1000 AS DOUBLE))
           AS floored_bal
FROM customer
"""


@query("combine_max_balance", COMBINE_SQL)
def combine_max_balance(spark, sf_dir):
    c = tbl(spark, sf_dir, "customer")
    other = (c["c_custkey"] % 1000).astype("double")
    combined = c["c_acctbal"].combine(other, max)
    out = c.assign(floored_bal=combined)
    return out.to_spark().select("c_custkey", "floored_bal")


# -- is_monotonic_* (reference: _reductions.py:1519) --------------------
MONO_SQL = """
SELECT coalesce(bool_and(ok_k), TRUE) AS keys_monotonic,
       coalesce(bool_and(ok_p), TRUE) AS price_monotonic
FROM (SELECT o_totalprice >= lag(o_totalprice)
                 OVER (ORDER BY o_orderkey) AS ok_p,
             o_orderkey >= lag(o_orderkey)
                 OVER (ORDER BY o_orderkey) AS ok_k
      FROM orders)
WHERE ok_p IS NOT NULL
"""


@query("monotonic_orders", MONO_SQL)
def monotonic_orders(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders")
    keys = o["o_orderkey"].is_monotonic_increasing(order_by="o_orderkey")
    price = o["o_totalprice"].is_monotonic_increasing(order_by="o_orderkey")
    return (keys.to_spark().select(F.col("is_monotonic").alias("keys_monotonic"))
            .crossJoin(price.to_spark()
                       .select(F.col("is_monotonic").alias("price_monotonic"))))


# -- reduction(chunk, aggregate, combine=) ------------------------------
REDUCTION_SQL = f"""
SELECT {cent_avg_sql('l_extendedprice')} AS mean_price FROM lineitem
"""


@query("reduction_mean_price", REDUCTION_SQL)
def reduction_mean_price(spark, sf_dir):
    """custom tree reduction computing an exact mean via integer cents:
    chunk sums per partition, combine= merges partials, aggregate
    finishes — all-integer until the final division."""
    import pandas as pd
    li = tbl(spark, sf_dir, "lineitem")[["l_extendedprice"]]

    def chunk(pdf):
        cents = (pdf["l_extendedprice"] * 100).round().astype("int64")
        return pd.DataFrame({"cents": [cents.sum()], "n": [len(pdf)]})

    def merge(pdf):
        return pd.DataFrame({"cents": [pdf["cents"].sum()],
                             "n": [pdf["n"].sum()]})

    def aggregate(pdf):
        return pd.DataFrame(
            {"mean_price": [pdf["cents"].sum() / 100.0 / pdf["n"].sum()]})

    return li.reduction(chunk, aggregate,
                        chunk_schema="cents long, n long",
                        agg_schema="mean_price double",
                        combine=merge).to_spark()


# -- map_partitions (reference: _collection.py:985) ---------------------
MAP_PARTS_SQL = """
SELECT substr(md5(text), 1, 1) AS bucket, count(*) AS n
FROM documents GROUP BY bucket
"""


@query("map_partitions_md5", MAP_PARTS_SQL)
def map_partitions_md5(spark, sf_dir):
    """Arrow-batched partition UDF assigning an md5 bucket per doc —
    the python-side hash matches DuckDB's md5() exactly."""
    import hashlib

    import pandas as pd
    docs = tbl(spark, sf_dir, "documents")[["text"]]

    def fn(it):
        for pdf in it:
            yield pd.DataFrame({"bucket": [
                hashlib.md5(t.encode()).hexdigest()[0] for t in pdf["text"]
            ]})

    out = docs.map_partitions(fn, "bucket string")
    return out.to_spark().groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))


DROPNA_SQL = """
SELECT event_type, count(*) AS n
FROM (SELECT event_type,
             nullif(user_id % 7, 0) AS a,
             nullif(round(value), 50) AS b,
             nullif(event_id % 3, 1) AS c
      FROM events)
WHERE (CASE WHEN a IS NULL THEN 0 ELSE 1 END
     + CASE WHEN b IS NULL THEN 0 ELSE 1 END
     + CASE WHEN c IS NULL THEN 0 ELSE 1 END) >= 2
GROUP BY event_type
"""


@query("dropna_thresh_events", DROPNA_SQL)
def dropna_thresh_events(spark, sf_dir):
    """dropna(thresh=) keeps rows with >= thresh non-nulls among the
    subset (reference: Dropna, _expr.py; nulls injected with nullif
    because the testdata is dense)."""
    ev = tbl(spark, sf_dir, "events")
    ev = ev.assign(
        a=F.nullif(F.col("user_id") % 7, F.lit(0)),
        b=F.nullif(F.round(F.col("value")), F.lit(50.0)),
        c=F.nullif(F.col("event_id") % 3, F.lit(1)),
    )
    kept = ev.dropna(thresh=2, subset=["a", "b", "c"])
    return (kept.to_spark().groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n")))


# -- repartition invariance (reference: Repartition, _repartition.py:21):
#    count and column repartition must not change content --------------
REPARTITION_SQL = f"""
SELECT o_orderstatus, count(*) AS n,
       {cent_sum_sql('o_totalprice')} AS total
FROM orders GROUP BY o_orderstatus
"""


@query("repartition_invariance_orders", REPARTITION_SQL)
def repartition_invariance_orders(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders")
    o = o.repartition(7).repartition(4, "o_orderstatus")
    return (o.to_spark().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total")))


# -- shuffle(on) invariance (reference: RearrangeByColumn,
#    _shuffle.py:239) ---------------------------------------------------
SHUFFLE_SQL = f"""
SELECT l_linestatus, count(*) AS n,
       {cent_sum_sql('l_quantity')} AS total_qty
FROM lineitem GROUP BY l_linestatus
"""


@query("shuffle_on_invariance", SHUFFLE_SQL)
def shuffle_on_invariance(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")[
        ["l_suppkey", "l_linestatus", "l_quantity"]]
    li = li.shuffle(on="l_suppkey", npartitions=16)
    return (li.to_spark().groupBy("l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("l_quantity")).alias("total_qty")))


# -- persist / FromGraph (reference: FromGraph, _expr.py; persist
#    materializes the prefix — values must be unchanged) ---------------
PERSIST_SQL = f"""
SELECT c_mktsegment, count(*) AS n,
       {cent_sum_sql('c_acctbal')} AS total_bal
FROM customer WHERE c_acctbal > 0 GROUP BY c_mktsegment
"""


@query("persist_cached_agg", PERSIST_SQL)
def persist_cached_agg(spark, sf_dir):
    c = tbl(spark, sf_dir, "customer")
    c = c[c["c_acctbal"] > 0].persist()
    return (c.to_spark().groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("c_acctbal")).alias("total_bal")))


# -- enforce_runtime_divisions + sorted set_index/reset_index ----------
# reference: EnforceRuntimeDivisions (_expr.py), SetIndex sorted fast
# path — the runtime check must pass AND leave values untouched.
ENFORCE_SQL = f"""
SELECT count(*) AS n, {cent_sum_sql('o_totalprice')} AS total
FROM orders WHERE o_orderkey BETWEEN 1000 AND 50000
"""


@query("enforce_divisions_orders", ENFORCE_SQL)
def enforce_divisions_orders(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders")
    o = o.set_index("o_orderkey", sorted=True).enforce_runtime_divisions()
    o = o.reset_index()
    o = o[(o["o_orderkey"] >= 1000) & (o["o_orderkey"] <= 50000)]
    return o.to_spark().agg(
        F.count(F.lit(1)).alias("n"),
        cent_sum(F.col("o_totalprice")).alias("total"))


# -- lazy Len / Size footer (reference: Len/Size, _expr.py; the plan is
#    a count-star footer, asserted in test_plans) ----------------------
SIZE_SQL = """
SELECT (SELECT count(*) * 6 FROM orders) AS orders_size,
       (SELECT count(*) FROM lineitem) AS li_rows
"""


@query("size_len_scalars", SIZE_SQL)
def size_len_scalars(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem")
    sz = o.size.to_spark().withColumnRenamed("size", "orders_size")
    ln = (li["l_orderkey"].size.to_spark()
          .withColumnRenamed("size_l_orderkey", "li_rows"))
    return sz.crossJoin(ln)


# -- Series.to_frame (reference: ToFrame, _expr.py) --------------------
TOFRAME_SQL = f"""
SELECT count(*) AS n, {cent_sum_sql('l_extendedprice')} AS total
FROM lineitem
"""


@query("toframe_price_total", TOFRAME_SQL)
def toframe_price_total(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")
    f = li["l_extendedprice"].to_frame("price")
    return f.to_spark().agg(
        F.count(F.lit(1)).alias("n"),
        cent_sum(F.col("price")).alias("total"))


# -- bucketed catalog tables + exchange-free merge ---------------------
# reference: fully-indexed BlockwiseMerge (_merge.py) — to_table
# bucket_by pre-partitions both sides on the join key; the join then
# runs without an exchange (plan asserted in test_scale_ops).
BUCKETED_SQL = f"""
SELECT c_mktsegment, count(*) AS n,
       {cent_sum_sql('o_totalprice')} AS total
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c_mktsegment
"""


@query("bucketed_join_orders", BUCKETED_SQL)
def bucketed_join_orders(spark, sf_dir):
    import shutil
    from urllib.parse import urlparse

    from ..sources.io import from_table
    for t in ("q_cust_b", "q_ord_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        loc = urlparse(spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse")).path or "spark-warehouse"
        shutil.rmtree(os.path.join(loc, t), ignore_errors=True)
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    c.to_table("q_cust_b", bucket_by="c_custkey", num_buckets=8,
               sort_by="c_custkey")
    o.to_table("q_ord_b", bucket_by="o_custkey", num_buckets=8,
               sort_by="o_custkey")
    cb = from_table(spark, "q_cust_b")
    ob = from_table(spark, "q_ord_b")
    j = cb.merge(ob, left_on="c_custkey", right_on="o_custkey")
    return (j.to_spark().groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total")))


# -- groupby(observed=False) (reference: groupby options,
#    _groupby.py:1496): unobserved explicit categories emit rows with
#    pandas' empty-group identities (count→0, sum→0) -------------------
OBSERVED_SQL = """
WITH cats(seg) AS (VALUES ('AUTOMOBILE'), ('BUILDING'), ('FURNITURE'),
                          ('HOUSEHOLD'), ('MACHINERY'), ('SPACE')),
agg AS (SELECT c_mktsegment AS seg, count(*) AS n,
               sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS cents
        FROM customer GROUP BY c_mktsegment)
SELECT c.seg, coalesce(n, 0) AS n,
       CAST(coalesce(cents, 0) AS BIGINT) AS cents
FROM cats c LEFT JOIN agg USING (seg)
"""


@query("groupby_observed_false", OBSERVED_SQL)
def groupby_observed_false(spark, sf_dir):
    c = tbl(spark, sf_dir, "customer")
    c = c.assign(cents=F.round(F.col("c_acctbal") * 100).cast("long"))
    seg = c["c_mktsegment"].cat.set_categories(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY",
         "SPACE"])
    g = c.groupby(seg, observed=False).agg(
        n=("c_custkey", "count"), cents=("cents", "sum"))
    g = g.rename(columns={"c_mktsegment": "seg"})
    return g.to_spark().select("seg", "n", "cents")


# -- .dt.to_period labels (reference: _datetime.py:4 ToPeriod) ---------
PERIOD_SQL = f"""
SELECT strftime(o_orderdate, '%Y-%m') AS pm,
       concat(CAST(year(o_orderdate) AS VARCHAR), 'Q',
              CAST(quarter(o_orderdate) AS VARCHAR)) AS pq,
       count(*) AS n, {cent_sum_sql('o_totalprice')} AS total
FROM orders GROUP BY 1, 2
"""


@query("period_monthly_revenue", PERIOD_SQL)
def period_monthly_revenue(spark, sf_dir):
    o = tbl(spark, sf_dir, "orders")
    o = o.assign(pm=o["o_orderdate"].dt.to_period("M"),
                 pq=o["o_orderdate"].dt.to_period("Q"))
    return (o.to_spark().groupBy("pm", "pq")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total")))


# -- salted skew ops (task extension, operators/skew.py): salting must
#    be RESULT-INVARIANT — the oracle is the plain SQL join/agg --------
SALTED_AGG_SQL = f"""
SELECT l_suppkey, count(*) AS n,
       {cent_sum_sql('l_extendedprice')} AS total,
       CAST(min(l_quantity) AS DOUBLE) AS lo,
       CAST(max(l_quantity) AS DOUBLE) AS hi
FROM lineitem GROUP BY l_suppkey
"""


@query("salted_agg_suppkey", SALTED_AGG_SQL)
def salted_agg_suppkey(spark, sf_dir):
    from ..operators.skew import salted_agg
    li = tbl(spark, sf_dir, "lineitem")
    li = li.assign(cents=F.round(F.col("l_extendedprice") * 100).cast("long"))
    out = salted_agg(
        li, "l_suppkey",
        {"n": ("l_orderkey", "count"), "cents": ("cents", "sum"),
         "lo": ("l_quantity", "min"), "hi": ("l_quantity", "max")},
        salts=16)
    return out.to_spark().select(
        "l_suppkey", "n",
        (F.col("cents").cast("double") / 100.0).alias("total"),
        F.col("lo").cast("double"), F.col("hi").cast("double"))


SALTED_MERGE_SQL = f"""
SELECT c_mktsegment, count(*) AS n,
       {cent_sum_sql('o_totalprice')} AS total
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c_mktsegment
"""


@query("salted_merge_orders", SALTED_MERGE_SQL)
def salted_merge_orders(spark, sf_dir):
    from ..operators.skew import salted_merge
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer").rename(
        columns={"c_custkey": "o_custkey"})
    j = salted_merge(o, c, on="o_custkey", salts=8, salt_from="o_orderkey")
    return (j.to_spark().groupBy("c_mktsegment")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total")))


# -- recursive multi-frame merge (reference: JoinRecursive,
#    _merge.py:701) ----------------------------------------------------
RECURSIVE_SQL = """
SELECT r.r_name AS region, count(*) AS n_suppliers
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
"""


@query("merge_recursive_regions", RECURSIVE_SQL)
def merge_recursive_regions(spark, sf_dir):
    from ..operators.merge import merge_recursive
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation").rename(
        columns={"n_nationkey": "s_nationkey"})
    r = tbl(spark, sf_dir, "region").rename(
        columns={"r_regionkey": "n_regionkey"})
    j = merge_recursive([s, n, r])
    j = j.rename(columns={"r_name": "region"})
    return (j.to_spark().groupBy("region")
            .agg(F.count(F.lit(1)).alias("n_suppliers")))


# -- df.partitions[i] invariance (reference: FrameBase.partitions,
#    _collection.py:760) ------------------------------------------------
# Concatenating partitions[0], partitions[1:3] and partitions[3:] of a
# repartitioned frame must reproduce every row exactly once — a wrong
# spark_partition_id filter (off-by-one, overlap, gap) flips n or the
# exact total.
PARTITIONS_SQL = f"""
SELECT o_orderstatus, count(*) AS n,
       {cent_sum_sql('o_totalprice')} AS total
FROM orders GROUP BY o_orderstatus
"""


@query("partitions_concat_invariance", PARTITIONS_SQL)
def partitions_concat_invariance(spark, sf_dir):
    from .. import concat

    o = tbl(spark, sf_dir, "orders").repartition(6)
    pieces = [o.partitions[0], o.partitions[1:3], o.partitions[3:6]]
    u = concat(pieces)
    return (u.to_spark().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total")))


DIVISIONS_SQL = f"""
SELECT o_orderstatus, count(*) AS n,
       {cent_sum_sql('o_totalprice')} AS total
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("current_divisions_slice_concat", DIVISIONS_SQL)
def current_divisions_slice_concat(spark, sf_dir):
    """compute_current_divisions (reference: _collection.py:2303) on a
    range-partitioned sorted index, then loc-slice AT the computed
    boundaries and concat: divisions are per-partition [min, max], so
    loc[:d[k]] + loc[d[k]+1:] must reproduce the frame exactly (the
    index is the integer o_orderkey, so +1 is the next label).  The
    divisions collect is npartitions-bounded driver work — the same
    class as the reference's division sampling."""
    from .. import concat

    o = tbl(spark, sf_dir, "orders").set_index("o_orderkey")
    divs = o.compute_current_divisions()
    assert len(divs) >= 2 and list(divs) == sorted(divs)
    k = len(divs) // 2
    pieces = [o.loc[: divs[k]], o.loc[divs[k] + 1:]]
    u = concat(pieces).reset_index()
    return (u.to_spark().groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total"))
            .orderBy("o_orderstatus"))
