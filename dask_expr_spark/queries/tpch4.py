"""Fourth TPC-H-style batch — the last three of the 22 classic shapes
(Q2, Q11, Q20), adapted to the slimmed driver schema exactly like
tpch3.py: there is no partsupp table, so the part↔supplier relation is
DERIVED from lineitem (a supplier "supplies" a part iff they shipped
it), with unit cost = min observed l_extendedprice/l_quantity and
"stock" = shipped quantity/value. The query SHAPES are preserved:

- Q2  — correlated-min subquery (min-cost supplier per part within a
  region), resolved as a per-part min aggregate broadcast-joined back;
- Q11 — group-sum vs scalar-fraction-of-total filter (1-row broadcast
  cross join, no driver round-trip);
- Q20 — nested semi-join on a correlated half-of-total threshold.

reference parity: these are merge + groupby-reduction + scalar-filter
compositions (dask-expr _merge.py:50, _groupby.py:430,
_reductions.py:355); the reference runs the same shapes through its
Expr graph, here Catalyst gets the whole plan declaratively.

Scale notes (100 TB): the only wide stages are the lineitem
aggregations keyed on (partkey[, suppkey]) — map-side partial
aggregation applies; everything joined after aggregation is
dim-or-smaller and broadcast. Exact fixed-point (cent) arithmetic is
used for every sum that feeds a comparison, so the threshold filters
are engine-exact (see _util.cent_sum).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ._util import query, tbl


Q2_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey,
         min(round(l_extendedprice / l_quantity, 4)) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
cost AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, unit_cost
  FROM ps
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE' AND p_type = 'STANDARD' AND p_size <= 10
),
mc AS (SELECT p_partkey, min(unit_cost) AS mc FROM cost GROUP BY 1)
SELECT s_acctbal, s_name, n_name, cost.p_partkey AS p_partkey, p_brand,
       unit_cost AS min_cost
FROM cost JOIN mc ON cost.p_partkey = mc.p_partkey AND unit_cost = mc.mc
ORDER BY s_acctbal DESC, n_name, s_name, cost.p_partkey
"""


@query("q2_min_cost_supplier", Q2_SQL)
def q2_min_cost_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each STANDARD part of size ≤ 10, the
    EUROPE supplier(s) offering it at the minimum unit cost.

    unit cost := min(round(l_extendedprice / l_quantity, 4)) over that
    supplier's shipments of the part (the derived partsupp). The
    correlated min becomes a per-part window min over the aggregated
    cost frame — NOT an agg + join-back, which Catalyst compiles as
    two copies of the whole lineitem-agg subtree (round-5 plan audit:
    the join-back version scanned and aggregated lineitem TWICE; the
    window shuffles only the post-aggregation frame, bounded by
    qualifying parts × suppliers, and the fact table is read once)."""
    li = tbl(spark, sf_dir, "lineitem").to_spark()
    part = tbl(spark, sf_dir, "part").to_spark()
    supp = tbl(spark, sf_dir, "supplier").to_spark()
    nation = tbl(spark, sf_dir, "nation").to_spark()
    region = tbl(spark, sf_dir, "region").to_spark()

    # derived partsupp: one wide stage, keyed (partkey, suppkey)
    ps = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.min(F.round(F.col("l_extendedprice") / F.col("l_quantity"),
                               4)).alias("unit_cost")))

    eur_supp = (supp
                .join(F.broadcast(nation),
                      supp.s_nationkey == nation.n_nationkey)
                .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
                      F.col("n_regionkey") == F.col("r_regionkey")))
    target = part.filter((F.col("p_type") == "STANDARD")
                         & (F.col("p_size") <= 10))

    cost = (ps.join(F.broadcast(target),
                    ps.l_partkey == target.p_partkey)
              .join(F.broadcast(eur_supp),
                    ps.l_suppkey == F.col("s_suppkey")))
    from pyspark.sql.window import Window

    w = Window.partitionBy("p_partkey")
    return (cost.withColumn("mc", F.min("unit_cost").over(w))
                .filter(F.col("unit_cost") == F.col("mc"))
                .select(F.col("s_acctbal"), F.col("s_name"), F.col("n_name"),
                        F.col("p_partkey"), F.col("p_brand"),
                        F.col("unit_cost").alias("min_cost"))
                .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name",
                         "p_partkey"))


Q11_SQL = """
WITH v AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS vc
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY 1
)
SELECT l_partkey, CAST(vc AS DOUBLE) / 100.0 AS value
FROM v
WHERE CAST(vc AS DOUBLE) > 0.001 * (SELECT CAST(sum(vc) AS DOUBLE) FROM v)
ORDER BY value DESC, l_partkey
"""


@query("q11_important_stock", Q11_SQL)
def q11_important_stock(spark, sf_dir):
    """TPC-H Q11 shape: parts whose shipped value from NATION_7
    suppliers exceeds 0.1% of the total such value.

    Value sums run in exact cents (BIGINT) so the fraction threshold
    compares identically across engines; the grand total is a 1-row
    broadcast cross join, never a driver round-trip.  The per-part
    value frame is persist()ed: it feeds two consumers (the rows and
    their grand total) and Catalyst otherwise duplicates the whole
    fact-scan+join+agg subtree per consumer (round-5 plan audit:
    2 lineitem scans, no AQE stage reuse because the consumers prune
    different columns).  The cached frame is part-cardinality — a
    dimension-scale frame, safe to pin even at 100 TB — unlike the
    raw-fact caches the engine deliberately avoids."""
    li = tbl(spark, sf_dir, "lineitem").to_spark()
    supp = tbl(spark, sf_dir, "supplier").to_spark()
    nation = tbl(spark, sf_dir, "nation").to_spark()

    n7_supp = (supp.join(
        F.broadcast(nation.filter(F.col("n_name") == "NATION_7")),
        supp.s_nationkey == nation.n_nationkey).select("s_suppkey"))
    vc = (li.join(F.broadcast(n7_supp), li.l_suppkey == F.col("s_suppkey"))
            .groupBy("l_partkey")
            .agg(F.sum(F.round(F.col("l_extendedprice") * 100)
                       .cast("long")).alias("vc"))
            .persist())
    total = vc.agg(F.sum("vc").alias("tot"))
    return (vc.join(F.broadcast(total))
              .filter(F.col("vc").cast("double")
                      > F.lit(0.001) * F.col("tot").cast("double"))
              .select(F.col("l_partkey"),
                      (F.col("vc").cast("double") / 100.0).alias("value"))
              .orderBy(F.col("value").desc(), "l_partkey"))


Q20_SQL = """
WITH q AS (
  SELECT l_suppkey, l_partkey,
         sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qsp
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'cold%' AND EXTRACT(year FROM l_shipdate) = 1997
  GROUP BY 1, 2
),
p AS (SELECT l_partkey, sum(qsp) AS qp FROM q GROUP BY 1)
SELECT s_name, s_acctbal
FROM supplier
WHERE s_suppkey IN (
  SELECT l_suppkey FROM q JOIN p USING (l_partkey)
  WHERE CAST(qsp AS DOUBLE) > 0.5 * CAST(qp AS DOUBLE))
ORDER BY s_name
"""


@query("q20_potential_promotion", Q20_SQL)
def q20_potential_promotion(spark, sf_dir):
    """TPC-H Q20 shape: suppliers who dominated shipments of a
    'cold'-named part in 1997 — per (supplier, part) shipped quantity
    above half that part's total for the year — as a semi-join onto
    the supplier dim.

    The per-part total is a window sum over the (supplier, part)
    aggregate — NOT an agg + join-back, which Catalyst compiles as two
    copies of the fact-agg subtree (same round-5 audit finding as Q2);
    one lineitem scan, window over the post-aggregation frame only.
    Quantity sums in exact cents so the half-of-total comparison is
    engine-exact."""
    li = tbl(spark, sf_dir, "lineitem").to_spark()
    part = tbl(spark, sf_dir, "part").to_spark()
    supp = tbl(spark, sf_dir, "supplier").to_spark()

    cold = part.filter(F.col("p_name").like("cold%")).select("p_partkey")
    q_sp = (li.filter(F.year("l_shipdate") == 1997)
              .join(F.broadcast(cold), li.l_partkey == F.col("p_partkey"))
              .groupBy("l_suppkey", "l_partkey")
              .agg(F.sum(F.round(F.col("l_quantity") * 100)
                         .cast("long")).alias("qsp")))
    from pyspark.sql.window import Window

    w = Window.partitionBy("l_partkey")
    dominant = (q_sp.withColumn("qp", F.sum("qsp").over(w))
                    .filter(F.col("qsp").cast("double")
                            > F.lit(0.5) * F.col("qp").cast("double"))
                    .select("l_suppkey"))
    return (supp.join(dominant, supp.s_suppkey == F.col("l_suppkey"),
                      "left_semi")
                .select("s_name", "s_acctbal")
                .orderBy("s_name"))
