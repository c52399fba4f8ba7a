"""IO queries: writer/reader round-trips (CSV, JSON, parquet, ORC,
JDBC, records) and the literal and generated sources.  Each one
routes data through the operator under test and finishes with a
deterministic aggregate that the oracle computes straight from the
parquet views, so a lost or duplicated row flips the value hash.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from ._util import cent_sum, cent_sum_sql, query, tbl


# -- to_csv + read_csv round-trip (reference: io/csv.py) ----------------
CSV_RT_SQL = f"""
SELECT o_orderstatus, count(*) AS n,
       {cent_sum_sql('o_totalprice')} AS total
FROM orders GROUP BY o_orderstatus
"""


@query("csv_roundtrip_orders", CSV_RT_SQL)
def csv_roundtrip_orders(spark, sf_dir):
    """orders → CSV files → read back with an explicit schema →
    aggregate; proves the writer/reader pair preserves values (Spark
    round-trips doubles via shortest-repr)."""
    o = tbl(spark, sf_dir, "orders")[["o_orderkey", "o_custkey",
                                      "o_orderstatus", "o_totalprice"]]
    path = os.path.join(tempfile.gettempdir(), "rt_orders_csv")
    o.to_csv(path)
    from ..sources.io import read_csv
    back = read_csv(
        spark, path,
        schema="o_orderkey long, o_custkey long, o_orderstatus string, "
               "o_totalprice double")
    return (back.groupby("o_orderstatus")
            .agg(n=("o_orderkey", "count"))
            .to_spark()
            .join(back.to_spark().groupBy("o_orderstatus")
                  .agg(cent_sum(F.col("o_totalprice")).alias("total")),
                  "o_orderstatus"))


# -- to_json + read_json round-trip (reference: io/json.py) -------------
JSON_RT_SQL = f"""
SELECT event_type, count(*) AS n,
       {cent_sum_sql('value')} AS total_value
FROM events GROUP BY event_type
"""


@query("json_roundtrip_events", JSON_RT_SQL)
def json_roundtrip_events(spark, sf_dir):
    ev = tbl(spark, sf_dir, "events")[["event_id", "user_id",
                                       "event_type", "value"]]
    path = os.path.join(tempfile.gettempdir(), "rt_events_json")
    ev.to_json(path)
    from ..sources.io import read_json
    back = read_json(
        spark, path,
        schema="event_id long, user_id long, event_type string, value double")
    sdf = back.to_spark().groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        cent_sum(F.col("value")).alias("total_value"))
    return sdf


SOURCES_SQL = """
SELECT * FROM (VALUES
  ('pandas', 1, 10.5), ('pandas', 2, 20.5),
  ('dict',   1, 1.25), ('dict',   2, 2.5),
  ('map',    0, 0.0),  ('map',    1, 100.0), ('map', 2, 200.0)
) AS t(src, k, v)
"""


@query("sources_literal_union", SOURCES_SQL)
def sources_literal_union(spark, sf_dir):
    """from_pandas + from_dict + from_map constructors, unioned
    (reference: FromPandas io/io.py:387, from_dict, FromMap io/io.py
    — the driver-side data paths)."""
    import pandas as pd

    import dask_expr_spark as dx
    p1 = dx.from_pandas(
        spark, pd.DataFrame({"src": ["pandas", "pandas"], "k": [1, 2],
                             "v": [10.5, 20.5]}), npartitions=2)
    p2 = dx.from_dict(spark, {"src": ["dict", "dict"], "k": [1, 2],
                              "v": [1.25, 2.5]}, npartitions=1)

    def make(i: int) -> pd.DataFrame:
        return pd.DataFrame({"src": ["map"], "k": [i], "v": [i * 100.0]})

    p3 = dx.from_map(spark, make, [0, 1, 2],
                     schema="src string, k long, v double")
    return dx.concat([p1, p2, p3]).to_spark().select("src", "k", "v")


# -- to_parquet (partitioned) + read_parquet round-trip -----------------
# reference: ToParquet io/parquet.py; partition_by exercises the hive
# layout so partition values survive the directory-encoding round-trip.
PARQUET_RT_SQL = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       {cent_sum_sql('l_extendedprice')} AS total_price
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


@query("parquet_roundtrip_lineitem", PARQUET_RT_SQL)
def parquet_roundtrip_lineitem(spark, sf_dir):
    li = tbl(spark, sf_dir, "lineitem")[
        ["l_orderkey", "l_returnflag", "l_linestatus", "l_extendedprice"]]
    path = os.path.join(tempfile.gettempdir(), "rt_lineitem_parquet")
    li.to_parquet(path, partition_by="l_returnflag")
    from ..sources.io import read_parquet
    back = read_parquet(spark, path)
    return (back.to_spark().groupBy("l_returnflag", "l_linestatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("l_extendedprice")).alias("total_price")))


# -- to_orc + read_orc round-trip (reference: io/orc.py) ----------------
ORC_RT_SQL = f"""
SELECT s_nationkey, count(*) AS n,
       {cent_sum_sql('s_acctbal')} AS total_bal
FROM supplier GROUP BY s_nationkey
"""


@query("orc_roundtrip_supplier", ORC_RT_SQL)
def orc_roundtrip_supplier(spark, sf_dir):
    s = tbl(spark, sf_dir, "supplier")
    path = os.path.join(tempfile.gettempdir(), "rt_supplier_orc")
    s.to_orc(path)
    from ..sources.io import read_orc
    back = read_orc(spark, path)
    return (back.to_spark().groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("s_acctbal")).alias("total_bal")))


# -- from_array (reference: FromArray, io/io.py:600) --------------------
FROM_ARRAY_SQL = """
SELECT CAST(i*3 AS BIGINT) AS a, CAST(i*3+1 AS BIGINT) AS b,
       CAST(i*3+2 AS BIGINT) AS c
FROM range(8) t(i)
"""


@query("sources_from_array", FROM_ARRAY_SQL)
def sources_from_array(spark, sf_dir):
    import numpy as np

    from ..sources.io import from_array
    arr = np.arange(24, dtype="int64").reshape(8, 3)
    df = from_array(spark, arr, columns=["a", "b", "c"], npartitions=2)
    return df.to_spark().select("a", "b", "c")


# -- divisions repartition (reference: FromPandasDivisions /
#    Repartition(divisions=), _repartition.py:21): content must be
#    preserved bit-for-bit across the range repartition ----------------
DIVISIONS_SQL = """
SELECT i % 5 AS g, CAST(sum((i*i) % 17) AS BIGINT) AS total, count(*) AS n
FROM range(100) t(i) GROUP BY i % 5
"""


@query("sources_divisions_repartition", DIVISIONS_SQL)
def sources_divisions_repartition(spark, sf_dir):
    import pandas as pd

    import dask_expr_spark as dx
    pdf = pd.DataFrame({"k": range(100), "v": [(i * i) % 17 for i in range(100)]})
    df = dx.from_pandas(spark, pdf, npartitions=3, index_col="k")
    df = df.repartition(divisions=[0, 25, 50, 75, 100])
    df = df.reset_index()
    df = df.assign(g=F.col("k") % 5)
    return (df.to_spark().groupBy("g")
            .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")))


# -- timeseries (reference: datasets.py:17 Timeseries): deterministic
#    per seed, so the oracle is the precomputed constant aggregate
#    (Murmur3 hashes aren't reproducible in DuckDB) --------------------
TIMESERIES_SQL = """
SELECT CAST(1440 AS BIGINT) AS n, CAST(706964 AS BIGINT) AS sum_id,
       CAST(18157 AS BIGINT) AS sum_name,
       CAST(-2550597 AS BIGINT) AS sum_x6, CAST(-3877864 AS BIGINT) AS sum_y6
"""


@query("timeseries_stats", TIMESERIES_SQL)
def timeseries_stats(spark, sf_dir):
    from ..sources.io import timeseries
    ts = timeseries(spark, "2000-01-01", "2000-01-02", freq_seconds=60, seed=7)
    return ts.to_spark().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("sum_id"),
        F.sum("name_code").alias("sum_name"),
        F.sum(F.round(F.col("x") * 1000000).cast("long")).alias("sum_x6"),
        F.sum(F.round(F.col("y") * 1000000).cast("long")).alias("sum_y6"))


# -- to_records + iterrows driver-side converters ----------------------
# reference: to_records _collection.py:1420, iterrows _collection.py:1378.
# Tiny dims (25 + 5 rows) round-trip through the driver and rebuild as a
# frame; the oracle is the straight join.
RECORDS_SQL = """
SELECT n.n_name, r.r_name AS region
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
"""


@query("records_roundtrip_nation", RECORDS_SQL)
def records_roundtrip_nation(spark, sf_dir):
    import pandas as pd

    import dask_expr_spark as dx
    nat_records = tbl(spark, sf_dir, "nation").to_records()
    nat = dx.from_pandas(spark, pd.DataFrame.from_records(nat_records).drop(
        columns=["index"], errors="ignore"), npartitions=1)
    reg_rows = [d for _i, d in tbl(spark, sf_dir, "region").iterrows()]
    reg = dx.from_pandas(spark, pd.DataFrame(reg_rows), npartitions=1)
    j = nat.merge(reg, left_on="n_regionkey", right_on="r_regionkey")
    j = j.rename(columns={"r_name": "region"})
    return j.to_spark().select("n_name", "region")


# -- JDBC to_sql + read_jdbc round-trip (reference: io/sql.py) ----------
# Derby embedded (bundled with Spark for its Hive metastore) plays the
# database; partition_column exercises the 4-way parallel JDBC scan.
JDBC_SQL = f"""
SELECT s_nationkey, count(*) AS n,
       {cent_sum_sql('s_acctbal')} AS total_bal
FROM supplier GROUP BY s_nationkey
"""


@query("jdbc_roundtrip_supplier", JDBC_SQL)
def jdbc_roundtrip_supplier(spark, sf_dir):
    from ..sources.io import read_jdbc
    s = tbl(spark, sf_dir, "supplier")
    url = "jdbc:derby:memory:dx_q_jdbc;create=true"
    drv = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    s.to_sql("supplier_rt", url, mode="overwrite", **drv)
    hi = s["s_suppkey"].max().compute()
    back = read_jdbc(spark, url, "supplier_rt",
                     partition_column="s_suppkey", num_partitions=4,
                     lower_bound=0, upper_bound=int(hi) + 1, **drv)
    return (back.to_spark().groupBy("s_nationkey")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("s_acctbal")).alias("total_bal")))


# -- clustered parquet write (sort_by= + cluster=) ----------------------
# reference: to_parquet writes a sorted index with known divisions
# (io/parquet.py:337); the Spark analogue is range-partition + sort
# within files so footer min/max stats prune files/row-groups.  The
# oracle aggregates the same date slice straight from the source, so a
# row lost or duplicated by the range shuffle + sorted write flips the
# value hash.
CLUSTERED_RT_SQL = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
GROUP BY o_orderpriority
"""


@query("parquet_clustered_roundtrip", CLUSTERED_RT_SQL)
def parquet_clustered_roundtrip(spark, sf_dir):
    import os
    import tempfile

    o = tbl(spark, sf_dir, "orders")[
        ["o_orderdate", "o_orderpriority", "o_totalprice"]]
    path = os.path.join(tempfile.gettempdir(), "rt_orders_clustered")
    o.to_parquet(path, sort_by="o_orderdate", cluster=True)
    from ..sources.io import read_parquet

    back = read_parquet(spark, path)
    back = back[(back["o_orderdate"] >= "1995-01-01")
                & (back["o_orderdate"] < "1996-01-01")]
    return (back.to_spark().groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total")))


ZORDER_RT_SQL = """
SELECT o_orderpriority, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
FROM orders
WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
  AND o_totalprice > 150000.0
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("parquet_zorder_roundtrip", ZORDER_RT_SQL)
def parquet_zorder_roundtrip(spark, sf_dir):
    """Z-ordered write (cluster='zorder', sources/layout.py) → read
    back → filter on BOTH z dimensions → aggregate.  The oracle runs
    the same slice on the source table, so any row lost/duplicated by
    the quantile bucketing, bit interleave, or range shuffle flips the
    hash.  (File-level clustering quality is asserted separately in
    tests/test_io.py.)"""
    import os
    import tempfile

    from ..sources.io import read_parquet
    from ._util import cent_sum

    o = tbl(spark, sf_dir, "orders")[
        ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"]]
    path = os.path.join(tempfile.gettempdir(), "rt_orders_zorder")
    o.to_parquet(path, sort_by=["o_orderdate", "o_totalprice"],
                 cluster="zorder")
    back = read_parquet(spark, path)
    back = back[(back["o_orderdate"] >= "1995-01-01")
                & (back["o_orderdate"] < "1996-01-01")
                & (back["o_totalprice"] > 150000.0)]
    return (back.to_spark().groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total"))
            .orderBy("o_orderpriority"))
