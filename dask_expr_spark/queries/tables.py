"""Commit-layer queries: upserts (SCD-1, partitioned, bucketed,
pointer), delete_where, compaction, versioned snapshots and time
travel, zone maps, SCD-2 history, change feeds and the pointer
protocol's generation CAS.

Oracle discipline: merges, deletes and change feeds reproduce
exactly in SQL; commit-layer invariants (untouched manifest entries,
zero renames, files_read == survivors, loser raised, rebase landed)
are asserted in-query as boolean columns the oracle pins TRUE.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from ._util import cent_sum, cent_sum_sql, query, tbl


# -- SCD-1 upsert (functions/maintenance.py upsert): updates replace,
#    inserts append, intra-batch duplicate keys resolved by order_col
#    (highest version wins) — aggregate answer is hash-exact -----------
UPSERT_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 200.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey + 3000000, o_custkey, o_orderstatus,
         o_totalprice + 200.0, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 97 = 0
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       CAST(count(*) FILTER (WHERE o_orderkey > 3000000) AS BIGINT)
         AS n_inserted
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("upsert_orders_scd1", UPSERT_SQL)
def upsert_orders_scd1(spark, sf_dir):
    """two versions of each update row land in the batch (v1 +100,
    v2 +200); order_col='__v' must pick v2, same-key target rows are
    replaced, and the +3000000 synthetic keys insert."""
    from ..functions.maintenance import upsert

    o = tbl(spark, sf_dir, "orders").to_spark()
    base = o.where(F.col("o_orderkey") % 97 == 0)
    inserts = base.withColumn("o_orderkey",
                              F.col("o_orderkey") + 3000000)
    v1 = (base.unionByName(inserts)
          .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
          .withColumn("__v", F.lit(1)))
    v2 = (base.unionByName(inserts)
          .withColumn("o_totalprice", F.col("o_totalprice") + 200.0)
          .withColumn("__v", F.lit(2)))
    res = upsert(o, v1.unionByName(v2), ["o_orderkey"], order_col="__v")
    return (res.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total"),
                 F.count_if(F.col("o_orderkey") > 3000000)
                 .alias("n_inserted"))
            .orderBy("o_orderstatus"))


# -- partition-pruned upsert-in-place (maintenance.upsert_partitioned):
#    hive-partitioned parquet roundtrip where only the touched
#    partitions are read and rewritten; untouched partition FILES are
#    asserted byte-identical (name+size snapshot) ----------------------
UPSERT_PART_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 500.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders
  WHERE o_orderkey % 53 = 0
    AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS touched_ok, TRUE AS untouched_ok
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("upsert_partitioned_roundtrip", UPSERT_PART_SQL)
def upsert_partitioned_roundtrip(spark, sf_dir):
    from ..functions.maintenance import upsert_partitioned

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="upsert_part_")
    path = os.path.join(tmp, "t")
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))

        def _snapshot():
            out = {}
            for root, _dirs, files in os.walk(path):
                for fn in files:
                    if fn.endswith(".parquet"):
                        p = os.path.join(root, fn)
                        out[p] = os.path.getsize(p)
            return out

        before = _snapshot()
        updates = (o.where((F.col("o_orderkey") % 53 == 0)
                           & F.col("o_orderpriority").isin(
                               "1-URGENT", "3-MEDIUM"))
                   .withColumn("o_totalprice",
                               F.col("o_totalprice") + 500.0))
        touched = upsert_partitioned(spark, path, updates,
                                     ["o_orderkey"], "o_orderpriority")
        after = _snapshot()
        touched_dirs = tuple(f"o_orderpriority={t}" for t in touched)
        untouched_ok = all(
            before.get(p) == sz for p, sz in after.items()
            if not any(d in p for d in touched_dirs)) and all(
            p in after for p in before
            if not any(d in p for d in touched_dirs))
        touched_ok = sorted(touched) == ["1-URGENT", "3-MEDIUM"]
        back = spark.read.parquet(path)
        result = (back.groupBy("o_orderstatus")
                  .agg(F.count(F.lit(1)).alias("n"),
                       cent_sum(F.col("o_totalprice")).alias("total"))
                  .withColumn("touched_ok", F.lit(bool(touched_ok)))
                  .withColumn("untouched_ok", F.lit(bool(untouched_ok)))
                  .orderBy("o_orderstatus"))
        return spark.createDataFrame(result.collect(), result.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- table_diff (maintenance.table_diff): audit the SCD-1 upsert — the
#    oracle derives the expected counts from first principles (every
#    %97 key changes price, every +3000000 key is added, nothing is
#    removed) ---------------------------------------------------------
DIFF_SQL = """
WITH u AS (SELECT CAST(count(*) AS BIGINT) AS c
           FROM orders WHERE o_orderkey % 97 = 0),
t AS (SELECT CAST(count(*) AS BIGINT) AS n FROM orders)
SELECT u.c AS n_added, CAST(0 AS BIGINT) AS n_removed,
       u.c AS n_changed, t.n - u.c AS n_unchanged
FROM u, t
"""


@query("diff_after_upsert", DIFF_SQL)
def diff_after_upsert(spark, sf_dir):
    from ..functions.maintenance import table_diff, upsert

    o = tbl(spark, sf_dir, "orders").to_spark()
    base = o.where(F.col("o_orderkey") % 97 == 0)
    upd = (base.unionByName(
        base.withColumn("o_orderkey", F.col("o_orderkey") + 3000000))
        .withColumn("o_totalprice", F.col("o_totalprice") + 200.0))
    after = upsert(o, upd, ["o_orderkey"])
    return table_diff(o, after, ["o_orderkey"])


# -- small-file compaction (maintenance.compact_parquet): 64 shard
#    files fold to the byte-targeted count; the data is byte-identical
#    (the aggregate hash proves it) and the file counts are flagged ---
COMPACT_SQL = f"""
SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('l_extendedprice')} AS total,
       TRUE AS compacted_ok
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("compact_roundtrip_lineitem", COMPACT_SQL)
def compact_roundtrip_lineitem(spark, sf_dir):
    from ..functions.maintenance import compact_parquet

    li = tbl(spark, sf_dir, "lineitem").to_spark()
    tmp = tempfile.mkdtemp(prefix="compact_")
    path = os.path.join(tmp, "t")
    try:
        li.repartition(64).write.mode("overwrite").parquet(path)
        before, after = compact_parquet(spark, path, target_mb=64)
        back = spark.read.parquet(path)
        ok = before == 64 and after < before
        out = (back.groupBy("l_returnflag")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("l_extendedprice")).alias("total"))
               .withColumn("compacted_ok", F.lit(bool(ok)))
               .orderBy("l_returnflag"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- key-bucketed upsert (maintenance.write_bucketed/upsert_bucketed):
#    an unpartitioned table gets partition-pruned merges via md5 hive
#    buckets; the touched-bucket COUNT is md5-deterministic and
#    reproduces exactly in SQL, untouched bucket FILES are asserted
#    byte-identical ---------------------------------------------------
_NB = 16
_BKT_SQL_EXPR = ("('0x' || substr(md5('bkt:' || CAST({k} AS VARCHAR)), "
                 f"1, 15))::BIGINT % {_NB}")

UPSERT_BUCKETED_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 500.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 53 = 0
  UNION ALL
  SELECT o_orderkey + 3000000, o_custkey, o_orderstatus,
         o_totalprice + 500.0, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 53 = 0
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
),
nb AS (
  SELECT CAST(count(DISTINCT {_BKT_SQL_EXPR.format(k='o_orderkey')})
              AS BIGINT) AS n_buckets_touched
  FROM upd
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       min(nb.n_buckets_touched) AS n_buckets_touched,
       TRUE AS untouched_ok
FROM merged, nb GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("upsert_bucketed_roundtrip", UPSERT_BUCKETED_SQL)
def upsert_bucketed_roundtrip(spark, sf_dir):
    import glob

    from ..functions.maintenance import (read_bucketed, upsert_bucketed,
                                         write_bucketed)

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="upsert_bkt_")
    path = os.path.join(tmp, "t")
    try:
        write_bucketed(o, path, ["o_orderkey"], _NB)
        before = {f: os.path.getsize(f)
                  for f in glob.glob(path + "/__bucket=*/*.parquet")}
        base = o.where(F.col("o_orderkey") % 53 == 0)
        updates = (base.unionByName(
            base.withColumn("o_orderkey", F.col("o_orderkey") + 3000000))
            .withColumn("o_totalprice", F.col("o_totalprice") + 500.0))
        touched = upsert_bucketed(spark, path, updates, ["o_orderkey"])
        after = {f: os.path.getsize(f)
                 for f in glob.glob(path + "/__bucket=*/*.parquet")}
        tdirs = tuple(f"__bucket={b}{os.sep}" for b in touched)
        untouched_ok = all(
            before.get(f) == sz for f, sz in after.items()
            if not any(d in f for d in tdirs)) and all(
            f in after for f in before
            if not any(d in f for d in tdirs))
        back = read_bucketed(spark, path)
        out = (back.groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .withColumn("n_buckets_touched",
                           F.lit(len(touched)).cast("long"))
               .withColumn("untouched_ok", F.lit(bool(untouched_ok)))
               .orderBy("o_orderstatus"))
        # collect is QUERY-WRAPPER-only, bounded by the 3-row status
        # aggregate: the temp table is deleted in `finally`, so a lazy
        # frame would read a vanished path.  The operator itself
        # (upsert_bucketed) never collects — don't copy this pattern
        # into operator code for unbounded results.
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- versioned snapshots (maintenance.snapshot_write/read/vacuum): the
#    manifest-pointer commit protocol — three commits, every historic
#    version time-travel-readable, vacuum drops the oldest and keeps
#    the rest; per-version aggregates reconstruct in SQL from first
#    principles ------------------------------------------------------
SNAPSHOT_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_totalprice + 200.0 AS o_totalprice
  FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey + 3000000, o_totalprice + 200.0
  FROM orders WHERE o_orderkey % 97 = 0
),
v1 AS (
  SELECT o_orderkey, o_totalprice FROM upd
  UNION ALL
  SELECT o.o_orderkey, o.o_totalprice FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
),
states AS (
  SELECT 0 AS version, o_orderkey, o_totalprice FROM orders
  UNION ALL
  SELECT 1, o_orderkey, o_totalprice FROM v1
  UNION ALL
  SELECT 2, o_orderkey, o_totalprice FROM v1 WHERE o_orderkey % 5 <> 0
)
SELECT CAST(version AS BIGINT) AS version,
       CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS vacuum_ok
FROM states GROUP BY version ORDER BY version
"""


@query("snapshot_time_travel", SNAPSHOT_SQL)
def snapshot_time_travel(spark, sf_dir):
    """three commits to a snapshot table (base, SCD-1 upsert, delete),
    read back by VERSION — time travel over the manifest pointer; then
    vacuum(keep=2) must drop exactly v0 and keep v1/v2 readable."""
    from ..functions.maintenance import (snapshot_read, snapshot_vacuum,
                                         snapshot_write, upsert)

    o = (tbl(spark, sf_dir, "orders").to_spark()
         .select("o_orderkey", "o_totalprice"))
    tmp = tempfile.mkdtemp(prefix="snap_tt_")
    path = os.path.join(tmp, "t")
    try:
        snapshot_write(o, path)
        base = o.where(F.col("o_orderkey") % 97 == 0)
        upd = (base.unionByName(
            base.withColumn("o_orderkey", F.col("o_orderkey") + 3000000))
            .withColumn("o_totalprice", F.col("o_totalprice") + 200.0))
        v1 = upsert(snapshot_read(spark, path, 0), upd, ["o_orderkey"])
        snapshot_write(v1, path)
        v2 = (snapshot_read(spark, path, 1)
              .where(F.col("o_orderkey") % 5 != 0))
        snapshot_write(v2, path)
        per_v = [
            snapshot_read(spark, path, v)
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total"))
            .withColumn("version", F.lit(v).cast("long"))
            for v in (0, 1, 2)]
        rows = per_v[0].unionByName(per_v[1]).unionByName(per_v[2]) \
            .collect()
        dropped = snapshot_vacuum(path, keep=2)
        v0_gone = False
        try:
            snapshot_read(spark, path, 0)
        except ValueError:
            v0_gone = True
        vacuum_ok = (dropped == [0] and v0_gone
                     and snapshot_read(spark, path, 1) is not None
                     and snapshot_read(spark, path, 2) is not None)
        out = spark.createDataFrame(
            [(r["version"], r["n"], r["total"], bool(vacuum_ok))
             for r in rows],
            "version long, n long, total double, vacuum_ok boolean")
        return out.orderBy("version")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- per-directory compaction targets (maintenance.compact_parquet
#    with partition_col, the round-6 ADVICE fix): each hive dir folds
#    to its own byte target (here: exactly 1 file), the data is
#    byte-identical, and the crash-safe swap leaves no debris ---------
COMPACT_PART_SQL = f"""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS per_dir_ok, TRUE AS reduced_ok
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("compact_partitioned_files", COMPACT_PART_SQL)
def compact_partitioned_files(spark, sf_dir):
    import glob

    from ..functions.maintenance import compact_parquet

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="compact_part_")
    path = os.path.join(tmp, "t")
    try:
        (o.repartition(24).write.mode("overwrite")
         .partitionBy("o_orderstatus").parquet(path))
        before, after = compact_parquet(spark, path, target_mb=512,
                                        partition_col="o_orderstatus")
        dirs = glob.glob(path + "/o_orderstatus=*")
        per_dir_ok = all(
            len(glob.glob(d + "/*.parquet")) == 1 for d in dirs)
        reduced_ok = (after == len(dirs) and before > after
                      and not os.path.isdir(path + "__new")
                      and not os.path.isdir(path + "__old"))
        back = spark.read.parquet(path)
        out = (back.groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .withColumn("per_dir_ok", F.lit(bool(per_dir_ok)))
               .withColumn("reduced_ok", F.lit(bool(reduced_ok)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- SCD-2 history upsert (maintenance.upsert_scd2): two update
#    batches over an initialized history — change detection, no-op
#    collapse, chained versioning (every %21 key is a %7 key, so it
#    versions twice) — the full history reconstructs in SQL from first
#    principles (the oracle enumerates the expected validity
#    intervals).  Slice to %10 keys for a bounded hash -------------
SCD2_HIST_SQL = """
WITH src AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 10 = 0
),
rows AS (
  SELECT k, price, DATE '1995-01-01' AS valid_from,
         CASE WHEN k % 7 = 0 THEN DATE '1996-01-01' END AS valid_to
  FROM src
  UNION ALL
  SELECT k, round(price + 100.0, 2), DATE '1996-01-01',
         CASE WHEN k % 21 = 0 THEN DATE '1997-01-01' END
  FROM src WHERE k % 7 = 0
  UNION ALL
  SELECT k, round(price + 300.0, 2), DATE '1997-01-01', NULL
  FROM src WHERE k % 21 = 0
)
SELECT k, price, CAST(valid_from AS TIMESTAMP) AS valid_from,
       CAST(valid_to AS TIMESTAMP) AS valid_to,
       valid_to IS NULL AS is_current
FROM rows ORDER BY k, valid_from
"""


def _scd2_orders_history(spark, sf_dir):
    import datetime

    from ..functions.maintenance import scd2_init, upsert_scd2

    o = (tbl(spark, sf_dir, "orders").to_spark()
         .select(F.col("o_orderkey").alias("k"),
                 F.round(F.col("o_totalprice"), 2).alias("price"),
                 F.col("o_orderstatus").alias("status")))
    base = o.withColumn("eff", F.lit(datetime.date(1995, 1, 1)))
    hist = scd2_init(base, "eff")
    u1 = (o.where(F.col("k") % 7 == 0)
          .withColumn("price", F.round(F.col("price") + 100.0, 2)))
    noop = o.where((F.col("k") % 11 == 0) & (F.col("k") % 7 != 0))
    b1 = (u1.unionByName(noop)
          .withColumn("eff", F.lit(datetime.date(1996, 1, 1))))
    hist = upsert_scd2(hist, b1, ["k"], "eff")
    b2 = (o.where(F.col("k") % 21 == 0)
          .withColumn("price", F.round(F.col("price") + 300.0, 2))
          .withColumn("eff", F.lit(datetime.date(1997, 1, 1))))
    return upsert_scd2(hist, b2, ["k"], "eff")


@query("scd2_history_orders", SCD2_HIST_SQL)
def scd2_history_orders(spark, sf_dir):
    """history-keeping upsert: init at 1995, +100 for %7 keys at 1996
    (plus a no-op batch for %11 keys — must COLLAPSE, changing
    nothing), +300-over-base for %21 keys at 1997 (a second version of
    keys already versioned once).  The oracle enumerates the exact
    expected (value, valid_from, valid_to, is_current) interval set —
    any wrong close-out date, lost row, or surviving no-op flips the
    hash."""
    hist = _scd2_orders_history(spark, sf_dir)
    return (hist.where(F.col("k") % 10 == 0)
            .select("k", "price",
                    F.col("valid_from").cast("timestamp_ntz")
                    .alias("valid_from"),
                    F.col("valid_to").cast("timestamp_ntz")
                    .alias("valid_to"),
                    "is_current")
            .orderBy("k", "valid_from"))


# -- scd2_asof: time travel over the same history — the state as of
#    mid-1996 must equal "base with +100 applied to %7 keys", which the
#    oracle computes directly --------------------------------------
SCD2_ASOF_SQL = f"""
WITH state AS (
  SELECT o_orderstatus AS status,
         CASE WHEN o_orderkey % 7 = 0
              THEN round(round(o_totalprice, 2) + 100.0, 2)
              ELSE round(o_totalprice, 2) END AS price
  FROM orders
)
SELECT status, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('price')} AS total
FROM state GROUP BY status ORDER BY status
"""


@query("scd2_asof_snapshot", SCD2_ASOF_SQL)
def scd2_asof_snapshot(spark, sf_dir):
    import datetime

    from ..functions.maintenance import scd2_asof

    hist = _scd2_orders_history(spark, sf_dir)
    asof = scd2_asof(hist, datetime.date(1996, 6, 1))
    return (asof.groupBy("status")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("price")).alias("total"))
            .orderBy("status"))


# -- row-level CDC between snapshot versions (maintenance.snapshot_cdc
#    over snapshot_write time travel): v0 = base, v1 = SCD-1 upsert
#    (updates + inserts), v2 = delete %5 keys; cdc(v0 -> v2) must emit
#    exactly the insert/update/delete record set the oracle derives
#    from one full-outer join ---------------------------------------
CDC_SNAP_SQL = """
WITH base AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS p FROM orders
),
upd AS (
  SELECT k, round(p + 500.0, 2) AS p FROM base WHERE k % 53 = 0
  UNION ALL
  SELECT k + 3000000, round(p + 500.0, 2) FROM base WHERE k % 53 = 0
),
v1 AS (
  SELECT * FROM upd
  UNION ALL
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)
),
v2 AS (SELECT * FROM v1 WHERE k % 5 <> 0),
j AS (
  SELECT coalesce(a.k, b.k) AS k, a.p AS p_before, b.p AS p_after,
         a.k IS NOT NULL AS ina, b.k IS NOT NULL AS inb
  FROM base a FULL OUTER JOIN v2 b ON a.k = b.k
)
SELECT CASE WHEN NOT ina THEN 'insert'
            WHEN NOT inb THEN 'delete'
            ELSE 'update' END AS change_type,
       k, p_before, p_after
FROM j
WHERE NOT ina OR NOT inb OR p_before <> p_after
ORDER BY change_type, k
"""


@query("cdc_between_snapshots", CDC_SNAP_SQL)
def cdc_between_snapshots(spark, sf_dir):
    from ..functions.maintenance import (snapshot_cdc, snapshot_read,
                                         snapshot_write, upsert)

    o = (tbl(spark, sf_dir, "orders").to_spark()
         .select(F.col("o_orderkey").alias("k"),
                 F.round(F.col("o_totalprice"), 2).alias("p")))
    tmp = tempfile.mkdtemp(prefix="cdc_snap_")
    path = os.path.join(tmp, "t")
    try:
        snapshot_write(o, path)
        chg = o.where(F.col("k") % 53 == 0)
        upd = (chg.unionByName(
            chg.withColumn("k", F.col("k") + 3000000))
            .withColumn("p", F.round(F.col("p") + 500.0, 2)))
        v1 = upsert(snapshot_read(spark, path, 0), upd, ["k"])
        snapshot_write(v1, path)
        v2 = snapshot_read(spark, path, 1).where(F.col("k") % 5 != 0)
        snapshot_write(v2, path)
        out = (snapshot_cdc(spark, path, 0, 2, ["k"])
               .orderBy("change_type", "k"))
        # materialize JVM-side before `finally` deletes the snapshot
        # table: the old collect+createDataFrame wrapper shipped every
        # CDC record through the Python driver TWICE (guide §5 — 345k
        # rows at x10, ~4 s); localCheckpoint severs the lineage at
        # block-manager cost instead, no row ever crossing to Python.
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- zone-map data skipping (sources/zonemap.py): a date-clustered
#    table, one footer-only manifest build, then a range read that
#    provably opens FEWER FILES (pruned_ok) while returning exactly
#    the plain filter's rows — the oracle is the plain filter --------
ZONEMAP_SQL = f"""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS pruned_ok, TRUE AS files_ok
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01'
                      AND TIMESTAMP '1996-12-31 23:59:59'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("zonemap_skipping_dates", ZONEMAP_SQL)
def zonemap_skipping_dates(spark, sf_dir):
    import datetime

    from ..sources import zonemap as Z

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="zm_q_")
    path = os.path.join(tmp, "t")
    try:
        (o.repartitionByRange(16, "o_orderdate")
         .sortWithinPartitions("o_orderdate").write.parquet(path))
        Z.build_zonemap(spark, path, ["o_orderdate"])
        preds = [("o_orderdate", "between",
                  (datetime.datetime(1996, 1, 1),
                   datetime.datetime(1996, 12, 31, 23, 59, 59)))]
        surv, total = Z.zone_prune(spark, path, preds)
        got = Z.read_skipping(spark, path, preds)
        files_ok = (set(f.replace("file://", "")
                        for f in got.inputFiles()) == set(surv))
        out = (got.groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .withColumn("pruned_ok",
                           F.lit(bool(0 < len(surv) < total)))
               .withColumn("files_ok", F.lit(bool(files_ok)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- z-order layout × zone-map skipping, composed: the manifest over a
#    z-ordered table prunes a filter on the TRAILING sort dimension
#    (o_totalprice), where a lead-clustered layout reads everything —
#    the synthesis of sources/layout.py and sources/zonemap.py; the
#    oracle is the plain filter --------------------------------------
ZM_ZORDER_SQL = f"""
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS pruned_ok, TRUE AS files_ok
FROM orders WHERE o_totalprice > 450000
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("zonemap_zorder_trailing", ZM_ZORDER_SQL)
def zonemap_zorder_trailing(spark, sf_dir):
    from ..sources import zonemap as Z
    from ..sources.io import read_parquet

    o = tbl(spark, sf_dir, "orders")[
        ["o_orderkey", "o_orderdate", "o_totalprice", "o_orderpriority"]]
    tmp = tempfile.mkdtemp(prefix="zm_zorder_")
    path = os.path.join(tmp, "t")
    try:
        o.to_parquet(path, sort_by=["o_orderdate", "o_totalprice"],
                     cluster=("zorder", 16))
        Z.build_zonemap(spark, path, ["o_orderdate", "o_totalprice"])
        preds = [("o_totalprice", ">", 450000.0)]
        surv, total = Z.zone_prune(spark, path, preds)
        got = Z.read_skipping(spark, path, preds)
        files_ok = (set(f.replace("file://", "")
                        for f in got.inputFiles()) == set(surv))
        out = (got.groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .withColumn("pruned_ok",
                           F.lit(bool(0 < len(surv) < total)))
               .withColumn("files_ok", F.lit(bool(files_ok)))
               .orderBy("o_orderpriority"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- schema evolution on merge (maintenance.upsert evolve_schema=True
#    via align_schemas): a re-crawl batch carries a NEW quality-score
#    column — old rows get null, the merge is otherwise the SCD-1
#    semantics; reconstructed in SQL with an explicit NULL column ----
UPSERT_EVOLVE_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, round(o_totalprice + 500.0, 2) AS o_totalprice,
         o_orderstatus,
         round(o_totalprice, 0) / 600000.0 AS quality
  FROM orders WHERE o_orderkey % 41 = 0
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o_orderkey, round(o_totalprice, 2), o_orderstatus,
         CAST(NULL AS DOUBLE)
  FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       CAST(count(quality) AS BIGINT) AS n_scored,
       round(avg(quality), 6) AS avg_quality
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("upsert_evolve_schema", UPSERT_EVOLVE_SQL)
def upsert_evolve_schema(spark, sf_dir):
    from ..functions.maintenance import upsert

    o = (tbl(spark, sf_dir, "orders").to_spark()
         .select("o_orderkey",
                 F.round(F.col("o_totalprice"), 2).alias("o_totalprice"),
                 "o_orderstatus"))
    upd = (o.where(F.col("o_orderkey") % 41 == 0)
           .withColumn("quality",
                       F.round(F.col("o_totalprice"), 0) / 600000.0)
           .withColumn("o_totalprice",
                       F.round(F.col("o_totalprice") + 500.0, 2)))
    merged = upsert(o, upd, ["o_orderkey"], evolve_schema=True)
    return (merged.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total"),
                 F.count("quality").alias("n_scored"),
                 F.round(F.avg("quality"), 6).alias("avg_quality"))
            .orderBy("o_orderstatus"))


# -- CDC loop closed (maintenance.cdc_apply): replay the change
#    records cdc_rows produced onto the before-state and land exactly
#    the after-state — change-sized shipping instead of snapshots; the
#    roundtrip is audited in-query with table_diff (all-unchanged) and
#    the oracle recomputes the after-state directly ------------------
CDC_APPLY_SQL = f"""
WITH base AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS p,
         o_orderstatus AS s
  FROM orders
),
upd AS (
  SELECT k, round(p + 500.0, 2) AS p, s FROM base WHERE k % 53 = 0
  UNION ALL
  SELECT k + 3000000, round(p + 500.0, 2), s FROM base WHERE k % 53 = 0
),
v1 AS (
  SELECT * FROM upd
  UNION ALL
  SELECT b.* FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.k = b.k)
),
after AS (SELECT * FROM v1 WHERE k % 5 <> 0)
SELECT s AS o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('p')} AS total, TRUE AS roundtrip_ok
FROM after GROUP BY s ORDER BY s
"""


@query("cdc_apply_roundtrip", CDC_APPLY_SQL)
def cdc_apply_roundtrip(spark, sf_dir):
    from ..functions.maintenance import (cdc_apply, cdc_rows,
                                         table_diff, upsert)

    before = (tbl(spark, sf_dir, "orders").to_spark()
              .select(F.col("o_orderkey").alias("k"),
                      F.round(F.col("o_totalprice"), 2).alias("p"),
                      F.col("o_orderstatus").alias("s")))
    chg = before.where(F.col("k") % 53 == 0)
    upd = (chg.unionByName(chg.withColumn("k", F.col("k") + 3000000))
           .withColumn("p", F.round(F.col("p") + 500.0, 2)))
    after = upsert(before, upd, ["k"]).where(F.col("k") % 5 != 0)
    # materialize the change records and the applied state once
    # (lazy localCheckpoint): the audit and the final aggregation both
    # consume `applied`, whose lineage embeds the full-outer cdc_rows
    # join — left lazy, that join (and the upsert under it) re-ran per
    # consumer.  The change records are exactly the artifact a real
    # CDC pipeline ships, so checkpointing them is the pattern, not a
    # cache trick (guide §5; A/B 8.2-13.1 s -> 4.6 s at x10).
    cdc = cdc_rows(before, after, ["k"]).localCheckpoint(eager=False)
    applied = cdc_apply(before, cdc, ["k"]).localCheckpoint(eager=False)
    audit = table_diff(applied, after, ["k"]).collect()[0]
    roundtrip_ok = (audit["n_added"] == 0 and audit["n_removed"] == 0
                    and audit["n_changed"] == 0)
    out = (applied.groupBy("s")
           .agg(F.count(F.lit(1)).alias("n"),
                cent_sum(F.col("p")).alias("total"))
           .select(F.col("s").alias("o_orderstatus"), "n", "total")
           .withColumn("roundtrip_ok", F.lit(bool(roundtrip_ok)))
           .orderBy("o_orderstatus"))
    return spark.createDataFrame(out.collect(), out.schema)


# -- pointer-commit upsert (maintenance.upsert_partitioned
#    commit="pointer"): the object-store protocol end-to-end — adopt a
#    hive table via manifest_bootstrap, merge a batch by APPENDING new
#    files + one atomic manifest flip, read back via read_manifested.
#    In-query invariants: no rename of any table path (os.rename /
#    os.replace instrumented for the call window), untouched
#    partitions keep their exact manifest file lists, and vacuum
#    removes the superseded files without changing the result --------
UPSERT_POINTER_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 750.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders
  WHERE o_orderkey % 61 = 0
    AND o_orderpriority IN ('2-HIGH', '5-LOW')
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS no_renames, TRUE AS untouched_ok, TRUE AS vacuum_ok
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("upsert_pointer_roundtrip", UPSERT_POINTER_SQL)
def upsert_pointer_roundtrip(spark, sf_dir):
    from ..functions.maintenance import (manifest_bootstrap,
                                         read_manifested,
                                         upsert_partitioned,
                                         vacuum_manifested)

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="upsert_ptr_")
    path = os.path.join(tmp, "t")
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        man0 = manifest_bootstrap(path, "o_orderpriority")
        updates = (o.where((F.col("o_orderkey") % 61 == 0)
                           & F.col("o_orderpriority").isin(
                               "2-HIGH", "5-LOW"))
                   .withColumn("o_totalprice",
                               F.col("o_totalprice") + 750.0))
        moves = []
        real_rename, real_replace = os.rename, os.replace

        def spy_rename(src, dst):
            if str(src).startswith(tmp):
                moves.append(src)
            return real_rename(src, dst)

        def spy_replace(src, dst):
            if str(src).startswith(tmp):
                moves.append(src)
            return real_replace(src, dst)

        os.rename, os.replace = spy_rename, spy_replace
        try:
            upsert_partitioned(spark, path, updates, ["o_orderkey"],
                               "o_orderpriority", commit="pointer")
        finally:
            os.rename, os.replace = real_rename, real_replace
        # NOTE: moves may contain the _commit.json temp-rename on the
        # local PosixFS (whose write_text_atomic IS temp+rename); data
        # paths must be rename-free
        no_renames = all(p.endswith(("_commit.json.tmp", "_commit.json"))
                         for p in moves)
        from ..functions.maintenance import read_commit
        man1 = read_commit(path)
        touched = {"o_orderpriority=2-HIGH", "o_orderpriority=5-LOW"}
        untouched_ok = all(
            man1["partitions"][d] == man0["partitions"][d]
            for d in man0["partitions"] if d not in touched)
        agg0 = (read_manifested(spark, path)
                .groupBy("o_orderstatus")
                .agg(F.count(F.lit(1)).alias("n"),
                     cent_sum(F.col("o_totalprice")).alias("total"))
                .orderBy("o_orderstatus"))
        rows0 = agg0.collect()
        removed = vacuum_manifested(path)
        rows1 = (read_manifested(spark, path)
                 .groupBy("o_orderstatus")
                 .agg(F.count(F.lit(1)).alias("n"),
                      cent_sum(F.col("o_totalprice")).alias("total"))
                 .orderBy("o_orderstatus").collect())
        vacuum_ok = (removed > 0) and (rows0 == rows1)
        out = (spark.createDataFrame(rows0, agg0.schema)
               .withColumn("no_renames", F.lit(bool(no_renames)))
               .withColumn("untouched_ok", F.lit(bool(untouched_ok)))
               .withColumn("vacuum_ok", F.lit(bool(vacuum_ok)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- zone maps × snapshot time travel (sources/zonemap.py over a
#    maintenance.snapshot_write version directory): each committed
#    version is its own immutable table, so a manifest builds over the
#    OLD version's directory and read_skipping answers a historical
#    range query opening only surviving files — the oracle is the old
#    version's content, which by construction is plain `orders` ------
ZM_SNAPSHOT_SQL = f"""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS pruned_ok, TRUE AS files_ok, TRUE AS version_ok
FROM orders
WHERE o_orderdate BETWEEN TIMESTAMP '1997-01-01'
                      AND TIMESTAMP '1997-06-30 23:59:59'
GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("zonemap_snapshot_version", ZM_SNAPSHOT_SQL)
def zonemap_snapshot_version(spark, sf_dir):
    """v0 commits the raw date-clustered orders; v1 commits a
    corrupted successor (prices +1e6 — a poison the query would
    surface instantly if time travel leaked).  The zone map builds
    over v0's directory, prunes the half-year range to fewer files,
    and the pruned read matches the plain-orders oracle — proving
    manifest, version isolation, and pruning compose."""
    import datetime

    from ..functions.maintenance import (snapshot_read,
                                         snapshot_version_dir,
                                         snapshot_write)
    from ..sources import zonemap as Z

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="zm_snap_")
    path = os.path.join(tmp, "t")
    try:
        v0_df = (o.repartitionByRange(16, "o_orderdate")
                 .sortWithinPartitions("o_orderdate"))
        snapshot_write(v0_df, path)
        snapshot_write(o.withColumn(
            "o_totalprice", F.col("o_totalprice") + 1e6), path)
        vdir = snapshot_version_dir(path, 0)
        Z.build_zonemap(spark, vdir, ["o_orderdate"])
        preds = [("o_orderdate", "between",
                  (datetime.datetime(1997, 1, 1),
                   datetime.datetime(1997, 6, 30, 23, 59, 59)))]
        surv, total = Z.zone_prune(spark, vdir, preds)
        got = Z.read_skipping(spark, vdir, preds)
        files_ok = (set(f.replace("file://", "")
                        for f in got.inputFiles()) == set(surv))
        # version isolation: the flagship anchor must match the
        # snapshot_read of v0, not the poisoned current version
        version_ok = (
            snapshot_read(spark, path, 0).where(
                Z.pred_filter(preds)).count() == got.count()
            and snapshot_read(spark, path).where(
                F.col("o_totalprice") > 9e5).count() > 0)
        out = (got.groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .withColumn("pruned_ok",
                           F.lit(bool(0 < len(surv) < total)))
               .withColumn("files_ok", F.lit(bool(files_ok)))
               .withColumn("version_ok", F.lit(bool(version_ok)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- pointer-table compaction (maintenance.compact_manifested): the
#    lifecycle closer — four pointer upserts accrete small files in
#    one partition dir, compaction folds them to the per-dir target
#    with a single manifest flip, vacuum clears the superseded
#    originals, and rows hash-match the SQL merge throughout --------
COMPACT_PTR_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 111.0 AS o_totalprice, o_orderdate, o_orderpriority
  FROM orders
  WHERE o_orderkey % 71 = 0 AND o_orderpriority = '4-NOT SPECIFIED'
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS compacted_ok, TRUE AS vacuum_ok
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("compact_manifested_files", COMPACT_PTR_SQL)
def compact_manifested_files(spark, sf_dir):
    from ..functions.maintenance import (compact_manifested,
                                         manifest_bootstrap,
                                         read_commit, read_manifested,
                                         upsert_partitioned,
                                         vacuum_manifested)

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="compact_ptr_")
    path = os.path.join(tmp, "t")
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        manifest_bootstrap(path, "o_orderpriority")
        # four small upserts into one dir -> file accretion.  The
        # merge layout targets advisoryPartitionSizeInBytes, so at the
        # session's real advisory each upsert would land as ONE
        # right-sized file and compaction would have no work; shrink
        # the advisory for the setup writes to emulate the table
        # compaction exists for (an engine that wrote the dir with a
        # small advisory / many tiny slices), then compact under the
        # real one.  Result rows are unchanged — only the setup
        # table's file layout differs.
        upd = o.where((F.col("o_orderkey") % 71 == 0)
                      & (F.col("o_orderpriority")
                         == "4-NOT SPECIFIED"))
        _ADV = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        adv = spark.conf.get(_ADV)
        spark.conf.set(_ADV, "1kb")
        try:
            for i in range(4):
                delta = 111.0 if i == 3 else float(100 + i)
                batch = upd.withColumn("o_totalprice",
                                       F.col("o_totalprice") + delta)
                upsert_partitioned(spark, path, batch, ["o_orderkey"],
                                   "o_orderpriority", commit="pointer")
        finally:
            spark.conf.set(_ADV, adv)
        man0 = read_commit(path)
        dirty = "o_orderpriority=4-NOT SPECIFIED"
        fb, fa = compact_manifested(spark, path, target_mb=512)
        man1 = read_commit(path)
        compacted_ok = (
            fa < fb
            and len(man1["partitions"][dirty]) == 1
            and man1["generation"] == man0["generation"] + 1
            and all(man1["partitions"][d] == man0["partitions"][d]
                    for d in man0["partitions"]
                    if len(man0["partitions"][d]) == 1))
        agg = (read_manifested(spark, path)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .orderBy("o_orderstatus"))
        rows0 = agg.collect()
        removed = vacuum_manifested(path)
        rows1 = (read_manifested(spark, path)
                 .groupBy("o_orderstatus")
                 .agg(F.count(F.lit(1)).alias("n"),
                      cent_sum(F.col("o_totalprice")).alias("total"))
                 .orderBy("o_orderstatus").collect())
        vacuum_ok = removed > 0 and rows0 == rows1
        out = (spark.createDataFrame(rows0, agg.schema)
               .withColumn("compacted_ok", F.lit(bool(compacted_ok)))
               .withColumn("vacuum_ok", F.lit(bool(vacuum_ok)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- row-level DELETE (maintenance.delete_where): GDPR-erasure /
#    retention-expiry over a hive table, pruned to hit partitions,
#    run through BOTH commit protocols in-query (rename swap and
#    pointer flip must agree row-for-row); the 5-LOW partition deletes
#    EMPTY and must disappear entirely — the oracle is plain SQL
#    DELETE semantics (TRUE rows go, FALSE/NULL stay) ---------------
DELETE_WHERE_SQL = f"""
WITH kept AS (
  SELECT * FROM orders
  WHERE NOT COALESCE(o_orderkey % 7 = 0
                     OR o_orderpriority = '5-LOW', FALSE)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS dir_dropped_ok, TRUE AS protocols_agree
FROM kept GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("delete_where_orders", DELETE_WHERE_SQL)
def delete_where_orders(spark, sf_dir):
    from ..functions.maintenance import (delete_where,
                                         manifest_bootstrap,
                                         read_manifested)

    o = tbl(spark, sf_dir, "orders").to_spark()
    pred = ((F.col("o_orderkey") % 7 == 0)
            | (F.col("o_orderpriority") == "5-LOW"))
    tmp = tempfile.mkdtemp(prefix="delete_where_")
    p_ren = os.path.join(tmp, "ren")
    p_ptr = os.path.join(tmp, "ptr")
    try:
        for p in (p_ren, p_ptr):
            (o.hint("rebalance", "o_orderpriority")   # guide §6
             .write.mode("overwrite").partitionBy("o_orderpriority")
             .parquet(p))
        manifest_bootstrap(p_ptr, "o_orderpriority")
        parts_r, n_r = delete_where(spark, p_ren, pred,
                                    "o_orderpriority", commit="rename")
        parts_p, n_p = delete_where(spark, p_ptr, pred,
                                    "o_orderpriority",
                                    commit="pointer")
        back_r = spark.read.parquet(p_ren)
        back_p = read_manifested(spark, p_ptr)
        dir_dropped_ok = (
            not os.path.isdir(
                os.path.join(p_ren, "o_orderpriority=5-LOW"))
            and back_p.where("o_orderpriority = '5-LOW'").count() == 0
            and sorted(parts_r) == sorted(parts_p) and n_r == n_p)
        agg = lambda df: sorted(map(tuple, (  # noqa: E731
            df.groupBy("o_orderstatus")
            .agg(F.count(F.lit(1)).alias("n"),
                 cent_sum(F.col("o_totalprice")).alias("total"))
            .collect())))
        rows_r, rows_p = agg(back_r), agg(back_p)
        out = (spark.createDataFrame(
            [r + (bool(dir_dropped_ok), rows_r == rows_p)
             for r in rows_r],
            "o_orderstatus string, n long, total double, "
            "dir_dropped_ok boolean, protocols_agree boolean")
            .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- SCD-2 soft delete (maintenance.scd2_delete): withdrawn keys close
#    their CURRENT version at the delete time without a successor —
#    history before the delete reconstructs exactly (the takedown /
#    license-revocation pattern).  The oracle enumerates the full
#    expected interval set: the round-7 chained history with every
#    %35 key's open row closed at 1998-01-01 ------------------------
SCD2_DELETE_SQL = """
WITH src AS (
  SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey % 10 = 0
),
rows AS (
  SELECT k, price, DATE '1995-01-01' AS valid_from,
         CASE WHEN k % 7 = 0 THEN DATE '1996-01-01' END AS valid_to
  FROM src
  UNION ALL
  SELECT k, round(price + 100.0, 2), DATE '1996-01-01',
         CASE WHEN k % 21 = 0 THEN DATE '1997-01-01' END
  FROM src WHERE k % 7 = 0
  UNION ALL
  SELECT k, round(price + 300.0, 2), DATE '1997-01-01', NULL
  FROM src WHERE k % 21 = 0
)
SELECT k, price, CAST(valid_from AS TIMESTAMP) AS valid_from,
       CAST(CASE WHEN valid_to IS NOT NULL THEN valid_to
                 WHEN k % 35 = 0 THEN DATE '1998-01-01' END
            AS TIMESTAMP) AS valid_to,
       (valid_to IS NULL AND k % 35 != 0) AS is_current
FROM rows ORDER BY k, valid_from
"""


@query("scd2_delete_orders", SCD2_DELETE_SQL)
def scd2_delete_orders(spark, sf_dir):
    """soft delete over the chained round-7 history: %35 keys (a mix
    of once- and twice-versioned keys) are withdrawn at 1998 — their
    open rows close with NO successor, every other interval is
    byte-identical to the pre-delete history, and a key never in the
    table (the +9e9 synthetic) is silently ignored."""
    import datetime

    from ..functions.maintenance import scd2_delete

    hist = _scd2_orders_history(spark, sf_dir)
    dels = (tbl(spark, sf_dir, "orders").to_spark()
            .where(F.col("o_orderkey") % 35 == 0)
            .select(F.col("o_orderkey").alias("k")))
    ghost = dels.select((F.col("k") + int(9e9)).alias("k"))
    dels = (dels.unionByName(ghost)
            .withColumn("eff", F.lit(datetime.date(1998, 1, 1))))
    out = scd2_delete(hist, dels, ["k"], "eff")
    return (out.where(F.col("k") % 10 == 0)
            .select("k", "price",
                    F.col("valid_from").cast("timestamp_ntz")
                    .alias("valid_from"),
                    F.col("valid_to").cast("timestamp_ntz")
                    .alias("valid_to"),
                    "is_current")
            .orderBy("k", "valid_from"))


# -- sharded manifests (maintenance MANIFEST_INLINE_MAX): with
#    sharding forced, every dir's committed file list lives in a
#    `_files.<id>.json` shard and the root manifest holds @pointers;
#    an upsert re-shards ONLY the touched dirs, the `_commit.json`
#    pointer cache is pure optimization (deleting it recovers from
#    the claim files), and vacuum clears superseded shards + claims --
SHARDED_UPSERT_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 333.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 53 = 0 AND o_orderpriority = '1-URGENT'
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS sharded_ok, TRUE AS cache_recovery_ok, TRUE AS vacuum_ok
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("manifest_sharded_upsert", SHARDED_UPSERT_SQL)
def manifest_sharded_upsert(spark, sf_dir):
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="sharded_upsert_")
    path = os.path.join(tmp, "t")
    saved = M.MANIFEST_INLINE_MAX
    try:
        M.MANIFEST_INLINE_MAX = 0          # force shards at any size
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        man0 = M.manifest_bootstrap(path, "o_orderpriority")
        updates = (o.where((F.col("o_orderkey") % 53 == 0)
                           & (F.col("o_orderpriority") == "1-URGENT"))
                   .withColumn("o_totalprice",
                               F.col("o_totalprice") + 333.0))
        M.upsert_partitioned(spark, path, updates, ["o_orderkey"],
                             "o_orderpriority", commit="pointer")
        man1 = M.read_commit(path)
        touched = "o_orderpriority=1-URGENT"
        sharded_ok = (
            all(isinstance(e, str) and e.startswith("@")
                for e in man1["partitions"].values())
            and man1["partitions"][touched]
            != man0["partitions"][touched]
            and all(man1["partitions"][d] == man0["partitions"][d]
                    for d in man0["partitions"] if d != touched))

        def agg_rows():
            a = (M.read_manifested(spark, path)
                 .groupBy("o_orderstatus")
                 .agg(F.count(F.lit(1)).alias("n"),
                      cent_sum(F.col("o_totalprice")).alias("total"))
                 .orderBy("o_orderstatus"))
            return a, a.collect()

        agg0, rows0 = agg_rows()
        # the `_commit.json` cache is an optimization, not the truth:
        # with it deleted, read_commit recovers the head from the
        # claim files and the table reads back identically
        os.remove(os.path.join(path, "_commit.json"))
        _, rows_rec = agg_rows()
        cache_recovery_ok = (rows_rec == rows0
                             and int(M.read_commit(path)["generation"])
                             == int(man1["generation"]))
        removed = M.vacuum_manifested(path)
        claims = [f for f in os.listdir(path) if M._CLAIM_RE.match(f)]
        shard0 = man0["partitions"][touched].lstrip("@")
        _, rows1 = agg_rows()
        vacuum_ok = (removed > 0 and rows1 == rows0
                     and claims == ["_commit.00000001.json"]
                     and not os.path.exists(
                         os.path.join(path, touched, shard0)))
        out = (spark.createDataFrame(rows0, agg0.schema)
               .withColumn("sharded_ok", F.lit(bool(sharded_ok)))
               .withColumn("cache_recovery_ok",
                           F.lit(bool(cache_recovery_ok)))
               .withColumn("vacuum_ok", F.lit(bool(vacuum_ok)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        M.MANIFEST_INLINE_MAX = saved
        shutil.rmtree(tmp, ignore_errors=True)


# -- multi-writer CAS (maintenance._write_commit) under STRICT
#    single-log serialization (rebase=False): the lost-update
#    interleaving, injected deterministically — writer B computes its
#    merge against generation g, writer A commits g+1 first, B's claim
#    must RAISE ConcurrentCommitError with the table showing exactly
#    A's commit; B re-runs against the new head and both batches land.
#    (The DEFAULT rebase=True path — disjoint-dir writers both land
#    with one data-compute each — is pinned by
#    disjoint_rebase_upsert below.)  The oracle enumerates the final
#    two-batch merge ------------------------------------------------
CONCURRENT_CAS_SQL = f"""
WITH upd_a AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 100.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 97 = 0 AND o_orderpriority = '3-MEDIUM'
),
upd_b AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 200.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 89 = 0 AND o_orderpriority = '1-URGENT'
),
merged AS (
  SELECT * FROM upd_a
  UNION ALL SELECT * FROM upd_b
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd_a u
                    WHERE u.o_orderkey = o.o_orderkey)
    AND NOT EXISTS (SELECT 1 FROM upd_b u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS loser_raised, TRUE AS winner_isolated
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("concurrent_upsert_cas", CONCURRENT_CAS_SQL)
def concurrent_upsert_cas(spark, sf_dir):
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="concurrent_cas_")
    path = os.path.join(tmp, "t")

    def batch(mod, prio, delta):
        return (o.where((F.col("o_orderkey") % mod == 0)
                        & (F.col("o_orderpriority") == prio))
                .withColumn("o_totalprice",
                            F.col("o_totalprice") + delta))

    real = M._write_commit
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        M.manifest_bootstrap(path, "o_orderpriority")
        state = {"fired": False}

        def inject(p, man, fs, **kw):
            if not state["fired"]:
                state["fired"] = True        # A's inner claim is real
                M.upsert_partitioned(spark, path,
                                     batch(97, "3-MEDIUM", 100.0),
                                     ["o_orderkey"], "o_orderpriority",
                                     commit="pointer")
            return real(p, man, fs, **kw)

        M._write_commit = inject
        loser_raised = False
        try:
            M.upsert_partitioned(spark, path,
                                 batch(89, "1-URGENT", 200.0),
                                 ["o_orderkey"], "o_orderpriority",
                                 commit="pointer", rebase=False)
        except M.ConcurrentCommitError:
            loser_raised = True
        finally:
            M._write_commit = real
        # mid-state: exactly A's commit is visible (B's appended files
        # are unreferenced orphans): A's key set carries +100 each,
        # B's key set is byte-for-byte the base values
        a_keys = ((F.col("o_orderkey") % 97 == 0)
                  & (F.col("o_orderpriority") == "3-MEDIUM"))
        b_keys = ((F.col("o_orderkey") % 89 == 0)
                  & (F.col("o_orderpriority") == "1-URGENT"))

        def ksum(df, cond):
            r = df.where(cond).agg(
                cent_sum(F.col("o_totalprice")).alias("s"),
                F.count(F.lit(1)).alias("c")).first()
            return (r["s"] or 0.0, r["c"])

        mid = M.read_manifested(spark, path)
        (base_a, n_a), (base_b, n_b) = ksum(o, a_keys), ksum(o, b_keys)
        (mid_a, m_a), (mid_b, m_b) = ksum(mid, a_keys), ksum(mid, b_keys)
        winner_isolated = (
            m_a == n_a and m_b == n_b
            and abs(mid_a - (base_a + 100.0 * n_a)) < 1e-6
            and abs(mid_b - base_b) < 1e-6
            and mid.count() == o.count()
            and M.vacuum_manifested(path) > 0)
        # the loser re-runs against the new head; both batches land
        M.upsert_partitioned(spark, path, batch(89, "1-URGENT", 200.0),
                             ["o_orderkey"], "o_orderpriority",
                             commit="pointer")
        agg = (M.read_manifested(spark, path)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .orderBy("o_orderstatus"))
        out = (agg.withColumn("loser_raised", F.lit(bool(loser_raised)))
               .withColumn("winner_isolated",
                           F.lit(bool(winner_isolated)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        M._write_commit = real
        shutil.rmtree(tmp, ignore_errors=True)


# -- zone maps stay fresh across delete_where (VERDICT r8 item 6):
#    after a row-level delete on a zone-mapped pointer table, the
#    pruned read is still exact, the zone-map manifest lists exactly
#    the live committed files, and the scan's input files are exactly
#    the prune survivors — the pruning benefit survives the mutation
#    with no manual update_zonemap -----------------------------------
@query("zonemap_after_delete", f"""
WITH kept AS (
  SELECT * FROM orders WHERE NOT (o_orderdate < DATE '1993-01-01')
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS pruned_exact, TRUE AS manifest_fresh
FROM kept WHERE o_totalprice >= 300000.0
GROUP BY o_orderstatus ORDER BY o_orderstatus
""")
def zonemap_after_delete(spark, sf_dir):
    from ..functions import maintenance as M
    from ..sources import zonemap as Z

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="zonemap_delete_")
    path = os.path.join(tmp, "t")
    try:
        # range-cluster on the indexed column so zone maps can bite
        (o.repartitionByRange(8, "o_totalprice")
         .sortWithinPartitions("o_totalprice")
         .write.partitionBy("o_orderpriority").parquet(path))
        M.manifest_bootstrap(path, "o_orderpriority")
        Z.build_zonemap(spark, path, ["o_totalprice"])
        M.delete_where(spark, path,
                       F.col("o_orderdate") < F.lit("1993-01-01")
                       .cast("date"),
                       "o_orderpriority", commit="pointer")
        preds = [("o_totalprice", ">=", 300000.0)]
        surv, total = Z.zone_prune(spark, path, preds)
        pruned = Z.read_skipping(spark, path, preds)
        # the scan's inputs are exactly the prune survivors, pruning
        # actually bit, and the zone-map manifest is exactly the live
        # committed file set (refreshed inline by delete_where)
        from ..fsops import get_fs
        fs = get_fs(path)
        man_files = set(
            r["file"] for r in Z._read_manifest_df(
                spark, os.path.join(path, Z.ZONEMAP_DIR), fs)
            .select("file").collect())
        # inputFiles returns percent-encoded file: URIs — normalize
        # both sides to plain decoded paths before comparing
        import urllib.parse

        def norm(p):
            p = urllib.parse.unquote(p)
            return p[len("file://"):] if p.startswith("file://") else p

        pruned_exact = (0 < len(surv) < total
                        and {norm(f) for f in pruned.inputFiles()}
                        == {norm(f) for f in surv})
        manifest_fresh = man_files == set(Z._data_files(path, fs=fs))
        agg = (pruned.groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .orderBy("o_orderstatus"))
        out = (agg.withColumn("pruned_exact", F.lit(bool(pruned_exact)))
               .withColumn("manifest_fresh", F.lit(bool(manifest_fresh)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- multi-column pointer tables (maintenance partition_col=[...]):
#    a two-level hive layout (priority=…/status=…) under the pointer
#    protocol — bootstrap adopts the nested leaves, an upsert touches
#    only its (priority, status) leaves, delete_where prunes by leaf,
#    and tuple-valued manifest pruning bounds the read's file list.
#    The oracle enumerates merge-then-delete in SQL -----------------
MULTICOL_SQL = f"""
WITH upd AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 500.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 67 = 0 AND o_orderpriority = '1-URGENT'
),
merged AS (
  SELECT * FROM upd
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd u
                    WHERE u.o_orderkey = o.o_orderkey)
),
kept AS (
  SELECT * FROM merged
  WHERE NOT (o_orderdate < DATE '1993-06-01'
             AND o_orderstatus = 'F')
)
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS untouched_ok, TRUE AS tuple_pruned_ok
FROM kept GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


@query("multicol_pointer_upsert", MULTICOL_SQL)
def multicol_pointer_upsert(spark, sf_dir):
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="multicol_ptr_")
    path = os.path.join(tmp, "t")
    pcols = ["o_orderpriority", "o_orderstatus"]
    try:
        # rebalance: without it the 15-leaf table lands as one sliver
        # per task per leaf (~480 tiny files) and every later phase —
        # bootstrap listing, merge target read, CDC discovery, final
        # agg — pays the per-file open cost (guide §6).  Same rows,
        # same oracle result; only the file layout changes.
        (o.hint("rebalance", *pcols)
         .write.mode("overwrite").partitionBy(*pcols).parquet(path))
        man0 = M.manifest_bootstrap(path, pcols)
        updates = (o.where((F.col("o_orderkey") % 67 == 0)
                           & (F.col("o_orderpriority") == "1-URGENT"))
                   .withColumn("o_totalprice",
                               F.col("o_totalprice") + 500.0))
        M.upsert_partitioned(spark, path, updates, ["o_orderkey"],
                             pcols, commit="pointer")
        man1 = M.read_commit(path)
        touched = {d for d in man1["partitions"]
                   if d.startswith("o_orderpriority=1-URGENT/")}
        untouched_ok = (
            bool(touched)
            and all(man1["partitions"][d] == man0["partitions"][d]
                    for d in man0["partitions"] if d not in touched))
        # tuple-valued manifest pruning bounds the file list
        pr = M.read_manifested(
            spark, path, partition_values=[("1-URGENT", "F")])
        tuple_pruned_ok = (
            pr.count() > 0
            and all("o_orderpriority=1-URGENT/o_orderstatus=F" in f
                    for f in pr.inputFiles()))
        M.delete_where(spark, path,
                       (F.col("o_orderdate")
                        < F.lit("1993-06-01").cast("date"))
                       & (F.col("o_orderstatus") == "F"),
                       pcols, commit="pointer")
        agg = (M.read_manifested(spark, path)
               .groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total"))
               .orderBy("o_orderpriority"))
        out = (agg.withColumn("untouched_ok",
                              F.lit(bool(untouched_ok)))
               .withColumn("tuple_pruned_ok",
                           F.lit(bool(tuple_pruned_ok)))
               .orderBy("o_orderpriority"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _batch(o, mod: int, prio: str, delta: float):
    """An update slice: +delta on every order with key % mod == 0 in
    one o_orderpriority partition."""
    return (o.where((F.col("o_orderkey") % mod == 0)
                    & (F.col("o_orderpriority") == prio))
            .withColumn("o_totalprice", F.col("o_totalprice") + delta))


# -- disjoint-partition commit rebase (VERDICT r9 item 2): writers A
#    and B read the same base generation and touch DISJOINT
#    partitions; A claims first; B's lost claim REBASES — overlays its
#    dir entries onto A's manifest and claims the next generation —
#    so BOTH land with exactly one data-compute each.  The booleans
#    pin: no ConcurrentCommitError, head generation == base+2, each
#    claim's touched metadata names exactly its writer's dir, and
#    B's dir holds no third (recomputed) file set --------------------
DISJOINT_REBASE_SQL = f"""
WITH upd_a AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 100.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 97 = 0 AND o_orderpriority = '3-MEDIUM'
),
upd_b AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         o_totalprice + 200.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 89 = 0 AND o_orderpriority = '1-URGENT'
),
merged AS (
  SELECT * FROM upd_a
  UNION ALL SELECT * FROM upd_b
  UNION ALL
  SELECT o.* FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM upd_a u
                    WHERE u.o_orderkey = o.o_orderkey)
    AND NOT EXISTS (SELECT 1 FROM upd_b u
                    WHERE u.o_orderkey = o.o_orderkey)
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS rebased, TRUE AS single_compute
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("disjoint_rebase_upsert", DISJOINT_REBASE_SQL)
def disjoint_rebase_upsert(spark, sf_dir):
    from .. import fsops
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="disjoint_rebase_")
    path = os.path.join(tmp, "t")
    real = M._write_commit
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        M.manifest_bootstrap(path, "o_orderpriority")
        state = {"fired": False}

        def inject(p, man, fs, **kw):
            if not state["fired"]:
                state["fired"] = True        # A's inner claim is real
                M.upsert_partitioned(spark, path,
                                     _batch(o, 97, "3-MEDIUM", 100.0),
                                     ["o_orderkey"], "o_orderpriority",
                                     commit="pointer")
            return real(p, man, fs, **kw)

        M._write_commit = inject
        rebased = True
        try:
            # B loses the claim to A's injected commit and REBASES
            M.upsert_partitioned(spark, path,
                                 _batch(o, 89, "1-URGENT", 200.0),
                                 ["o_orderkey"], "o_orderpriority",
                                 commit="pointer")
        except M.ConcurrentCommitError:
            rebased = False
        finally:
            M._write_commit = real
        fs = fsops.PosixFS()
        head = M.read_commit(path)
        g0 = json.loads(fs.read_text(M._claim_file(path, 0)))
        g1 = json.loads(fs.read_text(M._claim_file(path, 1)))
        g2 = json.loads(fs.read_text(M._claim_file(path, 2)))
        rebased = (rebased and int(head["generation"]) == 2
                   and g1["touched"] == ["o_orderpriority=3-MEDIUM"]
                   and g2["touched"] == ["o_orderpriority=1-URGENT"])
        # single data-compute: every file in B's dir is gen-0
        # (superseded) or head-referenced — a recompute would have
        # appended a third, unreferenced set
        bdir = "o_orderpriority=1-URGENT"
        on_disk = {os.path.join(path, bdir, f)
                   for f in M._part_files(fs, path, bdir)}
        single = on_disk <= (
            set(M.manifest_files(head, path, fs=fs, dirs=[bdir]))
            | set(M.manifest_files(g0, path, fs=fs, dirs=[bdir])))
        agg = (M.read_manifested(spark, path)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total")))
        out = (agg.withColumn("rebased", F.lit(bool(rebased)))
               .withColumn("single_compute", F.lit(bool(single)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        M._write_commit = real
        shutil.rmtree(tmp, ignore_errors=True)


def _three_gen_table(spark, sf_dir, prefix):
    """orders as a pointer table with three generations: bootstrap
    (0), +50 on %53 of 2-HIGH (1), +75 on %71 of 5-LOW (2)."""
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix=prefix)
    path = os.path.join(tmp, "t")
    (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
     .write.mode("overwrite").partitionBy("o_orderpriority")
     .parquet(path))
    M.manifest_bootstrap(path, "o_orderpriority")
    M.upsert_partitioned(spark, path, _batch(o, 53, "2-HIGH", 50.0),
                         ["o_orderkey"], "o_orderpriority",
                         commit="pointer")
    M.upsert_partitioned(spark, path, _batch(o, 71, "5-LOW", 75.0),
                         ["o_orderkey"], "o_orderpriority",
                         commit="pointer")
    return o, tmp, path


# -- generation time travel (VERDICT r9 item 3): the claim chain is a
#    version log; vacuum_manifested(keep_claims=2) retires generation
#    0 but keeps 1 readable EXACTLY as committed (claims + every data
#    file they reference), so the query aggregates the PAST state —
#    orders with only the first update applied — after the second
#    update and the vacuum already happened ---------------------------
TIME_TRAVEL_SQL = f"""
WITH upd1 AS (
  SELECT o_orderkey, o_totalprice + 50.0 AS o_totalprice
  FROM orders
  WHERE o_orderkey % 53 = 0 AND o_orderpriority = '2-HIGH'
),
gen1 AS (
  SELECT o.o_orderkey, o.o_orderstatus,
         coalesce(u.o_totalprice, o.o_totalprice) AS o_totalprice
  FROM orders o LEFT JOIN upd1 u ON o.o_orderkey = u.o_orderkey
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS gen0_retired, TRUE AS head_intact
FROM gen1 GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("pointer_time_travel", TIME_TRAVEL_SQL)
def pointer_time_travel(spark, sf_dir):
    from ..functions import maintenance as M

    o, tmp, path = _three_gen_table(spark, sf_dir, "time_travel_")
    try:
        M.vacuum_manifested(path, keep_claims=2)
        gen0_retired = M.manifest_generations(path) == [1, 2]
        try:
            M.read_manifested(spark, path, generation=0)
            gen0_retired = False          # must have raised
        except ValueError:
            pass
        head_intact = (M.read_manifested(spark, path).count()
                       == o.count())
        agg = (M.read_manifested(spark, path, generation=1)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total")))
        out = (agg
               .withColumn("gen0_retired", F.lit(bool(gen0_retired)))
               .withColumn("head_intact", F.lit(bool(head_intact)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- change feed between generations: manifested_cdc composes the
#    version log with cdc_rows — the delta between generations 1 and
#    2 is exactly the second update's keys, as update records with
#    before/after values ----------------------------------------------
GEN_CDC_SQL = """
SELECT 'update' AS change_type,
       o_orderkey,
       round(o_totalprice, 2) AS o_totalprice_before,
       round(o_totalprice + 75.0, 2) AS o_totalprice_after
FROM orders
WHERE o_orderkey % 71 = 0 AND o_orderpriority = '5-LOW'
ORDER BY o_orderkey
"""


@query("cdc_between_generations", GEN_CDC_SQL)
def cdc_between_generations(spark, sf_dir):
    from ..functions import maintenance as M

    _o, tmp, path = _three_gen_table(spark, sf_dir, "gen_cdc_")
    try:
        cdc = (M.manifested_cdc(spark, path, 1, 2, ["o_orderkey"],
                                compare_cols=["o_totalprice"])
               .select("change_type", "o_orderkey",
                       F.round("o_totalprice_before", 2)
                       .alias("o_totalprice_before"),
                       F.round("o_totalprice_after", 2)
                       .alias("o_totalprice_after"))
               .orderBy("o_orderkey"))
        # JVM-side materialization before the table dir is deleted —
        # same rationale as cdc_between_snapshots (guide §5)
        return cdc.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# -- pointer-committed bloom key index (VERDICT r9 item 5): the move
#    guard's bloom prefilter now works under commit='pointer' (the
#    index commits through the snapshot CAS, updated before the table
#    claim).  Booleans pin: the insert-only batch skipped the
#    outside-dir key scan, a partition-moving update was still
#    rejected, and the guard's exact fallback ran exactly once --------
POINTER_BLOOM_SQL = f"""
WITH ins AS (
  SELECT CAST(90000000 + o_orderkey AS BIGINT) AS o_orderkey,
         o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders
  WHERE o_orderkey % 101 = 0 AND o_orderpriority = '4-NOT SPECIFIED'
),
merged AS (
  SELECT * FROM ins
  UNION ALL SELECT * FROM orders
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       {cent_sum_sql('o_totalprice')} AS total,
       TRUE AS scan_skipped, TRUE AS mover_rejected
FROM merged GROUP BY o_orderstatus ORDER BY o_orderstatus
"""


@query("upsert_pointer_bloom", POINTER_BLOOM_SQL)
def upsert_pointer_bloom(spark, sf_dir):
    from ..functions import maintenance as M

    o = tbl(spark, sf_dir, "orders").to_spark()
    tmp = tempfile.mkdtemp(prefix="pointer_bloom_")
    path = os.path.join(tmp, "t")
    bloom = os.path.join(tmp, "bloom")
    real = M._move_guard_full_scan
    try:
        (o.hint("rebalance", "o_orderpriority")   # guide §6: dir-sized
         .write.mode("overwrite").partitionBy("o_orderpriority")
         .parquet(path))
        M.manifest_bootstrap(path, "o_orderpriority")
        # tight fpp: the scan-skipped boolean needs ZERO maybe-hits
        # over the insert batch's ~3k keys at x10 — that demands
        # k ≳ log2(n_probe/ε), i.e. fpp ≈ 1e-6 (P(any FP) ≈ 0.003;
        # the old 1e-4 EXPECTED 0.3 false positives at x10 and only
        # passed on a lucky hash draw).  Verified hit-free on every
        # benched corpus (OPTIMIZATION_r10.md)
        M.bloom_append_snapshot(spark, bloom,
                                M.read_manifested(spark, path),
                                ["o_orderkey"], fpp=1e-6)
        calls = []

        def counted(*a, **kw):
            calls.append(1)
            return real(*a, **kw)

        M._move_guard_full_scan = counted
        ins = (o.where((F.col("o_orderkey") % 101 == 0)
                       & (F.col("o_orderpriority")
                          == "4-NOT SPECIFIED"))
               .withColumn("o_orderkey",
                           (F.col("o_orderkey")
                            + F.lit(90000000)).cast("long")))
        M.upsert_partitioned(spark, path, ins, ["o_orderkey"],
                             "o_orderpriority", commit="pointer",
                             key_bloom_path=bloom)
        scan_skipped = calls == []
        mover_rejected = False
        # an existing key re-targeted at a DIFFERENT partition
        mover = (o.orderBy("o_orderkey").limit(1)
                 .withColumn("o_orderpriority",
                             F.when(F.col("o_orderpriority")
                                    == "1-URGENT", F.lit("2-HIGH"))
                             .otherwise(F.lit("1-URGENT"))))
        try:
            M.upsert_partitioned(spark, path, mover, ["o_orderkey"],
                                 "o_orderpriority", commit="pointer",
                                 key_bloom_path=bloom)
        except ValueError as exc:
            mover_rejected = "partition-moving" in str(exc)
        exact_once = len(calls) == 1
        agg = (M.read_manifested(spark, path)
               .groupBy("o_orderstatus")
               .agg(F.count(F.lit(1)).alias("n"),
                    cent_sum(F.col("o_totalprice")).alias("total")))
        out = (agg
               .withColumn("scan_skipped",
                           F.lit(bool(scan_skipped and exact_once)))
               .withColumn("mover_rejected",
                           F.lit(bool(mover_rejected)))
               .orderBy("o_orderstatus"))
        return spark.createDataFrame(out.collect(), out.schema)
    finally:
        M._move_guard_full_scan = real
        shutil.rmtree(tmp, ignore_errors=True)
