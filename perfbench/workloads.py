"""The three workloads: their inputs, their operations and their checks.

Every workload is one closed-loop client: an operation starts when the
previous one has returned.  An operation is a pair of calls, `build`
(driver-side composition; it may return a Spark DataFrame) and `act`
(the action: `.collect()` on that frame, or the whole commit-layer call
when there is no frame).  Checks compare what `act` returned with an
expectation computed before any timed section.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq

from . import datagen
from .check import Expected

# Scale factor of the generated tables, per workload.  interactive
# times the fixed per-call cost of small queries, so its tables are the
# smallest; the operator-bound pipeline and the table loop of maintain
# use sf0.01.
SF = {"interactive": 0.001, "pipeline": 0.01, "maintain": 0.01}
# The tables are the same on every run: `--seed` only draws the op
# order and the maintain slices, so runs with different seeds time the
# same queries on the same data.
DATA_SEED = 0

# Read-only registry queries with small results.  The driver-side build
# (Python composition, py4j calls, parquet schema resolution) is a
# large share of each call, so the facade layers show here.
INTERACTIVE = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_revenue_by_nation",
    "q6_forecast_revenue", "q11_important_stock", "q18_large_orders",
    "window_shift_diff", "topk_orders", "value_counts_flag",
    "resample_hourly", "asof_purchase_click", "string_ops",
    "dedup_exact_docs", "text_stats_by_lang",
)

# Operator-heavy registry queries: the action (Spark running the
# operators/* and functions/* code) dominates the build.  Three of them
# return one row per order, which also exercises the collect path.
PIPELINE = (
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_connected_groups",
    "ordered_cumsum_global", "ordered_shift_global",
    "expanding_median_global", "ann_lsh_bucketed", "ann_ivf_topk",
    "text_lm_perplexity", "text_bm25_search", "cms_custkey_counts",
    "sample_n_per_group_orders",
)

# Approximate search: the result must be a subset of the exact oracle
# holding at least this share of its rows (the recall this commit
# reaches; at sf0.1 ann_ivf_topk returns 17 of 20 oracle rows).
CONTAINMENT = {"ann_ivf_topk": 0.8}

# maintain: one cycle (one pass) is upsert, read, delete, reinsert,
# read; every MAINTAIN_PERIOD cycles the table is vacuumed and compacted
# before the last read.  Each cycle makes two bloom appends, so with the
# bloom's default fold at 8 segments any MAINTAIN_PERIOD consecutive
# cycles hold exactly one compaction and one bloom fold: a timed window
# of whole periods sees the same state changes on every run.
MAINTAIN_PERIOD = 4
UPSERT_MOD = 50     # upsert slice: 1 key in 50 (2 %)
DELETE_MOD = 100    # delete/reinsert slice: 1 key in 100 (1 %)
_ORDER_KEY = ["o_orderkey"]
_PART_COL = "o_orderpriority"


class Op:
    """One operation of a workload: `name`, then `build()` and `act(df)`."""

    def __init__(self, name, build, act, check=None, rows=0, key=None):
        self.name = name
        self.key = key or name  # ops with one key run on the same state
        self.build = build
        self.act = act
        self.check = check  # (df, result) -> None, or why the result is wrong
        self.rows = rows    # rows the op writes (commit ops)


def _collect(df):
    return df.collect()


def _slice(keys, a: int, b: int, mod: int):
    return (keys * a + b) % mod == 0


def _coprime(a: int) -> int:
    """A multiplier prime to 2 and 5, so a slice holds 1/mod of any key range."""
    a |= 1
    return a + 2 if a % 5 == 0 else a


class QueryWorkload:
    """interactive / pipeline: fixed registry queries on generated tables."""

    pass_group = 1  # any number of whole passes is a valid timed window
    # the first pass costs about 3x a warm one, the second about 1.2x
    warm_passes = 2
    setup_reps = 5  # a set-up takes about 1 s; the first, cold, about 3.5 s

    def __init__(self, spark, names, work_dir: str, sf: float,
                 nominal_pass_s: float):
        from dask_expr_spark.queries import collect_queries
        self.spark = spark
        self.names = names
        self.nominal_pass_s = nominal_pass_s  # a warm pass on a 4-core host
        self.work_dir = work_dir
        self.sf = sf
        self.registry = collect_queries()
        self.data_dir = None

    def generate(self) -> None:
        """Write the tables once (not part of any timed section)."""
        self.source = datagen.write(DATA_SEED, self.sf,
                                    os.path.join(self.work_dir, "data"))

    def setup(self, rep: int) -> float:
        """Open every table through the sources layer; returns the seconds
        that took.  Each repetition opens its own copy of the files, so
        no repetition reuses what Spark learned about another's paths."""
        from dask_expr_spark.sources.io import read_parquet
        d = os.path.join(self.work_dir, f"data{rep}")
        shutil.copytree(self.source, d)
        t0 = time.perf_counter()
        for t in datagen.TABLES:
            read_parquet(self.spark, os.path.join(d, f"{t}.parquet")).columns
        took = time.perf_counter() - t0
        self.data_dir = d
        return took

    def prepare(self, seed: int) -> None:
        """Compute every op's oracle expectation (outside timed sections)."""
        from tests.oracle import duck_con
        self.seed = seed
        con = duck_con(self.data_dir)
        try:
            self.ops = []
            for name in self.names:
                fn, sql = self.registry[name]
                exp = Expected(con.execute(sql).df(), CONTAINMENT.get(name))
                self.ops.append(Op(name, self._builder(fn), _collect,
                                   self._checker(exp)))
        finally:
            con.close()

    def pass_ops(self, p: int) -> list[Op]:
        """Pass `p` (from 0): every op once, in an order drawn from the seed."""
        order = np.random.default_rng([self.seed, p]).permutation(len(self.ops))
        return [self.ops[i] for i in order]

    def _builder(self, fn):
        return lambda: fn(self.spark, self.data_dir)

    @staticmethod
    def _checker(exp):
        return lambda df, rows: exp.mismatch(df.columns, rows)

    def observe(self) -> None:
        """Nothing to sample: the query workloads keep no table state."""


class MaintainWorkload:
    """A stationary commit-layer loop on a pointer-commit orders table,
    partitioned by o_orderpriority and guarded by a key bloom index.

    The row count never changes and every row's price is its base price
    plus 1 while its key was upserted and not reinserted since, so the
    expected read result and the end state follow from the slices."""

    nominal_pass_s = 5.0  # a warm cycle on a 4-core host
    pass_group = MAINTAIN_PERIOD  # timed windows are whole periods
    # cycle 0 runs every kind of op, vacuum and compaction included,
    # after the set-ups have built the table three times; a second warm
    # cycle takes the timed cycles past the steepest JIT drift
    warm_passes = 2
    setup_reps = 3  # a set-up takes about 1.5 s; the first, cold, about 10 s

    def __init__(self, spark, work_dir: str, sf: float):
        self.spark = spark
        self.work_dir = work_dir
        self.sf = sf

    def generate(self) -> None:
        """Write the base orders once (not part of any timed section)."""
        os.makedirs(self.work_dir, exist_ok=True)
        self.base_path = os.path.join(self.work_dir, "orders.parquet")
        pq.write_table(datagen.orders(DATA_SEED, self.sf), self.base_path)

    def setup(self, rep: int) -> float:
        """Build a fresh partitioned table, its manifest and its bloom
        index from the base orders; returns the seconds that took."""
        from dask_expr_spark.functions import maintenance as M
        spark = self.spark
        root = os.path.join(self.work_dir, f"maintain{rep}")
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        self.path = os.path.join(root, "table")
        self.bloom = os.path.join(root, "bloom")
        t0 = time.perf_counter()
        base = spark.read.parquet(self.base_path)
        base.write.partitionBy(_PART_COL).parquet(self.path)
        M.manifest_bootstrap(self.path, _PART_COL)
        M.bloom_append_snapshot(
            spark, self.bloom, base.limit(0), _ORDER_KEY,
            table_fn=lambda: M.read_manifested(spark, self.path))
        return time.perf_counter() - t0

    def prepare(self, seed: int) -> None:
        """Load the base rows the expected reads and end state follow from."""
        from pyspark.sql import functions as F
        self.F = F
        tbl = pq.read_table(self.base_path, columns=["o_orderkey", "o_totalprice",
                                                     _PART_COL]).to_pandas()
        order = np.argsort(tbl["o_orderkey"].to_numpy())
        self.keys = tbl["o_orderkey"].to_numpy()[order]
        self.cents = np.rint(tbl["o_totalprice"].to_numpy()[order] * 100).astype(np.int64)
        self.prio = tbl[_PART_COL].to_numpy()[order]
        self.bumped = np.zeros(len(self.keys), dtype=bool)
        self.rng = np.random.default_rng([seed, 7])
        self.cycle = 0
        self.states = []

    def observe(self) -> None:
        self.states.append(self.state())

    def pass_ops(self, p: int) -> list[Op]:
        """Pass `p` (from 0) is cycle `p`; cycles 0, MAINTAIN_PERIOD, ...
        vacuum and compact before their last read."""
        return self._cycle_ops()

    def _pred(self, a: int, b: int, mod: int):
        F = self.F
        return ((F.col("o_orderkey") * a + b) % mod) == 0

    def expected_read(self) -> set:
        return {(p, int((self.prio == p).sum()),
                 int(self.cents[self.prio == p].sum()
                     + 100 * (self.bumped & (self.prio == p)).sum()))
                for p in datagen.PRIORITIES}

    def _read_df(self):
        from dask_expr_spark.functions import maintenance as M
        F = self.F
        return (M.read_manifested(self.spark, self.path)
                .groupBy(_PART_COL)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                     .alias("cents")))

    def _cycle_ops(self) -> list[Op]:
        """The ops of the next cycle; slices are drawn from the seeded stream."""
        from dask_expr_spark.functions import maintenance as M
        spark, F = self.spark, self.F
        ua, ub = (int(x) for x in self.rng.integers(1, 1_000_003, 2))
        da, db = (int(x) for x in self.rng.integers(1, 1_000_003, 2))
        ua, da = _coprime(ua), _coprime(da)
        up_mask = _slice(self.keys, ua, ub, UPSERT_MOD)
        del_mask = _slice(self.keys, da, db, DELETE_MOD)
        # the model moves when the cycle is built; ops run in this order
        self.bumped |= up_mask
        after_upsert = self.expected_read()
        self.bumped &= ~del_mask
        after_reinsert = self.expected_read()

        def base():
            return spark.read.parquet(self.base_path)

        def upsert(_df):
            upd = (base().where(self._pred(ua, ub, UPSERT_MOD))
                   .withColumn("o_totalprice", F.col("o_totalprice") + 1.0))
            M.upsert_partitioned(spark, self.path, upd, _ORDER_KEY, _PART_COL,
                                 commit="pointer", key_bloom_path=self.bloom)

        def read_check(exp):
            def check(_df, rows):
                got = {(r[_PART_COL], r["n"], r["cents"]) for r in rows}
                return None if got == exp else f"read {sorted(got)} != {sorted(exp)}"
            return check

        def delete(_df):
            return M.delete_where(spark, self.path, self._pred(da, db, DELETE_MOD),
                                  _PART_COL, commit="pointer")

        n_del = int(del_mask.sum())

        def delete_check(_df, result):
            # the reinsert puts the same keys back, so the reads after it
            # cannot tell whether the delete removed anything
            got = result[1]
            return None if got == n_del else f"deleted {got} rows, not {n_del}"

        def reinsert(_df):
            M.upsert_partitioned(spark, self.path,
                                 base().where(self._pred(da, db, DELETE_MOD)),
                                 _ORDER_KEY, _PART_COL, commit="pointer",
                                 key_bloom_path=self.bloom)

        none = lambda: None  # noqa: E731
        cycle, self.cycle = self.cycle, self.cycle + 1
        at = f"@{cycle % MAINTAIN_PERIOD}"
        out = [Op("upsert", none, upsert, rows=int(up_mask.sum()), key="upsert" + at),
               Op("read", self._read_df, _collect, read_check(after_upsert),
                  key="read" + at),
               Op("delete", none, delete, delete_check, rows=n_del,
                  key="delete" + at),
               Op("reinsert", none, reinsert, rows=int(del_mask.sum()),
                  key="reinsert" + at)]
        if cycle % MAINTAIN_PERIOD == 0:
            out += [Op("vacuum", none, lambda _df: M.vacuum_manifested(self.path)),
                    Op("compact", none,
                       lambda _df: M.compact_manifested(spark, self.path))]
        # the cycle's last op reads the whole table: the exact row count
        # and price sum after every write, vacuum and compaction
        out.append(Op("read", self._read_df, _collect, read_check(after_reinsert),
                      key="reread" + at))
        return out

    def state(self) -> dict:
        """Committed data files and live bloom versions, right now."""
        from dask_expr_spark.functions import maintenance as M
        man = M.read_commit(self.path)
        return {"live_files": len(M.manifest_files(man, self.path)),
                "bloom_versions": len(M.snapshot_history(self.bloom))}

    def space_amp(self) -> float:
        """(live table + bloom bytes) / bytes of the same rows freshly written."""
        from dask_expr_spark.functions import maintenance as M
        man = M.read_commit(self.path)
        live = sum(os.path.getsize(f)
                   for f in M.manifest_files(man, self.path))
        bloom = _tree_bytes(self.bloom)
        fresh = os.path.join(self.work_dir, "fresh")
        shutil.rmtree(fresh, ignore_errors=True)
        M.read_manifested(self.spark, self.path).write \
            .partitionBy(_PART_COL).parquet(fresh)
        return (live + bloom) / _tree_bytes(fresh)


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(root) for f in fs
               if not f.startswith((".", "_")))


def make(spark, name: str, work_dir: str, sf: float | None = None):
    """Workload `name`, on tables of scale `sf` (default: SF[name])."""
    sf = sf or SF.get(name)
    if name == "interactive":
        return QueryWorkload(spark, INTERACTIVE, work_dir, sf, nominal_pass_s=6.0)
    if name == "pipeline":
        return QueryWorkload(spark, PIPELINE, work_dir, sf, nominal_pass_s=15.0)
    if name == "maintain":
        return MaintainWorkload(spark, work_dir, sf)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("interactive", "pipeline", "maintain")
