"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``dask_expr_spark.queries`` — one named query
(+ DuckDB oracle where SQL-expressible) per implemented operator from
SURVEY.md §2.

The correctness run checks only the first 50 queries per round, so the registry
is served in ``rotate()`` order, derived from the CORRECTNESS files
next to this one: queries without a green latest row first, then
``CHANGED_THIS_ROUND``, then the rest, oldest green row first.  Every
query is also swept locally against DuckDB (tests/test_correctness.py),
so the rotation keeps the CORRECTNESS record fresh rather than gating
correctness.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from dask_expr_spark.queries import collect_queries  # noqa: E402

# Queries whose execution path changed since the latest CORRECTNESS
# file: they lead the check window right after the queries without a
# green row.  Replace the list whenever a change reaches a query's path.
CHANGED_THIS_ROUND = (
    # call upsert_partitioned (directly, through upsert_bucketed or
    # through upsert_sink), whose move guard now checks only the
    # outside dirs and whose order_col merge drops emptied dirs
    "upsert_partitioned_roundtrip", "upsert_bucketed_roundtrip",
    "upsert_pointer_roundtrip", "compact_manifested_files",
    "manifest_sharded_upsert", "concurrent_upsert_cas",
    "multicol_pointer_upsert", "disjoint_rebase_upsert",
    "pointer_time_travel", "cdc_between_generations",
    "upsert_pointer_bloom", "stream_upsert_snapshot",
    "stream_upsert_bucketed", "stream_upsert_pointer",
    # a rename-protocol delete_where, whose partition drop moved into
    # the helper the upsert shares
    "delete_where_orders",
)

_REGISTRY = None


def correctness_history(root: str = _HERE) -> dict[str, tuple[int, bool]]:
    """query -> (round, green) of its latest row in the
    ``CORRECTNESS_r{N}.json`` files under `root`; green means
    ``hash_match`` is true."""
    rounds = sorted(
        (int(m.group(1)), name) for name in os.listdir(root)
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", name)))
    history: dict[str, tuple[int, bool]] = {}
    for rnd, name in rounds:
        with open(os.path.join(root, name)) as fh:
            for query, row in json.load(fh).items():
                history[query] = (rnd, row.get("hash_match") is True)
    return history


def rotate(names: Iterable[str], history: Mapping[str, tuple[int, bool]],
           changed: Iterable[str]) -> list[str]:
    """Check-window order of `names`: queries whose latest row is not
    green (or that have none) first, then `changed`, then the rest by
    the round of their latest green row, oldest first.  Ties keep the
    order of `names`."""
    changed = set(changed)

    def rank(name: str) -> tuple[int, int]:
        rnd, green = history.get(name, (0, False))
        if not green:
            return (0, 0)
        return (1, 0) if name in changed else (2, rnd)

    return sorted(names, key=rank)


def _registry():
    global _REGISTRY
    if _REGISTRY is None:
        reg = collect_queries()
        order = rotate(reg, correctness_history(), CHANGED_THIS_ROUND)
        _REGISTRY = {name: reg[name] for name in order}
    return _REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    fn, _ = _registry()["q1_pricing_summary"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: fn for name, (fn, _sql) in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_fn, sql) in _registry().items() if sql is not None}
