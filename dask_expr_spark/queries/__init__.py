"""Query registry: every implemented operator from SURVEY.md §2 gets a
named query (facade-API Spark plan) plus, where SQL-expressible, a
DuckDB oracle SQL string. The driver runs both sides at sf0.01 and
hash-compares (see repo-root __spark_entry__.py, which also orders the
registry for the correctness run's check window).

Float outputs are rounded identically on both sides so the
order-insensitive value-hash is stable across engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def collect_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    from . import approx, dedup, events, ops, relational, round3, round3b, round3c, round4, round5, round5b, round6, round6b, round7, round8, round9, round10, sampling_q, similarity, stats, streaming_q, text, tpch, tpch2, tpch3, tpch4, windows

    out: dict = {}
    for mod in (round10, round9, round8, round7, round6b, round6, round5b, round5, tpch4, round4, round3, round3b, round3c, tpch, tpch2, tpch3, ops, approx, relational, windows, events, text, dedup, similarity, streaming_q, stats, sampling_q):
        for name, pair in mod.QUERIES.items():
            if name in out:
                raise ValueError(f"duplicate query name {name}")
            out[name] = pair
    return out
