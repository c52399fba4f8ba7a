"""Query registry: every implemented operator from SURVEY.md §2 gets a
named query (facade-API Spark plan) plus, where SQL-expressible, a
DuckDB oracle SQL string. The driver runs both sides at sf0.01 and
hash-compares (see repo-root __spark_entry__.py, which also orders the
registry for the correctness run's check window).

Every query registers with ``@query(name, sql)`` from ``_util``; a
name registers once.  One module per family:

- ``tpch``, ``tpch2``-``tpch4``: TPC-H style joins and aggregations;
- ``relational``: reshape, grouping sets and set operations;
- ``ops``: row ops, reductions, groupby and partitioning invariance;
- ``windows``: ordered and window ops (shift, cumsum, rolling,
  expanding, ffill, as-of joins);
- ``events``: event analytics (funnels, retention, interval joins);
- ``io``: writer/reader round-trips and literal/generated sources;
- ``text``, ``dedup``, ``similarity``: text processing, exact and near
  dedup, ANN and multimodal;
- ``approx``, ``sampling_q``, ``stats``: sketches, sampling and splits,
  profiling/validation/drift;
- ``streaming_q``: streaming sources and sinks;
- ``tables``: the commit layer (upsert, delete, compaction, snapshots,
  zone maps, SCD-2, CDC, pointer commits).

Float outputs are rounded identically on both sides so the
order-insensitive value-hash is stable across engines.
"""

from __future__ import annotations

import importlib
import pkgutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ._util import REGISTRY


def collect_queries() -> dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]]:
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")
    return dict(REGISTRY)
