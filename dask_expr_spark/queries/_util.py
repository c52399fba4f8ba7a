"""Shared helpers for the query registry."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import SparkSession

from pyspark.sql import functions as F

from ..collection import DataFrame
from ..sources.io import read_parquet

# name -> (query fn, DuckDB oracle SQL or None), filled by @query
REGISTRY: dict[str, tuple[Callable, str | None]] = {}


def query(name: str, sql: str | None):
    """Register the decorated ``fn(spark, sf_dir)`` as query `name`
    with `sql` as its DuckDB oracle (None where the operator is not
    SQL-expressible).  A name registers once."""
    def deco(fn):
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name}")
        REGISTRY[name] = (fn, sql)
        return fn
    return deco


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Cross-engine-exact aggregation helpers.
#
# Double sums are order-dependent, so a Spark sum and a DuckDB sum of the
# same column can differ in the last ULP and flip a post-sum round().
# The testdata measures have fixed decimal precision (prices/quantities: 2
# decimals, discount/tax: 2), so casting each value to DECIMAL before
# summing makes the aggregate exact and engine-independent; cast back to
# DOUBLE afterwards so both engines hand pandas the identical float64.
# ---------------------------------------------------------------------------

def dec_sum(c, scale: int = 4):
    """Spark-side exact sum of a fixed-precision measure."""
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double")


def dec_avg(c, scale: int = 4):
    """Spark-side exact mean: exact decimal sum ÷ count (both engines
    perform the identical IEEE double division)."""
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double") / F.count(c)


def cent_sum(c, scale: int = 2):
    """Fixed-point exact sum: measure × 10^scale rounded to BIGINT,
    summed as longs (whole-stage codegen — ~2.3× faster than decimal
    sums), rescaled to double. EXACT only while the scaled sum fits in
    int64 (~9.2e18): fine through sf0.1 and far beyond (≤1e17 here);
    at true 100 TB scale use dec_sum (decimal path, unbounded).
    Ties in the rounding can't occur: the true scaled value is an
    integer and the double is within ~1e-9 of it."""
    mult = 10 ** scale
    return (
        F.sum(F.round(c * mult).cast("long")).cast("double") / F.lit(float(mult))
    )


def cent_avg(c, scale: int = 2):
    mult = 10 ** scale
    return (
        F.sum(F.round(c * mult).cast("long")).cast("double")
        / F.lit(float(mult))
        / F.count(c)
    )


def cent_sum_sql(expr: str, scale: int = 2) -> str:
    mult = 10 ** scale
    return (
        f"CAST(sum(CAST(round(({expr}) * {mult}) AS BIGINT)) AS DOUBLE) / {float(mult)}"
    )


def cent_avg_sql(expr: str, scale: int = 2) -> str:
    mult = 10 ** scale
    return (
        f"CAST(sum(CAST(round(({expr}) * {mult}) AS BIGINT)) AS DOUBLE)"
        f" / {float(mult)} / count({expr})"
    )


def dec_sum_sql(expr: str, scale: int = 4) -> str:
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(27,{scale}))) AS DOUBLE)"


def dec_avg_sql(expr: str, scale: int = 4) -> str:
    return (
        f"CAST(sum(CAST(({expr}) AS DECIMAL(27,{scale}))) AS DOUBLE)"
        f" / count({expr})"
    )
