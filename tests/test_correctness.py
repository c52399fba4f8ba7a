"""Differential correctness: every registry query with an oracle must
match DuckDB on the same parquet (mirrors the driver's t2 gate)."""

from __future__ import annotations

import pytest

from dask_expr_spark.queries import collect_queries

from .oracle import compare, duck_con
from .test_plans import NESTED_LOOP_OK

_REG = collect_queries()
_WITH_ORACLE = sorted(name for name, (_f, sql) in _REG.items() if sql)
_NO_ORACLE = sorted(name for name, (_f, sql) in _REG.items() if not sql)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


def assert_scale_safe_plan(name: str, sdf) -> None:
    """Scale guardrail, piggybacked on the oracle sweep (it already
    builds every registry query once — a separate whole-registry pass
    re-ran every composite's writes for 165 s): no query may compile
    to a cartesian product, an unlisted nested-loop join, or a
    row-at-a-time Python UDF (BatchEvalPython) — the three plan shapes
    that silently stop scaling."""
    sdf = sdf.to_spark() if hasattr(sdf, "to_spark") else sdf
    plan = sdf._jdf.queryExecution().executedPlan().toString()
    flags = []
    if "CartesianProduct" in plan:
        flags.append("cartesian")
    if "BatchEvalPython" in plan:
        flags.append("row-python-udf")
    if "BroadcastNestedLoopJoin" in plan and name not in NESTED_LOOP_OK:
        flags.append("nested-loop")
    assert not flags, f"scale-hostile plan for {name}: {flags}"


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_match(name, spark, sf_dir, con):
    fn, sql = _REG[name]
    sdf = fn(spark, sf_dir)
    assert_scale_safe_plan(name, sdf)
    oracle = con.execute(sql).df()
    errors = compare(sdf, oracle, name)
    assert not errors, "\n".join(errors)


@pytest.mark.parametrize("name", _NO_ORACLE)
def test_rows_only(name, spark, sf_dir):
    fn, _ = _REG[name]
    sdf = fn(spark, sf_dir)
    assert_scale_safe_plan(name, sdf)
    n = sdf.count()
    assert n >= 0
    assert len(sdf.schema.fields) > 0
