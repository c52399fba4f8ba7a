"""Registry invariants: the driver validates only the FIRST 50 entries
of the registry per round, so coverage gaps must be impossible to
introduce silently (round-1 lesson: 50 queries went oracle-unchecked).
None of these tests starts Spark."""

from __future__ import annotations

import json
import pkgutil
import re

import pytest

import __spark_entry__ as E
import bench as B
import dask_expr_spark.queries as Q
from dask_expr_spark.queries import collect_queries
from dask_expr_spark.queries._util import REGISTRY, query

DRIVER_WINDOW = 50

# synthetic correctness history: query -> (round of latest row, green)
_HISTORY = {
    "new_green": (3, True), "old_green": (1, True), "red": (2, False),
    "mid_green": (2, True), "changed": (3, True), "changed_red": (1, False),
    "old_green_2": (1, True),
}
_NAMES = ["new_green", "old_green", "red", "mid_green", "unseen",
          "changed", "changed_red", "old_green_2"]
_CHANGED = ("changed", "changed_red")


def test_rotation_puts_unvalidated_first():
    assert E.rotate(_NAMES, _HISTORY, _CHANGED) == [
        # red-latest and never-seen queries lead, in registry order; a
        # changed query that is red stays in this class
        "red", "unseen", "changed_red",
        # then CHANGED_THIS_ROUND
        "changed",
        # then green queries, oldest round first; ties keep registry
        # order
        "old_green", "old_green_2", "mid_green", "new_green"]


def test_correctness_history_reads_latest_row(tmp_path):
    rows = {
        "CORRECTNESS_r2.json": {"a": {"hash_match": True},
                                "b": {"hash_match": True}},
        "CORRECTNESS_r10.json": {"a": {"hash_match": False},
                                 "c": {"hash_match": None,
                                       "err": "no oracle"}},
        "CORRECTNESS_r3_notes.json": {"b": {"hash_match": False}},
    }
    for name, body in rows.items():
        (tmp_path / name).write_text(json.dumps(body))
    # r10 is newer than r2 (numeric, not lexical, order); files that
    # don't match the name pattern are ignored
    assert E.correctness_history(str(tmp_path)) == {
        "a": (10, False), "b": (2, True), "c": (10, False)}


def test_unvalidated_fit_driver_window():
    names = list(collect_queries())
    history = E.correctness_history()
    backlog = [n for n in names if not history.get(n, (0, False))[1]]
    assert len(backlog) <= DRIVER_WINDOW, (
        f"{len(backlog)} queries without a green CORRECTNESS row exceed the "
        f"{DRIVER_WINDOW}-query check window")
    missing = [n for n in E.CHANGED_THIS_ROUND if n not in names]
    assert not missing, f"CHANGED_THIS_ROUND names not in registry: {missing}"
    changed = set(E.CHANGED_THIS_ROUND) - set(backlog)
    assert len(backlog) + len(changed) <= DRIVER_WINDOW, (
        "CHANGED_THIS_ROUND no longer fits the check window")


def test_check_window_is_rotation():
    order = E.rotate(collect_queries(), E.correctness_history(),
                     E.CHANGED_THIS_ROUND)
    assert list(E.queries()) == order
    assert set(E.oracle_sql()) == {
        n for n, (_fn, sql) in collect_queries().items() if sql is not None}


def test_registry_pairs_well_formed():
    qs = collect_queries()
    assert len(qs) >= 100
    for name, (fn, sql) in qs.items():
        assert callable(fn), name
        assert sql is None or isinstance(sql, str), name


def test_bench_entries_well_formed():
    """bench.py's ENTRIES table: every registry-backed entry exists,
    every corpus and action is one the bench knows, and the printed
    line keeps its 57 entries."""
    registry = collect_queries()
    for name, e in B.ENTRIES.items():
        assert e.fn is not None or name in registry, name
        assert e.corpus in ("sf", "x10", "x100"), name
        assert e.action in ("collect", "noop"), name
    assert sum(not e.probe for e in B.ENTRIES.values()) == 57


def test_coverage_md_fresh():
    """COVERAGE.md is generated from scripts/gen_coverage.py; a renamed
    or deleted registry query must fail generation, and the committed
    file must match the generator's output."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "gen_coverage.py"),
         "--check"], capture_output=True, text=True, cwd=root)
    assert res.returncode == 0, res.stdout + res.stderr


def test_query_modules_named_by_family():
    """Every query module is named for its family and registers at
    least one query; no module is named for the round that added it."""
    mods = [m.name for m in pkgutil.iter_modules(Q.__path__)]
    assert not [m for m in mods if re.match(r"round\d", m)], mods
    owners = {fn.__module__.rsplit(".", 1)[1]
              for fn, _sql in collect_queries().values()}
    empty = [m for m in mods if not m.startswith("_") and m not in owners]
    assert not empty, f"modules registering no query: {empty}"


def test_duplicate_query_name_raises():
    name = next(iter(collect_queries()))
    before = REGISTRY[name]
    with pytest.raises(ValueError, match=name):
        query(name, None)(lambda spark, sf_dir: None)
    assert REGISTRY[name] is before
