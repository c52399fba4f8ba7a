"""Result checks: a collected Spark result against its DuckDB oracle.

Both sides are reduced to a multiset of normalized row tuples, with
columns matched by name.  This is the rule of the project's oracle gate
(`tests/oracle.py`): order-insensitive rows, exact values, timestamps
at microsecond precision, text compared as text.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from collections import Counter

import numpy as np
import pandas as pd


def _norm(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, decimal.Decimal, np.integer, np.floating)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, (dt.datetime, dt.date, pd.Timestamp, np.datetime64)):
        ts = pd.Timestamp(v)
        return None if ts is pd.NaT else ("ts", ts.as_unit("us").value)
    if isinstance(v, str):
        return v
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        return tuple(_norm(x) for x in v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm(x) for x in v)
    return str(v)


class Expected:
    """An oracle result, normalized once, outside any timed section."""

    def __init__(self, pdf: pd.DataFrame, contain_floor: float | None = None):
        self.columns = sorted(pdf.columns)
        self.rows = Counter(
            tuple(_norm(v) for v in rec)
            for rec in pdf[self.columns].itertuples(index=False, name=None))
        self.n = sum(self.rows.values())
        # containment ops (approximate search): the result must be a
        # subset of the exact oracle holding at least this share of it
        self.contain_floor = contain_floor

    def mismatch(self, columns: list[str], rows: list) -> str | None:
        """None when `rows` (as collected) match; else a short reason."""
        if sorted(columns) != self.columns:
            return f"columns {sorted(columns)} != {self.columns}"
        idx = [columns.index(c) for c in self.columns]
        got = Counter(tuple(_norm(r[i]) for i in idx) for r in rows)
        n = sum(got.values())
        if self.contain_floor is None:
            if got != self.rows:
                return (f"{n} rows, {sum((got - self.rows).values())} not "
                        f"in the oracle's {self.n}")
            return None
        extra = got - self.rows
        if extra:
            return f"{sum(extra.values())} of {n} rows not in the oracle"
        if n < math.ceil(self.contain_floor * self.n):
            return f"{n} rows < {self.contain_floor} x {self.n} oracle rows"
        return None
