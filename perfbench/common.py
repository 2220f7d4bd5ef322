"""Shared pieces of the benchmark: the run context, result canonical form
and comparison, and small statistics helpers."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import statistics
from dataclasses import dataclass, field


@dataclass
class Ctx:
    """Everything a workload's set-up, oracle and ops need."""

    spark: object
    data_dir: str
    work_dir: str
    duck: object                 # duckdb connection with one view per table
    state: dict = field(default_factory=dict)
    #: per-layer samples, name -> values; reset before each measured pass
    samples: dict = field(default_factory=dict)
    spans: object = None         # tracing.Spans while the traced pass runs

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))


def norm(v):
    """One result value in comparable form."""
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return str(v)


def _key(row: tuple) -> tuple:
    return tuple("" if v is None else
                 (f"{v:.6f}" if isinstance(v, float) else str(v))
                 for v in row)


def canon(rows, ordered: bool = False) -> list[tuple]:
    """Rows as a list of tuples; sorted unless the order is the result."""
    out = [tuple(norm(v) for v in r) for r in rows]
    return out if ordered else sorted(out, key=_key)


def canon_df(df, ordered: bool = False) -> list[tuple]:
    """Collect a Spark DataFrame with its columns in name order."""
    cols = sorted(df.columns)
    return canon(df.select(*cols).collect(), ordered)


def canon_duck(con, sql: str, ordered: bool = False, params=None):
    """Run ``sql`` in DuckDB; columns in name order, like :func:`canon_df`."""
    cur = con.execute(sql, params or [])
    names = [d[0] for d in cur.description]
    order = sorted(range(len(names)), key=lambda i: names[i])
    return canon([tuple(r[i] for i in order) for r in cur.fetchall()],
                 ordered)


def _same_value(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same_value, a, b))
    return a == b


def same(got, want) -> bool:
    """Equality with a 1e-9 tolerance on floats (engines sum in different
    orders)."""
    return _same_value(norm(got), norm(want))


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set of ``pid`` in MiB, from ``/proc/<pid>/status``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
