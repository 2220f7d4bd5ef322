"""Differential gate: every declared query vs its DuckDB oracle at
sf0.001 — the same comparison the driver runs at sf0.01 (row count +
column names + order-insensitive values).  The reference's own test
strategy scaled up (SURVEY.md §5: randomized differential suite vs a
native-set oracle)."""

import math
import os

import duckdb
import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def normalize(rows, cols):
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if isinstance(v, bool):
            return v
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return round(v, 9)
        if isinstance(v, int):
            return float(v) if abs(v) < 2**52 else v
        return str(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


QUERIES = entrymod.queries()
ORACLE = entrymod.oracle_sql()

# Tiering (round 10): the DEFAULT tier replays the driver-visible
# surface — the driver's 50-entry correctness window (the first 50
# declared queries, the frozen window CORRECTNESS_rNN.json checks) plus
# every bench.py headline query.  The remaining registry entries carry
# the `slowtier` mark and run in the full tier (-m ""), which the
# builder runs at each round's head.  Declaration order is the window:
# queries() preserves the registry's insertion order.
from bench import BENCH_QUERIES  # noqa: E402  (repo root on sys.path)

_WINDOW = set(list(QUERIES)[:50]) | set(BENCH_QUERIES)
_PARAMS = [n if n in _WINDOW
           else pytest.param(n, marks=pytest.mark.slowtier)
           for n in sorted(QUERIES)]


@pytest.mark.parametrize("name", _PARAMS)
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_DIR)
    got_cols = df.columns
    got = [tuple(r) for r in df.collect()]
    res = duck.execute(ORACLE[name])
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    assert sorted(c.lower() for c in got_cols) == \
        sorted(c.lower() for c in want_cols), \
        f"{name}: columns {got_cols} vs oracle {want_cols}"
    assert len(got) == len(want), \
        f"{name}: {len(got)} rows vs oracle {len(want)}"
    g = normalize(got, [c.lower() for c in got_cols])
    w = normalize(want, [c.lower() for c in want_cols])
    if g != w:
        diffs = [(a, b) for a, b in zip(g, w) if a != b][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")


def test_catalog_consistency():
    """Every declared query has an oracle and every oracle key names a
    declared query (a gap here would drop a correctness gate), and
    entry-point exports must mirror the catalog."""
    assert set(ORACLE) == set(QUERIES)
    assert set(entrymod.queries()) == set(QUERIES)
