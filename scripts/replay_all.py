"""Full registry replay at the driver's correctness scale → a committed
machine-readable artifact (VERDICT r5 #4: the 350+ queries outside the
driver's 50-query CORRECTNESS window need durable per-round evidence,
timestamped AFTER the round's last registry change).

Runs EVERY __spark_entry__.queries() entry against its oracle_sql()
DuckDB twin at sf0.01 with exactly the comparison tests/test_oracle.py
(and the driver) use — row count, case-insensitive sorted column names,
order-insensitive canonical values — and writes REPLAY_r{N}.json:

    {"sf": 0.01, "finished_at": ..., "git_head": ...,
     "n_queries": N, "n_match": N, "failures": [...],
     "queries": {name: {"rows": n, "hash": md5-of-normalized-rows,
                        "match": true, "oracle": "full"}}}

Run: python scripts/replay_all.py [round_tag] [sf_dir] [--only a,b,...]
``--only`` replays just the named registry entries and marks the
artifact ``"subset": true`` — for hash-checking the entries a change
touches against the last full artifact without the full run.
Exit code 1 if any query mismatches.
"""
from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def normalize(rows, cols):
    """tests/test_oracle.py's canonicalization, verbatim."""
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


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("tag", nargs="?", default="r06")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("--only", default=None,
                    help="comma-separated registry names to replay")
    args = ap.parse_args()
    tag, sf_dir = args.tag, args.sf_dir

    import __spark_entry__ as entrymod
    from graphydb_spark import get_spark

    spark = get_spark(app="replay_all")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    if args.only is not None:
        names = [n for n in args.only.split(",") if n]
        unknown = sorted(set(names) - set(queries))
        if unknown:
            sys.exit(f"unknown registry names: {', '.join(unknown)}")
        queries = {n: queries[n] for n in names}
    out, failures = {}, []
    t0 = time.time()
    for i, name in enumerate(sorted(queries)):
        try:
            df = queries[name](spark, sf_dir)
            got_cols = [c.lower() for c in df.columns]
            got = [tuple(r) for r in df.collect()]
            g = normalize(got, got_cols)
            h = hashlib.md5(repr(g).encode()).hexdigest()
            res = con.execute(oracles[name])
            want_cols = [d[0].lower() for d in res.description]
            want = res.fetchall()
            w = normalize(want, want_cols)
            ok = (sorted(got_cols) == sorted(want_cols)
                  and len(got) == len(want) and g == w)
            out[name] = {"rows": len(got), "hash": h, "match": ok,
                         "oracle": "full"}
            if not ok:
                failures.append(name)
        except Exception as e:  # noqa: BLE001 — record, keep replaying
            out[name] = {"rows": None, "hash": None, "match": False,
                         "oracle": "error", "err": str(e)[:300]}
            failures.append(name)
        if (i + 1) % 50 == 0:
            print(f"  {i + 1}/{len(queries)} replayed "
                  f"({time.time() - t0:.0f}s)", flush=True)

    head = subprocess.run(["git", "rev-parse", "HEAD"],
                          capture_output=True, text=True,
                          cwd=os.path.dirname(os.path.dirname(
                              os.path.abspath(__file__)))).stdout.strip()
    artifact = {
        "sf": sf_dir.rstrip("/").rsplit("sf", 1)[-1],
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "git_head": head,
        "n_queries": len(queries),
        "subset": args.only is not None,
        "n_match": sum(1 for v in out.values() if v["match"]),
        "n_full_oracle": sum(1 for v in out.values()
                             if v["oracle"] == "full"),
        "failures": failures,
        "queries": out,
    }
    dest = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), f"REPLAY_{tag}.json")
    with open(dest, "w") as fh:
        json.dump(artifact, fh, indent=1, sort_keys=True)
    print(f"{artifact['n_match']}/{artifact['n_queries']} match "
          f"({artifact['n_full_oracle']} full oracles) -> {dest}")
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
