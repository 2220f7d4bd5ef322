"""Compare two sets of benchmark results, parent and change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--claim WORKLOAD:METRIC ...]

Each directory holds one file per run: the run's full stdout (its first
line names the workload, its last line is the result JSON).  Runs are
paired in file-name order, so name the files alike on both sides (for
example ``graph_query-<seed>.txt``).

For every workload and end-to-end metric it prints each side's median and
quartiles and a verdict, with the bound from ``BENCHMARK.json``:

* ``worse``: the change's median is worse than the parent's by more than
  the bound;
* ``unresolved``: the parent's own spread (quartile distance over median)
  is wider than the bound and not every change run beats every parent run;
* ``within bound`` otherwise (``better, every run`` when every change run
  beats every parent run).

For a claimed metric it also prints the pair-win count: a gain holds when
the change wins at least nine tenths of the pairs (ties count for
neither) and the medians differ by more than the parent's quartile
distance.  For traced runs it prints the per-layer medians and deltas.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> dict:
    """workload -> {"e2e": [metrics...], "layer": [metrics...]} in
    file-name order."""
    out: dict = {}
    for name in sorted(os.listdir(directory)):
        with open(os.path.join(directory, name)) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if not lines or not lines[0].startswith("workload "):
            continue
        workload = lines[0].split()[1]
        result = json.loads(lines[-1])
        kind = "layer" if any("." in k for k in result["metrics"]) else "e2e"
        out.setdefault(workload, {"e2e": [], "layer": []})[kind].append(
            {k: v["value"] for k, v in result["metrics"].items()})
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def better(a: float, b: float, direction: str) -> bool:
    return a < b if direction == "lower" else a > b


def verdict(parent: list[float], change: list[float], bound: float,
            direction: str) -> str:
    q1, med, q3 = quartiles(parent)
    c_med = quartiles(change)[1]
    all_better = all(better(c, p, direction)
                     for c in change for p in parent)
    if med and (q3 - q1) / abs(med) > bound:
        return "better, every run" if all_better else "unresolved"
    worse_by = ((c_med - med) if direction == "lower" else (med - c_med))
    if med and worse_by / abs(med) > bound:
        return "worse"
    return "better, every run" if all_better else "within bound"


def pair_wins(parent: list[float], change: list[float],
              direction: str) -> tuple[int, int, bool]:
    pairs = list(zip(parent, change))
    wins = sum(better(c, p, direction) for p, c in pairs)
    q1, med, q3 = quartiles(parent)
    gain = (wins >= 0.9 * len(pairs)
            and abs(quartiles(change)[1] - med) > (q3 - q1))
    return wins, len(pairs), gain


def fmt(q: tuple[float, float, float]) -> str:
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--claim", action="append", default=[],
                    help="WORKLOAD:METRIC a change claims to improve")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    parent, change = load(args.parent), load(args.change)
    claims = {tuple(c.split(":", 1)) for c in args.claim}
    worse = False
    print(f"{'workload':<18} {'metric':<14} {'parent median [q1, q3]':<30} "
          f"{'change median [q1, q3]':<30} verdict")
    for wl in sorted(set(parent) | set(change)):
        p_runs = parent.get(wl, {}).get("e2e", [])
        c_runs = change.get(wl, {}).get("e2e", [])
        if not p_runs or not c_runs:
            print(f"{wl:<18} (runs missing on one side)")
            continue
        for m in spec["end_to_end"]:
            p = [r[m["name"]] for r in p_runs]
            c = [r[m["name"]] for r in c_runs]
            v = verdict(p, c, m["bound"], m["better"])
            worse |= v == "worse"
            print(f"{wl:<18} {m['name']:<14} {fmt(quartiles(p)):<30} "
                  f"{fmt(quartiles(c)):<30} {v}")
            if (wl, m["name"]) in claims:
                wins, n, gain = pair_wins(p, c, m["better"])
                print(f"{'':<18} claim: change wins {wins}/{n} pairs; "
                      f"gain {'holds' if gain else 'not shown'}")
        p_layer = parent.get(wl, {}).get("layer", [])
        c_layer = change.get(wl, {}).get("layer", [])
        if p_layer and c_layer:
            for m in spec["per_layer"]:
                p = statistics.median(r[m["name"]] for r in p_layer)
                c = statistics.median(r[m["name"]] for r in c_layer)
                if p or c:
                    delta = f"{(c - p) / p:+.1%}" if p else "new"
                    print(f"{wl:<18}   layer {m['name']:<40} "
                          f"{p:.4g} -> {c:.4g} ({delta})")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main())
