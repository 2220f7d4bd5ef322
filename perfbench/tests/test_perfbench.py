"""Self-tests of the benchmark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The op-stream tests need no Spark.  The others run the benchmark itself
on the tiny generated dataset (``--scale 0.001``), one cycle per workload,
and take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(*args: str) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--scale", "0.001",
         "--seconds", "1", *args],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600, check=False)
    return proc.returncode, proc.stdout.strip().splitlines()


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_op_stream_is_a_function_of_the_seed(workload):
    _, _, a = run.op_stream(workload, 7, 0.01, 2)
    _, _, b = run.op_stream(workload, 7, 0.01, 2)
    _, _, c = run.op_stream(workload, 8, 0.01, 2)
    assert a == b
    assert a != c


def test_a_wrong_result_fails_the_run():
    rc, out = bench("--workload", "graph_write", "--seed", "1",
                    "--corrupt-expected")
    result = json.loads(out[-1])
    assert rc != 0
    assert not result["correct"]
    assert result["failed"] > 0
    assert any(ln.startswith("failed_frac ") and float(ln.split()[1]) > 0
               for ln in out)


def printed(out: list[str], name: str, unit: str) -> bool:
    return any(ln.startswith(f"{name} ") and ln.endswith(f" {unit}")
               for ln in out)


def test_smoke_every_workload():
    """Every end-to-end metric prints with its unit on every workload, no
    op fails, the memo guard stays clean, and every per-layer metric is
    measured (non-zero) by at least one workload's traced run."""
    measured = set()
    for workload in run.WORKLOADS:
        rc, out = bench("--workload", workload, "--seed", "3")
        assert rc == 0, out
        result = json.loads(out[-1])
        assert result["failed"] == 0 and result["attempted"] > 0
        for m in SPEC["end_to_end"]:
            assert result["metrics"][m["name"]]["unit"] == m["unit"]
            assert result["metrics"][m["name"]]["value"] > 0
            assert printed(out, m["name"], m["unit"])
        # wall-clock figures are report lines, not bounded metrics
        assert printed(out, "ops_per_s", "1/s")
        assert printed(out, "op_p50_ms", "ms")
        assert "failed_frac 0 ratio" in out
        if workload == "graph_write":
            assert printed(out, "items_per_s", "1/s")
            assert printed(out, "stored_bytes_per_user_byte", "ratio")

        rc, out = bench("--workload", workload, "--seed", "3", "--trace", "1")
        assert rc == 0, out
        result = json.loads(out[-1])
        assert result["failed"] == 0
        assert result["metrics"]["trace.zero_job_ops"]["value"] == 0
        assert result["metrics"]["trace.overhead_frac"]["value"] > 0
        measured |= {k for k, v in result["metrics"].items() if v["value"]}
    expected = {m["name"] for m in SPEC["per_layer"]} - {
        "trace.zero_job_ops",          # zero when the memo guard is clean
        "spark.spill_bytes_per_op"}    # nothing spills at this scale
    assert expected <= measured, sorted(expected - measured)
