"""Benchmark runner: one seeded, closed-loop workload per process.

    python3 perfbench/run.py --workload corpus_retrieval --seed 1 --seconds 10 --trace 0

Load shape, every workload: one client in a closed loop (the next op is
sent only after the previous one returned), on a session from
``graphydb_spark.get_spark(cpus=nproc)`` with a fixed 2 GiB driver heap,
and no other benchmark threads.  The op stream is generated from
``--seed`` as cycles of ops, every cycle with the same op mix.  After a
warm-up, a run measures a fixed number of whole cycles:
``--seconds`` divided by the workload's nominal cycle time (at least
one), so every run of a workload at the same ``--seconds`` does the same
ops.  Every op's result is compared
with an answer computed before timing starts (DuckDB over the same
parquet, or a reference model for graph_write); a wrong result or an
exception counts as a failed op, and any failed op makes the run exit 1.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``, with
the wall-clock figures (ops per second, median latency, per op kind) as
report lines; ``--trace 1`` runs a fixed number of cycles traced (Spark
job groups read through the status tracker, plus spans around calls into
the engine's modules) and prints the per-layer metrics.  The last stdout
line is one JSON object; the lines before it are a readable report.
``--workload all`` runs every workload in turn.

The input tables are generated on first use under ``.bench_data/`` (not
counted in ``setup_s``); each run's scratch files live under
``.bench_tmp/`` and are removed when it ends.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import wl_batch_analytics  # noqa: E402
import wl_corpus_retrieval  # noqa: E402
import wl_graph_query  # noqa: E402
import wl_graph_write  # noqa: E402
from common import Ctx, mean, median, same, vm_hwm_mb  # noqa: E402

WORKLOADS = {
    "graph_query": wl_graph_query,
    "corpus_retrieval": wl_corpus_retrieval,
    "batch_analytics": wl_batch_analytics,
    "graph_write": wl_graph_write,
}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
#: cycles a traced run measures
TRACE_CYCLES = 1
SPARK_LAYER = ("jobs", "stages", "tasks", "driver_gap_ms", "executor_run_ms",
               "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def n_cycles(workload: str, seconds: float) -> int:
    """Cycles a run measures: ``seconds`` worth at the nominal cycle time."""
    return max(1, round(seconds / WORKLOADS[workload].CYCLE_S))


def op_stream(workload: str, seed: int, scale: float, n: int):
    """The ``n`` op cycles a run executes, its warm-up ops and a digest of
    the cycles (identical for identical arguments)."""
    wl = WORKLOADS[workload]
    rng = random.Random(f"{workload}:{seed}")
    cycles = [wl.cycle(rng, i, scale) for i in range(n)]
    wrng = random.Random(f"{workload}:{seed}:warm-up")
    warm = []
    while len(warm) < wl.WARMUP_OPS:
        # warm-up cycles are numbered apart from the timed ones
        warm += wl.cycle(wrng, 100 + len(warm), scale)
    warm = warm[:wl.WARMUP_OPS]
    blob = json.dumps(cycles, sort_keys=True).encode()
    return cycles, warm, hashlib.sha256(blob).hexdigest()[:16]


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def measure(ctx, wl, cycles, expected, probe=None):
    """Closed loop over the cycles; returns (records, wall seconds)."""
    records = []
    start = time.perf_counter()
    for ci, ops in enumerate(cycles):
        for oi, op in enumerate(ops):
            rec = {"op": op["op"], "cycle": ci, "spec": op}
            if ctx.spans is not None:
                ctx.spans.op = len(records)
            p0 = time.perf_counter()
            group = probe.begin() if probe else None
            e0, t0 = time.time(), time.perf_counter()
            try:
                got = wl.run(ctx, op)
                rec["ok"] = same(got, expected[ci][oi])
                if not rec["ok"]:
                    print(f"WRONG RESULT cycle {ci} op {oi} {op}",
                          file=sys.stderr)
            except Exception:  # one failed op must not end the run
                traceback.print_exc()
                rec["ok"] = False
            rec["lat"] = time.perf_counter() - t0
            if probe:
                p1 = time.perf_counter()
                rec["spark"] = probe.end(group, e0, time.time())
                # tracing cost: the job-group set-up and the scheduler read
                rec["probe_s"] = (t0 - p0) + (time.perf_counter() - p1)
                if hasattr(wl, "extras"):
                    wl.extras(ctx, op)
            records.append(rec)
    return records, time.perf_counter() - start


def configure_env(work: str) -> None:
    """Keep every scratch file of Spark, the JVM and Python in ``work``."""
    for sub in ("tmp", "spark", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    # a fixed-size driver heap keeps peak memory repeatable from run to
    # run (a growable 8 GiB heap expands by GC timing) and the benchmark
    # small on a shared machine
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -Xms2g "
        f"-XX:-UsePerfData' pyspark-shell")


def duck_connection(data_dir: str | None, work: str):
    import duckdb
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute(f"SET temp_directory = '{work}/duck'")
    con.execute("SET threads = 4")
    if data_dir:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def run_one(args, work: str) -> int:
    wl = WORKLOADS[args.workload]
    spec = load_spec()
    n = TRACE_CYCLES if args.trace else n_cycles(args.workload, args.seconds)
    cycles, warm, digest = op_stream(args.workload, args.seed, args.scale, n)
    print(f"workload {args.workload} seed {args.seed} op_digest {digest}")
    # input generation and oracle time, wall and CPU, is not set-up
    excluded = excluded_cpu = 0.0

    t, c = time.perf_counter(), process_cpu_s([os.getpid()])
    data_dir = datagen.ensure_data(os.path.join(ROOT, ".bench_data"),
                                   args.scale) if wl.NEEDS_DATA else None
    duck = duck_connection(data_dir, work)
    excluded += time.perf_counter() - t
    excluded_cpu += process_cpu_s([os.getpid()]) - c

    from graphydb_spark import get_spark
    cpus = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    layers = {"session.start_s": time.perf_counter() - t}
    try:
        pids = [os.getpid(),
                int(spark._jvm.java.lang.ProcessHandle.current().pid())]
        ctx = Ctx(spark=spark, data_dir=data_dir, work_dir=work, duck=duck)
        layers.update(wl.setup(ctx))

        t, c = time.perf_counter(), process_cpu_s(pids)
        expected = [[wl.expect(ctx, op) for op in ops] for ops in cycles]
        excluded += time.perf_counter() - t
        excluded_cpu += process_cpu_s(pids) - c
        if args.corrupt_expected:
            expected[0][0] = ("deliberately corrupted expected result",)

        for op in warm:
            wl.run(ctx, op)
        # set-up is reported as CPU seconds: on a shared host the wall
        # time of the same set-up spreads by a third from run to run
        setup_s = process_cpu_s(pids) - excluded_cpu
        print(f"setup_wall_s {time.perf_counter() - T_PROCESS - excluded:.3f}"
              f" s")

        if args.trace:
            result = traced_run(ctx, wl, spec, cycles, expected, layers)
        else:
            result = untraced_run(ctx, wl, spec, pids, cycles, expected,
                                  setup_s)
    finally:
        stop_spark(spark)
        duck.close()
    report(result)
    return 0 if result["correct"] else 1


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM and the JVM's Python
    workers have exited."""
    proc = spark.sparkContext._gateway.proc
    children = set()
    try:
        for task in os.listdir(f"/proc/{proc.pid}/task"):
            with open(f"/proc/{proc.pid}/task/{task}/children") as fh:
                children.update(int(p) for p in fh.read().split())
    except OSError:                  # a kernel without the children list
        pass
    spark.stop()
    proc.stdin.close()               # the gateway JVM exits on EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while children and time.monotonic() < deadline:
        children = {p for p in children if _alive(p)}
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


def _stat(path: str) -> tuple[str, int, int]:
    """(thread or process name, start time, user + system clock ticks)."""
    with open(path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    f = tail.split()
    return head.split("(", 1)[1], int(f[19]), int(f[11]) + int(f[12])


def process_cpu_s(pids) -> float:
    """CPU seconds of ``pids`` since they started, all threads, with the
    children they waited for (the launcher process of the JVM)."""
    ticks = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            ticks += sum(map(int, fh.read().rsplit(")", 1)[1].split()[11:15]))
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_snapshot(pids) -> tuple[int, dict]:
    """Clock ticks of ``pids`` so far, and of each JIT compiler thread."""
    total, compilers = 0, {}
    for pid in pids:
        total += _stat(f"/proc/{pid}/stat")[2]
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                name, start, ticks = _stat(f"/proc/{pid}/task/{tid}/stat")
            except FileNotFoundError:    # the thread ended meanwhile
                continue
            if "CompilerThre" in name:
                compilers[(pid, tid, start)] = ticks
    return total, compilers


def cpu_s_between(a, b) -> float:
    """CPU seconds from snapshot ``a`` to ``b``, less what the JIT compiler
    threads spent: compiling is warm-up work whose amount varies from run
    to run, not work of the ops."""
    jit = sum(t - a[1].get(k, 0) for k, t in b[1].items())
    return (b[0] - a[0] - jit) / os.sysconf("SC_CLK_TCK")


def untraced_run(ctx, wl, spec, pids, cycles, expected, setup_s) -> dict:
    """The timed loop; prints the wall-clock figures as report lines and
    returns the result with the metrics of ``BENCHMARK.json``."""
    ctx.samples = {}
    c0 = cpu_snapshot(pids)
    records, wall = measure(ctx, wl, cycles, expected)
    cpu = cpu_s_between(c0, cpu_snapshot(pids))
    ok = sum(r["ok"] for r in records)
    print(f"cycles {1 + records[-1]['cycle']} ops {len(records)} "
          f"wall_s {wall:.3f}")
    for kind in dict.fromkeys(r["op"] for r in records):
        lat = [1e3 * r["lat"] for r in records if r["op"] == kind]
        print(f"op {kind} n {len(lat)} p50_ms {median(lat):.1f}")
    extra = {"ops_per_s": (ok / wall, "1/s"),
             "op_p50_ms": (1e3 * median([r["lat"] for r in records]), "ms"),
             "failed_frac": ((len(records) - ok) / len(records), "ratio")}
    if hasattr(wl, "report"):
        extra.update(wl.report(ctx, records, wall))
    for name, (value, unit) in extra.items():
        print(f"{name} {value:.6g} {unit}")
    values = {"setup_s": setup_s, "cpu_ms_per_op": 1e3 * cpu / len(records),
              "peak_rss_mb": sum(vm_hwm_mb(p) for p in pids)}
    return result_json(spec["end_to_end"], values, records)


def traced_run(ctx, wl, spec, cycles, expected, layers) -> dict:
    from tracing import Spans, SparkProbe
    ctx.samples = {}
    ctx.spans = Spans()
    if hasattr(wl, "spans"):
        wl.spans(ctx.spans)
    try:
        records, _ = measure(ctx, wl, cycles, expected,
                             probe=SparkProbe(ctx.spark))
    finally:
        ctx.spans.close()
    values = dict(layers)
    kinds = getattr(wl, "SPARK_LAYER_OPS", None)
    layer = [r for r in records if kinds is None or r["op"] in kinds]
    for k in SPARK_LAYER:
        values[f"spark.{k}_per_op"] = mean([r["spark"][k] for r in layer])
    zero = [r["op"] for r in records if r["spark"]["jobs"] == 0]
    values["trace.zero_job_ops"] = len(zero)
    # the time tracing adds to the ops (job-group set-up and scheduler
    # reads) over the ops' own wall time; a separate untraced pass would
    # compare a cold pass with a warm one
    values["trace.overhead_frac"] = (sum(r["probe_s"] for r in records)
                                     / sum(r["lat"] for r in records))
    if hasattr(wl, "layer_metrics"):
        values.update(wl.layer_metrics(ctx, records, ctx.spans))
    for k, v in ctx.samples.items():
        values.setdefault(k, median(v))
    if zero:
        print(f"MEMO GUARD: ops that ran zero Spark jobs: {zero}",
              file=sys.stderr)
    print(f"traced cycles {len(cycles)} ops {len(records)}")
    out = result_json(spec["per_layer"], values, records)
    out["correct"] = out["correct"] and not zero
    return out


def result_json(metric_spec, values, records) -> dict:
    failed = sum(not r["ok"] for r in records)
    return {"correct": failed == 0, "attempted": len(records),
            "failed": failed,
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0)),
                                    "unit": m["unit"]}
                        for m in metric_spec}}


def report(result: dict) -> None:
    for name, m in result["metrics"].items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps(result))


def run_all(args) -> int:
    """Every workload in its own process, then one combined result line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--scale", str(args.scale)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True,
                              timeout=900, check=False)
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        try:
            res = json.loads(lines[-1])
        except (IndexError, json.JSONDecodeError):
            res = {"correct": False, "attempted": 0, "failed": 0,
                   "metrics": {}}
        combined["correct"] &= bool(res["correct"]) and proc.returncode == 0
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return 0 if combined["correct"] else 1


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.01,
                    help="TPC-H scale factor of the generated tables")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: corrupt the first expected result")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "graphydb_spark")):
        print(f"graphydb_spark not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    work = os.path.join(ROOT, ".bench_tmp", f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        return run_one(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
