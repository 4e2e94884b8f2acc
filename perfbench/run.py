#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload nightly_rebuild --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The runner builds its inputs from the
seed, starts one Spark session sized to the cores this process may use
(``local[cpus]``, shuffle partitions = cpus, loader concurrency = cpus),
runs one cold pass and the workload's untimed warm-up passes, then
measures warm passes until ``--seconds`` have been spent measuring (at
least one pass), checks every op's output after
its timer stops, and prints one JSON line last on stdout:

    {"correct": ..., "attempted": n, "failed": n, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics (see ``BENCHMARK.json``);
``--trace 1`` patches spans around each layer's public functions and
reports the per-layer metrics instead.  A detail line before it carries
the core count, Spark's defaultParallelism, host CPU steal, sample counts
and the workload's metrics under their workload-specific names.

Everything the run writes -- generated tables, the DuckDB upstream, the
design repo, the landing area, the lake, Spark's warehouse and local dirs,
the JVM's temp dir and any Derby files -- lives in one ``.perfbench-*``
directory under the checkout, removed at exit.  Exit status is 0 only if
every op was correct.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sparkstats  # noqa: E402
import workloads  # noqa: E402
from spans import Tracer, attribute, percentile  # noqa: E402

PACKAGE = "arthur_redshift_etl_spark"

# Input preparation is repeated this many times and its median reported,
# so set-up time is a steady number; the session starts once.
PREP_REPEATS = 3
# Row counts of the generated tables: TPC-H scale factor 0.01 (60k
# lineitem rows).  Per-relation and per-query fixed costs dominate at this
# size, as they do at sf0.1, and a run stays near one minute.
DEFAULT_SF = 0.01

# The first pass in a fresh session (cold_s) is reported only on the detail
# line: it carries the JIT's start-up storm (about 55 s of compiler CPU
# during a 35 s first rebuild on 4 cores), and over ten seeds on a shared
# 4-core host its quartile spread reached 27% of its median.
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
}

# workload-specific names of the metrics, for the detail line.  A p90 is
# reported only there: a run has too few ops (1 rebuild, 8 to 12 queries) for a
# percentile above the median to be steady.  So is peak RSS: G1 grows the
# JVM heap lazily, and its peak varied from 1.1 to 1.9 GB between runs of
# the same seed and code.
NAMED = {
    "nightly_rebuild": {"rebuild_s": "op_p50_s", "rebuild_cold_s": "cold_s"},
    "analyst_queries": {
        "query_p50_s": "op_p50_s", "query_p90_s": "op_p90_s",
        "suite_s": "pass_s", "suite_cold_s": "cold_s",
    },
}

PER_LAYER = {
    "repo.discover_s": "s",
    "relations.order_s": "s",
    "sources.extract_s": "s",
    "sources.extract_busy_s": "s",
    "sources.rows": "rows",
    "loader.materialize_s": "s",
    "loader.materialize_busy_s": "s",
    "loader.files_written": "count",
    "loader.bytes_written": "bytes",
    "constraints.check_s": "s",
    "constraints.check_busy_s": "s",
    "constraints.checks": "count",
    "loader.publish_s": "s",
    "heap.headroom_s": "s",
    "heap.headroom_busy_s": "s",
    "heap.calls": "count",
    "retry.retries": "count",
    "monitor.relation_p50_s": "s",
    "monitor.relation_p90_s": "s",
    "query.build_s": "s",
    "query.collect_s": "s",
    "spark.planning_s": "s",
    "spark.codegen_compiles": "count",
    "spark.codegen_s": "s",
    "spark.executor_run_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.stages": "count",
    "arrow.rows": "rows",
    "cold.planning_s": "s",
    "cold.codegen_compiles": "count",
    "cold.codegen_s": "s",
    "trace.op_s": "s",
    "trace.overlap_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_s": "s",
}

# layers whose spans overlap in the source pools: busy and covered time
_POOLED = ("sources.extract", "loader.materialize", "constraints.check", "heap.headroom")


def _load_program():
    """Import the engine from this checkout, never from elsewhere."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        raise SystemExit(
            f"perfbench: no {PACKAGE}/ next to perfbench/ in {ROOT}; run from "
            "the root of a full checkout"
        )
    sys.path.insert(0, ROOT)
    import arthur_redshift_etl_spark as pkg

    if os.path.dirname(os.path.dirname(os.path.abspath(pkg.__file__))) != ROOT:
        raise SystemExit(f"perfbench: imported {pkg.__file__}, not the checkout's")
    from arthur_redshift_etl_spark import loader, repo, session, workload
    from arthur_redshift_etl_spark.sources import duckdb_source

    return types.SimpleNamespace(
        loader=loader, repo=repo, session=session, workload=workload,
        duckdb_source=duckdb_source,
    )


def _hermetic_env(tmp: str) -> dict:
    """Point every scratch location Spark, the JVM and Python use at ``tmp``."""
    dirs = {k: os.path.join(tmp, k) for k in ("local", "jvm-tmp", "spark-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    return dirs


def _start_session(program, dirs: dict, tmp: str, cpus: int):
    spark = program.session.build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        warehouse_dir=dirs["spark-warehouse"],
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": dirs["local"],
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={dirs['jvm-tmp']} -Dderby.system.home={tmp} "
                "-XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _hwm_kb(pid: int | None) -> int:
    """Peak resident set (VmHWM) of a live process, in KiB."""
    if pid is None:
        return 0
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    # the gateway JVM exits when its stdin closes
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _steal_ticks() -> int:
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


class Runner:
    """Runs passes of a workload's ops; times each op, then checks it."""

    def __init__(self, wl, tracer=None, counters=None):
        self.wl = wl
        self.attempted = 0
        self.failed = 0
        self.tracer = tracer
        self.counters = counters
        self.traced_ops = []

    def run_pass(self, traced: bool = False) -> list:
        walls = []
        for name, op, check in self.wl.ops():
            self.attempted += 1
            if traced:
                spans0 = len(self.tracer.spans)
                counts0 = dict(self.tracer.counts)
                self.counters.read()
            t0 = time.perf_counter()
            ok = False
            try:
                out = op()
                wall = time.perf_counter() - t0
                if traced:
                    spark_counts = self.counters.read()
                    spans = self.tracer.spans[spans0:]
                ok = check(out)
            except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
                wall = time.perf_counter() - t0
                traceback.print_exc()
            if not ok:
                self.failed += 1
                print(f"# {self.wl.name}: op {name} FAILED its check", file=sys.stderr)
            elif traced:
                counts = {
                    k: v - counts0.get(k, 0) for k, v in self.tracer.counts.items()
                }
                self.traced_ops.append({
                    "wall": wall, "spans": spans, "counts": counts,
                    "spark": spark_counts,
                    "events": list(getattr(self.wl, "last_events", [])),
                })
            walls.append((name, wall))
            print(f"# {self.wl.name} {name}: {wall:.3f}s ok={ok}", file=sys.stderr)
        return walls


def _end_to_end(cold: list, passes: list) -> dict:
    op_walls = [w for p in passes for _n, w in p]
    by_op = {}
    for p in passes:
        for n, w in p:
            by_op.setdefault(n, []).append(w)
    return {
        "cold_s": sum(w for _n, w in cold),
        "op_p50_s": percentile(op_walls, 50),
        "op_p90_s": percentile(op_walls, 90),
        # a pass of typical ops: one slow op in one pass moves it less
        # than the median of whole-pass sums would
        "pass_s": sum(statistics.median(ws) for ws in by_op.values()),
    }


def _per_layer(traced_ops: list, cold_op: dict, overhead: float) -> dict:
    n = len(traced_ops)
    out = {name: 0.0 for name in PER_LAYER}
    rel_elapsed = []
    for op in traced_ops:
        attr = attribute(op["spans"], op["wall"])
        for layer, t in attr["layers"].items():
            key = f"{layer}_s"
            if key in out:
                out[key] += t["covered"] / n
            if layer in _POOLED:
                out[f"{layer}_busy_s"] += t["busy"] / n
        out["trace.overlap_s"] += attr["overlap"] / n
        out["trace.unattributed_s"] += attr["unattributed"] / n
        out["trace.op_s"] += op["wall"] / n
        for k, v in op["counts"].items():
            if k in out:
                out[k] += v / n
        for k, v in op["spark"].items():
            key = "arrow.rows" if k == "arrow_rows" else f"spark.{k}"
            out[key] += v / n
        rel_elapsed.extend(e["elapsed"] for e in op["events"])
    if rel_elapsed:
        out["monitor.relation_p50_s"] = percentile(rel_elapsed, 50)
        out["monitor.relation_p90_s"] = percentile(rel_elapsed, 90)
    if cold_op:
        out["cold.planning_s"] = cold_op["planning"]
        out["cold.codegen_compiles"] = cold_op["codegen_compiles"]
        out["cold.codegen_s"] = cold_op["codegen_s"]
    out["trace.overhead_s"] = overhead
    return out


def measure(spark, wl, seconds: float, trace_on: bool) -> dict:
    steal0, t_start = _steal_ticks(), time.monotonic()
    if not trace_on:
        runner = Runner(wl)
        cold = runner.run_pass()
        for _ in range(wl.warmup_passes):
            runner.run_pass()
        passes, spent = [], 0.0
        while not passes or spent < seconds:
            p = runner.run_pass()
            passes.append(p)
            spent += sum(w for _n, w in p)
        metrics = _end_to_end(cold, passes)
        samples = {"op": sum(len(p) for p in passes), "pass": len(passes), "cold": 1,
                   "warmup_pass": wl.warmup_passes}
    else:
        tracer = Tracer()
        runner = Runner(wl, tracer, sparkstats.SparkCounters(spark))
        wl.install_tracing(tracer)
        runner.run_pass(traced=True)
        cold_ops = runner.traced_ops
        cold_op = {
            "planning": sum(
                s.end - s.start for op in cold_ops for s in op["spans"]
                if s.layer == "spark.planning"
            ),
            "codegen_compiles": sum(op["spark"]["codegen_compiles"] for op in cold_ops),
            "codegen_s": sum(op["spark"]["codegen_s"] for op in cold_ops),
        }
        runner.traced_ops = []
        wl.uninstall_tracing()
        for _ in range(wl.warmup_passes):
            runner.run_pass()
        plain, traced, spent = [], [], 0.0
        while not traced or spent < seconds:
            p = runner.run_pass()
            plain.append(sum(w for _n, w in p))
            wl.install_tracing(tracer)
            q = runner.run_pass(traced=True)
            wl.uninstall_tracing()
            traced.append(sum(w for _n, w in q))
            spent += plain[-1] + traced[-1]
        ops_per_pass = max(1, len(q))
        overhead = (statistics.median(traced) - statistics.median(plain)) / ops_per_pass
        metrics = _per_layer(runner.traced_ops, cold_op, overhead)
        samples = {"traced_op": len(runner.traced_ops), "plain_pass": len(plain)}
    elapsed = time.monotonic() - t_start
    steal = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / max(elapsed, 1e-9)
    return {
        "metrics": metrics, "samples": samples, "steal_cores": steal,
        "attempted": runner.attempted, "failed": runner.failed,
    }


def run(args, cpus: int, tmp: str) -> int:
    program = _load_program()
    dirs = _hermetic_env(tmp)
    wl = workloads.WORKLOADS[args.workload](
        args.seed, args.sf, cpus, os.path.join(tmp, "work")
    )
    prep = []
    for _ in range(PREP_REPEATS):
        t0 = time.perf_counter()
        wl.prepare()
        prep.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    spark = _start_session(program, dirs, tmp, cpus)
    session_s = time.perf_counter() - t0
    try:
        wl.start(spark, program)
        res = measure(spark, wl, args.seconds, bool(args.trace))
        jvm_kb = _hwm_kb(_jvm_pid(spark))
        parallelism = spark.sparkContext.defaultParallelism
    finally:
        _stop_session(spark)
    metrics = res["metrics"]
    if not args.trace:
        metrics["setup_s"] = session_s + statistics.median(prep)
        units = END_TO_END
    else:
        units = PER_LAYER
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    attempted, failed = res["attempted"], res["failed"]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": args.sf,
        "cpus": cpus,
        "default_parallelism": parallelism,
        "steal_cores": round(res["steal_cores"], 3),
        "samples": {**res["samples"], "setup_prep": len(prep)},
        "failed_frac": failed / max(attempted, 1),
        "peak_rss_mb": (py_kb + jvm_kb) / 1024.0,
    }
    if not args.trace:
        detail["named"] = {
            alias: {"value": metrics[key], "unit": "s"}
            for alias, key in NAMED[args.workload].items()
        }
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    cpus = len(os.sched_getaffinity(0))
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    try:
        return run(args, cpus, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
