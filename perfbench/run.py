#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  The seed drives every generated input.
After set-up, the workload's seeded script runs in passes until at
least ``--seconds`` have been measured (at least one pass).  Every
answer of the first pass is checked; a wrong answer makes the run exit
1.

Spark runs with the program's own defaults: only ``SPARK_GRAFT_CPUS``
(the usable core count) and ``SPARK_LOCAL_DIRS`` are set, plus the
temporary directories, so that nothing is written outside
``.bench_build/`` in the current directory.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The lines before it are a readable report, and a traced run also writes
its spans to ``.bench_build/perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3
SENTINEL_LOOP = 1_000_000


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # The JVM's temp files and perf-data file default to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def _sentinel(spark, q6, data: str) -> tuple[float, float]:
    """A fixed Spark job and a fixed pure-Python loop: if these move
    between runs, the host moved, not the program."""
    from workloads import noop

    t0 = time.perf_counter()
    noop(q6(spark, data))
    spark_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    x = 0
    for i in range(SENTINEL_LOOP):
        x += i * i % 7
    return spark_s, time.perf_counter() - t0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _install_wrappers(tracer) -> None:
    import pyspark
    from pyspark.sql.classic.dataframe import DataFrame

    import csv_query_engine_spark.engine as engine
    import csv_query_engine_spark.nlsql.extended as extended
    from csv_query_engine_spark.nlsql.llm import RuleBasedPlanner
    from csv_query_engine_spark.streaming import events

    for attr, name in (
        ("read_csv", "io.readers.read_csv"),
        ("profile", "profiler.profile"),
        ("duckdb_to_spark_sql", "nlsql.dialect"),
        ("validate_sql", "nlsql.validator.validate"),
        ("materialize", "postprocess.materialize"),
    ):
        tracer.wrap(engine, attr, name)
    for attr in ("ask", "ask_tables", "upload_csv"):
        tracer.wrap(engine.QueryEngine, attr, "engine")
    tracer.wrap(engine.QueryEngine, "sql", "engine.sql")
    tracer.wrap(RuleBasedPlanner, "generate", "nlsql.generate")
    tracer.wrap(extended, "generate_sql_multi_table", "nlsql.generate")
    for attr in ("route_cm_batch", "route_hll_batch", "route_minhash_admission_batch", "compact_sum_store", "compact_batch_store"):
        tracer.wrap(events, attr, f"streaming.{attr}")
    for owner in (DataFrame, pyspark.RDD):
        for attr in ("persist", "cache", "localCheckpoint", "checkpoint"):
            if attr in vars(owner):
                tracer.count_calls(owner, attr)


def run(args, work: str) -> tuple[dict, int]:
    sys.path.insert(0, os.getcwd())
    sys.path.insert(0, HERE)
    import report
    from stats import median
    from tracing import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    tracer = Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed, tracer)
    t0 = time.perf_counter()
    wl.make_inputs()
    gen_s = time.perf_counter() - t0

    from csv_query_engine_spark.queries import all_queries
    from csv_query_engine_spark.session import get_spark

    q6 = all_queries()["q6_forecast_revenue"]
    if args.trace:
        _install_wrappers(tracer)
    setups, starts, warmups = [], [], []
    spark = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark()
            t1 = time.perf_counter()
            wl.setup(spark)
            t2 = time.perf_counter()
            setups.append(t2 - t0)
            starts.append(t1 - t0)
            warmups.append(t2 - t1)
        tracer.attach(spark)

        sentinels = [_sentinel(spark, q6, wl.data)]
        passes = []
        t_measure = time.perf_counter()
        while True:
            passes.append(wl.run_pass(spark, len(passes) + 1))
            if len(passes) == 1:
                sentinels.append(_sentinel(spark, q6, wl.data))
            if time.perf_counter() - t_measure >= args.seconds:
                break
        measured_s = time.perf_counter() - t_measure
        sentinels.append(_sentinel(spark, q6, wl.data))

        from pyspark import SparkContext

        jvm_kb = _vm_hwm_kb(SparkContext._gateway.proc.pid)
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    finally:
        tracer.unwrap_all()
        if spark is not None:
            _stop_spark(spark)

    run_info = {
        "setups": setups,
        "session_starts": starts,
        "warmups": warmups,
        "sentinels": sentinels,
        "passes": passes,
        "measured_s": measured_s,
        "inputs_s": gen_s,
        "peak_rss_mb": (jvm_kb + py_kb) / 1024.0,
        "cores": int(os.environ["SPARK_GRAFT_CPUS"]),
    }
    e2e = {
        "setup_s": median(setups),
        "op_p50_s": median(wl.samples[wl.primary]),
        "pass_s": median(passes),
    }
    lines = report.workload_lines(wl, run_info, e2e)
    if args.trace:
        layers = report.layer_metrics(wl, tracer, run_info)
        lines += report.trace_lines(tracer, layers)
        metrics = {k: {"value": v, "unit": report.UNITS[k]} for k, v in layers.items()}
        trace_path = os.path.join(os.path.dirname(work), f"trace-{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"spans": tracer.spans, "ops": tracer.ops, "run": run_info}, f, default=str)
        lines.append(f"spans written to {os.path.relpath(trace_path)}")
    else:
        metrics = {k: {"value": v, "unit": report.UNITS[k]} for k, v in e2e.items()}
    for line in lines:
        print(line)
    for failure in wl.failures:
        print(f"WRONG {failure}")
    result = {
        "correct": not wl.failures,
        "attempted": wl.attempted,
        "failed": len(wl.failures),
        "metrics": metrics,
    }
    return result, 0 if not wl.failures else 1


def main(argv=None) -> int:
    args = _args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "csv_query_engine_spark")):
        print("perfbench: run from the repository root; csv_query_engine_spark/ is missing", file=sys.stderr)
        return 2
    base = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    _env(work)
    try:
        result, code = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
