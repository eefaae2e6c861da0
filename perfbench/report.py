"""Metric reduction and the readable report of one run."""

from __future__ import annotations

from stats import TooFewSamples, median, percentile
from tracing import COUNTERS

UNITS = {
    # end to end
    "setup_s": "s",
    "op_p50_s": "s",
    "pass_s": "s",
    # per layer
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "http_api.self_s": "s",
    "http_api.response_bytes": "bytes",
    "io.readers.read_csv_s": "s",
    "io.readers.read_csv.jobs": "count",
    "profiler.profile_s": "s",
    "profiler.profile.jobs": "count",
    "nlsql.generate_s": "s",
    "nlsql.dialect_s": "s",
    "nlsql.validator.validate_s": "s",
    "engine.analyze_s": "s",
    "postprocess.materialize_s": "s",
    "postprocess.jobs": "count",
    "postprocess.shuffle_write_bytes": "bytes",
    "postprocess.input_rows_per_row_returned": "ratio",
    "postprocess.collapsed_ratio": "ratio",
    "queries.construct_s": "s",
    "queries.construct.jobs": "count",
    "queries.construct.tasks": "count",
    "spark.execute_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.jvm_gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_records": "count",
    "cache.blocks_created": "count",
    "cache.bytes_persisted": "bytes",
    "cache.blocks_left": "count",
    "streaming.route.cm_s": "s",
    "streaming.route.hll_s": "s",
    "streaming.route.minhash_s": "s",
    "streaming.route.jobs": "count",
    "streaming.compact_s": "s",
    "streaming.read_s": "s",
    "streaming.store_files": "count",
    "streaming.store_bytes": "bytes",
    "streaming.store_bytes_per_input_byte": "ratio",
    "host.sentinel_spark_s": "s",
    "host.sentinel_cpu_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}

# Spans whose self time is Spark execution, per workload kind.
EXECUTION_SPANS = (
    "spark.execute",
    "postprocess.materialize",
    "streaming.route_cm_batch",
    "streaming.route_hll_batch",
    "streaming.route_minhash_admission_batch",
    "streaming.compact_sum_store",
    "streaming.compact_batch_store",
)


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def layer_metrics(wl, tracer, run: dict) -> dict[str, float]:
    """Every per-layer metric of a traced run.  Times and counters are
    means per call of the layer (or per operation, for ``spark.*``,
    ``cache.*`` and ``trace.*``); a layer the workload never calls reads 0."""
    tot = tracer.layer_totals()
    ops = tracer.ops

    def t(name):
        return tot.get(name, {"n": 0, "self_s": 0.0, **dict.fromkeys(COUNTERS, 0)})

    queries = [o for o in ops if o["kind"] == "http_api.request" and o.get("route") == "query"]
    requests = t("http_api.request")
    mat, csv, prof, cons = t("postprocess.materialize"), t("io.readers.read_csv"), t("profiler.profile"), t("queries.construct")
    routes = [o for o in ops if o["kind"] == "streaming.route"]
    m = {
        "session.start_s": median(run["session_starts"]),
        "session.warmup_s": median(run["warmups"]),
        "http_api.self_s": _per(requests["self_s"], requests["n"]),
        "http_api.response_bytes": _mean(o["response_bytes"] for o in queries),
        "io.readers.read_csv_s": _per(csv["self_s"], csv["n"]),
        "io.readers.read_csv.jobs": _per(csv["jobs"], csv["n"]),
        "profiler.profile_s": _per(prof["self_s"], prof["n"]),
        "profiler.profile.jobs": _per(prof["jobs"], prof["n"]),
        "nlsql.generate_s": _per(t("nlsql.generate")["self_s"], len(queries)),
        "nlsql.dialect_s": _per(t("nlsql.dialect")["self_s"], len(queries)),
        "nlsql.validator.validate_s": _per(t("nlsql.validator.validate")["self_s"], len(queries)),
        "engine.analyze_s": _per(t("engine.sql")["self_s"], t("engine.sql")["n"]),
        "postprocess.materialize_s": _per(mat["self_s"], mat["n"]),
        "postprocess.jobs": _per(mat["jobs"], mat["n"]),
        "postprocess.shuffle_write_bytes": _per(mat["shuffle_write_bytes"], mat["n"]),
        "postprocess.input_rows_per_row_returned": _per(mat["input_records"], sum(o["rows"] for o in queries)),
        "postprocess.collapsed_ratio": _mean(float(o["collapsed"]) for o in queries),
        "queries.construct_s": _per(cons["self_s"], cons["n"]),
        "queries.construct.jobs": _per(cons["jobs"], cons["n"]),
        "queries.construct.tasks": _per(cons["tasks"], cons["n"]),
        "spark.execute_s": _per(sum(t(n)["self_s"] for n in EXECUTION_SPANS), len(ops)),
    }
    for k in COUNTERS:
        m[f"spark.{k}"] = _per(sum(v[k] for v in tot.values()), len(ops))
    for k in ("blocks_created", "bytes_persisted", "blocks_left"):
        m[f"cache.{k}"] = _mean(o["cache"][k] for o in ops)
    for kind in ("cm", "hll", "minhash"):
        m[f"streaming.route.{kind}_s"] = _mean(o["wall_s"] for o in routes if o["route"] == kind)
    m["streaming.route.jobs"] = _mean(tracer.op_counters(o)["jobs"] for o in routes)
    m["streaming.compact_s"] = _mean(o["wall_s"] for o in ops if o["kind"] == "streaming.compact")
    m["streaming.read_s"] = _mean(o["wall_s"] for o in ops if o["kind"] == "streaming.read")
    store_bytes = median(wl.extra["store_bytes"]) if "store_bytes" in wl.extra else 0.0
    m["streaming.store_files"] = median(wl.extra["store_files"]) if "store_files" in wl.extra else 0.0
    m["streaming.store_bytes"] = store_bytes
    m["streaming.store_bytes_per_input_byte"] = _per(store_bytes, getattr(wl, "fed_bytes", 0))
    m["host.sentinel_spark_s"] = median([s for s, _ in run["sentinels"]])
    m["host.sentinel_cpu_s"] = median([c for _, c in run["sentinels"]])
    m["process.peak_rss_mb"] = run["peak_rss_mb"]
    m["trace.overhead_s"] = _per(tracer.overhead_s, len(ops))
    m["trace.overhead_share"] = _per(tracer.overhead_s, run["measured_s"])
    return m


def _pct(xs, p) -> str:
    try:
        return f"{percentile(xs, p):.4f} s (n={len(xs)})"
    except TooFewSamples:
        return f"n/a: {len(xs)} samples, p{p} needs more"


def workload_lines(wl, run: dict, e2e: dict) -> list[str]:
    """The workload-level metrics, by name and unit, with their sample
    counts; metrics another workload measures read n/a."""
    s = wl.samples
    na = "n/a on this workload"

    def p50(kind):
        return f"{median(s[kind]):.4f} s (n={len(s[kind])})" if kind in s else na

    def suite(kind):
        n = len(getattr(wl, "order", ()))
        return f"{sum(s[kind]) / (len(s[kind]) // n):.4f} s (n={n})" if kind in s else na

    store = f"{median(wl.extra['store_bytes']) / wl.fed_bytes:.4f} ratio" if "store_bytes" in wl.extra else na
    attempted = max(wl.attempted, 1)
    lines = [
        f"workload {wl.name} seed {wl.seed}: {run['cores']} cores, closed loop, 1 client, "
        f"{len(run['passes'])} passes in {run['measured_s']:.1f} s, inputs {sum(wl.input_bytes.values())} bytes "
        f"generated in {run['inputs_s']:.2f} s",
        f"  setup_s                    {e2e['setup_s']:.4f} s (n={len(run['setups'])})",
        f"  query_p50_s                {p50('query')}",
        f"  query_p90_s                {_pct(s['query'], 90) if 'query' in s else na}",
        f"  upload_p50_s               {p50('upload')}",
        f"  suite_cold_s               {suite('cold')}",
        f"  suite_warm_s               {suite('warm')}",
        f"  batch_p50_s                {p50('route')}",
        f"  batch_p90_s                {_pct(s['route'], 90) if 'route' in s else na}",
        f"  compact_s                  {p50('compact')}",
        f"  store_bytes_per_input_byte {store}",
        f"  error_rate                 {len(wl.failures) / attempted:.4f} ratio (n={wl.attempted})",
        f"  peak_rss_mb                {run['peak_rss_mb']:.1f} MB",
        "  host sentinels (spark s, cpu s): "
        + ", ".join(f"({a:.3f}, {b:.3f})" for a, b in run["sentinels"]),
        "  passes (s): " + ", ".join(f"{p:.3f}" for p in run["passes"]),
    ]
    for name, runs in getattr(wl, "per_op", {}).items():
        lines.append(f"  {name:36s} " + " ".join(f"{x:.3f}" for x in runs))
    return lines


def trace_lines(tracer, layers: dict) -> list[str]:
    lines = ["per-layer metrics (means per call; 0 = layer not used by this workload):"]
    lines += [f"  {k:40s} {v:.6g} {UNITS[k]}" for k, v in layers.items()]
    ops = [o for o in tracer.ops if o["kind"] == "operator"]
    if ops:
        lines.append("per operator: run, wall s, construct s, construct jobs, execute jobs, skipped stages, blocks left")
        tot = tracer.spans
        for o in ops:
            lo, hi = o["spans"]
            cons = [s for s in tot[lo:hi] if s["name"] == "queries.construct"]
            exe = [s for s in tot[lo:hi] if s["name"] == "spark.execute"]
            c = tracer.op_counters(o)
            lines.append(
                f"  {o['operator']:36s} {o['run']} {o['wall_s']:.3f} "
                f"{sum(s['end'] - s['start'] for s in cons):.3f} "
                f"{sum(s['counters']['jobs'] for s in cons)} {sum(s['counters']['jobs'] for s in exe)} "
                f"{c['stages_skipped']} {o['cache']['blocks_left']}"
            )
    return lines
