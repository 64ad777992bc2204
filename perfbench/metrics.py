"""Arithmetic that turns one benchmark JVM's record into metrics."""
import math
import statistics

MODULES = ("operators", "functions", "streaming", "llm")
E2E = {"setup_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}


def percentile(values, q):
    """Nearest-rank q-th percentile (0 < q <= 100) with its sample count."""
    if not values:
        return {"value": 0.0, "n": 0}
    s = sorted(values)
    return {"value": s[max(0, math.ceil(q / 100.0 * len(s)) - 1)], "n": len(s)}


def spread(values):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def op_seconds(op):
    return op["build_s"] + op["exec_s"]


def end_to_end(record):
    return {
        "setup_s": record["setup_s"],
        "cpu_s": sum(record["pass_cpu_s"]),
        "peak_rss_mb": record["peak_rss_mb"],
    }


def reconcile(record, rel=0.05, abs_s=0.5):
    """Whether the per-operation times add up to the time of all passes.
    The passes also pay for the loop itself and, on upsert_daily, for
    moving each slice into the source directory, so they may exceed the
    sum a little. Returns (ok, sum of per-operation seconds).
    """
    total = sum(op_seconds(op) for op in record["ops"])
    passes = sum(record["pass_times_s"])
    gap = passes - total
    return (-1e-3 <= gap <= rel * passes + abs_s), total


def per_layer(record):
    """Per-layer metrics of a traced record, over all its passes; each name
    has its unit."""
    layers = record.get("layers", {})
    ops = record["ops"]
    out = {}
    for m in MODULES:
        mod = [op for op in ops if op["module"] == m]
        out[f"{m}.build_s"] = (sum(op["build_s"] for op in mod), "s")
        out[f"{m}.exec_s"] = (sum(op["exec_s"] for op in mod), "s")
        out[f"{m}.ops"] = (float(len(mod)), "count")
    queries = [op_seconds(op) for op in ops if op["module"] in MODULES]
    p50, p90 = percentile(queries, 50), percentile(queries, 90)
    out["registry.op_p50_s"] = (p50["value"], "s")
    out["registry.op_p90_s"] = (p90["value"], "s")
    out["registry.op_samples"] = (float(p50["n"]), "count")

    loads = [op for op in ops if op.get("kind") == "load"]
    restates = [op for op in ops if op.get("kind") == "restate"]
    out["sources.load_s"] = (sum(op_seconds(op) for op in loads), "s")
    out["sources.restate_s"] = (sum(op_seconds(op) for op in restates), "s")
    out["sources.loads"] = (float(len(loads)), "count")
    load_times = [op_seconds(op) for op in loads]
    out["sources.load_p50_s"] = (percentile(load_times, 50)["value"], "s")
    out["sources.load_p90_s"] = (percentile(load_times, 90)["value"], "s")
    out["sources.delta_rows"] = (sum(op.get("rows", 0.0) for op in loads), "count")
    out["sources.retries"] = (sum(op.get("retries", 0.0) for op in restates), "count")

    for name, unit in LAYER_UNITS.items():
        out[name] = (layers.get(name, 0.0), unit)
    return out


# Layer metrics the JVM record carries as they are, with their units.
LAYER_UNITS = {
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "catalyst.executions": "count", "codegen.compile_s": "s", "codegen.compiles": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_s": "s", "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_disk_mb": "MB", "memory.peak_exec_mb": "MB",
    "derby.stage_insert_s": "s", "derby.stage_rows": "count", "derby.dedup_s": "s",
    "derby.merge_s": "s", "derby.drop_s": "s", "derby.watermark_s": "s",
    "derby.statements": "count", "derby.connections": "count",
    "derby.merged_per_staged_row": "ratio", "sources.stage_job_s": "s",
}
