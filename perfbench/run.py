"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_cookbook --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` runs one untraced and one
traced iteration and reports the per-layer metrics instead. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (name → {value, unit}). The lines before it
print every metric by name and unit, the fail ratio, and the host
weather of the run. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

WORKLOADS = ("etl_cookbook", "registry_bench")

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s",
    "query_geomean_s": "s", "peak_rss_mb": "MiB",
}


def per_layer_names() -> dict:
    """Every per-layer metric name → unit, in report order."""
    from perfbench.etl import FILE_RECIPES, RECIPES, SOURCES
    from perfbench.registry import BENCH_QUERIES

    names = {
        "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
        "spark.driver_gap_s": "s", "spark.executor_run_s": "s",
        "spark.executor_cpu_s": "s", "spark.gc_s": "s",
        "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
        "spark.spill_bytes": "B", "spark.peak_exec_mem_bytes": "B",
        "spark.codegen_fallbacks": "count",
        "sql.codegen_s": "s", "sql.scan_s": "s", "sql.exchange_bytes": "B",
        "sql.broadcast_build_s": "s", "sql.broadcast_rows": "count",
        "sql.agg_spill_bytes": "B", "sql.python_bytes": "B",
        "plans.compile_s": "s", "plans.build_s": "s",
    }
    for src in SOURCES:
        names[f"sources.{src}.rows"] = "count"
        names[f"sources.{src}.scan_s"] = "s"
    for r in FILE_RECIPES:
        names[f"recipe.{r}.rows_processed"] = "count"
        names[f"recipe.{r}.rows_written"] = "count"
        names[f"recipe.{r}.useful_ratio"] = "ratio"
    for t in RECIPES:
        names[f"sinks.{t}.write_s"] = "s"
    for t in FILE_RECIPES:
        names[f"sinks.{t}.dedup_removed"] = "count"
        names[f"sinks.{t}.out_bytes"] = "B"
    names.update({
        "sinks.jdbc.insert_rows_per_s": "1/s", "sinks.jdbc.upsert_s": "s",
        "sinks.jdbc.inserted": "count", "sinks.jdbc.updated": "count",
        "out_bytes_ratio": "ratio",
    })
    for q in BENCH_QUERIES:
        names[f"registry.{q}.s"] = "s"
        names[f"registry.{q}.jobs"] = "count"
    names["trace.overhead_s"] = "s"
    return names


def make_workload(name: str, spark, work: str, seed: int):
    if name == "registry_bench":
        from perfbench.registry import RegistryBench

        return RegistryBench(spark, work, seed)
    from perfbench.etl import EtlCookbook

    return EtlCookbook(spark, work, seed)


def _iteration(spark, wl, group: str, tracer=None) -> list[float]:
    """One workload iteration in its own job group, after dropping what
    earlier iterations persisted: Spark's cache matches by logical plan,
    so a repeat run would otherwise read the previous run's blocks."""
    from tensei_agent_spark.cache import release_all

    release_all()
    spark.catalog.clearCache()
    spark.sparkContext.setJobGroup(group, group)
    try:
        return wl.run_once(tracer)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


def measure(spark, wl, seconds: float) -> dict:
    """Untraced iterations until ``seconds`` of timed work are done or
    the workload's ``max_iterations`` have run. Peak RSS covers the
    first iteration alone: the driver's non-heap memory keeps growing a
    little with every iteration, so a peak read at the end would follow
    the iteration count, which follows the host's speed."""
    harness.reset_peak_rss(spark)
    walls, ops, rss = [], [], None
    while not walls or (sum(walls) < seconds and len(walls) < wl.max_iterations):
        times = _iteration(spark, wl, f"iter-{len(walls)}")
        walls.append(sum(times))
        ops.extend(times)
        if rss is None:
            rss = harness.peak_rss_mb(spark)
    wall = statistics.median(walls)
    return {
        "peak_rss_mb": rss,
        "wall_s": wall,
        "rows_per_s": wl.source_rows() / wall,
        "query_geomean_s": harness.geomean(ops),
        "walls": walls,
    }


def trace(spark, wl, work: str) -> dict:
    """An untraced iteration (the first at the timed scale pays one-time
    costs), a traced one, and an untraced one to compare against: the
    per-layer metrics of the traced iteration, the traced − untraced
    wall as the trace overhead, and both job counts."""
    _iteration(spark, wl, "first")
    fallbacks_before = harness.codegen_fallbacks(work)
    tracer = harness.Tracer(spark)
    with harness.patched(*wl.layer_patches(tracer)):
        traced = sum(_iteration(spark, wl, "traced", tracer))
    fallbacks = harness.codegen_fallbacks(work) - fallbacks_before
    untraced = sum(_iteration(spark, wl, "untraced"))
    groups = ["traced", *(s["group"] for s in tracer.spans)]
    ledger = harness.Ledger(spark, [*groups, "untraced"])
    job_ids = ledger.job_ids(groups)
    out = dict.fromkeys(per_layer_names(), 0.0)
    out.update(ledger.spark_metrics(job_ids, traced))
    out.update(harness.plan_metrics(ledger.nodes_for(job_ids)))
    out.update(wl.layer_metrics(tracer, ledger, job_ids))
    out["spark.codegen_fallbacks"] = fallbacks
    out["out_bytes_ratio"] = wl.out_bytes_ratio()
    out["trace.overhead_s"] = traced - untraced
    out["_untraced_jobs"] = len(ledger.job_ids(["untraced"]))
    return out


def run_workload(args, work: str):
    """Set up, then measure or trace; (metrics, extra lines, workload)."""
    t0 = time.perf_counter()
    spark = harness.start_spark(work)
    try:
        wl = make_workload(args.workload, spark, work, args.seed)
        wl.setup()
        setup_s = time.perf_counter() - t0
        if args.trace:
            layer = trace(spark, wl, work)
            extra = {"spark.jobs_untraced": layer.pop("_untraced_jobs")}
            units = per_layer_names()
            metrics = {k: {"value": v, "unit": units[k]} for k, v in layer.items()}
        else:
            m = measure(spark, wl, args.seconds)
            m["setup_s"] = setup_s
            metrics = {k: {"value": m[k], "unit": u} for k, u in END_TO_END.items()}
            extra = {
                "iterations": len(m["walls"]),
                "fail_ratio": wl.failed / max(wl.attempted, 1),
                "out_bytes_ratio": wl.out_bytes_ratio(),
            }
            print("iteration_walls_s " + " ".join(f"{w:.3f}" for w in m["walls"]))
        wl.close()
    finally:
        harness.stop_spark(spark)
    return metrics, extra, wl


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "tensei_agent_spark")):
        print("perfbench: run from a checkout of the repository "
              "(tensei_agent_spark/ not found)", file=sys.stderr)
        return 2

    weather = harness.Weather()
    work = harness.work_dir(os.path.join(ROOT, ".bench_work"))
    try:
        metrics, extra, wl = run_workload(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, v in metrics.items():
        print(f"{name} {v['value']:.6g} {v['unit']}")
    for name, v in extra.items():
        print(f"{name} {v:.6g}")
    for failure in wl.failures:
        print(f"FAILED {failure}")
    print("weather " + json.dumps(weather.stamp()))
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
