"""Metric names, units and the summary statistics the benchmark prints.

Every workload prints every metric. A metric of a layer the workload
never calls reads 0 on it (the streaming layer on ``bike_daily``, for
instance); which workload moves which metric is listed in README.md.
"""

from __future__ import annotations

import statistics

# name -> unit. Measured with tracing off.
END_TO_END = {
    "setup_s": "s",
    "cold_s": "s",
    "op_p50_s": "s",
    "read_p50_s": "s",
}

# name -> unit. Measured by the separate traced run.
PER_LAYER = {
    # tails of the end-to-end timings, with their sample counts
    "e2e.op_tail_s": "s",
    "e2e.op_tail_pct": "%",
    "e2e.op_samples": "count",
    "e2e.read_tail_s": "s",
    "e2e.read_tail_pct": "%",
    "e2e.read_samples": "count",
    "e2e.failed_frac": "ratio",
    # peak resident memory of the measured process tree (Python, JVM,
    # Python workers) until measurement ends; it follows the JVM's heap
    # sizing, which varies from run to run, so it carries no bound
    "mem.peak_rss_mb": "MB",
    # the end-to-end metrics as measured with tracing on, and the
    # overhead against the untraced runs of the same sources and
    # --seconds recorded in this checkout (-1 when there are none)
    "traced.setup_s": "s",
    "traced.cold_s": "s",
    "traced.op_p50_s": "s",
    "traced.read_p50_s": "s",
    "trace_overhead.setup": "ratio",
    "trace_overhead.cold": "ratio",
    "trace_overhead.op_p50": "ratio",
    "trace_overhead.read_p50": "ratio",
    "trace_overhead.baseline_runs": "count",
    "trace.spans": "count",
    # session
    "session.get_spark_s": "s",
    # Spark itself, summed over the measured phase of the run
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "execute_collect_s": "s",
    "spark.actions": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "io.write_amp": "ratio",
    # bike_daily: the cron path, per cycle (medians)
    "operators.load_plan_s": "s",
    "cli.read_table.s": "s",
    "cli.write_next_version.s": "s",
    "cli.write_next_version.bytes": "bytes",
    "cli.write_next_version.jobs": "count",
    "cli.write_next_version.tasks": "count",
    "plans.compute_daily_metrics.s": "s",
    "plans.compute_daily_metrics.jobs": "count",
    "plans.compute_daily_metrics.rows_read": "count",
    "plans.write_year_file.s": "s",
    # bike_daily: the range views, per view (medians)
    "plans.load_year_metrics.s": "s",
    "plans.range_metric_series.s": "s",
    "plans.range_histogram_avg.s": "s",
    "plans.range_busiest_stations.s": "s",
    "plans.range_top_routes.s": "s",
    "plans.range.jobs_per_view": "count",
    # status_stream, per snapshot (medians) and at the end of the run
    "streaming.start_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.trigger_overhead_ms": "ms",
    "streaming.stop_s": "s",
    "status_stream.jobs_per_snapshot": "count",
    "status_stream.events_per_snapshot": "count",
    "status_stream.event_files": "count",
    # query_mix: __spark_entry__ and its shared assets
    "entry.plan_build_s.cold": "s",
    "entry.plan_build_s.warm": "s",
    "entry.plan_build_jobs.cold": "count",
    "entry.plan_build_jobs.warm": "count",
    "entry.shared_build_s": "s",
    "entry.shared_assets": "count",
    "family.relational.cold_s": "s",
    "family.relational.warm_s": "s",
    "family.events.cold_s": "s",
    "family.events.warm_s": "s",
    "family.text.cold_s": "s",
    "family.text.warm_s": "s",
    "family.embedding.cold_s": "s",
    "family.embedding.warm_s": "s",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest percentile with at
    least ten samples beyond it. With ten samples or fewer no such
    percentile exists, and the maximum is reported at 100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    if n <= 10:
        return float(s[-1]), 100.0, n
    k = n - 11  # ten samples lie strictly above s[k]
    return float(s[k]), 100.0 * (k + 1) / n, n


def render(values: dict[str, float], units: dict[str, str]) -> dict:
    """The ``metrics`` object of the result line, in declared order.
    A name without a value is an error, not a silent zero."""
    missing = [k for k in units if k not in values]
    if missing:
        raise KeyError(f"metrics not produced: {missing}")
    return {k: {"value": values[k], "unit": u} for k, u in units.items()}
