"""The measured process: one fresh Python + Spark session per run.

Started by ``run.py``; talks back through lines on stdout:

- ``@ready <monotonic>`` once the imports and ``get_spark`` are done
  (``run.py`` computes set-up time from its own spawn time);
- ``@measured`` when the measured phase ends (memory sampling stops);
- the result itself goes to the JSON file named by ``--result``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys
import time
import traceback

# What each workload imports before its session starts; set-up time
# covers these imports and ``get_spark``. The benchmark's own modules
# (and what they import) are loaded only after set-up is measured.
IMPORTS = {
    "bike_daily": [
        "wroclaw_bike_stats_spark.cli",
        "wroclaw_bike_stats_spark.operators.transform",
        "wroclaw_bike_stats_spark.operators.upsert",
        "wroclaw_bike_stats_spark.plans.daily_metrics",
        "wroclaw_bike_stats_spark.plans.range_metrics",
        "wroclaw_bike_stats_spark.sources",
    ],
    "status_stream": ["wroclaw_bike_stats_spark.streaming.status_stream"],
    "query_mix": ["__spark_entry__"],
}


def _stop(spark) -> None:
    """Stop the session and wait for its JVM to exit: the JVM leaves
    when its stdin closes, and waiting here keeps it from outliving
    this process."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", required=True)
    args = ap.parse_args(argv)

    for mod in IMPORTS[args.workload]:
        importlib.import_module(mod)
    from wroclaw_bike_stats_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t0
    print(f"@ready {time.monotonic()!r}", flush=True)
    spark.sparkContext.setLogLevel("ERROR")

    from tracing import Tracer
    from workloads import WORKLOADS

    with open(os.path.join(args.run_dir, "plan.json"), encoding="utf-8") as f:
        plan = json.load(f)
    tracer = Tracer(bool(args.trace), os.path.join(args.run_dir, "eventlog"))
    tracer.attach(spark)
    w = WORKLOADS[args.workload](spark, tracer, plan)
    try:
        w.run()
    finally:
        print("@measured", flush=True)
    tracer.detach()
    try:
        w.check()
    except Exception:  # noqa: BLE001 - a check that cannot run is a failure
        w.fail(f"checks raised: {traceback.format_exc(limit=5)}")
    _stop(spark)
    tracer.reduce()
    w.layers()
    if tracer.enabled:
        totals = w.op_totals()
        w.layers_out.update({
            "session.get_spark_s": get_spark_s,
            "catalyst.analysis_s": totals["analysis_s"],
            "catalyst.optimization_s": totals["optimization_s"],
            "catalyst.planning_s": totals["planning_s"],
            "execute_collect_s": totals["action_s"],
            "spark.actions": totals["actions"],
            "spark.jobs": totals["jobs"],
            "spark.stages": totals["stages"],
            "spark.tasks": totals["tasks"],
            "spark.shuffle_write_bytes": totals["shuffle_write_bytes"],
            "spark.spill_bytes": totals["spill_bytes"],
            "trace.spans": len(tracer.spans),
        })
        tracer.write(os.path.join(args.run_dir, "trace.json"))
    result = {
        "cold_s": w.cold_s,
        "ops": w.ops,
        "reads": w.reads,
        "attempted": w.attempted,
        "failures": w.failures,
        "layers": w.layers_out,
    }
    with open(args.result, "w", encoding="utf-8") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
