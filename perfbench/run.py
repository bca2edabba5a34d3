"""Lakehouse benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds a SparkSession sized to the host,
generates the workload's inputs from the seed, measures for ``--seconds``
and checks every output. The last line of stdout is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics (and writes the spans to ``.perfbench/spans/``). Workloads and
metrics are described in README.md next to this file.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import RunDir, Tracer, Outcome  # noqa: E402

SETUPS = 9  # set-ups per run; setup_s is their median
MIN_SAMPLES = 5  # a run measures past --seconds (at most 2x) until it has these

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "driver.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.collect_s": "s",
    "plans.jobs_per_query": "count",
    "plans.tasks_per_query": "count",
    "plans.cpu_util": "ratio",
    "plans.task_busy_s": "s",
    "plans.shuffle_bytes": "B",
    "plans.spill_bytes": "B",
    "plans.input_bytes": "B",
    "streaming.bronze.drain_s": "s",
    "streaming.bronze.rows": "count",
    "jobs.run_silver_s": "s",
    "jobs.run_silver.rows_read_per_new_row": "ratio",
    "jobs.run_silver.quarantined": "count",
    "jobs.run_gold_s": "s",
    "sources.txnlog.merge_s": "s",
    "sources.txnlog.files_rewritten_frac": "ratio",
    "sources.txnlog.bytes_written_per_update_byte": "ratio",
    "sources.txnlog.snapshot_s": "s",
    "sources.txnlog.read_pruned_s": "s",
    "sources.txnlog.files_scanned_per_lookup": "count",
    "sources.txnlog.files_live": "count",
    "sources.txnlog.log_versions": "count",
    "trace.overhead_frac": "ratio",
    "trace.spans": "count",
    # the traced run's own end-to-end figures: against an untraced run of
    # the same seed they give the whole cost of tracing
    **{f"trace.{k}": u for k, u in END_TO_END.items()},
}


def _shutdown(spark, run: RunDir) -> None:
    """Stop the session, then the driver JVM (waiting for it to exit), then
    remove the run's scratch root. Each step runs even if one before it
    fails, as after an interrupted py4j call."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        try:
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = SparkContext._jvm = None
        finally:
            try:
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
            finally:
                run.close()


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, harness.REPO_ROOT)
    import end_to_end_data_lakehouse_pipeline_spark  # noqa: F401  fails fast outside a checkout

    cpus, mem_mb = harness.host_cpus(), harness.driver_memory_mb()
    tracer, out = Tracer(bool(args.trace)), Outcome()
    run = RunDir(args.workload)
    spark = None
    try:
        setup_times = []
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
            wl = WORKLOADS[args.workload]()
            t0 = time.perf_counter()
            spark = harness.make_session(run, f"perfbench-{args.workload}", cpus, mem_mb, bool(args.trace))
            wl.setup(spark, run.path(f"setup{i}"), args.seed)
            setup_times.append(time.perf_counter() - t0)
        cpu0 = harness.cpu_times()
        res = wl.run(spark, args.seconds, tracer, out, MIN_SAMPLES)
        steal = harness.steal_share(cpu0, harness.cpu_times())
        rss = harness.peak_rss_mb(spark)
    finally:
        _shutdown(spark, run)

    lat = res.latencies
    enough = len(lat) >= MIN_SAMPLES
    if not enough:
        out.fail("samples", f"{len(lat)} latency samples, a run needs {MIN_SAMPLES}")
    e2e = {
        "setup_s": harness.median(setup_times),
        "latency_p50_s": res.p50 if res.p50 is not None else (harness.median(lat) if lat else 0.0),
        "throughput_per_s": res.ops_per_s,
    }
    if args.trace:
        tracer.write(os.path.join(run.base, "spans", f"{args.workload}-seed{args.seed}.jsonl"))
        window = res.info.get("window_s") or 1.0
        values = {k: 0.0 for k in PER_LAYER}
        values.update(res.layers)
        values["driver.peak_rss_mb"] = rss
        values["trace.overhead_frac"] = tracer.overhead_s / window
        values["trace.spans"] = len(tracer.spans)
        values.update({f"trace.{k}": v for k, v in e2e.items()})
        metrics = {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    info = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
            "driver_memory_mb": mem_mb, "cpu_steal_share": steal, "samples": len(lat),
            "setup_times_s": setup_times,
            **res.info, "errors": out.errors}
    print(json.dumps({"info": info}))
    for e in out.errors:
        print(f"FAILED {e}", file=sys.stderr)
    print(json.dumps({"correct": out.failed == 0 and enough, "attempted": max(1, out.attempted),
                      "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
