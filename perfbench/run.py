"""Benchmark entry point.

    python3 perfbench/run.py --workload ads_dashboard --seed 1 --seconds 30 --trace 0

Runs one workload against the engine in this checkout, checks its
outputs, and prints as its last line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
A run whose measurement is void (stream backlog grew, generator fell
behind) exits with code 3 and prints no result. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import (Tracer, cpu_times, host_fracs,  # noqa: E402
                     peak_rss_mb, process_start_time)

E2E_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "throughput_per_s": "1/s",
    "restart_s": "s",
}
ADS_QUERIES = (
    "ads_category_fullouter", "ads_channel_stats", "ads_conditional_score",
    "ads_funnel_union", "ads_gmv_topk_brand", "ads_hourly_stats",
    "ads_keyword_score", "ads_province_stats", "ads_subsidy_rate",
    "ads_topk_users", "j_broadcast_dim_join", "s_cep_jump",
    "s_daily_unique_users", "s_new_vs_returning", "u_union_metrics",
)
LAYER_UNITS = {
    "session.start_s": "s",
    "session.warm_s": "s",
    "session.peak_rss_mb": "MB",
    **{f"plans.{m}.{q}": u for q in ADS_QUERIES
       for m, u in (("exec_ms", "ms"), ("build_ms", "ms"),
                    ("jobs", "count"), ("tasks", "count"))},
    "serving.jobs_per_load": "count",
    "serving.jobs_distinct_queries": "count",
    "serving.hit_ms": "ms",
    "serving.payload_bytes": "bytes",
    "streaming.sources.latest_offset_ms": "ms",
    "streaming.sources.get_batch_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.rows_per_batch": "count",
    "streaming.peak_backlog": "count",
    "streaming.nodata_batches": "count",
    "streaming.nodata_batch_ms": "ms",
    "streaming.jobs.state_rows": "count",
    "streaming.jobs.state_bytes": "bytes",
    "streaming.jobs.state_update_ms": "ms",
    "streaming.jobs.state_commit_ms": "ms",
    "streaming.jobs.state_removal_ms": "ms",
    "streaming.sinks.add_batch_ms": "ms",
    "streaming.sinks.buckets_written": "count",
    "streaming.sinks.bytes_written": "bytes",
    "streaming.sinks.write_amp": "ratio",
    "streaming.sinks.table_files": "count",
    "streaming.sinks.table_bytes": "bytes",
    "streaming.drain_1core_per_s": "1/s",
    "host.steal_frac": "frac",
    "host.busy_frac": "frac",
    "bench.generator_lag_ms": "ms",
    "bench.generator_lag_max_ms": "ms",
    "trace.latency_p50_ms": "ms",
    "trace.throughput_per_s": "1/s",
    "trace.unaccounted_frac": "frac",
}
WORKLOADS = ("ads_dashboard", "dws_window")


class Context:
    """What a workload needs from the harness: its arguments, a work
    directory inside the checkout, the tracer and session start-up."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.tracer = Tracer(enabled=self.trace)
        self.layers: dict[str, float] = {}
        self.t_proc = process_start_time()
        self.session_ready_s = 0.0  # process start to the first session

    def start_session(self, timed: bool = True, cpus: int | None = None):
        """``get_spark`` with ``SPARK_GRAFT_CPUS`` = the usable cores."""
        from flink_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(cpus or len(os.sched_getaffinity(0)))
        a = time.time()
        spark = get_spark(app_name=f"perfbench-{self.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        if timed:
            self.layers["session.start_s"] = time.time() - a
            self.session_ready_s = time.time() - self.t_proc
        return spark


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    os.makedirs(work)
    # keep Spark's and Python's scratch inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
    sys.path.insert(0, ROOT)
    os.chdir(work)  # what Spark drops in its working directory goes too

    ctx = Context(args, work)
    cpu0 = cpu_times()
    try:
        if args.workload == "ads_dashboard":
            import ads as workload
        else:
            import streams as workload
        try:
            res = workload.run(ctx)
        except getattr(workload, "Invalid", ()) as e:
            print(f"run invalid, not reported: {e}", file=sys.stderr)
            return 3
        steal, busy = host_fracs(cpu0, cpu_times())
        res["e2e"]["setup_s"] = res.pop("setup_s")
        py_mb, jvm_mb = peak_rss_mb()
        ctx.layers["session.peak_rss_mb"] = py_mb + jvm_mb
        res["notes"].append(f"peak rss: python {py_mb:.0f} MB, jvm {jvm_mb:.0f} MB")
        ctx.layers["host.steal_frac"] = steal
        ctx.layers["host.busy_frac"] = busy
        res["notes"].append(f"noise: host steal {steal:.4f}, busy {busy:.3f}")
    finally:
        _stop_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        _write_spans(ctx)
        units = LAYER_UNITS
        values = {k: ctx.layers.get(k, 0) for k in units}
    else:
        units = E2E_UNITS
        values = res["e2e"]
    for line in res["notes"]:
        print(line)
    out = {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(out))
    return 0


def _stop_spark() -> None:
    """Stop the active session, if any, and wait for the JVM to exit."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _write_spans(ctx) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"spans-{ctx.workload}-seed{ctx.seed}.json")
    with open(path, "w") as f:
        json.dump(ctx.tracer.to_json(), f)


if __name__ == "__main__":
    sys.exit(main())
