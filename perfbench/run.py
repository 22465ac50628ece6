#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload mirror --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout; it needs no environment variables. The
last line of standard output is one JSON record with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are
the end-to-end metrics of BENCHMARK.json, with ``--trace 1`` its per-layer
metrics, taken from a separate traced run whose spans and Spark event-log
summary are also written to ``perfbench/traces/``. Everything else (Spark's
log, the per-operation detail) goes to standard error. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
WORKLOADS = ("mirror", "spark_queries")

# Per-layer metric names; every traced run reports all of them (a layer the
# workload does not call reports 0 calls). Must match BENCHMARK.json.
ROUND_LAYER = {
    "jobs": "count", "tasks": "count", "empty_tasks": "count",
    "shuffle_bytes": "bytes", "executor_run_s": "s", "executor_cpu_s": "s",
    "spark_job_s": "s", "driver_s": "s", "wall_s": "s",
}
MIRROR_COUNTS = {
    "remote.put_calls": "count", "remote.put_bytes": "bytes",
    "remote.has_calls": "count", "remote.get_calls": "count",
    "remote.get_bytes": "bytes", "cas.stored_bytes_per_user_byte": "B/B",
    "sparse.chunks_fetched": "count", "sparse.bytes_fetched": "bytes",
    "sparse.fetch_amplification": "B/B", "sparse.cold_jobs": "count",
    "sparse.cold_tasks": "count", "sparse.warm_read_jobs": "count",
    "datasource.scan_jobs": "count", "datasource.scan_tasks": "count",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "small"), default="full",
                   help="'small' (sf0.001, a small tree) is for the self-check")
    return p.parse_args(argv)


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    # stdout carries the result record alone: everything else written to
    # file descriptor 1 (Spark's JVM included) goes to stderr
    sys.stdout.flush()
    result_fd = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    sys.path.insert(0, CHECKOUT)
    try:
        import __spark_entry__  # noqa: F401
        import pufs_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: pufs_spark is not in this checkout: {exc}", file=sys.stderr)
        return 2

    from harness import Workspace

    ws = Workspace(CHECKOUT)
    try:
        record = run(args, ws, t0)
    finally:
        ws.close()
    os.write(result_fd, (json.dumps(record) + "\n").encode())
    return 0


def run(args, ws, t0: float) -> dict:
    from harness import Ops, Tracer, peak_rss_mb, start_spark, stop_spark

    trace = args.trace == 1
    tracer = Tracer(trace)
    ops = Ops(tracer)
    sf_dir = os.path.join(HERE, "data", "sf0.1" if args.size == "full" else "sf0.001")
    input_bytes = None
    if args.workload == "spark_queries":
        input_bytes = sum(os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir))
    setup = {}

    def setup_done():
        setup["s"] = time.perf_counter() - t0

    t_start = time.perf_counter()
    spark = start_spark(ws, args.workload, trace, input_bytes)
    session_start_s = time.perf_counter() - t_start
    tracer.spark = spark
    mirror_run = None
    try:
        if args.workload == "mirror":
            import mirror

            mirror_run = mirror.run(spark, ws, args.seed, args.size, args.seconds,
                                    ops, tracer, setup_done)
        else:
            import sql_suites

            sql_suites.run_suite(spark, sf_dir, os.path.join(HERE, "data", "sf0.001"),
                                 args.seconds, ops, tracer, setup_done)
        rss = peak_rss_mb()
    finally:
        stop_spark(spark)

    op_med = ops.op_medians()
    for r in ops.walls:
        for what in ("walls", "cpu"):
            print(f"perfbench: round {r} {what} (s): " + json.dumps(
                {k: round(v, 4) for k, v in getattr(ops, what)[r].items()}), file=sys.stderr)
    print(f"perfbench: {args.workload} rounds={len(ops.timed_rounds())} "
          f"setup_s={setup['s']:.3f} op medians (s): "
          + json.dumps({k: round(v, 4) for k, v in op_med.items()}), file=sys.stderr)
    if trace:
        metrics = layer_metrics(args, ws, ops, tracer, mirror_run,
                                {"session.start_s": (session_start_s, "s"),
                                 "session.peak_rss_MB": (rss, "MB")})
    else:
        metrics = {"setup_s": (setup["s"], "s"),
                   "round_cpu_s": (sum(ops.op_medians("cpu").values()), "s")}
    return {"correct": not ops.problems, "attempted": ops.attempted, "failed": ops.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def layer_metrics(args, ws, ops, tracer, mirror_run, layer: dict) -> dict:
    """Per-layer metrics of a traced run from the Spark event log, the spans
    and the mirror's counters; also writes the trace file."""
    from statistics import median

    import mirror
    from harness import op_spark_counts, parse_event_log, round_spark_totals
    from sql_suites import QUERIES

    groups = parse_event_log(ws.path("events"))
    rounds = ops.timed_rounds()
    per_round = round_spark_totals(groups, rounds)
    for r, tot in zip(rounds, per_round):
        tot["wall_s"] = sum(ops.walls[r].values())
        tot["driver_s"] = tot["wall_s"] - tot["spark_job_s"]
    for k, unit in ROUND_LAYER.items():
        layer[f"round.{k}"] = (median([t[k] for t in per_round]), unit)

    op_med = ops.op_medians()
    detail: dict = {"op_median_s": op_med}
    counts = dict.fromkeys(MIRROR_COUNTS, 0)
    if mirror_run is not None:
        md = mirror.detail(mirror_run, rounds, tracer, groups)
        counts.update(md["counts"])
        detail.update(md["times"])
    for name, unit in MIRROR_COUNTS.items():
        layer[name] = (counts[name], unit)

    for q in QUERIES:
        c = op_spark_counts(groups, rounds, q) if q in op_med else {"jobs": 0, "tasks": 0}
        layer[f"{q}.jobs"] = (c["jobs"], "count")
        layer[f"{q}.tasks"] = (c["tasks"], "count")
        if q in op_med:
            for part in ("build", "exec"):
                detail[f"{q}.{part}_s"] = median(
                    [sum(tracer.span_seconds(f"{q}.{part}", r + "/")) for r in rounds])

    out = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")
    tracer.write(out, {"groups": groups, "detail": detail,
                       "per_layer": {k: v for k, (v, _) in layer.items()}})
    print("perfbench: detail " + json.dumps(detail), file=sys.stderr)
    return layer


if __name__ == "__main__":
    sys.exit(main())
