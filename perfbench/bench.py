"""One benchmark run: stage inputs, start the session, verified
warm-up, measured rounds, checks, metrics. ``run.py`` pins the
environment before this module imports Spark."""

from __future__ import annotations

import os
import subprocess
import sys
import time

from . import harness, probes, stats
from .trace import Tracer
from .workloads.lakehouse import Lakehouse
from .workloads.plans_mix import Curation, Olap

WORKLOADS = {"olap": Olap, "curation": Curation, "lakehouse": Lakehouse}

# Every per-layer metric, in the order BENCHMARK.json lists them. A
# workload reports 0 for a layer it never calls.
PER_LAYER = {
    "session.start_s": "s",
    "session.gc_s": "s",
    "tables.scan_s": "s",
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_per_op": "count",
    "plans.stages_per_op": "count",
    "plans.tasks_per_op": "count",
    "operators.dedup.minhash_lsh_pairs_s": "s",
    "operators.dedup.simhash_pairs_s": "s",
    "operators.similarity.brute_force_topk_s": "s",
    "operators.graph.connected_components_s": "s",
    "sources.txlog.append_s": "s",
    "sources.txlog.delete_where_s": "s",
    "sources.txlog.update_where_s": "s",
    "sources.txlog.merge_s": "s",
    "sources.txlog.optimize_s": "s",
    "sources.txlog.read_table_s": "s",
    "sources.txlog.files_added_per_commit": "count",
    "sources.txlog.files_removed_per_commit": "count",
    "sources.txlog.bytes_written_per_commit": "bytes",
    "sources.txlog.snapshot_files": "count",
    "sources.txlog.stored_bytes_per_live_byte": "ratio",
    "streaming.cdf.poll_s": "s",
    "streaming.cdf.rows_per_poll": "count",
    "bench.self_s": "s",
    "plans.self_s": "s",
    "sources.txlog.self_s": "s",
    "streaming.cdf.self_s": "s",
    "trace.ops_per_s": "ops/s",
    "trace.untraced_ops_per_s": "ops/s",
    "trace.overhead_ratio": "ratio",
}


def per_layer(found: dict) -> dict:
    unknown = set(found) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from PER_LAYER: {sorted(unknown)}")
    return {
        name: found.get(name, stats.metric(0.0, unit)) for name, unit in PER_LAYER.items()
    }


def stop_session(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run(args, run_dir: str, t_start: float, env: dict) -> tuple[list[str], str, int]:
    wl = WORKLOADS[args.workload]()
    load_start = probes.loadavg()
    data_dir = harness.ensure_dir(os.path.join(run_dir, "data"))
    t0 = time.perf_counter()
    sizes = wl.stage(data_dir)
    stage_s = time.perf_counter() - t0

    from map_reduce_rpc_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    ctx = harness.Ctx(
        spark=spark,
        seed=args.seed,
        run_dir=run_dir,
        data_dir=data_dir,
        tracer=Tracer(False),
        trace=bool(args.trace),
    )
    try:
        t0 = time.perf_counter()
        wl.warm(ctx)
        warm_s = time.perf_counter() - t0
        setup_s = time.perf_counter() - t_start
        log(f"setup {setup_s:.1f}s: stage {stage_s:.1f}s, session {start_s:.1f}s, warm-up {warm_s:.1f}s")
        rounds = harness.rounds_for(args.seconds, wl.nominal_round_s, wl.round_size(), wl.min_rounds)
        m = harness.measure(ctx, wl, rounds, log)
        log(f"measured {m.ok_ops} ops in {rounds} rounds, {m.elapsed:.1f}s")
        end = wl.finish(ctx)
        rss = harness.peak_rss_mb(spark)
        e2e, lat = harness.end_to_end(m, setup_s, rss)
        if args.trace:
            scan_s = harness.table_scan_s(ctx, wl.tables)
            found = harness.trace_metrics(ctx, m, start_s, scan_s)
            found.update(wl.layer_metrics(ctx, m))
            metrics = per_layer(found)
            trace_dir = harness.ensure_dir(os.path.join(os.path.dirname(os.path.dirname(run_dir)), "traces"))
            ctx.tracer.dump(os.path.join(trace_dir, f"{os.path.basename(run_dir)}.json"))
        else:
            metrics = e2e
    finally:
        stop_session(spark)
    load_end = probes.loadavg()

    lines = [
        f"perfbench workload={args.workload} seed={args.seed} trace={args.trace} "
        f"rounds={m.rounds} kinds={len(wl.kinds())} measured_ops={m.ok_ops} "
        f"measured_s={m.elapsed:.3f}",
        "env " + " ".join(f"{k}={env[k]}" for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"))
        + f" nproc={probes.nproc()} loadavg_start={load_start} loadavg_end={load_end}",
        "inputs " + " ".join(f"{k}={v}" for k, v in sizes.items()),
        f"setup stage_s={stage_s:.3f} session_start_s={start_s:.3f} warm_s={warm_s:.3f}",
    ]
    for name, rec in e2e.items():
        lines.append(f"metric {name} = {rec['value']:.6g} {rec['unit']}")
        if name == "op_tail_s":
            lines[-1] += (
                f" (p{lat['tail_pct']:.1f} of {lat['samples']} samples,"
                f" {lat['beyond_tail']} beyond it)"
            )
    lines.append(
        f"metric fail_ratio = {stats.fail_ratio(ctx.attempted, ctx.failed):.6g} ratio "
        f"({ctx.failed} of {ctx.attempted} attempted)"
    )
    if end:
        lines.append(
            "metric stored_bytes_per_live_byte = "
            f"{end['stored_bytes'] / end['live_bytes']:.6g} ratio "
            f"(table v{end['version']}, {end['snapshot_files']} live files)"
        )
    if args.trace:
        lines += [f"layer {k} = {v['value']:.6g} {v['unit']}" for k, v in metrics.items()]
    lines += [f"FAILED {e}" for e in ctx.errors]
    correct = ctx.failed == 0
    return lines, stats.result_line(ctx.attempted, ctx.failed, correct, metrics), 0 if correct else 1
