"""The closed loop shared by every workload.

One client thread drives one SparkSession: each op starts only after
the previous one has returned. The measured phase is a whole number of
rounds; every round runs each of the workload's op kinds once, in an
order drawn from the seed, so every run times the same multiset of ops.

With tracing on, rounds still run every op, but only half of them are
traced: op kind j is traced in round r when j + r is odd, so over any
two rounds each kind is traced once and untraced once. The untraced
half gives the untraced rate that the tracing overhead is measured
against, on the same ops in the same process.
"""

from __future__ import annotations

import math
import os
import random
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

from . import probes, stats
from .trace import Tracer


@dataclass
class Ctx:
    spark: SparkSession
    seed: int
    run_dir: str
    data_dir: str
    tracer: Tracer
    trace: bool
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    op_seq: int = 0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(f"{what}: {why}")


@dataclass
class Measured:
    latencies: list[float]
    elapsed: float
    ok_ops: int
    rounds: int
    traced_wall: float = 0.0
    traced_ops: int = 0
    untraced_wall: float = 0.0
    untraced_ops: int = 0
    gc_s: list[float] = field(default_factory=list)
    counts: list[tuple[int, int, int]] = field(default_factory=list)


def rounds_for(seconds: float, nominal_round_s: float, ops_per_round: int, min_rounds: int) -> int:
    """Whole rounds that fill about ``seconds`` on the reference box
    (4 cores); at least ``min_rounds`` and at least two, so tracing sees
    every kind both ways, and enough ops for a tail percentile."""
    return max(
        2,
        min_rounds,
        math.ceil(seconds / nominal_round_s),
        math.ceil(stats.MIN_SAMPLES / ops_per_round),
    )


def round_orders(seed: int, kinds: list[str], rounds: int) -> list[list[str]]:
    rng = random.Random(f"order-{seed}")
    return [rng.sample(kinds, len(kinds)) for _ in range(rounds)]


def run_op(ctx: Ctx, wl, kind: str, traced: bool, m: Measured | None) -> bool:
    """Run one op; returns True when it succeeded. Latency covers the
    op's calls only; probes of a traced op run after it."""
    sc = ctx.spark.sparkContext
    ctx.op_seq += 1
    ctx.attempted += 1
    ctx.tracer.enabled = traced
    ctx.tracer.op_id = ctx.op_seq
    group = f"perfbench-op-{ctx.op_seq}"
    wall0 = time.perf_counter()
    with ctx.tracer.span("bench.op"):
        if traced:
            with ctx.tracer.span("bench.probe"):
                sc.setJobGroup(group, kind)
                gc0 = probes.gc_seconds(ctx.spark)
                wl.before(ctx, kind)
        t0 = time.perf_counter()
        try:
            wl.op(ctx, kind)
            ok = True
        except Exception:  # an op that raises is a failed op; the run goes on
            ctx.fail(kind, traceback.format_exc(limit=-3))
            ok = False
        latency = time.perf_counter() - t0
        if traced:
            with ctx.tracer.span("bench.probe"):
                if m is not None:
                    m.gc_s.append(probes.gc_seconds(ctx.spark) - gc0)
                    m.counts.append(probes.group_counts(ctx.spark, group))
                wl.after(ctx, kind, ok)
                sc.setLocalProperty("spark.jobGroup.id", None)
    ctx.tracer.enabled = False
    if m is not None:
        wall = time.perf_counter() - wall0
        if traced:
            m.traced_wall += wall
            m.traced_ops += ok
        else:
            m.untraced_wall += wall
            m.untraced_ops += ok
        if ok:
            m.latencies.append(latency)
            m.ok_ops += 1
    return ok


def measure(ctx: Ctx, wl, rounds: int, log=None) -> Measured:
    kinds = wl.kinds()
    m = Measured(latencies=[], elapsed=0.0, ok_ops=0, rounds=rounds)
    t0 = time.perf_counter()
    for r, order in enumerate(wl.orders(ctx.seed, rounds)):
        for kind in order:
            traced = ctx.trace and (kinds.index(kind) + r) % 2 == 1
            ok = run_op(ctx, wl, kind, traced, m)
            if log is not None:
                log(f"round {r} {kind} {m.latencies[-1] if ok else float('nan'):.3f}s")
    m.elapsed = time.perf_counter() - t0
    return m


def end_to_end(m: Measured, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics, plus the tail's description."""
    lat = stats.latency_summary(m.latencies)
    metrics = {
        "setup_s": stats.metric(setup_s, "s"),
        "ops_per_s": stats.metric(m.ok_ops / m.elapsed, "ops/s"),
        "op_p50_s": stats.metric(lat["p50"], "s"),
        "op_tail_s": stats.metric(lat["tail"], "s"),
        "peak_rss_mb": stats.metric(peak_rss_mb, "MB"),
    }
    return metrics, lat


def peak_rss_mb(spark: SparkSession) -> float:
    return probes.vm_hwm_mb(probes.jvm_pid(spark)) + probes.vm_hwm_mb("self")


def table_scan_s(ctx: Ctx, tables) -> float:
    """Full noop scan of each input table through ``tables.load_table``."""
    from map_reduce_rpc_spark.tables import load_table

    total = 0.0
    for name in tables:
        t0 = time.perf_counter()
        load_table(ctx.spark, ctx.data_dir, name).write.format("noop").mode("overwrite").save()
        total += time.perf_counter() - t0
    return total


def trace_metrics(ctx: Ctx, m: Measured, start_s: float, scan_s: float) -> dict:
    """Per-layer metrics shared by every workload; a workload adds its
    own and fills the rest of the per-layer list with zeros for layers
    it never calls."""
    n = max(1, len(m.counts))
    jobs, stages, tasks = (sum(c[i] for c in m.counts) for i in range(3))
    traced_rate = m.traced_ops / m.traced_wall if m.traced_wall else 0.0
    untraced_rate = m.untraced_ops / m.untraced_wall if m.untraced_wall else 0.0
    self_t = ctx.tracer.self_times()
    out = {
        "session.start_s": stats.metric(start_s, "s"),
        "session.gc_s": stats.metric(sum(m.gc_s) / n, "s"),
        "tables.scan_s": stats.metric(scan_s, "s"),
        "plans.jobs_per_op": stats.metric(jobs / n, "count"),
        "plans.stages_per_op": stats.metric(stages / n, "count"),
        "plans.tasks_per_op": stats.metric(tasks / n, "count"),
        "trace.ops_per_s": stats.metric(traced_rate, "ops/s"),
        "trace.untraced_ops_per_s": stats.metric(untraced_rate, "ops/s"),
        "trace.overhead_ratio": stats.metric(
            untraced_rate / traced_rate - 1.0 if traced_rate else 0.0, "ratio"
        ),
    }
    for layer in ("bench", "plans", "sources.txlog", "streaming.cdf"):
        out[f"{layer}.self_s"] = stats.metric(self_t.get(layer, 0.0), "s")
    return out


def mean_s(tracer: Tracer, span: str) -> float:
    d = tracer.durations(span)
    return sum(d) / len(d) if d else 0.0


def ensure_dir(path: str) -> str:
    os.makedirs(path, exist_ok=True)
    return path
