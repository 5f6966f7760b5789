"""Unit tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench/tests/test_logic.py -q
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import datagen, harness, oracle, stats  # noqa: E402
from perfbench.bench import PER_LAYER  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402
from perfbench.workloads import lakehouse  # noqa: E402


# -- tail percentile ----------------------------------------------------
@pytest.mark.parametrize("n, pct", [(25, 60.0), (30, 200 / 3), (40, 75.0), (100, 90.0), (1000, 99.0)])
def test_tail_is_highest_percentile_with_ten_beyond(n, pct):
    s = stats.latency_summary([float(i) for i in range(n)])
    assert s["tail_pct"] == pytest.approx(pct)
    assert s["beyond_tail"] == 10
    assert s["tail"] == n - 11  # the 11th largest value


@pytest.mark.parametrize("n", [1, 10, 20, 24])
def test_tail_never_falls_back_to_p50(n):
    with pytest.raises(ValueError):
        stats.latency_summary([1.0] * n)


def test_tail_value_above_median():
    lat = [float(i) for i in range(1, 26)]
    s = stats.latency_summary(lat)
    assert s["tail_pct"] > 50
    assert s["tail"] > s["p50"] == statistics.median(lat)
    assert s["beyond_tail"] == sum(1 for x in lat if x > s["tail"]) == 10


# -- failures -----------------------------------------------------------
class _Ctx(harness.Ctx):
    def __init__(self):
        super().__init__(spark=type("S", (), {"sparkContext": None})(), seed=0, run_dir="",
                         data_dir="", tracer=Tracer(False), trace=False)


class _Raises:
    def op(self, ctx, kind):
        raise RuntimeError("boom")


def test_raised_op_counts_in_fail_ratio():
    ctx = _Ctx()
    m = harness.Measured(latencies=[], elapsed=0.0, ok_ops=0, rounds=1)
    assert harness.run_op(ctx, _Raises(), "q", False, m) is False
    assert (ctx.attempted, ctx.failed, m.ok_ops, m.latencies) == (1, 1, 0, [])
    assert stats.fail_ratio(ctx.attempted, ctx.failed) == 1.0


def test_wrong_result_counts_in_fail_ratio():
    want = pd.DataFrame({"word": ["a", "b"], "n": [2, 1]})
    assert oracle.mismatch(want.iloc[::-1], want) is None  # row order is free
    wrong = pd.DataFrame({"word": ["a", "b"], "n": [2, 2]})
    ctx = _Ctx()
    for got in (want, wrong, want.iloc[:1], want.rename(columns={"n": "cnt"})):
        ctx.attempted += 1
        why = oracle.mismatch(got, want)
        if why is not None:
            ctx.fail("wordcount", why)
    assert (ctx.attempted, ctx.failed) == (4, 3)
    assert stats.fail_ratio(ctx.attempted, ctx.failed) == 0.75
    line = json.loads(stats.result_line(ctx.attempted, ctx.failed, ctx.failed == 0,
                                        {"setup_s": stats.metric(1.5, "s")}))
    assert line["correct"] is False and line["failed"] == 3


def test_float_results_compare_to_tolerance():
    a = pd.DataFrame({"x": [0.1 + 0.2]})
    assert oracle.mismatch(a, pd.DataFrame({"x": [0.3]})) is None
    assert oracle.mismatch(a, pd.DataFrame({"x": [0.31]})) is not None


# -- metric names -------------------------------------------------------
def test_metric_name_format():
    stats.check_metrics({"op_p50_s": stats.metric(1, "s"), "sources.txlog.append_s": stats.metric(0, "s")})
    for bad in ("_x", "a b", "x" * 65, "é", ""):
        with pytest.raises(ValueError):
            stats.check_metrics({bad: stats.metric(1, "s")})
    with pytest.raises(ValueError):
        stats.check_metrics({"x": stats.metric(1, "seconds per op")})
    with pytest.raises(ValueError):
        stats.check_metrics({"x": stats.metric(float("nan"), "s")})


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [m["name"] for m in spec["per_layer"]] == list(PER_LAYER)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    e2e = harness.end_to_end(
        harness.Measured(latencies=[1.0] * 30, elapsed=1.0, ok_ops=30, rounds=3), 1.0, 1.0
    )[0]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {k: v["unit"] for k, v in e2e.items()}
    stats.check_metrics(e2e)


def test_rounds_respect_the_workload_minimum():
    assert harness.rounds_for(25, 8.7, 10, 2) == 3
    assert harness.rounds_for(25, 8.7, 10, 4) == 4
    assert harness.rounds_for(25, 14.0, 14, 2) == 2
    assert harness.rounds_for(1, 14.0, 14, 1) == 2  # 25 ops need two rounds


# -- seeds --------------------------------------------------------------
def test_seed_changes_op_order_and_predicates():
    kinds = lakehouse.KINDS
    assert harness.round_orders(1, kinds, 3) == harness.round_orders(1, kinds, 3)
    assert harness.round_orders(1, kinds, 3) != harness.round_orders(2, kinds, 3)
    a, b = (lakehouse.schedule(s, 3, 30_000, "measure") for s in (1, 2))
    assert a == lakehouse.schedule(1, 3, 30_000, "measure")
    preds = [[x[1].get("pred") for x in r] for r in a]
    assert preds != [[x[1].get("pred") for x in r] for r in b]
    assert [k for k, _ in a[1]][0] == "optimize"


def test_inputs_depend_only_on_seed():
    d1 = datagen.documents(np.random.default_rng(5), 200)
    d2 = datagen.documents(np.random.default_rng(5), 200)
    d3 = datagen.documents(np.random.default_rng(6), 200)
    assert d1.equals(d2) and not d1.equals(d3)
    s1 = datagen.star_schema(np.random.default_rng(5), 0.001)
    s2 = datagen.star_schema(np.random.default_rng(5), 0.001)
    assert all(s1[t].equals(s2[t]) for t in s1)


# -- tracing ------------------------------------------------------------
def test_self_time_subtracts_children():
    tr = Tracer(True)
    with tr.span("bench.op"):
        with tr.span("sources.txlog.append"):
            pass
        with tr.span("plans.build"):
            pass
    spans = {s["name"]: s for s in tr.spans}
    assert spans["plans.build"]["parent"] == spans["bench.op"]["id"]
    self_t = tr.self_times()
    total = spans["bench.op"]["end"] - spans["bench.op"]["start"]
    assert abs(sum(self_t.values()) - total) < 1e-9
    assert set(self_t) == {"bench", "sources.txlog", "plans"}
