"""Pure helpers for the benchmark's numbers: latency percentiles, the
tail-percentile rule, failure ratio, metric records and the result
line. No Spark here, so the unit tests run without a JVM."""

from __future__ import annotations

import json
import math
import re
import statistics

# The tail is the highest percentile with MIN_BEYOND samples beyond it:
# rank n - MIN_BEYOND of n. MIN_SAMPLES keeps it at p60 or above, clear
# of the median.
MIN_BEYOND = 10
MIN_SAMPLES = 25

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.\-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.\-]{1,16}$")


def tail_rank(n: int) -> int:
    """1-based rank of the tail among n sorted samples. A run too short
    for a tail above the median raises instead of reporting p50 twice."""
    if n < MIN_SAMPLES:
        raise ValueError(
            f"{n} samples cannot support a tail percentile above p50 with "
            f"{MIN_BEYOND} samples beyond it (need at least {MIN_SAMPLES})"
        )
    return n - MIN_BEYOND


def latency_summary(latencies: list[float]) -> dict:
    """p50 and the tail of op latencies, with the tail's percentile and
    how many samples lie beyond it."""
    n = len(latencies)
    k = tail_rank(n)
    return {
        "p50": statistics.median(latencies),
        "tail": sorted(latencies)[k - 1],
        "tail_pct": 100.0 * k / n,
        "samples": n,
        "beyond_tail": n - k,
    }


def fail_ratio(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no op was attempted")
    return failed / attempted


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def check_metrics(metrics: dict[str, dict]) -> None:
    """Reject names and units outside the format the result line
    promises."""
    for name, rec in metrics.items():
        if not NAME_RE.match(name):
            raise ValueError(f"bad metric name {name!r}")
        if set(rec) != {"value", "unit"} or not UNIT_RE.match(rec["unit"]):
            raise ValueError(f"bad metric record for {name!r}: {rec!r}")
        if not math.isfinite(rec["value"]):
            raise ValueError(f"metric {name!r} is not finite: {rec['value']!r}")


def result_line(attempted: int, failed: int, correct: bool, metrics: dict[str, dict]) -> str:
    check_metrics(metrics)
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    })
