"""End-to-end metric math over one run's op records. No Spark here."""

from __future__ import annotations

import statistics
from dataclasses import dataclass

COLD, WARMUP, WINDOW = "cold", "warmup", "window"


@dataclass
class Op:
    index: int
    phase: str  # COLD, WARMUP or WINDOW
    seconds: float  # wall time of the op alone, outside its output check
    cpu_s: float  # CPU seconds of the whole process tree during the op
    ok: bool  # the op returned and its output passed the check


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile with at least ``beyond`` samples above it,
    as (value, percentile). With n samples that is the (n - beyond)-th
    smallest, at percentile 100 * (n - beyond) / n. Below 2 * beyond
    samples that percentile would fall under the median, so the tail is
    the median itself, reported as percentile 50."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    if n < 2 * beyond:
        return statistics.median(samples), 50.0
    return sorted(samples)[n - beyond - 1], 100.0 * (n - beyond) / n


def fail_rate(ops: list[Op]) -> float:
    """Ops that raised or failed their output check, over ops attempted."""
    if not ops:
        raise ValueError("no ops attempted")
    return sum(not op.ok for op in ops) / len(ops)


def _window(ops: list[Op]) -> list[Op]:
    warm = [op for op in ops if op.phase == WINDOW]
    if not warm:
        raise ValueError("no warm op in the measured window")
    return warm


def rows_per_s(ops: list[Op], useful_rows: int) -> float:
    """Useful rows per second of warm op time (window ops only)."""
    warm = _window(ops)
    return len(warm) * useful_rows / sum(op.seconds for op in warm)


def cpu_s_per_mrow(ops: list[Op], useful_rows: int) -> float:
    """Process-tree CPU seconds per million useful rows over the window."""
    warm = _window(ops)
    return sum(op.cpu_s for op in warm) / (len(warm) * useful_rows / 1e6)


def summarize(ops: list[Op], useful_rows: int) -> dict[str, float]:
    """The op-derived end-to-end metrics of one run, plus the facts a
    reader needs to interpret them (sample count, tail percentile)."""
    warm = [op.seconds for op in _window(ops)]
    tail_s, tail_pct = tail(warm)
    cold = next(op.seconds for op in ops if op.phase == COLD)
    return {
        "cold_op_s": cold,
        "rows_per_s": rows_per_s(ops, useful_rows),
        "op_p50_s": statistics.median(warm),
        "op_tail_s": tail_s,
        "op_tail_pct": tail_pct,
        "warm_samples": len(warm),
        "cpu_s_per_mrow": cpu_s_per_mrow(ops, useful_rows),
        "fail_rate": fail_rate(ops),
    }
