"""Metric math of the migration benchmark, with no Spark.

    python3 -m pytest perfbench/tests/test_perfbench_metrics.py -q
"""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import metrics, procs  # noqa: E402
from perfbench.metrics import COLD, WARMUP, WINDOW, Op  # noqa: E402


def test_tail_is_the_sample_with_ten_beyond_it():
    samples = [float(x) for x in range(30, 0, -1)]  # 1..30, unsorted
    value, pct = metrics.tail(samples)
    assert value == 20.0  # 21..30 lie beyond it
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_at_twenty_samples_is_p50():
    samples = [float(x) for x in range(1, 21)]
    assert metrics.tail(samples) == (10.0, 50.0)


@pytest.mark.parametrize("n", [1, 2, 7, 11, 19])
def test_tail_below_twenty_samples_falls_back_to_the_median(n):
    samples = [float(x * x) for x in range(n)]
    assert metrics.tail(samples) == (statistics.median(samples), 50.0)


def test_tail_needs_samples():
    with pytest.raises(ValueError):
        metrics.tail([])


def _ops():
    return [
        Op(0, COLD, 9.0, 20.0, True),
        Op(1, WARMUP, 5.0, 12.0, False),
        Op(2, WINDOW, 1.0, 2.0, True),
        Op(3, WINDOW, 2.0, 3.0, True),
        Op(4, WINDOW, 1.0, 1.0, False),
    ]


def test_rows_per_s_counts_warm_window_ops_only():
    # 3 window ops x 1000 rows over 4 s; the cold and warm-up ops are ignored
    assert metrics.rows_per_s(_ops(), 1000) == pytest.approx(750.0)


def test_rows_per_s_needs_a_window_op():
    with pytest.raises(ValueError):
        metrics.rows_per_s([Op(0, COLD, 1.0, 1.0, True)], 1000)


def test_fail_rate_counts_every_attempted_op():
    assert metrics.fail_rate(_ops()) == pytest.approx(2 / 5)
    assert metrics.fail_rate([Op(0, COLD, 1.0, 1.0, True)]) == 0.0
    with pytest.raises(ValueError):
        metrics.fail_rate([])


def _stat(pid, comm, ppid, sid, utime, stime, cutime=0, cstime=0, state="S"):
    """A /proc/<pid>/stat line with the given fields; the rest zero."""
    rest = [state, ppid, sid, sid, 0, 0, 0, 0, 0, 0, 0, utime, stime, cutime, cstime]
    return f"{pid} ({comm}) " + " ".join(str(x) for x in rest + [0] * 37)


def _table(lines):
    return {int(line.split()[0]): procs.parse_stat(line) for line in lines}


def test_parse_stat_handles_spaces_and_parens_in_the_name():
    fields = procs.parse_stat(_stat(7, "py (worker) 1", 3, 3, 5, 6))
    assert fields[0] == "S" and fields[1] == "3" and fields[11] == "5"


def test_cpu_s_per_mrow_from_proc_readings():
    tck = procs.CLK_TCK
    # driver 100 -> JVM 101 -> daemon 102 -> worker 103; 200 is unrelated
    before = _table([
        _stat(100, "python3", 1, 100, 1 * tck, 0),
        _stat(101, "java", 100, 100, 10 * tck, 1 * tck),
        _stat(102, "python3 -m pyspark.daemon", 101, 100, 1 * tck, 0),
        _stat(103, "python3 -m pyspark.daemon", 102, 100, 2 * tck, 0),
        _stat(200, "other", 1, 200, 500 * tck, 0),
    ])
    # during the op: driver +0.5 s, JVM +3 s, worker 103 ran 1 s more and
    # exited, so the daemon now holds its 3 s in cutime; 200 burned 100 s
    after = _table([
        _stat(100, "python3", 1, 100, 1 * tck + tck // 2, 0),
        _stat(101, "java", 100, 100, 13 * tck, 1 * tck),
        _stat(102, "python3 -m pyspark.daemon", 101, 100, 1 * tck, 0, cutime=3 * tck),
        _stat(200, "other", 1, 200, 600 * tck, 0),
    ])
    assert sorted(procs.tree(100, before)) == [100, 101, 102, 103]
    cpu = procs.tree_cpu_seconds(100, after) - procs.tree_cpu_seconds(100, before)
    assert cpu == pytest.approx(4.5)
    ops = [Op(0, COLD, 1.0, 99.0, True), Op(1, WINDOW, 1.0, cpu, True), Op(2, WINDOW, 1.0, cpu, True)]
    # 9 CPU seconds over 2 ops x 500,000 rows = 1 M rows
    assert metrics.cpu_s_per_mrow(ops, 500_000) == pytest.approx(9.0)

