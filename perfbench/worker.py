"""One measured run of one workload, in a process of its own.

Started by ``run.py``, which owns the temp root and the final sweep.
Order: imports, seeded inputs, host probe, session, cold op, warm-up,
measured window, final output check, teardown, host probe. The result
is written as JSON to ``<root>/result.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(CHECKOUT))

from perfbench import metrics, procs  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

#: warm-up ops after the cold op; see README.md "Warm-up"
WARMUP_OPS = {"row_transform": 4, "keyed_resync": 5}
#: seconds the gateway JVM gets to exit after `spark.stop()`
JVM_GRACE_S = 10.0
PROBE_LOOPS = 2_000_000


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop: moves with host load only."""
    t = time.perf_counter()
    acc = 0
    for i in range(PROBE_LOOPS):
        acc += i * i
    return time.perf_counter() - t


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and, with it, its Python
    daemon and workers) to exit; kill what outlives the grace period."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if jvm is not None:
            family = procs.tree(jvm.pid)
            jvm.stdin.close()  # the JVM exits on EOF of its stdin
            try:
                jvm.wait(timeout=JVM_GRACE_S)
            except subprocess.TimeoutExpired:
                pass
            procs.stop(family, grace=2.0)
            jvm.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def open_session(tracer, trace: bool):
    """A fresh session (new JVM) and its set-up seconds: `get_spark`
    returned and one trivial job done."""
    from d2d_spark.session import get_spark

    t = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark("perfbench", extra_conf={"spark.ui.enabled": "true"} if trace else None)
    spark.range(1).count()
    return spark, time.perf_counter() - t


class Runner:
    """Runs and records the ops of one run."""

    def __init__(self, workload, tracer, trace: bool):
        self.workload, self.tracer, self.trace = workload, tracer, trace
        self.me = os.getpid()
        self.ops: list[metrics.Op] = []
        self.driver_peak_mb = 0.0
        self.traced_ops: list[int] = []
        self.window_s: dict[bool, list[float]] = {True: [], False: []}  # by traced or not

    def op(self, spark, phase: str) -> None:
        """One op: the workload's untimed step, the timed op with the
        process tree's CPU around it, then the untimed output check."""
        i = len(self.ops)
        # in a traced run every other window op is traced: the untraced
        # ones are the baseline of the tracing overhead
        traced = self.trace and phase == metrics.WINDOW and i % 2 == 0
        self.tracer.enabled, self.tracer.op = traced, i
        self.workload.before_op(i)
        cpu0 = procs.tree_cpu_seconds(self.me)
        t = time.perf_counter()
        try:
            self.workload.run_op(spark)
            ran = True
        except Exception:
            traceback.print_exc()
            ran = False
        seconds = time.perf_counter() - t
        cpu_s = procs.tree_cpu_seconds(self.me) - cpu0
        self.tracer.enabled = False
        self.driver_peak_mb = max(self.driver_peak_mb, procs.hwm_mb(self.me))
        ok = ran and self.workload.check(i, last=False)
        procs.reset_hwm()  # the check's memory is the benchmark's, not the program's
        self.ops.append(metrics.Op(i, phase, seconds, cpu_s, ok))
        if self.trace and phase == metrics.WINDOW:
            self.window_s[traced].append(seconds)
            if traced:
                self.traced_ops.append(i)
        print(f"op {i:3d} {phase:6s} {seconds:7.3f} s  cpu {cpu_s:7.2f} s  ok={ok}", flush=True)

    def peak_rss_mb(self) -> float:
        """Driver peak over the ops plus the JVM's and Python workers' peaks."""
        others = [p for p in procs.tree(self.me) if p != self.me]
        return self.driver_peak_mb + sum(procs.hwm_mb(p) for p in others)


def run(args) -> dict:
    from pyspark.sql import SparkSession  # noqa: F401  (counted in setup)

    import d2d_spark.migrate  # noqa: F401  (counted in setup)
    from perfbench.trace import StageIndex, Tracer, fetch_status, op_layers

    imported = time.clock_gettime(time.CLOCK_BOOTTIME)
    started = procs.start_time_s()
    workload = WORKLOADS[args.workload](args.root, args.seed)
    tracer = Tracer()
    runner = Runner(workload, tracer, bool(args.trace))
    spark = None
    try:
        workload.prepare()
        probes = [host_probe()]
        procs.reset_hwm()
        tracer.enabled = bool(args.trace)
        spark, seconds = open_session(tracer, args.trace)
        tracer.enabled = False
        setup_s = (imported - started) + seconds
        tracer.sc = spark.sparkContext
        tracer.install()
        runner.op(spark, metrics.COLD)
        for _ in range(WARMUP_OPS[args.workload]):
            runner.op(spark, metrics.WARMUP)
        window_start = time.perf_counter()
        while time.perf_counter() - window_start < args.seconds:
            runner.op(spark, metrics.WINDOW)
        peak_rss_mb = runner.peak_rss_mb()
        layers = None
        if args.trace:
            jobs, stages = fetch_status(spark.sparkContext)
            index = StageIndex(jobs, stages)
            cores = spark.sparkContext.defaultParallelism
            rows = [
                op_layers([s for s in tracer.spans if s.op == op], index, cores, workload.useful_rows)
                for op in runner.traced_ops
            ]
            layers = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
            layers["trace.self_sum_error_s"] = max(r["trace.self_sum_error_s"] for r in rows)
            get_spark = next(s for s in tracer.spans if s.name == "session.get_spark")
            layers["session.get_spark_s"] = get_spark.end - get_spark.start
            w = runner.window_s
            layers["trace.overhead_s"] = statistics.median(w[True]) - statistics.median(w[False])
            if args.spans:
                tracer.write(args.spans)
        # the last op's output also gets the full row-by-row comparison
        last = runner.ops[-1]
        last.ok = last.ok and workload.check(last.index, last=True)
    finally:
        tracer.uninstall()
        try:
            stop_session(spark)
        finally:
            workload.close()
    probes.append(host_probe())
    if layers is not None:
        layers["host.probe_s"] = statistics.mean(probes)
    result = metrics.summarize(runner.ops, workload.useful_rows)
    result.update(setup_s=setup_s, peak_rss_mb=peak_rss_mb)
    return {
        "attempted": len(runner.ops),
        "failed": sum(not op.ok for op in runner.ops),
        "end_to_end": result,
        "per_layer": layers,
        "host_probe_s": probes,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--root", required=True)
    p.add_argument("--spans", default=None)
    args = p.parse_args(argv)
    out = run(args)
    with open(os.path.join(args.root, "result.json"), "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
