"""Migration benchmark: one run of one workload.

    python3 perfbench/run.py --workload row_transform --seed 1 --seconds 15 --trace 0

Prints one line per op and a summary, then, as the last line of stdout,
one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 0 only when every op passed its output check.

This process is the supervisor. The run itself happens in a worker
process started in a session of its own, with a private temp root that
holds the inputs, outputs, Spark local dirs and every temp file. On any
exit path the supervisor stops whatever is left in that session and
deletes the temp root. Span dumps of traced runs go to perfbench/out/.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
from pathlib import Path

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout

HERE = Path(__file__).resolve().parent
CHECKOUT = HERE.parent
TMP = HERE / ".tmp"
OUT = HERE / "out"
#: the worker must be done by then; the sweep after it takes a few seconds
WORKER_TIMEOUT_S = 160
SWEEP_GRACE_S = 5.0

sys.path.insert(0, str(CHECKOUT))
from perfbench import procs  # noqa: E402

#: workload names, and metric names and units per `--trace` value
BENCHMARK = json.loads((CHECKOUT / "BENCHMARK.json").read_text())


def worker_env(root: Path) -> dict[str, str]:
    """Keep every file the run writes under ``root``: Spark local dirs,
    the SQL warehouse, Python and JVM temp files. The only engine setting
    is the core count, as the repository's tier-1 tests set it."""
    tmp = root / "tmp"
    tmp.mkdir()
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(root / "local"),
        "SPARK_GRAFT_WAREHOUSE": str(root / "warehouse"),
        "TMPDIR": str(tmp),
        "SPARK_SUBMIT_OPTS": jvm_opts,
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(CHECKOUT), os.environ.get("PYTHONPATH")])),
    }


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def supervise(args) -> dict | None:
    """Run the worker; always sweep its session and delete the temp root."""
    TMP.mkdir(exist_ok=True)
    root = Path(tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP))
    child = None
    try:
        spans = None
        if args.trace:
            OUT.mkdir(exist_ok=True)
            spans = OUT / f"spans-{args.workload}-seed{args.seed}.json"
        cmd = [
            sys.executable, str(HERE / "worker.py"),
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--root", str(root),
        ] + (["--spans", str(spans)] if spans else [])
        child = subprocess.Popen(cmd, cwd=CHECKOUT, env=worker_env(root), start_new_session=True)
        try:
            code = child.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"worker exceeded {WORKER_TIMEOUT_S} s; stopping it", file=sys.stderr)
            code = None
        result = root / "result.json"
        if code != 0 or not result.exists():
            return None
        return json.loads(result.read_text())
    finally:
        if child is not None:
            survivors = procs.sweep_session(child.pid, SWEEP_GRACE_S)
            if child.poll() is None:
                child.kill()
            child.wait()
            if survivors:
                print(f"processes survived SIGKILL: {survivors}", file=sys.stderr)
        shutil.rmtree(root, ignore_errors=True)
        if TMP.exists() and not any(TMP.iterdir()):
            TMP.rmdir()


def report(args, out: dict) -> dict:
    """Print every metric by name with its unit; return the result line."""
    e2e = out["end_to_end"]
    print(
        f"{args.workload} seed={args.seed}: {out['attempted']} ops, {out['failed']} failed "
        f"(fail_rate {e2e['fail_rate']:.3f}); op_p50_s over {e2e['warm_samples']} warm ops; "
        f"op_tail_s is p{e2e['op_tail_pct']:.0f}; host probe {out['host_probe_s']}"
    )
    values = out["per_layer"] if args.trace else e2e
    section = BENCHMARK["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in section}
    for name, m in metrics.items():
        print(f"  {name:26s} {m['value']:>16.6g} {m['unit']}")
    return {
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": metrics,
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=[w["name"] for w in BENCHMARK["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    out = supervise(args)
    if out is None:
        print("run failed: no result", file=sys.stderr)
        return 1
    line = report(args, out)
    print(json.dumps(line), flush=True)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
