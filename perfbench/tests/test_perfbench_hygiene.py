"""A benchmark run leaves no process, no temp directory and no file
outside its declared output (perfbench/out/) behind, both when it
completes and when it is stopped midway. Each test starts Spark.

    python3 -m pytest perfbench/tests/test_perfbench_hygiene.py -q
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
CHECKOUT = HERE.parent
sys.path.insert(0, str(CHECKOUT))

from perfbench import procs  # noqa: E402


def _spark_processes() -> set[int]:
    """Live java and pyspark.daemon processes."""
    out = set()
    for pid in procs.table():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ")
        except (FileNotFoundError, ProcessLookupError):
            continue
        if b"java" in cmd or b"pyspark.daemon" in cmd:
            out.add(pid)
    return out


#: names Spark, its native libraries and the JVM give their temp files
_SPARK_TEMP = ("spark-", "blockmgr-", "artifacts-", "liblz4", "snappy", "libzstd", "hsperfdata")


def _files() -> set[str]:
    """Files in the checkout outside the declared output, and Spark's
    entries in the system temp dir."""
    out = set()
    for dirpath, dirnames, filenames in os.walk(CHECKOUT):
        dirnames[:] = [
            d for d in dirnames
            if d not in (".git", "__pycache__") and os.path.join(dirpath, d) != str(HERE / "out")
        ]
        out.update(os.path.join(dirpath, f) for f in filenames)
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        if name.startswith(_SPARK_TEMP):
            path = os.path.join(tmp, name)
            out.add(path)
            if os.path.isdir(path):
                out.update(os.path.join(path, f) for f in os.listdir(path))
    return out


def _start(seconds: int) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, str(HERE / "run.py"), "--workload", "keyed_resync",
         "--seed", "7", "--seconds", str(seconds), "--trace", "0"],
        cwd=CHECKOUT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )


def _assert_clean(before: set[int], files: set[str]) -> None:
    assert procs.wait_gone(sorted(_spark_processes() - before), timeout=5.0) == []
    assert not (HERE / ".tmp").exists()
    assert _files() - files == set()


def test_completed_run_leaves_nothing_behind():
    before, files = _spark_processes(), _files()
    run = _start(seconds=1)
    out, _ = run.communicate(timeout=300)
    assert run.returncode == 0
    line = json.loads(out.strip().splitlines()[-1])
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    _assert_clean(before, files)


def test_run_stopped_midway_leaves_nothing_behind():
    before, files = _spark_processes(), _files()
    run = _start(seconds=60)
    deadline = time.monotonic() + 120
    # stop it once its Spark JVM is up
    while not (_spark_processes() - before) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert _spark_processes() - before, "the run never started a JVM"
    time.sleep(3)
    run.send_signal(signal.SIGTERM)
    run.communicate(timeout=60)
    assert run.returncode != 0
    _assert_clean(before, files)
