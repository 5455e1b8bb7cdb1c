"""Process-tree readings from /proc, and the sweep that ends a run.

A run's processes are the benchmark worker, the Spark gateway JVM it
launches and the JVM's Python daemon and workers. The worker starts in
a session of its own, and none of these processes leaves that session
(the PySpark daemon only changes its process group), so the session id
finds every one of them even after its parent has died.
"""

from __future__ import annotations

import os
import signal
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def parse_stat(raw: str) -> list[str]:
    """Fields of a /proc/<pid>/stat line from `state` on: field 3 of
    proc(5) is index 0."""
    # the command name may hold spaces and parentheses; it ends at the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _stat_fields(pid: int) -> list[str] | None:
    """Stat fields of ``pid``, or None when the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return parse_stat(f.read())
    except (FileNotFoundError, ProcessLookupError):
        return None


def _all_pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def table() -> dict[int, list[str]]:
    """{pid: stat fields} of every live (not zombie) process."""
    out = {}
    for pid in _all_pids():
        fields = _stat_fields(pid)
        if fields is not None and fields[0] != "Z":
            out[pid] = fields
    return out


def tree(root: int, procs: dict[int, list[str]] | None = None) -> list[int]:
    """``root`` and its live descendants."""
    procs = table() if procs is None else procs
    children: dict[int, list[int]] = {}
    for pid, fields in procs.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root] if root in procs else []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(fields: list[str]) -> float:
    """utime + stime + cutime + cstime of one process, in seconds.
    Children's times count once the process has reaped them, so a
    tree's sum does not drop when a worker exits and is reaped."""
    return sum(int(fields[i]) for i in (11, 12, 13, 14)) / CLK_TCK


def tree_cpu_seconds(root: int, procs: dict[int, list[str]] | None = None) -> float:
    procs = table() if procs is None else procs
    return sum(cpu_seconds(procs[pid]) for pid in tree(root, procs))


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MiB, 0 when gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0.0


def reset_hwm() -> None:
    """Reset this process's VmHWM to its current RSS (proc(5), clear_refs)."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def session_members(sid: int) -> list[int]:
    """Live processes in session ``sid``."""
    return [pid for pid, fields in table().items() if int(fields[3]) == sid]


def wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Poll until every pid has exited (or is a zombie); returns the
    pids still alive at ``timeout``."""
    deadline = time.monotonic() + timeout
    while True:
        alive = [p for p in pids if (f := _stat_fields(p)) is not None and f[0] != "Z"]
        if not alive or time.monotonic() >= deadline:
            return alive
        time.sleep(0.05)


def _signal(pids: list[int], sig: int) -> None:
    for pid in pids:
        try:
            os.kill(pid, sig)
        except ProcessLookupError:
            pass


def stop(pids: list[int], grace: float) -> list[int]:
    """SIGTERM ``pids``, SIGKILL whatever outlives ``grace`` seconds, and
    wait for those too; returns pids that survived even SIGKILL."""
    _signal(pids, signal.SIGTERM)
    alive = wait_gone(pids, grace)
    _signal(alive, signal.SIGKILL)
    return wait_gone(alive, 5.0)


def sweep_session(sid: int, grace: float) -> list[int]:
    """Stop every process left in session ``sid``; returns survivors."""
    return stop(session_members(sid), grace)


def start_time_s() -> float:
    """This process's start, on the CLOCK_BOOTTIME scale (10 ms steps)."""
    return int(_stat_fields(os.getpid())[19]) / CLK_TCK
