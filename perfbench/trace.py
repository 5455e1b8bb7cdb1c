"""Spans around calls into d2d_spark's public functions, and the
per-layer metrics derived from them and from Spark's status API.

The program is not edited: ``Tracer.install`` replaces the public
functions below with wrappers at runtime. Each span records name, start,
end, parent and op id in memory, and sets a Spark job group of its own
for its duration (restoring the parent's group on exit), so every job,
and through it every stage and task metric, belongs to exactly one span.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
import urllib.request
from dataclasses import asdict, dataclass

#: (module, attribute path, span name) of every wrapped public function
WRAPPED = (
    ("d2d_spark.migrate", "Migration.run_one", "migrate.run_one"),
    ("d2d_spark.migrate", "IncrementalMigration.run_one", "migrate.run_one"),
    ("d2d_spark.migrate", "IncrementalMigration.high_watermark", "migrate.hwm"),
    ("d2d_spark.migrate", "apply_format_data", "migrate.format_data"),
    ("d2d_spark.sources.files", "FileConnector.read", "sources.read"),
    ("d2d_spark.sources.files", "FileConnector.write", "sources.write"),
    ("d2d_spark.operators.writes", "write_mode", "writes.write_mode"),
)
ROOT = "migrate.run_one"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Span recorder. While ``enabled`` is false the wrappers call
    straight through, so one process can interleave traced and untraced
    ops."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: int | None = None
        self.sc = None
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    @staticmethod
    def group(span_id: int) -> str:
        return f"perfbench-span-{span_id}"

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(span.id), span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), float("nan"),
                 parent.id if parent else None, self.op)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            # IncrementalMigration.run_one calls Migration.run_one: the op
            # keeps one root span
            if name == ROOT and any(s.name == ROOT for s in tracer._stack):
                return fn(*args, **kwargs)
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        import importlib

        for module, path, name in WRAPPED:
            owner = importlib.import_module(module)
            *parents, attr = path.split(".")
            for p in parents:
                owner = getattr(owner, p)
            original = owner.__dict__[attr]
            self._undo.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# -- status API ---------------------------------------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def fetch_status(sc, settle_s: float = 10.0) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, {stage id: stage}) from the UI's REST API, once the listener
    has caught up: every job has ended and two reads agree."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    prev = None
    while True:
        jobs = _get(f"{base}/jobs")
        stages = _get(f"{base}/stages")
        snap = (sorted((j["jobId"], j["status"]) for j in jobs),
                sorted((s["stageId"], s["attemptId"], s["status"]) for s in stages))
        done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)
        if (done and snap == prev) or time.monotonic() > deadline:
            break
        prev = snap
        time.sleep(0.3)
    best: dict[int, dict] = {}
    for s in stages:
        rank = (s["status"] == "COMPLETE", s["attemptId"])
        old = best.get(s["stageId"])
        if old is None or rank > (old["status"] == "COMPLETE", old["attemptId"]):
            best[s["stageId"]] = s
    return jobs, best


# -- per-layer metrics --------------------------------------------------


def _children(spans: list[Span]) -> dict[int, list[Span]]:
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    return kids


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its children cover."""
    kids = _children(spans)
    out = {}
    for s in spans:
        covered, cursor = 0.0, s.start
        for k in sorted(kids.get(s.id, ()), key=lambda k: k.start):
            lo, hi = max(k.start, cursor), min(k.end, s.end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        out[s.id] = (s.end - s.start) - covered
    return out


def _subtree(spans: list[Span], root: Span) -> list[Span]:
    kids = _children(spans)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, ()))
    return out


class StageIndex:
    """Stages of the traced jobs, each counted once: under the first job
    that lists it (later AQE jobs list reused stages as skipped)."""

    def __init__(self, jobs: list[dict], stages: dict[int, dict]):
        self.stages = stages
        self.jobs_by_group: dict[str, list[int]] = {}
        self.stages_by_job: dict[int, list[int]] = {}
        owner: dict[int, int] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            self.jobs_by_group.setdefault(j.get("jobGroup"), []).append(j["jobId"])
            for sid in j["stageIds"]:
                owner.setdefault(sid, j["jobId"])
        for sid, jid in owner.items():
            if sid in stages:
                self.stages_by_job.setdefault(jid, []).append(sid)

    def jobs(self, spans: list[Span]) -> list[int]:
        return [j for s in spans for j in self.jobs_by_group.get(Tracer.group(s.id), ())]

    def _stages(self, spans: list[Span]):
        return (self.stages[sid] for j in self.jobs(spans) for sid in self.stages_by_job.get(j, ()))

    def sum(self, spans: list[Span], field: str) -> float:
        return sum(stage.get(field, 0) for stage in self._stages(spans))

    def scan_tasks(self, spans: list[Span]) -> int:
        """Completed tasks of the stages that read input."""
        return sum(st["numCompleteTasks"] for st in self._stages(spans) if st.get("inputRecords", 0) > 0)


def op_layers(spans: list[Span], index: StageIndex, cores: int, useful_rows: int) -> dict[str, float]:
    """Per-layer figures of one traced op, from its spans."""
    selfs = self_times(spans)
    named = lambda n: [s for s in spans if s.name == n]  # noqa: E731
    dur = lambda ss: sum(s.end - s.start for s in ss)  # noqa: E731
    root = next(s for s in spans if s.name == ROOT and s.parent is None)
    writes = named("sources.write")
    write_tree = [t for w in writes for t in _subtree(spans, w)]
    modes = named("writes.write_mode")
    rewritten = index.sum(modes, "outputRecords")
    return {
        "migrate.run_one_s": root.end - root.start,
        "migrate.format_data_s": dur(named("migrate.format_data")),
        "migrate.infer_jobs": len(index.jobs(named("migrate.format_data"))),
        "migrate.shuffle_bytes": index.sum(writes, "shuffleWriteBytes"),
        "migrate.hwm_s": dur(named("migrate.hwm")),
        "sources.read_s": dur(named("sources.read")),
        "sources.write_s": sum(selfs[s.id] for s in writes),
        "sources.scan_tasks": index.scan_tasks(write_tree),
        "sources.core_util": index.sum(write_tree, "executorRunTime") / 1e3 / (dur(writes) * cores),
        "sources.executor_cpu_s": index.sum(write_tree, "executorCpuTime") / 1e9,
        "sources.records_in": index.sum(write_tree, "inputRecords"),
        "sources.records_out": index.sum(write_tree, "outputRecords"),
        "sources.bytes_out": index.sum(write_tree, "outputBytes"),
        "writes.write_mode_s": dur(modes),
        "writes.rows_rewritten": rewritten,
        "writes.amplification": rewritten / useful_rows,
        "writes.shuffle_bytes": index.sum(modes, "shuffleWriteBytes"),
        "engine.jobs_per_op": len(index.jobs(spans)),
        "engine.tasks_per_op": index.sum(spans, "numCompleteTasks"),
        "engine.gc_s": index.sum(spans, "jvmGcTime") / 1e3,
        "engine.spill_bytes": index.sum(spans, "diskBytesSpilled"),
        "trace.self_sum_error_s": abs(sum(selfs.values()) - (root.end - root.start)),
    }
