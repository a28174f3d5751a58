"""Traced-run instrumentation, installed from outside the library.

Two sources feed the per-layer metrics:

* :class:`Tracer` replaces public callables *where their callers look
  them up* (``plans.query.wand_topk``, ``operators.wand.decode_postings``,
  ``IndexSearcher.search``, ...) with timing wrappers and records one span
  per call: layer name, thread, start and end (epoch seconds, so spans can
  be compared with Spark's event timestamps). :meth:`Tracer.restore` puts
  the originals back.
* :class:`EventLog` parses the Spark event log of the traced session:
  jobs with their group and time span, and per-job task totals
  (``SparkListenerTaskEnd``) including the Python-worker SQL metrics.

Nothing here is active in an untraced run.
"""

from __future__ import annotations

import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    layer: str
    t0: float
    t1: float
    thread: int
    children: list = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_time(self) -> float:
        return self.dur - sum(c.dur for c in self.children)


class Tracer:
    """Records spans from wrapped callables. Thread-safe append; spans
    nest per thread by time containment (see :meth:`trees`)."""

    def __init__(self):
        self.spans: list[Span] = []
        self.events: list[tuple[float, str, float]] = []
        self._lock = threading.Lock()
        self._patches: list[tuple] = []

    def wrap(self, owner, attr: str, layer: str, observe=None) -> None:
        """Replace ``owner.attr`` with a timing wrapper recording spans of
        ``layer``. ``observe(tracer, result)`` may add counts."""
        original = getattr(owner, attr)

        def wrapper(*args, **kwargs):
            with self.span(layer):
                result = original(*args, **kwargs)
            if observe is not None:
                observe(self, result)
            return result

        wrapper.__wrapped__ = original
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, original))

    def count(self, key: str, n: float = 1) -> None:
        with self._lock:
            self.events.append((time.time(), key, n))

    def total(self, key: str, t0: float, t1: float) -> float:
        """Sum of the ``key`` counts recorded inside ``[t0, t1]``."""
        return sum(n for t, k, n in self.events if k == key and t0 <= t <= t1)

    @contextmanager
    def span(self, layer: str):
        """Record one span of ``layer`` around the block."""
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            with self._lock:
                self.spans.append(Span(layer, t0, t1, threading.get_ident()))

    def restore(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    def trees(self, root_layers) -> list[Span]:
        """Root spans of the given layers, each with its descendants
        linked: a span is the child of the innermost span of the same
        thread that contains it."""
        by_thread = defaultdict(list)
        for s in self.spans:
            s.children = []
            by_thread[s.thread].append(s)
        roots = []
        for spans in by_thread.values():
            spans.sort(key=lambda s: (s.t0, -s.t1))
            stack: list[Span] = []
            for s in spans:
                while stack and stack[-1].t1 <= s.t0:
                    stack.pop()
                if stack:
                    stack[-1].children.append(s)
                else:
                    roots.append(s)
                stack.append(s)
        return [r for r in roots if r.layer in root_layers]


def walk(span: Span):
    yield span
    for c in span.children:
        yield from walk(c)


# --- Spark event log ---------------------------------------------------------

#: SQL metric names (Spark 4.1 PythonSQLMetrics) -> job total key
_PY_ACCUMS = {
    "time to start Python workers": "python_boot_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_bytes",
    "data returned from Python workers": "python_bytes",
}


@dataclass
class Job:
    job_id: int
    group: str | None
    t0: float  # epoch seconds
    t1: float
    stage_ids: list
    stages_run: set = field(default_factory=set)
    tasks: int = 0
    totals: Counter = field(default_factory=Counter)
    #: stage id -> list of task durations (ms)
    task_ms: dict = field(default_factory=lambda: defaultdict(list))


class EventLog:
    """Jobs and task totals parsed from a Spark JSON event log dir."""

    def __init__(self, log_dir: Path):
        self.jobs: dict[int, Job] = {}
        stage_job: dict[int, int] = {}
        for path in _event_files(Path(log_dir)):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job = Job(
                            ev["Job ID"], props.get("spark.jobGroup.id"),
                            ev["Submission Time"] / 1000.0, float("inf"),
                            list(ev.get("Stage IDs", [])),
                        )
                        self.jobs[job.job_id] = job
                        for sid in job.stage_ids:
                            stage_job[sid] = job.job_id
                    elif kind == "SparkListenerJobEnd":
                        job = self.jobs.get(ev["Job ID"])
                        if job is not None:
                            job.t1 = ev["Completion Time"] / 1000.0
                    elif kind == "SparkListenerTaskEnd":
                        job = self.jobs.get(stage_job.get(ev["Stage ID"], -1))
                        if job is not None:
                            self._add_task(job, ev)

    @staticmethod
    def _add_task(job: Job, ev: dict) -> None:
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        tot = job.totals
        job.tasks += 1
        job.stages_run.add(ev["Stage ID"])
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        job.task_ms[ev["Stage ID"]].append(dur)
        tot["run_ms"] += m.get("Executor Run Time", 0)
        tot["cpu_ns"] += m.get("Executor CPU Time", 0)
        tot["gc_ms"] += m.get("JVM GC Time", 0)
        tot["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        inp = m.get("Input Metrics") or {}
        tot["scan_bytes"] += inp.get("Bytes Read", 0)
        tot["scan_rows"] += inp.get("Records Read", 0)
        tot["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        for acc in info.get("Accumulables") or []:
            key = _PY_ACCUMS.get(acc.get("Name"))
            if key is not None:
                tot[key] += int(acc.get("Update") or 0)

    def jobs_in(self, t0: float, t1: float, group: str | None = None) -> list[Job]:
        """Jobs of ``group`` (when given and the job carries a group) or
        submitted inside ``[t0, t1]`` (jobs started from library worker
        threads carry no group)."""
        out = []
        for j in self.jobs.values():
            if j.group is not None and group is not None:
                if j.group == group:
                    out.append(j)
            elif t0 <= j.t0 <= t1:
                out.append(j)
        return out


def _event_files(log_dir: Path) -> list[Path]:
    """Event files in write order: a single-file log, or the ``events_N_*``
    parts of a rolling ``eventlog_v2_*`` directory (Spark 4's default)."""
    out = []
    for p in sorted(log_dir.rglob("*")):
        if not p.is_file() or p.name.startswith((".", "appstatus")):
            continue
        part = int(p.name.split("_")[1]) if p.name.startswith("events_") else 0
        out.append((str(p.parent), part, p))
    return [p for _, _, p in sorted(out)]


def union_seconds(intervals) -> float:
    """Total length of the union of ``(t0, t1)`` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
