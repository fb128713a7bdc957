"""Measurement from outside the program: Spark job counts per call, and
(in traced runs) spans around the public functions of each layer.

Counts: every measured call runs under its own Spark job group, and the
group's jobs and the tasks of their stages are read from
``statusTracker()`` as soon as the call returns, before
``spark.ui.retainedJobs`` evicts them.

Spans: :func:`install` wraps the public functions named in
``WRAPPED``; each span records name, start, end, parent span and the op
id of the benchmark operation it belongs to. Spans stay in memory and
are written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime, timezone

GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Counts:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_ids: list[int] = field(default_factory=list)


class JobCounter:
    """Runs calls under unique Spark job groups and counts their work.

    Groups nest per thread: an inner group's jobs are counted for the
    inner call and added to the enclosing call's counts."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self._ids = itertools.count()
        self._local = threading.local()

    def _stack(self) -> list[tuple[str, Counts]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def group(self):
        """Run the body under a fresh job group; yields the
        :class:`Counts`, filled in when the body ends, raising or not."""
        stack = self._stack()
        group = f"perfbench-{next(self._ids)}"
        counts = Counts()
        stack.append((group, counts))
        self.sc.setLocalProperty(GROUP_KEY, group)
        try:
            yield counts
        finally:
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, stack[-1][0] if stack else None)
            self._collect(group, counts)
            if stack:  # the parent passes the sum on when it ends
                parent = stack[-1][1]
                parent.jobs += counts.jobs
                parent.tasks += counts.tasks
                parent.failed_tasks += counts.failed_tasks
                parent.job_ids += counts.job_ids

    def _collect(self, group: str, counts: Counts) -> None:
        for jid in self.tracker.getJobIdsForGroup(group):
            job = self.tracker.getJobInfo(jid)
            counts.jobs += 1
            counts.job_ids.append(jid)
            for sid in (job.stageIds if job is not None else ()):
                stage = self.tracker.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                counts.tasks += stage.numCompletedTasks + stage.numFailedTasks
                counts.failed_tasks += stage.numFailedTasks


class JobTimes:
    """Submission and completion times of jobs, from Spark's status REST
    API (the UI's ``/api/v1``). Used to split a call into time the
    driver spent outside any job and time jobs were running."""

    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/jobs"

    @staticmethod
    def _ts(text: str) -> float:
        return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
            tzinfo=timezone.utc).timestamp()

    def busy_s(self, job_ids: list[int]) -> float:
        """Wall time covered by the union of the jobs' run intervals."""
        spans = []
        for jid in job_ids:
            with urllib.request.urlopen(f"{self.base}/{jid}", timeout=10) as r:
                job = json.load(r)
            if job.get("completionTime"):
                spans.append((self._ts(job["submissionTime"]),
                              self._ts(job["completionTime"])))
        return covered(spans)


def covered(spans: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    job_ids: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``op`` marks the benchmark operation
    (one page, one ingest, one stage) that the spans below it serve."""

    def __init__(self, counter: JobCounter):
        self.counter = counter
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._lock = threading.Lock()

    def _state(self):
        if not hasattr(self._local, "stack"):
            self._local.stack, self._local.op = [], None
        return self._local

    def span(self, name: str, fn, *args, op: bool = False, **kwargs):
        st = self._state()
        sid = next(self._ids)
        sp = Span(sid, name, st.stack[-1].id if st.stack else None,
                  sid if op else st.op, 0.0)
        st.stack.append(sp)
        prev_op = st.op
        st.op = sp.op
        c = Counts()
        sp.start = time.perf_counter()
        try:
            with self.counter.group() as c:
                try:
                    return fn(*args, **kwargs)
                finally:
                    # before the group's counts are collected
                    sp.end = time.perf_counter()
        finally:
            st.stack.pop()
            st.op = prev_op
            sp.jobs, sp.tasks, sp.failed_tasks, sp.job_ids = (
                c.jobs, c.tasks, c.failed_tasks, c.job_ids)
            with self._lock:
                self.spans.append(sp)

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        return {
            sp.id: sp.dur - covered([(k.start, k.end) for k in kids.get(sp.id, ())])
            for sp in self.spans
        }

    def dump(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as fh:
            for sp in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps({
                    "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "op": sp.op, "start": sp.start, "end": sp.end,
                    "self_s": own[sp.id], "jobs": sp.jobs, "tasks": sp.tasks,
                    "failed_tasks": sp.failed_tasks,
                }) + "\n")

    def by_name(self, name: str) -> list[Span]:
        return [sp for sp in self.spans if sp.name == name]


#: (module, attribute holder, attribute, span name). Functions the
#: program imports by name are wrapped where the caller looks them up.
WRAPPED = (
    ("queens_spark.etl.process", None, "read_workbook", "sources.read_workbook"),
    ("queens_spark.etl.process", None, "wrangle_workbook", "sources.wrangle"),
    ("queens_spark.etl.process", None, "call_transformer", "etl.transform"),
    ("queens_spark.facade", "Engine", "ingest", "facade.ingest"),
    ("queens_spark.facade", "Engine", "stage", "facade.stage"),
    ("queens_spark.facade", "Engine", "query_page", "facade.query_page"),
    ("queens_spark.facade", None, "build_filter_expr", "filters.compile"),
    ("queens_spark.store.warehouse", "Warehouse", "next_ingest_id",
     "warehouse.next_ingest_id"),
    ("queens_spark.store.warehouse", "Warehouse", "queryable_columns",
     "warehouse.queryable_columns"),
    ("queens_spark.store.warehouse", "Warehouse", "table_description",
     "warehouse.table_description"),
    ("queens_spark.store.warehouse", "Warehouse", "refresh_metadata",
     "warehouse.refresh_metadata"),
    ("queens_spark.api", "QueryService", "get_data", "api.get_data"),
)


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap every function in ``WRAPPED``; returns what
    :func:`uninstall` needs to put the originals back."""
    import importlib

    undo = []
    for mod_name, holder_name, attr, span_name in WRAPPED:
        mod = importlib.import_module(mod_name)
        holder = getattr(mod, holder_name) if holder_name else mod
        orig = getattr(holder, attr)

        def wrapper(*args, __orig=orig, __name=span_name, **kwargs):
            return tracer.span(__name, __orig, *args, **kwargs)

        setattr(holder, attr, functools.wraps(orig)(wrapper))
        undo.append((holder, attr, orig))
    return undo


def uninstall(undo) -> None:
    for holder, attr, orig in reversed(undo):
        setattr(holder, attr, orig)
