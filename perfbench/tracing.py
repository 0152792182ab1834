"""Spans and Spark counters for the benchmark's traced run.

Layers are timed from outside: `Tracer.install` wraps public functions of
the engine's modules (parser, compiler, engine, durable store, operators,
`DataFrame.collect`) for the duration of the traced window and restores
them afterwards. Spans live in memory and are written out when the run
ends.

Spark work is counted from the application status store (the same store
the Spark UI reads): a span's counts are the store's totals at its end
minus those at its start. With one client the attribution is exact, and
unlike job groups it also covers jobs started from server threads.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

COUNT_KEYS = (
    "jobs", "stages_run", "stages_skipped", "tasks", "job_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
)


class SparkCounters:
    """Cumulative Spark work since the session started, read from the
    status store. `snapshot()` waits for the listener bus to drain so that
    every finished job is visible."""

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._next_job = 0
        self._seen_stages: set[int] = set()
        self._totals = dict.fromkeys(COUNT_KEYS, 0)
        self._lock = threading.Lock()

    def snapshot(self) -> dict:
        with self._lock:
            self._bus.waitUntilEmpty()
            while True:
                try:
                    job = self._store.job(self._next_job)
                except Exception:  # noqa: BLE001 — py4j NoSuchElement: no more jobs
                    break
                self._add_job(job)
                self._next_job += 1
            return dict(self._totals)

    def _add_job(self, job) -> None:
        t = self._totals
        t["jobs"] += 1
        t["stages_run"] += job.numCompletedStages() + job.numFailedStages()
        t["stages_skipped"] += job.numSkippedStages()
        t["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            t["job_ms"] += done.get().getTime() - sub.get().getTime()
        ids = job.stageIds()
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in self._seen_stages:
                continue  # a reused stage from an earlier job
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted from the store
                continue
            if st.status().toString() != "COMPLETE":
                continue
            self._seen_stages.add(sid)
            t["shuffle_read_bytes"] += st.shuffleReadBytes()
            t["shuffle_write_bytes"] += st.shuffleWriteBytes()
            t["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class Tracer:
    """In-memory span recorder. Spans of one operation share its op id; a
    span opened on a thread with no open span (a server handler thread)
    takes the operation's root span as its parent."""

    def __init__(self, counters: SparkCounters):
        self.counters = counters
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._op: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, counts: bool = False, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._op
        sp = {
            "id": next(self._ids),
            "op": self._op["op"] if self._op else None,
            "parent": parent["id"] if parent else None,
            "name": name,
            "thread": threading.get_ident(),
            **attrs,
        }
        before = self.counters.snapshot() if counts else None
        stack.append(sp)
        sp["t0"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["t1"] = time.perf_counter()
            stack.pop()
            if before is not None:
                sp["spark"] = delta(self.counters.snapshot(), before)
            self.spans.append(sp)

    @contextmanager
    def op(self, op_id: int, kind: str):
        with self.span("op", counts=True, kind=kind) as sp:
            sp["op"] = op_id
            self._op = sp
            try:
                yield sp
            finally:
                self._op = None

    # -- patching -----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, counts: bool = False) -> None:
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name, counts=counts):
                return orig(*a, **kw)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def wrap_collect(self, df_class) -> None:
        """`DataFrame.collect` splits into spark.plan (analysis, optimization
        and physical planning, forced through the query execution) and
        spark.execute (running the planned jobs and fetching rows)."""
        orig = df_class.collect
        tracer = self

        @functools.wraps(orig)
        def collect(df):
            with tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span("spark.execute", counts=True):
                return orig(df)

        df_class.collect = collect
        self._patches.append((df_class, "collect", orig))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name, in seconds: a span's duration minus
    the part of its interval that its child spans cover."""
    children: dict[int, list[dict]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append(sp)
    out: dict[str, float] = {}
    for sp in spans:
        covered = 0.0
        end = sp["t0"]
        for c in sorted(children.get(sp["id"], []), key=lambda c: c["t0"]):
            lo, hi = max(c["t0"], end), min(c["t1"], sp["t1"])
            if hi > lo:
                covered += hi - lo
                end = hi
        out[sp["name"]] = out.get(sp["name"], 0.0) + (sp["t1"] - sp["t0"] - covered)
    return out
