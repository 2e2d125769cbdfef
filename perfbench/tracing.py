"""Spans and counters recorded from outside the engine.

Nothing in the engine package is changed.  The traced run wraps the
public functions of its modules where their callers bind them, and reads
Spark's own status APIs:

- ``session.get_spark``; ``io.load_table`` (also the copy that
  ``plans.queries`` imported); ``streaming.jobs.read_events_stream`` and
  ``run_bounded_df`` (imported per call, so the module attribute is
  enough); ``cache.pin``, ``cache.pin_transient`` and ``clear_cache``
  (also ``plans.queries.clear_cache``);
- py4j round-trips, by wrapping the gateway client's ``send_command``;
- jobs and stages, by job-id ranges (``DAGScheduler.numTotalJobs``, one
  client, so every job between two reads belongs to that step) and the
  per-stage metrics of ``statusStore().lastStageAttempt``;
- streaming progress, by a ``StreamingQueryListener``.

Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; inactive spans cost one attribute test."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.active = False
        self._stack: list[int] = []

    def begin(self, name: str, **attrs) -> int | None:
        if not self.active:
            return None
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, parent, time.perf_counter(), attrs=attrs))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, sid: int | None, **attrs) -> None:
        if sid is None:
            return
        span = self.spans[sid]
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        self._stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if self.active:
            self.counters[key] += n

    def wrap(self, name: str, fn):
        """Return *fn* recorded as a span named *name*."""

        def wrapped(*args, **kwargs):
            sid = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sid)

        return wrapped

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus what its children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += (s.end - s.start) - child[i]
        return dict(out)

    def totals(self, name: str) -> tuple[int, float]:
        spans = [s for s in self.spans if s.name == name]
        return len(spans), sum(s.end - s.start for s in spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent,
                    "start": s.start, "end": s.end, "attrs": s.attrs,
                }) + "\n")


def install_hooks(tracer: Tracer) -> None:
    """Wrap the engine's layer boundaries where their callers bind them."""
    from flinkecuserbehavioranalysis_spark import cache, io, session
    from flinkecuserbehavioranalysis_spark.plans import queries
    from flinkecuserbehavioranalysis_spark.streaming import jobs

    load_table = io.load_table

    def traced_load_table(*args, **kwargs):
        # a memo hit hands back a frame the plan memo already held
        memo = {id(v) for v in io._TABLE_PLAN_MEMO.values()} if tracer.active else ()
        sid = tracer.begin("io.load_table")
        try:
            out = load_table(*args, **kwargs)
        finally:
            tracer.end(sid)
        if sid is not None:
            tracer.spans[sid].attrs["hit"] = id(out) in memo
        return out

    io.load_table = queries.load_table = traced_load_table
    session.get_spark = tracer.wrap("session.get_spark", session.get_spark)
    jobs.read_events_stream = tracer.wrap("io.read_events_stream", jobs.read_events_stream)
    jobs.run_bounded_df = tracer.wrap("stream.run_bounded_df", jobs.run_bounded_df)

    pin = cache.pin

    def traced_pin(key, build):
        hit = key in cache._entries
        sid = tracer.begin("cache.pin", hit=hit)
        try:
            return pin(key, tracer.wrap("cache.build", build))
        finally:
            tracer.end(sid)

    cache.pin = traced_pin
    cache.pin_transient = tracer.wrap("cache.pin_transient", cache.pin_transient)
    release = cache._release
    clearing = [False]

    def traced_release(obj):
        if not clearing[0]:
            tracer.count("cache.evictions")
        return release(obj)

    cache._release = traced_release
    clear = cache.clear_cache

    def traced_clear(*args, **kwargs):
        clearing[0] = True
        try:
            return clear(*args, **kwargs)
        finally:
            clearing[0] = False

    cache.clear_cache = queries.clear_cache = tracer.wrap("cache.clear_cache", traced_clear)


def count_py4j(tracer: Tracer, spark) -> None:
    """Count py4j round-trips; the client outlives session restarts."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command

    def counted_send(*args, **kwargs):
        tracer.count("py4j_calls")
        return send(*args, **kwargs)

    client.send_command = counted_send


# ---- Spark status -----------------------------------------------------

_STAGE_FIELDS = {
    # StageData accessor -> metric key; times in ms unless noted
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}


class SparkStatus:
    """Reads job counts and per-stage metrics for a job-id range."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._jsc = spark.sparkContext._jsc.sc()

    def job_mark(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store and the streaming listener are complete."""
        self._jsc.listenerBus().waitUntilEmpty()

    def stages(self, first_job: int, end_job: int, fields=None) -> dict[str, float]:
        fields = _STAGE_FIELDS if fields is None else fields
        out: dict[str, float] = defaultdict(float)
        store = self._jsc.statusStore()
        seen = set()
        for job in range(first_job, end_job):
            info = self._sc.statusTracker().getJobInfo(job)
            if info is None:
                continue
            out["jobs"] += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                for acc, key in fields.items():
                    out[key] += getattr(st, acc)()
        return out

    def stored_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())


class ProgressListener(StreamingQueryListener):
    """Sums streaming progress over queries: batches, rows and phase
    durations over every batch; state rows and memory as each query's
    last batch left them (they are levels, not amounts)."""

    def __init__(self) -> None:
        self._sums: dict[str, float] = defaultdict(float)
        self._state: dict[str, tuple[int, int]] = {}

    @property
    def totals(self) -> dict[str, float]:
        out = dict(self._sums)
        out["state_rows_total"] = sum(r for r, _ in self._state.values())
        out["state_memory_bytes"] = sum(m for _, m in self._state.values())
        return out

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        t = self._sums
        t["batches"] += 1
        t["input_rows"] += p.numInputRows
        d = p.durationMs or {}
        t["trigger_ms"] += d.get("triggerExecution", 0)
        t["add_batch_ms"] += d.get("addBatch", 0)
        t["query_planning_ms"] += d.get("queryPlanning", 0)
        t["wal_commit_ms"] += d.get("walCommit", 0)
        ops = p.stateOperators or ()
        t["state_commit_ms"] += sum(op.commitTimeMs for op in ops)
        self._state[p.runId] = (
            sum(op.numRowsTotal for op in ops), sum(op.memoryUsedBytes for op in ops)
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def catalyst_phases(df) -> dict[str, float]:
    """Force optimization and physical planning on the DataFrame's own
    QueryExecution and read its phase durations (ms).  The noop write
    plans a fresh copy of the same logical plan, so this runs Catalyst a
    second time; that cost is part of the tracing overhead."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            out[name] = phases.apply(name).durationMs()
    return out
