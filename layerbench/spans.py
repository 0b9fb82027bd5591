"""Traced mode: spans around every layer boundary the benchmark can reach
from outside, per-op counters, and the Spark status-store readings.

Spans live in memory and are written once, when the run ends.  A span has
a name, a start, an end, a parent span and the op it belongs to.  Spans
are recorded only around calls INTO the program's layers, by wrapping the
public functions of ``briefly_spark``; nothing inside the program changes.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: drain stages the runner wraps in ``briefly_spark.jobs``;
#: ``run_until_drained`` and ``sensor_cycle`` look them up as module globals
JOB_STAGES = (
    "stream_ingest",
    "curate_batch",
    "summarize_batch",
    "tts_batch",
    "embed_batch",
    "relate_batch",
)
CATALOG_FNS = ("load_table", "table_rows", "spread")
STORAGE_METHODS = ("read", "merge_upsert", "merge_update")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (children may overlap each other, e.g. a prefetch thread's
    reads under a stage; the union is subtracted once)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(
            (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, ())
        ):
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Collects spans and per-op counters.  ``op`` is the current op id;
    a span opened on a thread with no open span (a prefetch thread)
    hangs off the op's root span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counters: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.op: int | None = None
        self.op_root: int | None = None
        self.bookkeeping_s = 0.0
        #: seconds the JVM has spent compiling so far (set once a session exists)
        self.jit_clock = None
        #: (op, stage, first job id, next job id after the stage)
        self.stage_windows: list[tuple[int | None, str, int, int]] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str):
        b0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self.op_root
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(sid, name, 0.0, 0.0, parent, self.op))
        stack.append(sid)
        start = time.perf_counter()
        self.bookkeeping_s += start - b0
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            s = self.spans[sid]
            s.start, s.end = start, end
            self.add(f"{name}.calls", 1)
            self.add(f"{name}.s", end - start)
            self.bookkeeping_s += time.perf_counter() - end

    @contextmanager
    def op_span(self, op: int, kind: str):
        """The root span of one op; spans opened on other threads while it
        is open hang off it."""
        self.op = op
        jit0 = self.jit_clock() if self.jit_clock is not None else 0.0
        with self.span(f"op.{kind}") as sid:
            self.op_root = sid
            try:
                yield sid
            finally:
                self.op_root = None
        if self.jit_clock is not None:
            self.add("jvm.jit_s", self.jit_clock() - jit0)

    def charge(self, seconds: float) -> None:
        """Count tracer work done outside :meth:`span` (job-group switches)."""
        with self._lock:
            self.bookkeeping_s += seconds

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counters[self.op if self.op is not None else -1][key] += value

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def _wrap(tracer: Tracer, name: str, fn, after=None):
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            result = fn(*args, **kwargs)
        if after is not None:
            after(args, result)
        return result

    wrapper.__wrapped__ = fn  # type: ignore[attr-defined]
    return wrapper


def instrument(tracer: Tracer, spark) -> None:
    """Wrap the layer functions, for the rest of the process, in every
    ``briefly_spark`` namespace that binds them.  The query modules import
    ``load_table``/``spread`` by name, so each binding is replaced, not
    only the catalog's own."""
    import briefly_spark.catalog as catalog
    import briefly_spark.jobs as jobs
    import briefly_spark.storage as storage
    import briefly_spark.streaming as streaming

    for fname in CATALOG_FNS:
        orig = getattr(catalog, fname)
        wrapped = _wrap(tracer, f"catalog.{fname}", orig)
        for modname, mod in list(sys.modules.items()):
            if modname.startswith("briefly_spark") and getattr(mod, fname, None) is orig:
                setattr(mod, fname, wrapped)

    sc = spark.sparkContext
    dag = sc._jsc.sc().dagScheduler()
    for stage in JOB_STAGES:
        setattr(jobs, stage, _stage_wrapper(tracer, sc, dag, stage, getattr(jobs, stage)))

    def rounds(_args, results):
        tracer.add("jobs.run_until_drained.rounds", len(results) // 5)

    jobs.run_until_drained = _wrap(
        tracer, "jobs.run_until_drained", jobs.run_until_drained, rounds)

    last_read: dict[tuple[int, str], object] = {}

    def read_memo(args, df):
        wh, table = args[0], args[1]
        key = (id(wh), table)
        tracer.add("storage.read.memo_hits", 1 if last_read.get(key) is df else 0)
        last_read[key] = df

    for meth in STORAGE_METHODS:
        after = read_memo if meth == "read" else None
        setattr(storage.Warehouse, meth, _wrap(
            tracer, f"storage.{meth}", getattr(storage.Warehouse, meth), after))
    streaming.merge_stream = _wrap(tracer, "streaming.merge_stream", streaming.merge_stream)


def _stage_wrapper(tracer: Tracer, sc, dag, stage: str, fn):
    """A drain stage under its own job group.  Its jobs are those submitted
    while it runs minus the ones in the op's own group: a prefetch thread
    started earlier inherits the op's group, and runs concurrently."""

    def wrapper(*args, **kwargs):
        b0 = time.perf_counter()
        group = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(f"{group}/{stage}", stage)
        first = dag.nextJobId()
        tracer.charge(time.perf_counter() - b0)
        try:
            with tracer.span(f"jobs.{stage}"):
                result = fn(*args, **kwargs)
        finally:
            b0 = time.perf_counter()
            tracer.stage_windows.append((tracer.op, stage, first, dag.nextJobId()))
            sc.setJobGroup(group, "op")
            tracer.charge(time.perf_counter() - b0)
        if result is not None:
            tracer.add(f"jobs.{stage}.processed", result.processed)
        return result

    wrapper.__wrapped__ = fn  # type: ignore[attr-defined]
    return wrapper


class StreamProgress:
    """A ``StreamingQueryListener`` that counts micro-batches and their
    trigger time.  Listener events arrive asynchronously; :meth:`settle`
    waits (off the clock) until every started query has terminated."""

    def __init__(self, tracer: Tracer) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self
        self.started = self.terminated = 0
        self._cv = threading.Condition()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._cv:
                    outer.started += 1

            def onQueryProgress(self, event):
                prog = event.progress
                if prog.numInputRows > 0:
                    # the program's only stream is stream_ingest's, which
                    # returns no JobResult: its rows are counted here
                    tracer.add("jobs.stream_ingest.processed", prog.numInputRows)
                    tracer.add("streaming.batches", 1)
                    tracer.add("streaming.batch_s",
                               prog.durationMs.get("triggerExecution", 0) / 1000.0)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._cv:
                    outer.terminated += 1
                    outer._cv.notify_all()

        self.listener = _L()

    def settle(self, timeout: float = 10.0) -> None:
        with self._cv:
            self._cv.wait_for(lambda: self.terminated >= self.started, timeout)


def stage_metrics(sc, job_ids: list[int]) -> dict[str, float]:
    """Executor-side totals of the stages these jobs ran, from Spark's
    status store (reachable with the UI off)."""
    from py4j.protocol import Py4JJavaError

    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(
        ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_write_bytes", "spill_bytes"), 0.0)
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
        except Py4JJavaError:  # evicted from the store
            continue
        it = attempts.iterator()
        while it.hasNext():
            s = it.next()
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out
