"""Tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's own files: wrappers installed
around the package's public functions (the module files stay unedited)
and spans around the calls the workloads make. Each span has a name, a
layer, start and end, the span that caused it and the op it belongs to;
they stay in memory and are written once, at exit.

Counts come from outside the program: Spark's ``statusTracker`` for the
jobs, stages and tasks of each op (every op runs under its own job group),
a ``StreamingQueryListener`` for micro-batch phases, and the JVM's
``ManagementFactory`` MXBeans over py4j for GC and heap.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# (module, attribute, span name, layer): the package's public functions the
# traced run wraps. Call sites that imported a name directly are patched
# too (see Tracer.install).
WRAPPED = [
    ("zg_etl_spark.sources.tables", "load_table", "sources.load_table", "sources"),
    ("zg_etl_spark.operators.domain", "ensure_pipeline_views",
     "operators.domain.spine", "operators.domain"),
    ("zg_etl_spark.sinks", "upsert_table", "sinks.upsert", "sinks"),
    ("zg_etl_spark.streaming.engine", "start_route_stream",
     "streaming.engine.start_route_stream", "streaming.engine"),
]

LAYERS = ["bench", "sources", "plans", "operators.domain", "sinks", "streaming.engine"]


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. ``enabled`` is flipped per round, so the
    traced run can alternate traced and untraced rounds and measure its
    own overhead."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root: int | None = None
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []
        self.exec: ExecProbe | None = None
        self.progress: list[dict] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, count_tasks: bool = False,
             group: str | None = None):
        """Record one span; the body may add attributes to the yielded
        dict. ``count_tasks`` adds the Spark jobs, stages and tasks that
        ran inside it."""
        attrs: dict = {}
        if not self.enabled:
            yield attrs
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else self._root
        first_job = self.exec.next_job_id() if count_tasks and self.exec else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            stack.pop()
            if first_job is not None:
                attrs.update(self.exec.count(first_job, self.exec.next_job_id(), group))
            with self._lock:
                self.spans.append(
                    Span(sid, name, layer, start, end, parent, self._op, attrs))

    @contextmanager
    def op(self, op_id: int, name: str):
        """Root span of one op; spans opened on other threads (a
        foreachBatch callback, a thread pool inside the package) attach
        to it."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        group = f"perfbench-op-{op_id}"
        if self.exec is not None:
            self.exec.sc.setJobGroup(group, name)
        with self.span(name, "bench", count_tasks=True, group=group):
            self._root = self._stack()[-1]
            try:
                yield
            finally:
                self._root = None
        self._op = None

    def wrap(self, fn, name: str, layer: str, count_tasks: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, count_tasks):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every target in WRAPPED, in its home module and in every
        loaded package module that imported it by name."""
        if self._patches:
            return
        for mod_name, attr, name, layer in WRAPPED:
            orig = getattr(importlib.import_module(mod_name), attr)
            wrapped = self.wrap(orig, name, layer, count_tasks=layer == "operators.domain")
            for mod in list(sys.modules.values()):
                if (getattr(mod, "__name__", "").startswith("zg_etl_spark")
                        and getattr(mod, attr, None) is orig):
                    self._patches.append((mod, attr, orig))
                    setattr(mod, attr, wrapped)
        store = importlib.import_module("zg_etl_spark.streaming.engine").MappingStore
        self._patches.append((store, "merge", store.merge))
        store.merge = self._traced_merge(store.merge)

    def _traced_merge(self, merge):
        """MappingStore.merge, recording whether it compacted (wrote a new
        ``s<n>`` snapshot) and the store's bytes after it."""
        tracer = self

        @functools.wraps(merge)
        def traced(store, assigned):
            snaps = len(_snapshots(store.path)) if tracer.enabled else 0
            with tracer.span("streaming.engine.store_merge", "streaming.engine") as attrs:
                delta_dir = merge(store, assigned)
                if tracer.enabled:
                    attrs["compacted"] = len(_snapshots(store.path)) > snaps
                    attrs["store_bytes"] = _tree_bytes(store.path)
            return delta_dir

        return traced

    def listen(self, spark) -> None:
        """Record the progress of every micro-batch that runs while
        tracing is enabled."""
        tracer = self

        def record(progress: dict) -> None:
            if tracer.enabled:
                tracer.progress.append(progress)

        spark.streams.addListener(progress_listener(record))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _snapshots(path: str) -> list[str]:
    try:
        return [d for d in os.listdir(path) if d.startswith("s") and d[1:].isdigit()]
    except OSError:
        return []


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Seconds per layer that no child span covers: a span's duration
    minus the union of its children's intervals (children on other
    threads may overlap each other)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {layer: 0.0 for layer in LAYERS}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start - covered)
    return out


class ExecProbe:
    """Job, stage and task counts of an op, read through statusTracker.
    Jobs are taken by id range as well as by job group: jobs a package
    thread pool launches do not inherit the caller's job group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()

    def next_job_id(self) -> int:
        nxt = self._dag.nextJobId()  # an AtomicInteger; py4j may unbox it
        return int(nxt if isinstance(nxt, int) else nxt.get())

    def count(self, first: int, end: int, group: str | None = None) -> dict[str, int]:
        st = self.sc.statusTracker()
        ids = set(range(first, end))
        if group is not None:
            ids.update(st.getJobIdsForGroup(group))
        jobs = stages = tasks = failed = 0
        seen: set[int] = set()
        for jid in sorted(ids):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            jobs += 1
            for sid in info.stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                stage = st.getStageInfo(sid)
                if stage is None or stage.numCompletedTasks + stage.numFailedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
        return {"jobs": jobs, "stages": stages, "tasks": tasks, "failed": failed}

    def persistent_rdds(self) -> int:
        return int(self.sc._jsc.getPersistentRDDs().size())


class JvmProbe:
    """GC seconds and heap peak of the driver JVM, from its MXBeans."""

    def __init__(self, spark) -> None:
        mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"
        ]

    def gc_seconds(self) -> float:
        return sum(max(0, b.getCollectionTime()) for b in self._gcs) / 1000.0

    def reset_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_mb(self) -> float:
        """Sum of the heap pools' peaks since reset_peak (an upper bound
        of the simultaneous peak)."""
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools) / 2**20


def progress_listener(record):
    """A StreamingQueryListener passing each micro-batch's progress
    (``durationMs`` phases, ``numInputRows``) to ``record``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            record({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "durationMs": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()
