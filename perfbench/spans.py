"""Spans around the calls into each layer, wall-time attribution, and the
Spark status-store collector.

Everything here lives in the benchmark process: the probes replace the
public entry points of ``dbt_spark`` with timing wrappers at run time and
put the originals back afterwards. No file of the program changes.
"""

from __future__ import annotations

import contextlib
import functools
import os
import sys
import threading
import time
from collections import Counter, defaultdict
from dataclasses import dataclass
from typing import Optional

from stats import tree_bytes


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: Optional[int]  # index into Tracer.spans, same thread
    iteration: int


class Tracer:
    """In-memory span log. Spans nest per thread; each carries the id of
    the iteration it started in. Counts are kept per iteration too."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.counts: dict[int, Counter] = defaultdict(Counter)
        self.iteration = 0
        self.active = False
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span under the calling thread's open span."""
        stack = self._stack()
        with self._lock:
            self.spans.append(Span(name, start, end,
                                   stack[-1] if stack else None,
                                   self.iteration))

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        stack = self._stack()
        sp = Span(name, time.perf_counter(), 0.0,
                  stack[-1] if stack else None, self.iteration)
        with self._lock:
            idx = len(self.spans)
            self.spans.append(sp)
        stack.append(idx)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            stack.pop()

    def count(self, key: str, n: float = 1) -> None:
        if not self.active:
            return
        with self._lock:
            self.counts[self.iteration][key] += n

    # -- probes ---------------------------------------------------------------

    def wrap(self, owner, attr, name: str, before=None, after=None) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        wrapper that runs the original inside span ``name``. ``before(*a,
        **kw)`` runs first and its result reaches ``after(result, state,
        *a, **kw)``."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            state = before(*a, **kw) if before else None
            with self.span(name):
                out = orig(*a, **kw)
            if after:
                after(out, state, *a, **kw)
            return out

        self._set(owner, attr, wrapper, is_dict)
        self._undo.append((owner, attr, orig, is_dict))

    def wrap_function(self, func, name: str, **hooks) -> None:
        """Wrap every module-level binding of ``func`` inside dbt_spark
        (``from x import f`` copies the binding into each importer)."""
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith("dbt_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is func:
                    self.wrap(mod, attr, name, **hooks)

    @staticmethod
    def _set(owner, attr, value, is_dict: bool) -> None:
        if is_dict:
            owner[attr] = value
        else:
            setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, orig, is_dict in reversed(self._undo):
            self._set(owner, attr, orig, is_dict)
        self._undo.clear()


def install_engine_probes(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points (see README.md, Layers)."""
    import dbt_spark.operators.custom_mat  # noqa: F401 — binds compile_sql
    import dbt_spark.streaming.stream  # noqa: F401 — binds compile_sql
    from dbt_spark import runner
    from dbt_spark.catalog import RelationStore
    from dbt_spark.events import EventBus
    from dbt_spark.operators import MATERIALIZATIONS
    from dbt_spark.operators.materialize import compile_sql
    from dbt_spark.plans.graph import GraphQueue, Linker
    from dbt_spark.plans.manifest import Manifest

    def parsed(_out, _state, *a, **kw):
        cache = kw.get("cache", a[1] if len(a) > 1 else None)
        if cache is not None:
            tracer.count("project.files_reparsed", cache.misses)
            tracer.count("project.parse_hits", cache.hits)

    tracer.wrap_function(runner.parse_project, "project.parse", after=parsed)
    tracer.wrap(Linker, "link_graph", "graph.link")
    tracer.wrap_function(runner.select_nodes, "graph.select")
    tracer.wrap_function(compile_sql, "compile.render",
                         after=lambda *_a, **_k: tracer.count("compile.renders"))
    tracer.wrap_function(runner.run_test, "operators.test",
                         after=lambda *_a, **_k: tracer.count("operators.test_calls"))
    for mat in list(MATERIALIZATIONS):
        tracer.wrap(MATERIALIZATIONS, mat, f"operators.{mat}",
                    after=lambda *_a, _m=mat, **_k: tracer.count(
                        f"operators.{_m}_calls"))
    tracer.wrap(runner.Engine, "_execute_node", "runner.node")

    # GraphQueue.get: count empty polls; the gap from an empty poll to the
    # same worker's next poll (its sleep) is recorded as a queue-wait span
    waiting = threading.local()
    orig_get = GraphQueue.get

    def get(self):
        now = time.perf_counter()
        since = getattr(waiting, "since", None)
        if since is not None:
            tracer.record("graph.queue_wait", since, now)
            waiting.since = None
        out = orig_get(self)
        if out is None:
            tracer.count("graph.empty_polls")
            waiting.since = time.perf_counter()
        return out

    GraphQueue.get = get
    tracer._undo.append((GraphQueue, "get", orig_get, False))

    for meth in ("register", "ensure_registered_for", "save_view"):
        tracer.wrap(RelationStore, meth, "catalog.register")
    tracer.wrap(RelationStore, "flush_lazy_views", "catalog.lazy_flush",
                before=lambda self, *a, **k: tracer.count(
                    "catalog.views_flushed", len(self._lazy_views)))

    def written(rel, _state, *a, **kw):
        if rel is not None and rel.path:
            tracer.count("catalog.bytes_written", tree_bytes(rel.path))

    tracer.wrap(RelationStore, "write_table", "catalog.write", after=written)
    tracer.wrap(EventBus, "fire", "events.fire",
                after=lambda *_a, **_k: tracer.count("events.fired"))

    def manifest_written(_out, _state, _self, path, *a, **kw):
        tracer.count("artifacts.bytes", os.path.getsize(path))

    def results_written(_out, _state, eng, *a, **kw):
        path = os.path.join(eng.project.target_path, "run_results.json")
        tracer.count("artifacts.bytes", os.path.getsize(path))

    tracer.wrap(Manifest, "write", "artifacts.write", after=manifest_written)
    tracer.wrap(runner.Engine, "_write_run_results", "artifacts.write",
                after=results_written)


def self_intervals(spans: list[Span]):
    """Yield ``(name, start, end)`` for each part of a span not covered by
    its child spans. ``parent`` indexes into ``spans``; a parent missing
    from the list makes the span a root."""
    children: dict[int, list[int]] = defaultdict(list)
    for i, sp in enumerate(spans):
        if sp.parent is not None and 0 <= sp.parent < len(spans):
            children[sp.parent].append(i)
    for i, sp in enumerate(spans):
        cur = sp.start
        for c in sorted(children[i], key=lambda j: spans[j].start):
            if spans[c].start > cur:
                yield sp.name, cur, spans[c].start
            cur = max(cur, spans[c].end)
        if sp.end > cur:
            yield sp.name, cur, sp.end


def wall_shares(intervals, t0: float, t1: float) -> tuple[dict, float]:
    """Split the wall interval [t0, t1] between span names.

    Each instant is shared equally by the self-intervals covering it (on
    different threads), so the shares plus the uncovered remainder sum to
    exactly ``t1 - t0``. Returns ``({name: seconds}, unattributed)``."""
    edges = []
    for name, a, b in intervals:
        a, b = max(a, t0), min(b, t1)
        if b > a:
            edges.append((a, 1, name))
            edges.append((b, -1, name))
    edges.sort(key=lambda e: e[0])
    active: Counter = Counter()
    k = 0
    shares: dict[str, float] = defaultdict(float)
    covered = 0.0
    prev = t0
    for t, d, name in edges:
        if t > prev:
            if k:
                for n, c in active.items():
                    shares[n] += (t - prev) * c / k
                covered += t - prev
            prev = t
        active[name] += d
        k += d
        if not active[name]:
            del active[name]
    return dict(shares), (t1 - t0) - covered


def iteration_shares(spans: list[Span], iteration: int, t0: float,
                     t1: float) -> tuple[dict, float]:
    """wall_shares over the spans started in one iteration."""
    index = {i: j for j, i in enumerate(
        i for i, sp in enumerate(spans) if sp.iteration == iteration)}
    subset = [Span(sp.name, sp.start, sp.end,
                   index.get(sp.parent) if sp.parent is not None else None,
                   sp.iteration)
              for i, sp in enumerate(spans) if i in index]
    return wall_shares(self_intervals(subset), t0, t1)


SPARK_FIELDS = ("spark.jobs", "spark.stages", "spark.tasks",
                "spark.executor_run_s", "spark.executor_cpu_s",
                "spark.shuffle_read_bytes", "spark.shuffle_write_bytes",
                "spark.spill_bytes")


#: the status store keeps this many jobs and stages (Spark's default is
#: 1000): enough that none is evicted before ``collect`` reads it
RETAINED = "1000000"
RETAIN_CONF = {"spark.ui.retainedJobs": RETAINED,
               "spark.ui.retainedStages": RETAINED}


class SparkCollector:
    """Totals of the stages Spark ran since the previous ``collect``.

    Job ids are sequential, so the collector reads every job id from its
    watermark up to the scheduler's job count; this also catches streaming
    micro-batch jobs, which run under their query's own job group. Stage
    metrics come from the status store's last attempt of each (non-skipped)
    stage. The session must be built with RETAIN_CONF; a job or stage the
    store no longer holds is reported on stderr."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.next_job = sc._jsc.sc().dagScheduler().numTotalJobs()

    def collect(self) -> dict[str, float]:
        jsc = self.sc._jsc.sc()
        end = jsc.dagScheduler().numTotalJobs()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        totals = dict.fromkeys(SPARK_FIELDS, 0.0)
        stage_ids: set[int] = set()
        evicted = 0
        for job in range(self.next_job, end):
            info = tracker.getJobInfo(job)
            if info is None:
                evicted += 1
                continue
            totals["spark.jobs"] += 1
            stage_ids.update(info.stageIds)
        self.next_job = max(self.next_job, end)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — py4j NoSuchElementException
                evicted += 1
                continue
            if st.status().toString() == "SKIPPED":
                continue
            totals["spark.stages"] += 1
            totals["spark.tasks"] += st.numTasks()
            totals["spark.executor_run_s"] += st.executorRunTime() / 1e3
            totals["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            totals["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            totals["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            totals["spark.spill_bytes"] += (st.memoryBytesSpilled()
                                            + st.diskBytesSpilled())
        if evicted:
            print(f"warning: {evicted} jobs or stages were gone from the "
                  "Spark status store; the spark.* counters miss them",
                  file=sys.stderr)
        return totals
