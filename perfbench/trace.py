"""Layer tracing for ``run.py --trace 1``, done entirely from this directory.

Spans are recorded around the calls into each layer of the serving path by
wrapping them on the instances the run creates; the package itself is not
edited. The wrapped entry points are:

- streaming.control: a ``FileLogTransport`` subclass passed as
  ``ControlPlane(transport=...)`` (poll, emit), and ``_publish_once`` on the
  plane instance;
- plans.bql: ``parse_bql`` as seen by ``streaming.control``;
- streaming.dynamic: ``_process_batch``, ``_compile_live``, ``_agg_frame``,
  ``_run_grouping_sets``, ``_collect_rows`` and ``register`` on the
  multiplexer instance, and ``result`` on every ``DynamicHandle`` it returns.
  ``_collect_rows`` is reported as ``mux.collect`` only when
  ``_run_grouping_sets`` calls it; the RAW take's calls are ``mux.raw_take``.

A missing entry point raises ``LayerMissing`` naming the layer, and a layer
that recorded no call raises ``LayerBlind``, so a refactor that renames one
fails the traced run instead of reporting that layer as zero.
"""

from __future__ import annotations

import itertools
import statistics
import threading
import time
from collections import defaultdict

import bullet_spark_spark.streaming.control as control
from bullet_spark_spark.streaming.control import FileLogTransport
from bullet_spark_spark.streaming.dynamic import DynamicHandle


class LayerMissing(RuntimeError):
    """A wrapped entry point no longer exists."""


class LayerBlind(RuntimeError):
    """A wrapped entry point exists but recorded no call in the window."""


# span name -> layer, for the messages of LayerMissing/LayerBlind
SPANS = {
    "control.poll": "streaming.control",
    "control.emit": "streaming.control",
    "control.publish_tick": "streaming.control",
    "control.register": "streaming.dynamic",
    "bql.parse": "plans.bql",
    "mux.batch": "streaming.dynamic",
    "mux.compile": "streaming.dynamic",
    "mux.grouping_sets": "streaming.dynamic",
    "mux.frame": "streaming.dynamic",
    "mux.collect": "streaming.dynamic",
    "mux.result": "streaming.dynamic",
}

_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []  # (id, name, t0, t1, parent id, thread)
        self.values: dict[str, list[tuple[float, float]]] = defaultdict(list)  # (time, value)
        self._ids = itertools.count(1)
        self._epoch = time.time() - time.perf_counter()  # span clock -> epoch s
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # -- spans ----------------------------------------------------------------

    def reset(self) -> None:
        """Start the traced window: drop everything recorded so far."""
        with self._lock:
            self.spans.clear()
            self.values.clear()

    def wrap(self, name: str, fn, post=None):
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1][0] if stack else None
            stack.append((sid, name))
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer.spans.append((sid, name, t0, t1, parent, threading.get_ident()))
            if post is not None:
                post(out)
            return out

        traced.perfbench_wrapped = True
        return traced

    def _stack(self) -> list[tuple[int, str]]:
        """This thread's open spans, innermost last: (id, name)."""
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        return stack

    def parent_name(self) -> str | None:
        stack = self._stack()
        return stack[-1][1] if stack else None

    def _patch(self, obj, attr: str, name: str, post=None) -> None:
        if not hasattr(obj, attr):
            raise LayerMissing(f"{SPANS[name]}: {type(obj).__name__}.{attr} is gone")
        setattr(obj, attr, self.wrap(name, getattr(obj, attr), post))

    # -- installation ---------------------------------------------------------

    def transport(self, control_dir: str, status_path: str) -> FileLogTransport:
        tracer = self

        class TracedTransport(FileLogTransport):
            def poll(self):
                return tracer.wrap("control.poll", super().poll)()

            def emit(self, event):
                tracer._note(f"control.events.{event.get('type')}", 1)
                return tracer.wrap("control.emit", super().emit)(event)

        return TracedTransport(control_dir, status_path)

    def install_global(self) -> None:
        """Wrap ``parse_bql`` where ``streaming.control`` looks it up."""
        if not hasattr(control, "parse_bql"):
            raise LayerMissing("plans.bql: streaming.control.parse_bql is gone")
        if not hasattr(DynamicHandle, "result"):
            raise LayerMissing("streaming.dynamic: DynamicHandle.result is gone")
        orig = control.parse_bql
        control.parse_bql = self.wrap("bql.parse", orig)
        self._undo.append(lambda: setattr(control, "parse_bql", orig))

    def uninstall_global(self) -> None:
        while self._undo:
            self._undo.pop()()

    def install(self, spark, mux, plane) -> None:
        """Wrap one multiplexer and control plane before they start."""
        tracker = spark.sparkContext.statusTracker()
        sc = spark.sparkContext

        def wrap_handle(handle) -> None:
            if not getattr(handle.result, "perfbench_wrapped", False):
                handle.result = self.wrap("mux.result", handle.result)

        self._patch(mux, "register", "control.register", post=wrap_handle)
        self._patch(mux, "_process_batch", "mux.batch")
        self._patch(mux, "_compile_live", "mux.compile")
        self._patch(mux, "_run_grouping_sets", "mux.grouping_sets")
        self._patch(mux, "_agg_frame", "mux.frame")
        self._patch(plane, "_publish_once", "control.publish_tick")
        if not hasattr(mux, "_collect_rows"):
            raise LayerMissing("streaming.dynamic: DynamicMultiplexer._collect_rows is gone")
        mux._collect_rows = self.collect_wrapper(mux._collect_rows, sc, tracker)

    def collect_wrapper(self, collect, sc, tracker):
        """Wrap the multiplexer's one collect entry point. Called from
        ``_run_grouping_sets`` it is the routed-aggregation job: span
        ``mux.collect``, with its partial rows and task count noted. Any
        other caller (the RAW take) is recorded as ``mux.raw_take``, so it
        does not mix into the routed job's figures."""
        groups = itertools.count()
        routed = self.wrap("mux.collect", collect, post=lambda rows: self._note("mux.partial_rows", len(rows)))
        raw = self.wrap("mux.raw_take", collect)

        def collect_in_group(df):
            if self.parent_name() != "mux.grouping_sets":
                return raw(df)
            # a job group per call isolates this call's jobs from the
            # publisher thread's, so the task count is this job's alone
            gid = f"perfbench-collect-{next(groups)}"
            prev = [sc.getLocalProperty(k) for k in _JOB_PROPS]
            sc.setJobGroup(gid, "perfbench routed aggregation")
            try:
                return routed(df)
            finally:
                for k, v in zip(_JOB_PROPS, prev):
                    sc.setLocalProperty(k, v)
                tasks = 0
                for jid in tracker.getJobIdsForGroup(gid):
                    info = tracker.getJobInfo(jid)
                    for sid in info.stageIds if info else ():
                        st = tracker.getStageInfo(sid)
                        tasks += st.numTasks if st else 0
                self._note("mux.job_tasks", tasks)

        return collect_in_group

    def _note(self, name: str, value: float) -> None:
        with self._lock:
            self.values[name].append((time.perf_counter(), value))

    # -- results --------------------------------------------------------------

    def check_not_blind(self) -> None:
        seen = {s[1] for s in self.spans}
        missing = [f"{SPANS[n]}: {n}" for n in SPANS if n not in seen]
        if missing:
            raise LayerBlind("no calls recorded for " + ", ".join(missing))

    def window(self, since: float) -> list[tuple]:
        """Spans that started at or after ``since`` (epoch s); for a span
        name with none there (registration on serve_steady happens while
        the registry is prepared), all of that name's spans."""
        t = since - self._epoch
        late = [sp for sp in self.spans if sp[2] >= t]
        names = {sp[1] for sp in late}
        return late + [sp for sp in self.spans if sp[1] not in names]

    def noted(self, name: str, since: float) -> list[float]:
        """Values noted under ``name`` at or after ``since`` (epoch s)."""
        t = since - self._epoch
        return [v for at, v in self.values[name] if at >= t]

    def layers(self, since: float) -> dict:
        """Per span name in the window: calls, total, median and self
        (minus child spans) time in ms."""
        spans = self.window(since)
        child = defaultdict(float)
        for _sid, _n, t0, t1, parent, _th in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        out: dict[str, dict] = {}
        by_name = defaultdict(list)
        for sid, name, t0, t1, _p, _th in spans:
            by_name[name].append(((t1 - t0) * 1000.0, (t1 - t0 - child[sid]) * 1000.0))
        for name, xs in sorted(by_name.items()):
            out[name] = {
                "calls": len(xs),
                "total_ms": round(sum(d for d, _ in xs), 3),
                "median_ms": round(statistics.median(d for d, _ in xs), 3),
                "self_total_ms": round(sum(s for _, s in xs), 3),
                "self_median_ms": round(statistics.median(s for _, s in xs), 3),
            }
        return out

    def cache_hit_ratio(self, since: float) -> float:
        """Share of batches with live queries that reused the compiled plan."""
        kids = defaultdict(set)
        for _sid, name, _t0, _t1, parent, _th in self.spans:
            if parent is not None:
                kids[parent].add(name)
        batches = [sp[0] for sp in self.window(since) if sp[1] == "mux.batch"]
        live = [b for b in batches if kids[b] & {"mux.compile", "mux.grouping_sets", "mux.collect", "mux.raw_take"}]
        misses = sum(1 for b in live if "mux.compile" in kids[b])
        return (len(live) - misses) / len(live) if live else 0.0

    def dump(self) -> list[dict]:
        return [
            {"id": s[0], "name": s[1], "t0": s[2], "t1": s[3], "parent": s[4], "thread": s[5]}
            for s in self.spans
        ]


def jvm_gc_ms(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def jvm_heap_used_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
