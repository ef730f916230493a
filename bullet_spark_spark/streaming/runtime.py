"""Engine runtime: query registry + lifecycle on Structured Streaming.

The reference multiplexes every live query over each record inside one static
DStream DAG (queries-as-data: FilterStreaming.scala:38-71 collects and
re-broadcasts the query list every batch; JoinStreaming.scala:34-58 merges
partial state per query id). Here each registered query IS a Catalyst plan
running as its own StreamingQuery over a shared source (SURVEY §7.0
queries-as-plans inversion), and this runtime recreates bullet's lifecycle
semantics around those handles:

- duration expiry  → COMPLETE + stop           (ref isTimedOut,
  QueryDataUnioning.scala:71)
- RAW limit done   → COMPLETE + stop           (ref querier.isDone,
  JoinStreaming.scala:142-146; JoinStreamingTest.scala:55-67)
- kill signal      → KILLED + stop             (ref Metadata.Signal.KILL,
  JoinStreaming.scala:144-158)
- rate limit       → FAIL + stop               (ref RateLimitError,
  FilterStreaming.scala:129-133, JoinStreaming.scala:152-159)
- status feedback  → status log entries        (ref feedback publisher,
  ResultPublisher.scala:35-45)

Unlike the reference, finished queries leave NO state behind (the reference
tombstones them forever — JoinStreaming.scala:60-62; SURVEY §7.3 flags this
as a leak we must not copy).

Scale posture: N queries = N concurrent StreamingQuery handles sharing the
scheduler; the state store is per-query and keyed by its own group-by keys,
so state volume is output-cardinality, not input-cardinality. The
shared-stage alternative — every live query in one routed-aggregation job
per micro-batch, the reference's own shape — is
``streaming.dynamic.DynamicMultiplexer``; it reuses this module's
``QueryState``, ``Signal`` and ``RateLimit``.
"""

from __future__ import annotations

import threading
import time
import uuid
from dataclasses import dataclass, field
from enum import Enum
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from bullet_spark_spark.plans.spec import (
    DistributionAgg,
    GroupAgg,
    Query,
    RawAgg,
    TopKAgg,
    WindowUnit,
)
from bullet_spark_spark.plans.compiler import compile_query
from bullet_spark_spark.streaming.sinks import MemorySink


class QueryState(str, Enum):
    RUNNING = "RUNNING"
    COMPLETED = "COMPLETED"
    KILLED = "KILLED"
    FAILED = "FAILED"


class Signal(str, Enum):
    """Lifecycle signals (ref Metadata.Signal, BulletSparkUtils.scala:32-34)."""

    COMPLETE = "COMPLETE"
    KILL = "KILL"
    FAIL = "FAIL"


@dataclass
class RateLimit:
    """Max emissions per interval (ref bullet.query.rate.limit.*,
    FilterStreamingTest.scala:278-280)."""

    max_emits: int
    interval_ms: int

    def check(self, emit_times: list[float], now: float) -> str | None:
        """Shared guard for both streaming engines: prunes entries older
        than the window IN PLACE (they can never affect the count again, so
        a long-lived query stays O(window), not O(lifetime)), then returns
        an error string if the budget is exceeded, else None."""
        window_start = now - self.interval_ms / 1000.0
        if emit_times and emit_times[0] < window_start:
            emit_times[:] = [t for t in emit_times if t >= window_start]
        if len(emit_times) > self.max_emits:
            return (
                f"rate limit exceeded: {len(emit_times)} emits in "
                f"{self.interval_ms}ms (max {self.max_emits})"
            )
        return None


@dataclass
class QueryHandle:
    query_id: str
    spec: Query
    sink: MemorySink
    state: QueryState = QueryState.RUNNING
    stream: Any = None  # StreamingQuery
    started_at: float = field(default_factory=time.time)
    emit_times: list[float] = field(default_factory=list)
    raw_rows_seen: int = 0
    error: str | None = None
    # sketch metadata for estimated results (bullet's result meta [D]):
    # set when a result came from a sketch estimate, None when exact
    meta: dict | None = None
    _dead_sweeps: int = 0  # consecutive sweeps observing a dead stream

    def is_active(self) -> bool:
        return self.state is QueryState.RUNNING

    def final_result(self) -> list[tuple]:
        """Final result at query end — bullet's one-shot window (W1: default
        `new Window()` emits only on completion, ref
        QueryDataUnioningTest.scala:93).

        Update-mode group aggregations emit only the *changed* groups each
        micro-batch, so the final result merges across all emissions keyed by
        the group columns (latest emission wins per group). Other modes
        (append/complete) return the last non-empty emission."""
        agg = self.spec.aggregation
        if isinstance(agg, GroupAgg) and _output_mode(self.spec) == "update":
            w = self.spec.window
            windowed = (
                w.emit_unit is WindowUnit.TIME and w.event_time_field is not None
            )
            key_len = (1 if windowed else 0) + len(agg.fields)
            merged: dict[tuple, tuple] = {}
            for batch in self.sink.batches:
                for row in batch:
                    merged[tuple(str(x) for x in row[:key_len])] = row
            if key_len:
                return [merged[k] for k in sorted(merged)]
            return list(merged.values())
        for batch in reversed(self.sink.batches):
            if batch:
                return batch
        return []


def _output_mode(spec: Query) -> str:
    """Emission-window → Structured Streaming output mode (SURVEY §2.4):
    RAW → append; additive (include=ALL) → complete; TOP K / DISTRIBUTION →
    complete (their sort/limit/explode shapes need the full result each
    trigger); other aggregations → update (changed groups ≈ window close)."""
    agg = spec.aggregation
    if isinstance(agg, RawAgg):
        return "append"
    if isinstance(agg, (TopKAgg, DistributionAgg)):
        return "complete"
    if spec.window.include is WindowUnit.ALL:
        return "complete"
    return "update"


class _ProgressListener:
    """StreamingQueryListener bridging Spark's own progress accounting into
    the engine's metrics (parity with the reference's custom metrics source
    on the Spark metrics system, BulletSparkMetricsSource.scala:22-53,
    accumulators BulletSparkMetrics.scala:14-103)."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress: dict[str, dict[str, float]] = {}

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:  # noqa: N802
                pass

            def onQueryProgress(self, event) -> None:  # noqa: N802
                p = event.progress
                d = progress.setdefault(
                    str(p.id), {"batches": 0, "input_rows": 0, "last_rows_per_sec": 0.0}
                )
                d["batches"] += 1
                d["input_rows"] += int(p.numInputRows or 0)
                d["last_rows_per_sec"] = float(p.processedRowsPerSecond or 0.0)

            def onQueryIdle(self, event) -> None:  # noqa: N802
                pass

            def onQueryTerminated(self, event) -> None:  # noqa: N802
                pass

        self.progress = progress
        self.listener = _L()


class EngineRuntime:
    """Query registry + lifecycle supervisor (the engine's control plane)."""

    def __init__(
        self, spark: SparkSession, sweep_interval_s: float | None = None,
        config: "EngineConfig | None" = None,
    ) -> None:
        from bullet_spark_spark.config import EngineConfig

        self.spark = spark
        self.config = config or EngineConfig()
        self.queries: dict[str, QueryHandle] = {}
        self.status_log: list[tuple[str, Signal, float]] = []
        self._lock = threading.Lock()
        self._sweep_interval_s = sweep_interval_s or self.config.sweep_interval_s
        self._sweeper: threading.Thread | None = None
        self._stop_sweeper = threading.Event()
        self._progress = _ProgressListener()
        self._listener_on = False

    def _ensure_listener(self) -> None:
        """Register the progress listener on first stream launch (lazy: a
        batch-only runtime never pays the Python callback channel)."""
        if not self._listener_on:
            self.spark.streams.addListener(self._progress.listener)
            self._listener_on = True

    # -- registration -------------------------------------------------------

    def register(
        self,
        spec: Query,
        stream_df: DataFrame,
        query_id: str | None = None,
        rate_limit: RateLimit | None = None,
        trigger_ms: int | None = None,
        checkpoint_dir: str | None = None,
    ) -> QueryHandle:
        """Compile the spec against an unbounded DataFrame and launch it.

        Output mode follows the window spec (SURVEY §2.4): group aggregations
        run in ``update`` mode (per-trigger emission of changed groups ≈
        bullet window close), ``complete`` for additive include=ALL windows;
        RAW runs in ``append`` with the limit enforced by the runtime (limit
        is not a streaming-supported plan node)."""
        qid = query_id or uuid.uuid4().hex[:12]
        trigger_ms = trigger_ms or self.config.trigger_ms
        with self._lock:
            existing = self.queries.get(qid)
            if existing is not None and existing.is_active():
                # duplicate registration is ignored, returning the live handle
                # (ref query dedup in the union state, QueryDataUnioning.scala:60-83)
                return existing
            n_active = sum(1 for h in self.queries.values() if h.is_active())
            if n_active >= self.config.max_concurrent_queries:
                raise RuntimeError(
                    f"max_concurrent_queries ({self.config.max_concurrent_queries}) reached"
                )
        if rate_limit is None and self.config.rate_limit_enable:
            rate_limit = RateLimit(
                self.config.rate_limit_max_emits, self.config.rate_limit_interval_ms
            )
        if checkpoint_dir is None and self.config.checkpoint_root:
            checkpoint_dir = f"{self.config.checkpoint_root}/{qid}"
        # processing-time TIME window (no event-time field) = emit cadence →
        # becomes the micro-batch trigger interval (ref batch-duration-driven
        # window close, JoinStreaming.scala:118-122)
        w = spec.window
        if (
            w.emit_unit is WindowUnit.TIME
            and w.event_time_field is None
            and w.emit_every
        ):
            trigger_ms = w.emit_every
        sink = MemorySink()
        handle = QueryHandle(query_id=qid, spec=spec, sink=sink)

        # streaming CDF: the cumulative window step is not a streaming plan
        # node — run the PMF in complete mode and accumulate in the sink
        cdf_post = False
        compile_spec = spec
        if (
            isinstance(spec.aggregation, DistributionAgg)
            and spec.aggregation.type.value == "CDF"
        ):
            from dataclasses import replace as _replace
            from bullet_spark_spark.plans.spec import DistributionType

            cdf_post = True
            compile_spec = _replace(
                spec, aggregation=_replace(spec.aggregation, type=DistributionType.PMF)
            )

        df = compile_query(self.spark, compile_spec, df=stream_df, streaming=True)
        mode = _output_mode(spec)
        raw_limit = spec.aggregation.limit if isinstance(spec.aggregation, RawAgg) else None

        def emit(batch_df, epoch_id):  # runs on the stream-execution thread
            if handle.state is not QueryState.RUNNING:
                return
            if raw_limit is not None:
                remaining = raw_limit - handle.raw_rows_seen
                if remaining <= 0:
                    return
                batch_df = batch_df.limit(remaining)
            rows_before = len(sink.rows)
            if cdf_post:
                # PMF (complete) → cumulative counts, tiny driver-side pass
                pmf = sorted((r["bucket"], r["count"]) for r in batch_df.collect())
                total = 0
                out = []
                for bucket, cnt in pmf:
                    total += cnt
                    out.append((bucket, total))
                with sink._lock:
                    if sink.columns is None:
                        sink.columns = ["bucket", "cum_count"]
                    sink.batches.append(out)
            else:
                sink(batch_df, epoch_id)
            emitted = len(sink.rows) - rows_before
            now = time.time()
            if raw_limit is not None:
                handle.raw_rows_seen += emitted
            # emit_times exists only to feed the window check (which prunes
            # it to window size) — with no limit, don't accumulate at all
            if rate_limit is not None and emitted > 0:
                handle.emit_times.append(now)
                err = rate_limit.check(handle.emit_times, now)
                if err is not None:
                    handle.error = err

        writer = df.writeStream.outputMode(mode).foreachBatch(emit)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
        self._ensure_listener()
        handle.stream = writer.start()

        with self._lock:
            self.queries[qid] = handle
        self._ensure_sweeper()
        return handle

    def run_available(
        self,
        spec: Query,
        stream_df: DataFrame,
        query_id: str | None = None,
        checkpoint_dir: str | None = None,
        timeout_s: float = 120,
    ) -> QueryHandle:
        """Drain-everything-then-stop variant (Trigger.AvailableNow): used for
        deterministic tests and bounded backfills."""
        qid = query_id or uuid.uuid4().hex[:12]
        sink = MemorySink()
        handle = QueryHandle(query_id=qid, spec=spec, sink=sink)
        df = compile_query(self.spark, spec, df=stream_df, streaming=True)
        writer = df.writeStream.outputMode(_output_mode(spec)).foreachBatch(sink)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        self._ensure_listener()
        handle.stream = writer.trigger(availableNow=True).start()
        handle.stream.awaitTermination(timeout_s)
        handle.state = QueryState.COMPLETED
        self._log(qid, Signal.COMPLETE)
        with self._lock:
            self.queries[qid] = handle
        return handle

    # -- lifecycle ----------------------------------------------------------

    def kill(self, query_id: str) -> None:
        """External KILL signal (ref JoinStreaming.scala:144-158)."""
        handle = self.queries[query_id]
        if handle.is_active():
            self._finish(handle, QueryState.KILLED, Signal.KILL)

    def stop_all(self) -> None:
        for h in list(self.queries.values()):
            if h.is_active():
                self._finish(h, QueryState.KILLED, Signal.KILL)
        self._stop_sweeper.set()
        if self._listener_on:
            self._listener_on = False
            time.sleep(0.2)  # let queued terminate events flush off the bus
            try:
                self.spark.streams.removeListener(self._progress.listener)
            except Exception:
                pass  # session may be tearing down

    def active(self) -> list[QueryHandle]:
        return [h for h in self.queries.values() if h.is_active()]

    def metrics(self) -> dict[str, int | float]:
        """Engine counters (ref BulletSparkMetrics accumulators,
        BulletSparkMetrics.scala:14-103): received/running/done/killed/failed
        plus total emissions, and Spark's OWN progress accounting bridged in
        via StreamingQueryListener (ref BulletSparkMetricsSource.scala:22-53):
        micro-batches executed and input rows processed across this runtime's
        streams — not engine-side estimates."""
        states = [h.state for h in self.queries.values()]
        stream_ids: set[str] = set()
        for h in self.queries.values():
            try:
                if h.stream is not None:
                    stream_ids.add(str(h.stream.id))
            except Exception:
                pass
        prog = [
            self._progress.progress[sid]
            for sid in stream_ids
            if sid in self._progress.progress
        ]
        return {
            "queries_received": len(states),
            "queries_running": sum(s is QueryState.RUNNING for s in states),
            "queries_done": sum(s is QueryState.COMPLETED for s in states),
            "queries_killed": sum(s is QueryState.KILLED for s in states),
            "queries_failed": sum(s is QueryState.FAILED for s in states),
            "emissions": sum(h.sink.num_emissions for h in self.queries.values()),
            "spark_batches": int(sum(p["batches"] for p in prog)),
            "spark_input_rows": int(sum(p["input_rows"] for p in prog)),
        }

    def register_metrics_source(self, prefix: str = "bullet") -> dict[str, object]:
        """Expose the engine counters OUTSIDE Python — parity with the
        reference's Codahale source registered into Spark's metrics system
        (BulletSparkMetricsSource.scala:22-53, counter update :47-52).

        Each counter becomes a named JVM ``LongAccumulator`` registered in
        Spark's ``AccumulatorContext`` (the same registry task metrics live
        in), so the values are queryable from any JVM-side tool, appear in
        the Spark UI's accumulator tables when the UI is enabled, and
        survive with the SparkContext rather than this Python object.
        ``sync_metrics()`` pushes the current listener-backed counters into
        them; call it from a reporting tick (the reference updates its
        counters on each publish, BulletSparkMetrics.scala:14-103)."""
        sc = self.spark.sparkContext._jsc.sc()
        if not hasattr(self, "_jvm_metrics"):
            self._jvm_metrics: dict[str, object] = {}
        for name in (
            "queries_received",
            "queries_running",
            "queries_done",
            "queries_killed",
            "queries_failed",
            "emissions",
            "spark_batches",
            "spark_input_rows",
        ):
            if name not in self._jvm_metrics:
                self._jvm_metrics[name] = sc.longAccumulator(f"{prefix}.{name}")
        return self.sync_metrics()

    def sync_metrics(self) -> dict[str, object]:
        """Push metrics() into the registered JVM accumulators (no-op
        counters that were never registered). Returns the accumulators."""
        if not hasattr(self, "_jvm_metrics"):
            return {}
        for name, value in self.metrics().items():
            acc = self._jvm_metrics.get(name)
            if acc is not None:
                acc.setValue(int(value))
        return self._jvm_metrics

    # -- internals ----------------------------------------------------------

    def _ensure_sweeper(self) -> None:
        if self._sweeper is None or not self._sweeper.is_alive():
            self._stop_sweeper.clear()
            self._sweeper = threading.Thread(target=self._sweep_loop, daemon=True)
            self._sweeper.start()

    def _sweep_loop(self) -> None:
        """Registry sweep: duration expiry, RAW-limit completion, rate-limit
        failure (the reference's per-batch lifecycle checks,
        QueryDataUnioning.scala:60-83 + JoinStreaming.scala:139-161)."""
        while not self._stop_sweeper.is_set():
            for h in list(self.queries.values()):
                if not h.is_active():
                    continue
                if h.error is not None:
                    self._finish(h, QueryState.FAILED, Signal.FAIL)
                    continue
                # stream died underneath us (source error / natural drain):
                # reconcile handle state instead of leaving it RUNNING —
                # the reference's ErrorData path (BulletSparkUtils.scala:38-44)
                try:
                    stream_dead = h.stream is not None and not h.stream.isActive
                except Exception:
                    stream_dead = True
                h._dead_sweeps = h._dead_sweeps + 1 if stream_dead else 0
                if h._dead_sweeps >= 2:  # debounce startup races
                    exc = None
                    try:
                        exc = h.stream.exception()
                    except Exception:
                        pass
                    if exc is not None:
                        h.error = str(exc)[:500]
                        self._finish(h, QueryState.FAILED, Signal.FAIL)
                    else:
                        self._finish(h, QueryState.COMPLETED, Signal.COMPLETE)
                    continue
                spec = h.spec
                if (
                    isinstance(spec.aggregation, RawAgg)
                    and h.raw_rows_seen >= spec.aggregation.limit
                ):
                    self._finish(h, QueryState.COMPLETED, Signal.COMPLETE)
                    continue
                if (
                    spec.duration_ms is not None
                    and (time.time() - h.started_at) * 1000 >= spec.duration_ms
                ):
                    self._finish(h, QueryState.COMPLETED, Signal.COMPLETE)
            if not any(h.is_active() for h in self.queries.values()):
                break
            self._stop_sweeper.wait(self._sweep_interval_s)

    def _finish(self, handle: QueryHandle, state: QueryState, signal: Signal) -> None:
        # log before state flips/stop: observers that see the query inactive
        # must also see its terminal signal (stop() can block for a batch)
        self._log(handle.query_id, signal)
        handle.state = state
        try:
            if handle.stream is not None and handle.stream.isActive:
                handle.stream.stop()
        except Exception:  # stream may already be terminating
            pass

    def _log(self, query_id: str, signal: Signal) -> None:
        with self._lock:
            self.status_log.append((query_id, signal, time.time()))
