"""Dynamic multiplexer: the reference's queries-as-data mode, re-expressed.

bullet-spark re-collects and re-broadcasts the live query list every batch
and runs each query's partition-local Querier over the records
(FilterStreaming.scala:46-67), merging partials keyed by query id
(JoinStreaming.scala:34-58). The Structured Streaming equivalent: inside
``foreachBatch`` each micro-batch is a *batch* DataFrame, so the CURRENT
registry's specs compile and run against it directly — add/remove queries
between batches with no stage restart. Partial results merge into per-query
driver state (counts/sums/mins/maxs are trivially mergeable, exactly the
partial-aggregation contract the reference's byte blobs carried).

This is the engine's one shared stage; plan-per-query
(``EngineRuntime.register``) is the other streaming engine and keeps
maximal Catalyst specialization and isolated lifecycle at the cost of N
source subscriptions. Here the registry is fully dynamic and the final
merge is driver-side (fine for bullet-sized bounded results, which is the
reference's own constraint — results return through a message bus). ALL
live queries run as ONE routed-aggregation job per batch: each row
explodes to the query ids whose filter it matches
(``operators.multiplex.route``), then a single aggregation keyed by
(query_id, group keys) computes the UNION of (op, field) pairs any query
needs — aggregate state per group is #distinct-(op,field) pairs, not
#queries × ops; distinct group-by field sets become GROUPING SETS over
(query_id, union of fields). One scan + one shuffle per batch regardless
of query or field-set count, and the compiled Column tree is cached across
batches while the registry is unchanged.
"""

from __future__ import annotations

import threading
import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bullet_spark_spark.operators.multiplex import route
from bullet_spark_spark.plans.spec import (
    AggOp,
    CountDistinctAgg,
    DistributionAgg,
    DistributionType,
    GroupAgg,
    Query,
    RawAgg,
    TopKAgg,
)
from bullet_spark_spark.streaming.runtime import QueryState, RateLimit, Signal

_MERGEABLE = {
    AggOp.COUNT: lambda a, b: a + b,
    AggOp.COUNT_FIELD: lambda a, b: a + b,
    AggOp.SUM: lambda a, b: a + b,
    AggOp.MIN: min,
    AggOp.MAX: max,
}


# pseudo-op marker for approx COUNT DISTINCT's HLL blob partials (not an
# AggOp: it never appears in user specs, only in the compiled shared stage)
_HLL = "HLL"


def _none_safe(fn, a, b):
    return b if a is None else (a if b is None else fn(a, b))


def _merge_partial(op, a, b):
    """Merge two partials of one op; AVG partials are (sum, count) pairs;
    HLL partials accumulate as a blob list (unioned once, at emit)."""
    if op is _HLL:
        if b is None:
            return a
        acc = a if isinstance(a, list) else ([] if a is None else [a])
        return acc + [b]
    if op is AggOp.AVG:
        return (
            _none_safe(lambda x, y: x + y, a[0], b[0]),
            _none_safe(lambda x, y: x + y, a[1], b[1]),
        )
    return _none_safe(_MERGEABLE[op], a, b)


@dataclass
class DynamicHandle:
    query_id: str
    spec: Query
    state: QueryState = QueryState.RUNNING
    # group-key tuple -> [op outputs] (merged partials across batches)
    groups: dict[tuple, list] = field(default_factory=dict)
    started_at: float = field(default_factory=time.time)
    rate_limit: RateLimit | None = None
    emit_times: list[float] = field(default_factory=list)
    error: str | None = None
    # RAW: matched records accumulated up to the spec's limit (Q16)
    raw_rows: list[tuple] = field(default_factory=list)
    raw_columns: list[str] | None = None
    # sketch metadata for estimated results (bullet's result meta [D]):
    # set by result() when the value came from a sketch, None when exact
    meta: dict | None = None
    # session for the HLL blob-combine job: getActiveSession() is
    # THREAD-LOCAL and returns None on the control plane's publisher
    # thread, so result() must not rely on it
    spark: SparkSession | None = None

    def result(self) -> list[tuple]:
        """Current merged result rows, shaped per aggregation family:
        GroupAgg → (keys..., ops...); TopK → (keys..., count) ranked;
        CountDistinct → [(n,)]; Distribution → (bucket, count|cum) or
        (q, est) for QUANTILE; RAW → the collected records."""
        agg = self.spec.aggregation
        if isinstance(agg, RawAgg):
            return list(self.raw_rows)
        if isinstance(agg, TopKAgg):
            ranked = sorted(
                self.groups.items(), key=lambda kv: (-kv[1][0], str(kv[0]))
            )
            if agg.threshold:
                ranked = [kv for kv in ranked if kv[1][0] >= agg.threshold]
            return [(*k, v[0]) for k, v in ranked[: agg.k]]
        if isinstance(agg, CountDistinctAgg):
            if agg.approx:
                blobs: list[bytes] = []
                for v in self.groups.values():
                    x = v[0]
                    blobs.extend(x if isinstance(x, list) else [x])
                blobs = [bytes(b) for b in blobs if b is not None]
                if not blobs:
                    from bullet_spark_spark.operators.sketch import hll_result_meta

                    self.meta = hll_result_meta(0)
                    return [(0,)]
                # ONE tiny job over #batches blobs — the byte-blob combine
                # step (JoinStreaming.scala:126 querier.combine) on
                # DataSketches-compatible state
                spark = self.spark or SparkSession.getActiveSession()
                est = (
                    spark.createDataFrame([(b,) for b in blobs], "s binary")
                    .agg(
                        F.hll_sketch_estimate(
                            F.hll_union_agg(F.col("s"))
                        ).alias("n")
                    )
                    .collect()[0]["n"]
                )
                from bullet_spark_spark.operators.sketch import hll_result_meta

                self.meta = hll_result_meta(int(est))
                return [(int(est),)]
            n = sum(
                1 for k in self.groups if k and all(v is not None for v in k)
            )
            return [(n,)]
        if isinstance(agg, DistributionAgg):
            buckets = sorted(
                (k[0], v[0]) for k, v in self.groups.items() if k[0] is not None
            )
            if agg.type is DistributionType.PMF:
                return buckets
            if agg.type is DistributionType.CDF:
                out, run = [], 0
                for b, c in buckets:
                    run += c
                    out.append((b, run))
                return out
            # QUANTILE: targeted rank over merged linear-bucket counts
            import math

            total = sum(c for _, c in buckets)
            rows = []
            for p in [float(x) for x in (agg.points or [0.5])]:
                rank = max(1, math.ceil(p * total)) if total else 0
                run, est = 0, None
                for b, c in buckets:
                    run += c
                    if run >= rank:
                        est = (b + 0.5) * agg.width
                        break
                rows.append((p, est))
            return rows
        # GroupAgg: finalize AVG from its merged (sum, count) partial pair
        ops = list(agg.operations) or [(AggOp.COUNT, None, "count")]
        out = []
        for k, v in sorted(self.groups.items(), key=lambda kv: str(kv[0])):
            vals = []
            for (op, _fld, _name), x in zip(ops, v):
                if op is AggOp.AVG:
                    s, c = x
                    vals.append(s / c if (s is not None and c) else None)
                else:
                    vals.append(x)
            out.append((*k, *vals))
        return out


class DynamicMultiplexer:
    """Per-batch query evaluation over one shared stream (add/remove live).

    SINGLE-TENANT-SESSION ASSUMPTION: ``_process_batch`` temporarily sets
    session-global SQL confs (shuffle.partitions, AQE, constraint
    propagation — restored in a ``finally``) for the duration of each
    micro-batch, because the batch's ``foreachBatch`` DataFrame is bound to
    this session (a ``spark.newSession()`` clone has isolated confs but
    cannot re-plan another session's frame without re-registering it, which
    would defeat the per-batch latency budget this exists for). Any
    concurrent job planned on the SAME SparkSession during that window
    inherits the batch confs. Run unrelated batch/data-plane work on its
    own session (``spark.newSession()``), or accept the multiplexer owning
    this one — the deployment posture matching the reference, where the
    streaming harness is the application."""

    def __init__(
        self,
        spark: SparkSession,
        rate_limit: RateLimit | None = None,
        batch_shuffle_partitions: int | None = 8,
    ) -> None:
        self.spark = spark
        self.queries: dict[str, DynamicHandle] = {}
        self.status_log: list[tuple[str, Signal, float]] = []
        self.rate_limit = rate_limit  # default for every registered query
        # reducer count for the per-batch routed-aggregation jobs. The
        # job's OUTPUT is bounded partials (per-query groups, not data),
        # and map-side partial aggregation collapses the batch before the
        # exchange, so reducer fan-out buys nothing — but AQE (which would
        # coalesce those reducers at runtime) is DISABLED inside streaming
        # foreachBatch, so the session default (sized for data-plane
        # shuffles) schedules dead tasks every batch: 32 reducers ≈ +90 ms
        # per micro-batch at sf0.1 (measured). None = inherit the session
        # conf.
        self.batch_shuffle_partitions = batch_shuffle_partitions
        self._lock = threading.Lock()
        self._stream: Any = None
        # compiled-plan cache, keyed by the frozenset of live query ids:
        # building the conditional-agg Column tree costs ~0.35 s of py4j
        # round-trips for 32 queries (measured) — pure per-batch overhead
        # when the registry hasn't changed between batches, which is the
        # common case (the reference pays the same shape of cost in its
        # per-batch re-broadcast, FilterStreaming.scala:48-53). Keyed by
        # (registry epoch, live id set): the epoch invalidates on every
        # register/kill (covers same-id re-registration with a new spec),
        # the id set on lifecycle transitions (expiry, rate-limit fail).
        self._epoch = 0
        self._plan_cache: tuple[tuple, tuple] | None = None

    def register(
        self, query_id: str, spec: Query, rate_limit: RateLimit | None = None
    ) -> DynamicHandle:
        if spec.explode is not None:
            raise ValueError(
                f"query {query_id!r} uses LATERAL VIEW EXPLODE — the shared-"
                "scan dynamic multiplexer evaluates all queries over ONE row "
                "space; run explode queries through EngineRuntime.register()"
            )
        agg = spec.aggregation
        if isinstance(agg, GroupAgg):
            for op, _, _ in agg.operations or [(AggOp.COUNT, None, "count")]:
                if op not in _MERGEABLE and op is not AggOp.AVG:
                    raise ValueError(f"{op} is not mergeable across batches")
        elif isinstance(agg, CountDistinctAgg):
            pass  # exact rides the group-key map; approx rides HLL blobs
            # (hll_sketch_agg in the shared stage, DataSketches-compatible
            # binary partials accumulated per batch and unioned at emit —
            # the reference's byte-blob contract, FilterStreaming.scala:124)
        elif isinstance(agg, DistributionAgg):
            if agg.type is DistributionType.QUANTILE and not agg.width:
                raise ValueError(
                    "dynamic-multiplexed QUANTILE needs DistributionAgg.width "
                    "(linear mergeable bucketing) — or use register()"
                )
            if agg.type is not DistributionType.QUANTILE and not (
                agg.points or (agg.start is not None and agg.num_buckets)
            ):
                raise ValueError("PMF/CDF needs points or a (start,end,n) region")
        elif not isinstance(agg, (TopKAgg, RawAgg)):
            raise ValueError(
                f"{type(agg).__name__} is not dynamically multiplexable"
            )
        # NOTE: shared-stage RAW emits FULL records (the routed take); a
        # RAW projection applies in plan-per-query mode
        # (EngineRuntime.register), where the compiled plan owns the select
        # list.
        handle = DynamicHandle(
            query_id=query_id,
            spec=spec,
            rate_limit=rate_limit or self.rate_limit,
            spark=self.spark,
        )
        with self._lock:
            if query_id in self.queries and self.queries[query_id].state is QueryState.RUNNING:
                return self.queries[query_id]  # dedup, as in the union state
            self.queries[query_id] = handle
            self._epoch += 1
        return handle

    def kill(self, query_id: str) -> None:
        with self._lock:
            h = self.queries[query_id]
            if h.state is QueryState.RUNNING:
                h.state = QueryState.KILLED
                self._epoch += 1
                self.status_log.append((query_id, Signal.KILL, time.time()))

    def _process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """The FilterStreaming.transformWith analogue: snapshot the registry,
        run every live spec against this micro-batch, merge partials.

        ALL live queries run as ONE routed-aggregation job per micro-batch
        (see _compile_live for the plan shape) — one scan, one shuffle per
        batch regardless of query count or field-set count, with group keys
        keeping their native types. This is the Spark-expression form of
        the reference's 'one pass over the records for all queries'
        (FilterStreaming.scala:54-67)."""
        with self._lock:
            live = [
                (h, h.spec)
                for h in self.queries.values()
                if h.state is QueryState.RUNNING
            ]
        if not live:
            return
        key = (self._epoch, frozenset(h.query_id for h, _ in live))
        if self._plan_cache is not None and self._plan_cache[0] == key:
            compiled = self._plan_cache[1]
        else:
            compiled = self._compile_live(live)
            self._plan_cache = (key, compiled)
        agg_compiled, raw_compiled = compiled
        # Per-batch job confs (restored after): the routed-aggregation job's
        # output is bounded partials, its plan is a scan→explode→hash-agg
        # with no joins — so (a) reducer fan-out buys nothing and AQE
        # (which would coalesce it at runtime) can't: Spark disables AQE
        # coalescing benefits inside foreachBatch and each fresh frame pays
        # AQE's replan rounds as pure latency (~50 ms/batch measured);
        # (b) constraint propagation walks the 32-branch routing expression
        # for join-filter inference that can never apply (~30 ms/batch).
        # Both matter because this body runs at MICRO-BATCH cadence — per-
        # batch driver latency is the control plane's serving floor.
        confs = {}
        if self.batch_shuffle_partitions is not None:
            confs["spark.sql.shuffle.partitions"] = str(self.batch_shuffle_partitions)
        confs["spark.sql.adaptive.enabled"] = "false"
        confs["spark.sql.constraintPropagation.enabled"] = "false"
        prev: dict[str, str] = {}
        for k, v in confs.items():
            prev[k] = self.spark.conf.get(k)
            self.spark.conf.set(k, v)
        try:
            if agg_compiled is not None:
                self._run_grouping_sets(batch_df, agg_compiled)
            if raw_compiled is not None:
                self._run_raw(batch_df, raw_compiled)
        finally:
            for k, v in prev.items():
                self.spark.conf.set(k, v)
        now = time.time()
        with self._lock:
            for handle, spec in live:
                # duration expiry checked at batch boundaries (the
                # reference's clock is the batch too,
                # JoinStreaming.scala:118-122)
                if (
                    handle.state is QueryState.RUNNING
                    and spec.duration_ms is not None
                    and (now - handle.started_at) * 1000 >= spec.duration_ms
                ):
                    handle.state = QueryState.COMPLETED
                    self.status_log.append((handle.query_id, Signal.COMPLETE, now))

    def _compile_live(
        self, live: list[tuple["DynamicHandle", Query]]
    ) -> tuple:
        """Build the shared routed plans for the live set — cached across
        batches by _process_batch while the registry is unchanged (Column
        construction is py4j-bound and batch-invariant). Returns
        (aggregation plan or None, RAW plan or None)."""
        agg_live = [
            (h, s) for h, s in live if not isinstance(s.aggregation, RawAgg)
        ]
        raw_live = [(h, s) for h, s in live if isinstance(s.aggregation, RawAgg)]
        return (
            self._compile_agg(agg_live) if agg_live else None,
            self._compile_raw(raw_live) if raw_live else None,
        )

    def _compile_agg(self, live: list[tuple["DynamicHandle", Query]]) -> tuple:
        """The shared routed-aggregation plan: each row EXPLODES to its
        matching query ids, then ONE aggregation groups by (query_id, group
        keys) computing the UNION of (op, field) pairs any live query needs —
        aggregate state per group is #distinct-(op,field) pairs, not
        #queries × ops. Distinct group-by field sets become GROUPING SETS
        over (query_id, union of fields); a row routed to a query exists in
        that query's field set, so group presence itself is the matched-row
        sentinel (a group whose agg inputs are all NULL still surfaces —
        COUNT_FIELD=0 / MIN=NULL, matching plan-per-query). TopK and exact
        CountDistinct group on their field tuple with a count; Distribution
        specs group on a DERIVED bucket column (linear floor(v/width) for
        QUANTILE, point thresholds for PMF/CDF). The explode emits each row
        once per MATCHING query (Σ selectivity), not once per query."""

        def spec_ops(agg) -> list[tuple]:
            if isinstance(agg, GroupAgg):
                return list(agg.operations) or [(AggOp.COUNT, None, "count")]
            if isinstance(agg, CountDistinctAgg) and agg.approx:
                # pseudo-op: one HLL sketch blob per batch over the field
                # tuple; ~1.04/sqrt(2^12) rsd, DataSketches-compatible
                return [(_HLL, "\x1f".join(agg.fields), "hll")]
            return [(AggOp.COUNT, None, "count")]  # TopK / exact CD / Dist

        # derived bucket columns for Distribution specs (one per query)
        derived: list[tuple[str, object]] = []
        key_fields: dict[str, tuple[str, ...]] = {}
        for j, (handle, spec) in enumerate(live):
            agg = spec.aggregation
            if isinstance(agg, DistributionAgg):
                name = f"__bk_q{j}"
                c = F.col(agg.field)
                if agg.type is DistributionType.QUANTILE:
                    bucket = F.when(
                        c.isNotNull(), F.floor(c / F.lit(agg.width)).cast("long")
                    )
                else:
                    from functools import reduce

                    from bullet_spark_spark.plans.compiler import _bucket_points

                    bucket = reduce(
                        lambda acc, p: acc + F.when(c >= F.lit(p), 1).otherwise(0),
                        _bucket_points(agg),
                        F.lit(0),
                    )
                derived.append((name, bucket))
                key_fields[handle.query_id] = (name,)
            elif isinstance(agg, CountDistinctAgg) and agg.approx:
                key_fields[handle.query_id] = ()  # state is the HLL blob
            else:
                key_fields[handle.query_id] = tuple(agg.fields)

        by_fields: dict[tuple[str, ...], list[tuple[DynamicHandle, Query]]] = {}
        for handle, spec in live:
            # key by MEMBERSHIP (sorted), not declaration order: GROUP BY a,b
            # and GROUP BY b,a are the same grouping set, and emitting both
            # would return every group twice with the same grouping_id —
            # the merge loop would then double-count each matching query
            by_fields.setdefault(
                tuple(sorted(key_fields[handle.query_id])), []
            ).append((handle, spec))
        all_fields: list[str] = []
        for fields in by_fields:
            for f in fields:
                if f not in all_fields:
                    all_fields.append(f)
        n = len(all_fields)

        route_col = route({h.query_id: s.filter for h, s in live})

        # union of aggregate columns any query needs, computed once each;
        # AVG decomposes into its mergeable SUM + COUNT_FIELD partials
        # (finalized sink-side), sharing buffers with explicit SUM/COUNT ops
        shared: dict[str, object] = {}
        for _h, spec in live:
            for op, fld, _out in spec_ops(spec.aggregation):
                needed = (
                    [(AggOp.SUM, fld), (AggOp.COUNT_FIELD, fld)]
                    if op is AggOp.AVG
                    else [(op, fld)]
                )
                for op2, fld2 in needed:
                    name = f"{getattr(op2, 'value', op2)}_{fld2 or ''}"
                    if name in shared:
                        continue
                    if op2 is _HLL:
                        cols = fld2.split("\x1f")
                        key = F.concat_ws(
                            "\x1f", *[F.col(cc).cast("string") for cc in cols]
                        )
                        for cc in cols:  # a NULL component voids the tuple
                            key = F.when(F.col(cc).isNotNull(), key)
                        shared[name] = F.hll_sketch_agg(key, F.lit(12))
                    elif op2 is AggOp.COUNT:
                        shared[name] = F.count(F.lit(1))
                    elif op2 is AggOp.COUNT_FIELD:
                        shared[name] = F.count(F.col(fld2))
                    elif op2 is AggOp.SUM:
                        shared[name] = F.sum(F.col(fld2))
                    elif op2 is AggOp.MIN:
                        shared[name] = F.min(F.col(fld2))
                    else:  # MAX (register() rejects anything non-mergeable)
                        shared[name] = F.max(F.col(fld2))
        shared_names = list(shared)
        shared_exprs = [col.alias(f"a_{i}") for i, col in enumerate(shared.values())]
        agg_pos = {name: 1 + n + i for i, name in enumerate(shared_names)}

        # per-query routing: qid -> (handle, key fields, grouping_id,
        # op metadata [(op, row position)])
        n2 = n + 1  # grouping columns: __qid + all_fields
        plans_by_qid: dict[str, tuple] = {}
        gsets: list[list[str]] = []
        for fields, members in by_fields.items():
            gsets.append(["__qid", *fields])
            # grouping_id bitmask over (__qid, *all_fields), MSB first;
            # __qid is in every set so its bit is always 0
            gid = sum(
                1 << (n2 - 1 - (1 + i))
                for i, c in enumerate(all_fields)
                if c not in fields
            )
            for handle, spec in members:
                op_meta = [
                    (
                        op,
                        (
                            agg_pos[f"SUM_{fld}"],
                            agg_pos[f"COUNT_FIELD_{fld}"],
                        )
                        if op is AggOp.AVG
                        else agg_pos[f"{getattr(op, 'value', op)}_{fld or ''}"],
                    )
                    for op, fld, _ in spec_ops(spec.aggregation)
                ]
                plans_by_qid[handle.query_id] = (
                    handle,
                    key_fields[handle.query_id],
                    gid,
                    op_meta,
                )
        return (route_col, all_fields, n, shared_exprs, plans_by_qid, gsets, derived)

    def _compile_raw(self, live: list[tuple["DynamicHandle", Query]]) -> tuple:
        """Routed RAW collection plan: one explode over the raw specs'
        filters; per batch the live remainder caps each query's take
        (bullet Q16 — a RAW query completes at its limit)."""
        return (
            route({h.query_id: s.filter for h, s in live}),
            {h.query_id: h for h, _ in live},
            {h.query_id: s.aggregation.limit for h, s in live},
        )

    @staticmethod
    def _collect_rows(df: DataFrame) -> list:
        """Arrow-batched result transfer: ~5× faster than Row collect for
        the wide-and-short frames this stage produces; nulls stay None
        (to_pylist), types stay native."""
        try:
            tbl = df.toArrow()
            cols = [c.to_pylist() for c in tbl.columns]
            return list(zip(*cols)) if cols and tbl.num_rows else []
        except Exception:
            return [tuple(r) for r in df.collect()]

    def _run_raw(self, batch_df: DataFrame, compiled: tuple) -> None:
        """Routed RAW take: append matched records up to each query's
        remaining limit; reaching the limit completes the query (Q16,
        JoinStreaming.scala:142-146)."""
        route_col, handles_by_qid, limits = compiled
        with self._lock:
            live_now = {
                qid: h
                for qid, h in handles_by_qid.items()
                if h.state is QueryState.RUNNING and len(h.raw_rows) < limits[qid]
            }
        if not live_now:
            return
        from pyspark.sql.window import Window as W_spark

        remaining = F.create_map(
            *[
                F.lit(x)
                for qid, h in live_now.items()
                for x in (qid, limits[qid] - len(h.raw_rows))
            ]
        )
        routed = batch_df.select(route_col.alias("__qid"), "*").filter(
            F.col("__qid").isin(*live_now)
        )
        w = W_spark.partitionBy("__qid").orderBy(F.monotonically_increasing_id())
        picked = (
            routed.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= remaining[F.col("__qid")])
            .drop("__rn")
        )
        rows = self._collect_rows(picked)
        cols = list(batch_df.columns)
        with self._lock:
            for r in rows:
                h = live_now[r[0]]
                if h.raw_columns is None:
                    h.raw_columns = cols
                h.raw_rows.append(tuple(r[1:]))
            now = time.time()
            for qid, h in live_now.items():
                if len(h.raw_rows) >= limits[qid] and h.state is QueryState.RUNNING:
                    del h.raw_rows[limits[qid]:]
                    h.state = QueryState.COMPLETED
                    self.status_log.append((qid, Signal.COMPLETE, now))

    @staticmethod
    def _agg_frame(batch_df: DataFrame, compiled: tuple):
        """The shared routed-aggregation DataFrame for one batch (exposed
        for plan-contract tests); returns (frame, single_gid_or_None)."""
        route_col, all_fields, _n, shared_exprs, plans_by_qid, gsets, derived = compiled
        routed = batch_df.select(
            route_col.alias("__qid"),
            "*",
            *[c.alias(name) for name, c in derived],
        )
        if len(gsets) == 1:
            # single field set: plain groupBy — GROUPING SETS would add an
            # Expand operator (and grouping_id computation) for no routing
            # benefit
            only_gid = next(iter(plans_by_qid.values()))[2]
            return (
                routed.groupBy("__qid", *[F.col(c) for c in all_fields]).agg(
                    *shared_exprs
                ),
                only_gid,
            )
        return (
            routed.groupingSets(gsets, "__qid", *all_fields).agg(
                *shared_exprs, F.grouping_id().alias("__gid")
            ),
            None,
        )

    def _run_grouping_sets(self, batch_df: DataFrame, compiled: tuple) -> None:
        """One aggregation job for EVERY live query across all field sets."""
        _route_col, all_fields, n, _shared_exprs, plans_by_qid, _gsets, _derived = compiled

        frame, only_gid = self._agg_frame(batch_df, compiled)
        if only_gid is not None:
            rows = [(*r, only_gid) for r in self._collect_rows(frame)]
        else:
            rows = self._collect_rows(frame)

        field_pos = {c: 1 + i for i, c in enumerate(all_fields)}
        # merge under the registry lock: the control-plane publisher thread
        # snapshots handle.groups concurrently, and dict insertion during
        # its iteration would raise there
        with self._lock:
            matched: set[str] = set()
            for r in rows:
                raw = list(r)
                entry = plans_by_qid.get(raw[0])
                if entry is None or entry[2] != raw[-1]:
                    continue  # row belongs to another field set's grouping
                handle, fields, _gid, op_meta = entry
                matched.add(handle.query_id)
                key = tuple(raw[field_pos[c]] for c in fields)
                vals = [
                    (raw[pos[0]], raw[pos[1]]) if op is AggOp.AVG else raw[pos]
                    for op, pos in op_meta
                ]
                cur = handle.groups.get(key)
                if cur is None:
                    handle.groups[key] = vals
                else:
                    # None-safe merge: a nullable agg field can yield a
                    # NULL partial for an existing group — never feed
                    # None into sum/min/max. AVG merges its (sum, count)
                    # partial pair component-wise.
                    handle.groups[key] = [
                        _merge_partial(op, a, b)
                        for (op, _pos), a, b in zip(op_meta, cur, vals)
                    ]
            # per-query emit-rate guard, enforced in the shared stage too —
            # the reference checks in BOTH stages (FilterStreaming.scala:
            # 129-133, JoinStreaming.scala:152-159): a batch that updated a
            # query's state counts as one emission
            now = time.time()
            for handle, _fields, _gid, _meta in plans_by_qid.values():
                if (
                    handle.rate_limit is None
                    or handle.query_id not in matched
                    or handle.state is not QueryState.RUNNING
                ):
                    continue
                handle.emit_times.append(now)
                err = handle.rate_limit.check(handle.emit_times, now)
                if err is not None:
                    handle.error = err
                    handle.state = QueryState.FAILED
                    self.status_log.append((handle.query_id, Signal.FAIL, now))

    def start(
        self,
        stream_df: DataFrame,
        trigger_ms: int = 500,
        checkpoint_dir: str | None = None,
        available_now: bool = False,
        timeout_s: float = 120,
    ):
        writer = stream_df.writeStream.foreachBatch(self._process_batch)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        if available_now:
            self._stream = writer.trigger(availableNow=True).start()
            self._stream.awaitTermination(timeout_s)
            for h in self.queries.values():
                if h.state is QueryState.RUNNING:
                    h.state = QueryState.COMPLETED
                    self.status_log.append((h.query_id, Signal.COMPLETE, time.time()))
        else:
            self._stream = writer.trigger(processingTime=f"{trigger_ms} milliseconds").start()
        return self._stream

    def stop(self) -> None:
        if self._stream is not None and self._stream.isActive:
            self._stream.stop()
