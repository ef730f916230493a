"""Dynamic multiplexer: queries added MID-STREAM see only subsequent batches
(the reference's per-batch registry re-broadcast, FilterStreaming.scala:46-53);
removal/kill is immediate; merged partials equal batch answers."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from bullet_spark_spark.functions.exprs import E
from bullet_spark_spark.plans.spec import AggOp, GroupAgg, Query
from bullet_spark_spark.sources.streaming import file_drip
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer
from bullet_spark_spark.streaming.runtime import QueryState


def test_dynamic_merge_equals_batch(spark, tables, tmp_path):
    mux = DynamicMultiplexer(spark)
    h1 = mux.register(
        "by_type",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=GroupAgg(
                fields=["event_type"],
                operations=[(AggOp.COUNT, None, "cnt"), (AggOp.MAX, "value", "mx")],
            ),
        ),
    )
    h2 = mux.register(
        "global",
        Query(
            source="events",
            aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "cnt")]),
        ),
    )
    stream = file_drip(spark, tables["events"], str(tmp_path), chunks=4)
    mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)

    expected = {
        (r["event_type"],): [r["cnt"], r["mx"]]
        for r in tables["events"]
        .filter(F.col("value") > 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.max("value").alias("mx"))
        .collect()
    }
    assert h1.groups == expected
    assert h2.groups[()][0] == tables["events"].count()
    assert h1.state is QueryState.COMPLETED


def test_dynamic_full_op_set(spark, tables, tmp_path):
    """The dynamic (mid-stream-mutation) mode now multiplexes EVERY query
    family — GroupAgg + TopK + exact CountDistinct + Distribution
    (PMF/CDF/QUANTILE-with-width) + RAW — in one routed job per batch,
    matching the reference's every-type filter stage
    (FilterStreaming.scala:54-67)."""
    import math

    from bullet_spark_spark.plans.spec import (
        CountDistinctAgg,
        DistributionAgg,
        DistributionType,
        RawAgg,
        TopKAgg,
    )

    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    mux.register(
        "topk", Query(source="events", aggregation=TopKAgg(fields=["event_type"], k=3))
    )
    mux.register(
        "cd",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"], name="cd"),
        ),
    )
    mux.register(
        "qnt",
        Query(
            source="events",
            filter=E.f("event_type") == "view",
            aggregation=DistributionAgg(
                type=DistributionType.QUANTILE, field="value",
                points=[0.5], width=5.0,
            ),
        ),
    )
    mux.register(
        "cdf",
        Query(
            source="events",
            aggregation=DistributionAgg(
                type=DistributionType.CDF, field="value",
                start=0.0, end=100.0, num_buckets=4,
            ),
        ),
    )
    mux.register(
        "raw",
        Query(
            source="events",
            filter=(E.f("value") > 99) & (E.f("event_type") == "error"),
            aggregation=RawAgg(limit=1_000_000),
        ),
    )
    mux.register(
        "avg",
        Query(
            source="events",
            aggregation=GroupAgg(
                fields=["event_type"],
                operations=[(AggOp.AVG, "value", "av"), (AggOp.COUNT, None, "c")],
            ),
        ),
    )
    stream = file_drip(spark, ev, str(tmp_path), chunks=3)
    mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)

    # TopK vs batch
    exp_topk = [
        (r["event_type"], r["cnt"])
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("event_type")).limit(3).collect()
    ]
    assert mux.queries["topk"].result() == exp_topk

    # CountDistinct vs batch exact
    exp_cd = (
        ev.filter(F.col("value") > 50).select("user_id").distinct()
        .filter(F.col("user_id").isNotNull()).count()
    )
    assert mux.queries["cd"].result() == [(exp_cd,)]

    # QUANTILE vs linear-histogram targeted rank
    vals = sorted(
        r["value"]
        for r in ev.filter(
            (F.col("event_type") == "view") & F.col("value").isNotNull()
        ).select("value").collect()
    )
    counts: dict[int, int] = {}
    for v in vals:
        counts[math.floor(v / 5.0)] = counts.get(math.floor(v / 5.0), 0) + 1
    rank, run, est = max(1, math.ceil(0.5 * len(vals))), 0, None
    for b in sorted(counts):
        run += counts[b]
        if run >= rank:
            est = (b + 0.5) * 5.0
            break
    assert mux.queries["qnt"].result() == [(0.5, est)]

    # CDF monotone, totals match
    cdf = mux.queries["cdf"].result()
    assert cdf[-1][1] == ev.filter(F.col("value").isNotNull()).count()
    assert all(a[1] <= b[1] for a, b in zip(cdf, cdf[1:]))

    # RAW vs batch filter
    exp_raw = sorted(
        r["event_id"]
        for r in ev.filter((F.col("value") > 99) & (F.col("event_type") == "error"))
        .select("event_id").collect()
    )
    h = mux.queries["raw"]
    idx = h.raw_columns.index("event_id")
    assert sorted(r[idx] for r in h.result()) == exp_raw

    # AVG decomposed into mergeable sum+count partials, finalized sink-side
    exp_avg = {
        r["event_type"]: (r["av"], r["c"])
        for r in ev.groupBy("event_type")
        .agg(F.avg("value").alias("av"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    got_avg = {k: (av, c) for k, av, c in mux.queries["avg"].result()}
    assert set(got_avg) == set(exp_avg)
    for k in exp_avg:
        assert got_avg[k][1] == exp_avg[k][1]
        assert abs(got_avg[k][0] - exp_avg[k][0]) < 1e-9


def test_dynamic_raw_limit_completes(spark, tables, tmp_path):
    """A RAW query completes the moment its limit fills (Q16,
    JoinStreaming.scala:142-146) — with exactly limit rows kept."""
    from bullet_spark_spark.plans.spec import RawAgg

    mux = DynamicMultiplexer(spark)
    h = mux.register(
        "raw3", Query(source="events", aggregation=RawAgg(limit=3))
    )
    stream = file_drip(spark, tables["events"], str(tmp_path), chunks=4)
    mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)
    assert len(h.raw_rows) == 3
    assert h.state is QueryState.COMPLETED
    assert any(q == "raw3" and s.value == "COMPLETE" for q, s, _ in mux.status_log)


def test_register_mid_stream(spark, tables, tmp_path):
    """A query registered while the stream runs sees only later batches —
    exactly bullet's forward-looking query semantics (SURVEY §0)."""
    mux = DynamicMultiplexer(spark)
    mux.register(
        "early",
        Query(source="events", aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "c")])),
    )
    stream = file_drip(spark, tables["events"], str(tmp_path), chunks=8)
    mux.start(stream, trigger_ms=400)
    try:
        # wait until some batches processed, then add a second query
        deadline = time.time() + 60
        while not mux.queries["early"].groups and time.time() < deadline:
            time.sleep(0.2)
        late = mux.register(
            "late",
            Query(source="events", aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "c")])),
        )
        deadline = time.time() + 60
        total = tables["events"].count()
        while time.time() < deadline:
            early_n = mux.queries["early"].groups.get((), [0])[0]
            if early_n >= total:
                break
            time.sleep(0.3)
        early_n = mux.queries["early"].groups.get((), [0])[0]
        late_n = late.groups.get((), [0])[0]
        assert early_n == total
        assert 0 < late_n < total  # forward-looking: missed earlier batches
    finally:
        mux.stop()


def test_kill_immediate(spark, tables, tmp_path):
    mux = DynamicMultiplexer(spark)
    h = mux.register(
        "victim",
        Query(source="events", aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "c")])),
    )
    mux.kill("victim")
    stream = file_drip(spark, tables["events"], str(tmp_path), chunks=2)
    mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)
    assert h.groups == {}  # never evaluated after kill
    assert h.state is QueryState.KILLED


def test_null_partial_merge(spark):
    """A later batch yielding a NULL aggregate for an existing group must not
    crash the merge (nullable agg fields make this ordinary data)."""
    mux = DynamicMultiplexer(spark)
    h = mux.register(
        "sums",
        Query(
            source="x",
            aggregation=GroupAgg(
                fields=["k"],
                operations=[(AggOp.SUM, "v", "sv"), (AggOp.MIN, "v", "mn")],
            ),
        ),
    )
    b1 = spark.createDataFrame([("a", 3.0), ("b", None)], "k string, v double")
    b2 = spark.createDataFrame([("a", None), ("b", 2.0)], "k string, v double")
    mux._process_batch(b1, 0)
    mux._process_batch(b2, 1)
    assert h.groups[("a",)] == [3.0, 3.0]
    assert h.groups[("b",)] == [2.0, 2.0]


def test_shared_fieldset_batches_into_one_job(spark, monkeypatch):
    """ALL live queries run as ONE grouping-sets aggregation per
    micro-batch (filters become when(pred,...) guards, field sets become
    GROUPING SETS) — job count per batch is 1, not #queries or even
    #distinct-fieldsets."""
    from pyspark.sql.classic.dataframe import DataFrame  # concrete class in Spark 4

    mux = DynamicMultiplexer(spark)
    for i in range(3):
        mux.register(
            f"q{i}",
            Query(
                source="x",
                filter=E.f("v") > i * 2,
                aggregation=GroupAgg(fields=["k"], operations=[(AggOp.COUNT, None, "c"), (AggOp.SUM, "v", "s")]),
            ),
        )
    mux.register(
        "global",
        Query(source="x", aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "c")])),
    )
    batch = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0)], "k string, v double"
    )
    calls = []
    orig_collect = DataFrame.collect
    orig_arrow = DataFrame.toArrow
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (calls.append(1), orig_collect(self))[1]
    )
    monkeypatch.setattr(
        DataFrame, "toArrow", lambda self: (calls.append(1), orig_arrow(self))[1]
    )
    mux._process_batch(batch, 0)
    assert len(calls) == 1  # ["k"] sets + [] set share ONE grouping-sets job
    assert mux.queries["q0"].groups == {("a",): [2, 4.0], ("b",): [1, 5.0]}  # v>0
    assert mux.queries["q1"].groups == {("a",): [1, 3.0], ("b",): [1, 5.0]}  # v>2
    assert mux.queries["q2"].groups == {("b",): [1, 5.0]}  # v>4: group a absent
    assert mux.queries["global"].groups == {(): [3]}


def test_dynamic_group_with_all_null_agg_inputs_survives(spark):
    """A group whose matched rows carry only NULL agg inputs must still be
    emitted (matching a plan-per-query run) — the matched decision comes
    from an explicit filter-hit sentinel, not from the agg outputs."""
    from bullet_spark_spark.plans import AggOp, GroupAgg, Query
    from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer

    mux = DynamicMultiplexer(spark)
    h = mux.register(
        "q_null",
        Query(
            source="mem",
            aggregation=GroupAgg(
                fields=["k"], operations=[(AggOp.MIN, "x", "mn"), (AggOp.COUNT_FIELD, "x", "cf")]
            ),
        ),
    )
    batch = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 5.0)], "k string, x double"
    )
    mux._process_batch(batch, 0)
    assert h.groups[("a",)] == [None, 0]  # matched rows, NULL min, zero count_field
    assert h.groups[("b",)] == [5.0, 1]


def test_dynamic_mux_rate_limit_fail(spark, tables, tmp_path):
    """W9 on the shared-stage mode: a dynamic-mux query that updates state
    in more micro-batches than its emit budget allows FAILs with a FAIL
    signal, while other queries on the same stream keep running — the
    reference enforces the rate guard in both stages
    (FilterStreaming.scala:129-133, JoinStreaming.scala:152-159)."""
    from bullet_spark_spark.streaming.runtime import RateLimit, Signal

    mux = DynamicMultiplexer(spark)
    throttled = mux.register(
        "throttled",
        Query(
            source="events",
            aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
        ),
        rate_limit=RateLimit(max_emits=2, interval_ms=60_000),
    )
    unlimited = mux.register(
        "unlimited",
        Query(
            source="events",
            aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "c")]),
        ),
    )
    stream = file_drip(spark, tables["events"], str(tmp_path), chunks=8)
    mux.start(stream, trigger_ms=100, checkpoint_dir=str(tmp_path / "ck"))
    try:
        deadline = time.time() + 60
        while throttled.state is QueryState.RUNNING and time.time() < deadline:
            time.sleep(0.2)
        assert throttled.state is QueryState.FAILED
        assert "rate limit" in (throttled.error or "")
        assert ("throttled", Signal.FAIL) in [(q, s) for q, s, _ in mux.status_log]
        # failed query stops being evaluated; its sibling keeps merging
        frozen = dict(throttled.groups)
        deadline = time.time() + 60
        while (
            unlimited.groups.get((), [0])[0] != tables["events"].count()
            and time.time() < deadline
        ):
            time.sleep(0.2)
        assert unlimited.groups[()][0] == tables["events"].count()
        assert throttled.groups == frozen
        assert unlimited.state is QueryState.RUNNING
    finally:
        mux.stop()


def test_dynamic_approx_count_distinct_hll(spark, tables, tmp_path):
    """Approx COUNT DISTINCT in the shared routed stage: hll_sketch_agg
    blobs ride the same aggregation (one per batch), accumulate driver-
    side, and union at emit — the byte-blob partial contract
    (FilterStreaming.scala:124 getData / JoinStreaming.scala:126 combine)
    on DataSketches-compatible state. At the fixture's cardinality the
    sketch is in exact (sparse) mode, so the estimate must EQUAL the
    exact distinct count despite the multi-batch merge; an exact-CD query
    and a GroupAgg run alongside to prove buffer sharing still routes."""
    from bullet_spark_spark.plans.spec import CountDistinctAgg

    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    mux.register(
        "acd",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"], approx=True),
        ),
    )
    mux.register(
        "ecd",
        Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"]),
        ),
    )
    mux.register(
        "g",
        Query(
            source="events",
            aggregation=GroupAgg(
                fields=["event_type"],
                operations=[(AggOp.COUNT, None, "n")],
            ),
        ),
    )
    stream = file_drip(spark, ev, str(tmp_path), chunks=4)
    mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)

    exact = ev.filter(F.col("value") > 50).select("user_id").distinct().count()
    assert mux.queries["ecd"].result() == [(exact,)]
    # 4 batches -> 4 blobs merged; sparse-mode HLL is exact at this n
    assert mux.queries["acd"].result() == [(exact,)]
    got_g = {r[0]: r[1] for r in mux.queries["g"].result()}
    expect_g = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got_g == expect_g
