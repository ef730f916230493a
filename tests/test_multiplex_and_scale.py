"""Multiplexer, salted aggregation, concurrent queries, checkpoint recovery —
the scale-posture behaviors (SURVEY §7.3)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from bullet_spark_spark.functions.exprs import E
from bullet_spark_spark.operators.multiplex import multiplex_filter, multiplex_partials, route
from bullet_spark_spark.operators.relational import salted_group_agg
from bullet_spark_spark.plans.spec import AggOp, GroupAgg, Query
from bullet_spark_spark.sources.streaming import file_drip
from bullet_spark_spark.streaming import EngineRuntime, QueryState
from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer


@pytest.mark.parametrize("suffix", ["", "'"], ids=["sql_fast_path", "per_node_fallback"])
def test_multiplex_filter_matches_individual(spark, tables, suffix):
    """Both routing builds give the same counts: the one-string SQL fast
    path, and the per-node Column path a quote in a query id forces."""
    ev = tables["events"]
    preds = {
        "q_hi" + suffix: E.f("value") > 90,
        "q_purchase" + suffix: E.f("event_type") == "purchase",
        "q_all" + suffix: None,
        "q_none" + suffix: E.f("value") > 1000,
    }
    assert ("array_compact" in str(route(preds))) == (suffix == "")
    routed = multiplex_filter(ev, preds)
    counts = {r["query_id"]: r["n"] for r in routed.groupBy("query_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts.get("q_hi" + suffix) == ev.filter(F.col("value") > 90).count()
    assert counts.get("q_purchase" + suffix) == ev.filter(F.col("event_type") == "purchase").count()
    assert counts.get("q_all" + suffix) == ev.count()
    assert "q_none" + suffix not in counts


def test_multiplex_single_scan(spark, tables):
    """The point of the multiplexer: one parquet scan for N queries."""
    ev = tables["events"]
    routed = multiplex_filter(ev, {f"q{i}": E.f("value") > i * 10 for i in range(8)})
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 1


def test_multiplex_partials_group_count(spark, tables):
    ev = tables["events"]
    out = multiplex_partials(
        ev,
        {
            "by_type": Query(
                source="events", filter=E.f("value") > 50,
                aggregation=GroupAgg(fields=["event_type"]),
            ),
            "by_user_mod": Query(source="events", aggregation=GroupAgg(fields=["user_id"])),
        },
    )
    rows = out.collect()
    by_type = {r["keys"]["event_type"]: r["count_"] for r in rows if r["query_id"] == "by_type"}
    expected = {
        r["event_type"]: r["n"]
        for r in ev.filter(F.col("value") > 50).groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert by_type == expected
    n_users = len([r for r in rows if r["query_id"] == "by_user_mod"])
    assert n_users == ev.select("user_id").distinct().count()


def test_salted_group_agg_under_skew(spark, tables):
    """Correctness under a manufactured heavy-hitter key (one key = ~90% of
    rows) — the shape AQE does NOT rebalance for aggregations."""
    ev = tables["events"]
    hot = ev.withColumn("event_type", F.lit("HOT"))
    skewed = ev.unionByName(hot).unionByName(hot)
    got = {
        r["event_type"]: r["cnt"]
        for r in salted_group_agg(skewed, ["event_type"], [("count", None, "cnt")], salt_buckets=16).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in skewed.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want
    assert got["HOT"] == 2 * ev.count()


def test_salted_skew_join_equals_plain_join(spark, tables):
    """Salted join == plain join under a manufactured hot key (90% of fact
    rows on one orderkey); every match pairs on exactly one salt value, so
    multiplicities survive exactly."""
    from bullet_spark_spark.operators.relational import salted_skew_join

    li = tables["lineitem"].select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    hot_key = tables["orders"].agg(F.min("o_orderkey")).collect()[0][0]
    hot = li.withColumn("o_orderkey", F.lit(hot_key))
    fact = li.unionByName(hot).unionByName(hot)  # ~2/3 of rows on one key
    dim = tables["orders"].select("o_orderkey", "o_orderpriority")

    got = (
        salted_skew_join(fact, dim, "o_orderkey", salt_buckets=8)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
    )
    want = (
        fact.join(dim, "o_orderkey")
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s"))
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    # outer flavors keep unmatched rows exactly once per fact row
    lo = salted_skew_join(fact, dim.filter(F.col("o_orderkey") % 2 == 0), "o_orderkey", 8, how="left")
    assert lo.count() == fact.join(dim.filter(F.col("o_orderkey") % 2 == 0), "o_orderkey", "left").count()


def test_salted_group_agg_equivalence(spark, tables):
    ev = tables["events"]
    salted = {
        (r["event_type"],): (r["cnt"], r["sv"], r["mx"])
        for r in salted_group_agg(
            ev, ["event_type"],
            [("count", None, "cnt"), ("sum", "value", "sv"), ("max", "value", "mx")],
            salt_buckets=8,
        ).collect()
    }
    plain = {
        (r["event_type"],): (r["cnt"], r["sv"], r["mx"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"), F.max("value").alias("mx"))
        .collect()
    }
    assert set(salted) == set(plain)
    for k in plain:
        assert salted[k][0] == plain[k][0]
        assert abs(salted[k][1] - plain[k][1]) < 1e-6
        assert salted[k][2] == plain[k][2]


def test_concurrent_queries_shared_source(spark, tables, tmp_path):
    """Bullet's raison d'être: N live queries multiplexed over one stream
    (ref FilterStreaming.scala:24) — here as N concurrent plans; each has
    independent lifecycle and results."""
    rt = EngineRuntime(spark)
    try:
        stream = file_drip(spark, tables["events"], str(tmp_path), chunks=4)
        specs = {
            "by_type": Query(
                source="events",
                aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.COUNT, None, "cnt")]),
            ),
            "hi_only": Query(
                source="events",
                filter=E.f("value") > 90,
                aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "cnt")]),
            ),
            "sum_by_user_parity": Query(
                source="events",
                aggregation=GroupAgg(fields=["event_type"], operations=[(AggOp.SUM, "value", "sv")]),
            ),
        }
        handles = {name: rt.register(spec, stream, trigger_ms=150) for name, spec in specs.items()}
        assert rt.metrics()["queries_running"] == 3
        deadline = time.time() + 90
        while time.time() < deadline:
            if all(h.sink.num_emissions >= 1 for h in handles.values()):
                break
            time.sleep(0.3)
        for name, h in handles.items():
            assert h.sink.num_emissions >= 1, f"{name} never emitted"
        rt.kill(handles["by_type"].query_id)
        assert handles["by_type"].state is QueryState.KILLED
        assert handles["hi_only"].is_active()
        m = rt.metrics()
        assert m["queries_received"] == 3 and m["queries_killed"] == 1
    finally:
        rt.stop_all()


def test_streaming_multiplexer(spark, tables, tmp_path):
    """N queries, ONE streaming stage (the reference's FilterStreaming role):
    results route to per-query handles and match per-query batch answers."""
    mux = DynamicMultiplexer(spark)
    try:
        stream = file_drip(spark, tables["events"], str(tmp_path), chunks=4)
        specs = {
            "hi_by_type": Query(
                source="events",
                filter=E.f("value") > 50,
                aggregation=GroupAgg(fields=["event_type"]),
            ),
            "purchases": Query(
                source="events",
                filter=E.f("event_type") == "purchase",
                aggregation=GroupAgg(fields=[]),
            ),
        }
        handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
        mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)
        assert all(h.state.value == "COMPLETED" for h in handles.values())

        # partials merged across batches: one row per key tuple
        final = {}
        for event_type, cnt in handles["hi_by_type"].result():
            final[event_type] = cnt
        expected = {
            r["event_type"]: r["n"]
            for r in tables["events"]
            .filter(F.col("value") > 50)
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        assert final == expected

        p_final = handles["purchases"].result()
        n_purchases = tables["events"].filter(F.col("event_type") == "purchase").count()
        assert p_final[-1][0] == n_purchases
    finally:
        mux.stop()


def test_streaming_multiplexer_with_ops(spark, tables, tmp_path):
    """Shared stage with heterogeneous op lists: each handle receives
    exactly its spec's outputs, computed in the one shared aggregation."""
    from bullet_spark_spark.plans.spec import AggOp

    mux = DynamicMultiplexer(spark)
    try:
        stream = file_drip(spark, tables["events"], str(tmp_path), chunks=3)
        specs = {
            "sum_by_type": Query(
                source="events",
                aggregation=GroupAgg(
                    fields=["event_type"],
                    operations=[(AggOp.SUM, "value", "sv"), (AggOp.MAX, "value", "mx")],
                ),
            ),
            "cnt_hi": Query(
                source="events",
                filter=E.f("value") > 80,
                aggregation=GroupAgg(fields=[], operations=[(AggOp.COUNT, None, "n")]),
            ),
        }
        handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
        mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)
        # (event_type, sv, mx): the one key, then exactly the spec's two ops
        rows = handles["sum_by_type"].result()
        assert {len(r) for r in rows} == {3}
        final = {}
        for event_type, sv, mx in rows:
            final[event_type] = (sv, mx)
        expected = {
            r["event_type"]: (r["sv"], r["mx"])
            for r in tables["events"]
            .groupBy("event_type")
            .agg(F.sum("value").alias("sv"), F.max("value").alias("mx"))
            .collect()
        }
        assert set(final) == set(expected)
        for k in expected:
            assert abs(final[k][0] - expected[k][0]) < 1e-6
            assert final[k][1] == expected[k][1]
        n_hi = tables["events"].filter(F.col("value") > 80).count()
        assert handles["cnt_hi"].result()[-1][0] == n_hi
    finally:
        mux.stop()


def test_multiplexer_kill_is_sink_side(spark, tables, tmp_path):
    """Killing one multiplexed query must not stop the shared stage."""
    mux = DynamicMultiplexer(spark)
    try:
        stream = file_drip(spark, tables["events"], str(tmp_path), chunks=8)
        specs = {
            "a": Query(source="events", aggregation=GroupAgg(fields=["event_type"])),
            "b": Query(source="events", aggregation=GroupAgg(fields=[])),
        }
        handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
        mux.start(stream, trigger_ms=150)
        mux.kill("a")
        assert handles["a"].state.value == "KILLED"
        assert handles["b"].state is QueryState.RUNNING
        assert mux._stream.isActive  # shared stage survives
        deadline = time.time() + 60
        while not handles["b"].result() and time.time() < deadline:
            time.sleep(0.2)
        assert handles["b"].result()  # b still receives results
        assert not handles["a"].result() or handles["a"].state.value == "KILLED"
    finally:
        mux.stop()


def test_bucketed_join_no_shuffle(spark, tables, tmp_path):
    """Co-located join: both fact tables bucketed+sorted on the join key →
    SortMergeJoin with NO Exchange on either side (the bucketing strategy
    that turns the repeated fact⋈fact shuffle into a free join at 100 TB)."""
    li = tables["lineitem"].select("l_orderkey", "l_extendedprice")
    orders = tables["orders"].select("o_orderkey", "o_orderpriority")
    (
        li.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("li_bucketed")
    )
    (
        orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("ord_bucketed")
    )
    # at this tiny sf AQE would broadcast; disable so the plan shows the
    # bucket-driven SMJ a real fact⋈fact would use
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bucketed").join(
            spark.table("ord_bucketed"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucket layout satisfies distribution
        assert j.count() == li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS li_bucketed")
        spark.sql("DROP TABLE IF EXISTS ord_bucketed")


def test_checkpoint_recovery(spark, tables, tmp_path):
    """P12: a query restarted on the same checkpoint resumes from its offset
    instead of reprocessing (ref StreamingContext.getOrCreate,
    BulletSparkStreamingBaseJob.scala:30-38)."""
    import os

    from bullet_spark_spark.streaming.sinks import MemorySink

    data_dir = str(tmp_path / "src")
    os.makedirs(data_dir)
    ck = str(tmp_path / "ck")
    ev = tables["events"].select("event_id", "event_type", "value")
    ev.filter(F.col("event_id") < 500).write.mode("append").parquet(data_dir)

    def run_once(sink):
        stream = (
            spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(data_dir)
        )
        q = (
            stream.writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    first = MemorySink()
    run_once(first)
    n_first = len(first.rows)
    assert n_first == ev.filter(F.col("event_id") < 500).count()

    # new data lands; a restarted query must process ONLY the new files
    ev.filter(F.col("event_id") >= 500).write.mode("append").parquet(data_dir)
    second = MemorySink()
    run_once(second)
    n_second = len(second.rows)
    assert n_second == ev.filter(F.col("event_id") >= 500).count()
    ids = {r[0] for r in second.rows}
    assert all(i >= 500 for i in ids)


def test_multiplexer_full_op_set(spark, tables, tmp_path):
    """The reference multiplexes EVERY query type in one pass
    (FilterStreaming.scala:54-67, categorize :105-110): one shared stage runs
    RAW + TopK + GroupAgg(with AVG) + Distribution CDF + COUNT DISTINCT +
    QUANTILE together, and each query's result matches its plan-per-query
    batch answer (the reference's filter stage produces mergeable partials
    for every aggregation type, FilterStreaming.scala:124)."""
    from bullet_spark_spark.plans.spec import (
        CountDistinctAgg,
        DistributionAgg,
        DistributionType,
        RawAgg,
        TopKAgg,
    )

    mux = DynamicMultiplexer(spark)
    try:
        ev = tables["events"]
        stream = file_drip(spark, ev, str(tmp_path), chunks=4)
        specs = {
            "grp": Query(
                source="events",
                filter=E.f("value") > 50,
                aggregation=GroupAgg(
                    fields=["event_type"],
                    operations=[
                        (AggOp.COUNT, None, "cnt"),
                        (AggOp.SUM, "value", "sv"),
                        (AggOp.AVG, "value", "av"),
                        (AggOp.MIN, "value", "mn"),
                    ],
                ),
            ),
            "topk": Query(
                source="events",
                aggregation=TopKAgg(fields=["event_type"], k=3, name="cnt"),
            ),
            "cdf": Query(
                source="events",
                aggregation=DistributionAgg(
                    type=DistributionType.CDF, field="value",
                    start=0.0, end=100.0, num_buckets=4,
                ),
            ),
            "raw": Query(
                source="events",
                filter=(E.f("value") > 99) & (E.f("event_type") == "error"),
                aggregation=RawAgg(limit=1_000_000),
            ),
            "cd": Query(
                source="events",
                filter=E.f("value") > 50,
                aggregation=CountDistinctAgg(fields=["user_id"], name="cd"),
            ),
            "qnt": Query(
                source="events",
                filter=E.f("event_type") == "view",
                aggregation=DistributionAgg(
                    type=DistributionType.QUANTILE, field="value",
                    points=[0.5, 0.9], width=5.0,
                ),
            ),
        }
        handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
        mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)
        assert all(h.state.value == "COMPLETED" for h in handles.values())

        # GroupAgg vs batch
        exp = {
            r["event_type"]: (r["cnt"], r["sv"], r["av"], r["mn"])
            for r in ev.filter(F.col("value") > 50)
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"),
                F.avg("value").alias("av"), F.min("value").alias("mn"),
            )
            .collect()
        }
        got = {
            event_type: (cnt, sv, av, mn)
            for event_type, cnt, sv, av, mn in handles["grp"].result()
        }
        assert set(got) == set(exp)
        for k in exp:
            assert got[k][0] == exp[k][0] and got[k][3] == exp[k][3]
            assert abs(got[k][1] - exp[k][1]) < 1e-6
            assert abs(got[k][2] - exp[k][2]) < 1e-9

        # TopK vs batch
        exp_topk = [
            (r["event_type"], r["cnt"])
            for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("event_type")).limit(3).collect()
        ]
        got_topk = [(k, c) for k, c in handles["topk"].result()]
        assert got_topk == exp_topk

        # CDF vs compiled batch plan
        from bullet_spark_spark.plans import compile_query

        exp_cdf = [
            (r["bucket"], r["cum_count"])
            for r in compile_query(spark, specs["cdf"]).collect()
        ]
        assert handles["cdf"].result() == exp_cdf

        # RAW vs batch filter
        exp_raw = sorted(
            r["event_id"]
            for r in ev.filter((F.col("value") > 99) & (F.col("event_type") == "error"))
            .select("event_id").collect()
        )
        idx = handles["raw"].raw_columns.index("event_id")
        got_raw = sorted(r[idx] for r in handles["raw"].result())
        assert got_raw == exp_raw

        # COUNT DISTINCT vs batch exact
        exp_cd = (
            ev.filter(F.col("value") > 50)
            .select("user_id").distinct().filter(F.col("user_id").isNotNull())
            .count()
        )
        assert handles["cd"].result() == [(exp_cd,)]

        # QUANTILE vs batch-side linear-histogram targeted rank
        import math

        vals = sorted(
            r["value"]
            for r in ev.filter(
                (F.col("event_type") == "view") & F.col("value").isNotNull()
            ).select("value").collect()
        )
        counts: dict[int, int] = {}
        for v in vals:
            counts[math.floor(v / 5.0)] = counts.get(math.floor(v / 5.0), 0) + 1
        exp_q = []
        for p in (0.5, 0.9):
            rank, run = max(1, math.ceil(p * len(vals))), 0
            for b in sorted(counts):
                run += counts[b]
                if run >= rank:
                    exp_q.append((p, (b + 0.5) * 5.0))
                    break
        assert handles["qnt"].result() == exp_q
    finally:
        mux.stop()


def test_multiplexer_raw_limit_completes(spark, tables, tmp_path):
    """A multiplexed RAW query stops at its limit and is marked COMPLETED
    without stopping the shared stage."""
    from bullet_spark_spark.plans.spec import RawAgg

    mux = DynamicMultiplexer(spark)
    try:
        stream = file_drip(spark, tables["events"], str(tmp_path), chunks=8)
        specs = {
            "raw5": Query(source="events", aggregation=RawAgg(limit=5)),
            "grp": Query(source="events", aggregation=GroupAgg(fields=["event_type"])),
        }
        handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
        mux.start(stream, trigger_ms=150)
        deadline = time.time() + 60
        while handles["raw5"].state is QueryState.RUNNING and time.time() < deadline:
            time.sleep(0.2)
        assert handles["raw5"].state is QueryState.COMPLETED
        assert len(handles["raw5"].result()) == 5
        assert handles["grp"].state is QueryState.RUNNING
        assert mux._stream.isActive  # shared stage survives
    finally:
        mux.stop()


def test_multiplexer_rate_limit_fail(spark, tables, tmp_path):
    """W9 on the shared stage: a query exceeding the stage's emit budget is
    FAILed (error → FAIL signal for that handle) — two-stage rate
    enforcement parity (FilterStreaming.scala:129-133,
    JoinStreaming.scala:152-159)."""
    from bullet_spark_spark.streaming.runtime import RateLimit, Signal

    mux = DynamicMultiplexer(spark, rate_limit=RateLimit(max_emits=2, interval_ms=60_000))
    try:
        stream = file_drip(spark, tables["events"], str(tmp_path), chunks=8)
        specs = {
            "throttled": Query(
                source="events",
                aggregation=GroupAgg(fields=["event_type"]),
            ),
            "grp": Query(source="events", aggregation=GroupAgg(fields=[])),
        }
        handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
        mux.start(stream, trigger_ms=100)
        deadline = time.time() + 60
        while handles["throttled"].state is QueryState.RUNNING and time.time() < deadline:
            time.sleep(0.2)
        assert handles["throttled"].state is QueryState.FAILED
        assert "rate limit" in (handles["throttled"].error or "")
        assert ("throttled", Signal.FAIL) in [
            (q, s) for q, s, _ in mux.status_log
        ]
    finally:
        mux.stop()


def test_multiplexed_approx_count_distinct(spark, tables, tmp_path):
    """Approx COUNT DISTINCT in the shared stage: one HLL blob per batch
    rides the shared aggregation (empty key tuple — the query's state is
    the blob, not the key set), blobs append across batches, one
    hll_union_agg job finalizes. Sparse-mode HLL is exact at
    the fixture's cardinality, so the estimate must equal the exact-CD
    answer running alongside in the same shared stage."""
    from bullet_spark_spark.functions.exprs import E
    from bullet_spark_spark.plans.spec import CountDistinctAgg, GroupAgg, Query
    from bullet_spark_spark.sources.streaming import file_drip

    ev = tables["events"]
    mux = DynamicMultiplexer(spark)
    specs = {
        "acd": Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"], approx=True),
        ),
        "ecd": Query(
            source="events",
            filter=E.f("value") > 50,
            aggregation=CountDistinctAgg(fields=["user_id"]),
        ),
        "g": Query(
            source="events",
            aggregation=GroupAgg(
                fields=["event_type"], operations=[(AggOp.COUNT, None, "n")]
            ),
        ),
    }
    stream = file_drip(spark, ev, str(tmp_path), chunks=4)
    handles = {qid: mux.register(qid, spec) for qid, spec in specs.items()}
    mux.start(stream, checkpoint_dir=str(tmp_path / "ck"), available_now=True)
    mux.stop()

    exact = ev.filter(F.col("value") > 50).select("user_id").distinct().count()
    final_ecd = handles["ecd"].result()
    final_acd = handles["acd"].result()
    assert final_ecd == [(exact,)]
    assert final_acd == [(exact,)]
