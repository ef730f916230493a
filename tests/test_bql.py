"""BQL-subset parser tests: text → spec round-trips, parse errors, and
differential equivalence between BQL-compiled plans and hand-built specs
(the bullet-bql front door, exercised by the reference via serialized Query
objects — BulletSparkStreamingBaseJobTest.scala:40-41)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bullet_spark_spark.plans.bql import BQLError, parse_bql
from bullet_spark_spark.plans.spec import (
    AggOp,
    CountDistinctAgg,
    DistributionAgg,
    DistributionType,
    GroupAgg,
    RawAgg,
    TopKAgg,
    WindowUnit,
)
from bullet_spark_spark.sql import bql


def test_raw_query_spec():
    q = parse_bql("SELECT * FROM STREAM(30000, TIME) WHERE value > 50 LIMIT 10")
    assert isinstance(q.aggregation, RawAgg) and q.aggregation.limit == 10
    assert q.duration_ms == 30000
    assert q.source == "stream"
    assert q.filter is not None


def test_projection_spec():
    q = parse_bql("SELECT event_id, value * 2 AS v2 FROM events")
    assert q.projection.fields is not None
    names = [n for n, _ in q.projection.fields]
    assert names == ["event_id", "v2"]


def test_group_agg_spec():
    q = parse_bql(
        "SELECT event_type, COUNT(*) AS cnt, SUM(value) AS sv "
        "FROM events WHERE value > 50 GROUP BY event_type "
        "HAVING cnt > 5 ORDER BY cnt DESC LIMIT 3"
    )
    agg = q.aggregation
    assert isinstance(agg, GroupAgg)
    assert list(agg.fields) == ["event_type"]
    assert (AggOp.COUNT, None, "cnt") in list(agg.operations)
    assert (AggOp.SUM, "value", "sv") in list(agg.operations)
    assert len(q.post_aggregations) == 2


def test_count_distinct_top_distribution_specs():
    q = parse_bql("SELECT COUNT(DISTINCT user_id) AS cd FROM events")
    assert isinstance(q.aggregation, CountDistinctAgg)
    assert q.aggregation.name == "cd"

    q = parse_bql("SELECT TOP(3, event_type) FROM events")
    assert isinstance(q.aggregation, TopKAgg) and q.aggregation.k == 3

    q = parse_bql("SELECT TOP(5, 100, event_type) FROM events")
    assert q.aggregation.threshold == 100

    q = parse_bql("SELECT QUANTILE(value, LINEAR, 5) FROM events")
    agg = q.aggregation
    assert isinstance(agg, DistributionAgg) and agg.type is DistributionType.QUANTILE
    assert agg.points == [0.0, 0.25, 0.5, 0.75, 1.0]

    q = parse_bql("SELECT FREQ(value, REGION, 0, 100, 25) FROM events")
    assert q.aggregation.type is DistributionType.PMF
    assert q.aggregation.points == [0.0, 25.0, 50.0, 75.0, 100.0]

    q = parse_bql("SELECT CUMFREQ(value, MANUAL, 0, 50, 100) FROM events")
    assert q.aggregation.type is DistributionType.CDF


def test_windowing_spec():
    q = parse_bql(
        "SELECT COUNT(*) AS c FROM STREAM() GROUP BY dummy "
        "WINDOWING EVERY(5000, TIME, ALL)"
    )
    assert q.window.emit_every == 5000
    assert q.window.emit_unit is WindowUnit.TIME
    assert q.window.include is WindowUnit.ALL

    q = parse_bql("SELECT COUNT(*) AS c FROM STREAM() WINDOWING TUMBLING(50, RECORD)")
    assert q.window.emit_unit is WindowUnit.RECORD and q.window.include is None


def test_expression_surface():
    q = parse_bql(
        "SELECT * FROM events WHERE (value BETWEEN 10 AND 20 OR event_type IN "
        "('a', 'b')) AND NOT (user_id = 7) AND props IS NOT NULL "
        "AND event_type RLIKE '^p' AND ABS(value - 50) < 10"
    )
    assert q.filter is not None  # compilability checked in the spark test


def test_parse_errors():
    with pytest.raises(BQLError):
        parse_bql("SELECT FROM events")
    with pytest.raises(BQLError):
        parse_bql("SELECT value FROM events GROUP BY other")  # non-agg not in group
    with pytest.raises(BQLError):
        parse_bql("SELECT COUNT(*) AS c, TOP(3, f) FROM events")  # TOP not combinable
    with pytest.raises(BQLError):
        parse_bql("SELECT * FROM events WHERE value >")


def test_bql_matches_dataframe(spark, tables):
    got = bql(
        spark,
        "SELECT event_type, COUNT(*) AS cnt, SUM(value) AS sv FROM events "
        "WHERE value > 50 GROUP BY event_type HAVING cnt > 5 ORDER BY cnt DESC",
    ).collect()
    exp = (
        tables["events"]
        .filter(F.col("value") > 50)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sv"))
        .filter(F.col("cnt") > 5)
        .orderBy(F.col("cnt").desc())
        .collect()
    )
    assert [(r["event_type"], r["cnt"]) for r in got] == [
        (r["event_type"], r["cnt"]) for r in exp
    ]
    for g, e in zip(got, exp):
        assert abs(g["sv"] - e["sv"]) < 1e-6


def test_bql_nested_field_and_functions(spark, tables):
    df = bql(
        spark,
        "SELECT event_id, UPPER(event_type) AS et, CAST(value AS int) AS vi "
        "FROM events WHERE user_id < 10 LIMIT 100000",
    )
    rows = df.collect()
    assert rows and all(r["et"] == r["et"].upper() for r in rows)


def test_bql_raw_filter_matches(spark, tables):
    got = bql(
        spark,
        "SELECT event_id FROM events WHERE value > 99 AND event_type = 'error' "
        "LIMIT 100000",
    )
    exp = (
        tables["events"]
        .filter((F.col("value") > 99) & (F.col("event_type") == "error"))
        .select("event_id")
    )
    assert sorted(r[0] for r in got.collect()) == sorted(r[0] for r in exp.collect())


def test_region_and_linear_validation():
    """Malformed distribution specs raise BQLError instead of looping
    forever (step<=0) or ZeroDivisionError (LINEAR 1)."""
    import pytest

    from bullet_spark_spark.plans.bql import BQLError, parse_bql

    for bad in [
        "SELECT FREQ(value, REGION, 0, 1, 0) FROM STREAM()",
        "SELECT FREQ(value, REGION, 0, 1, -5) FROM STREAM()",
        "SELECT CUMFREQ(value, REGION, 5, 1, 1) FROM STREAM()",
        "SELECT QUANTILE(value, LINEAR, 0) FROM STREAM()",
        "SELECT QUANTILE(value, LINEAR, 99999) FROM STREAM()",
        "SELECT FREQ(value, REGION, 0, 1000000, 0.001) FROM STREAM()",
    ]:
        with pytest.raises(BQLError):
            parse_bql(bad)

    spec = parse_bql("SELECT QUANTILE(value, LINEAR, 1) FROM STREAM()")
    assert list(spec.aggregation.points) == [0.0]


def test_modulo_in_where(spark, tables, duck):
    """BQL % operator end-to-end: parse -> compile -> oracle match."""
    from tests.util import assert_match

    from bullet_spark_spark.sql import bql

    out = bql(
        spark,
        "SELECT user_id, COUNT(*) AS n FROM events "
        "WHERE user_id % 13 = 3 GROUP BY user_id",
    )
    assert_match(
        out, duck,
        "SELECT user_id, count(*) AS n FROM events WHERE user_id % 13 = 3 GROUP BY user_id",
    )


def test_container_ops_via_text(spark):
    """FILTER(list, mask), SIZEIS, list membership ``IN``, and RLIKE ANY
    reach the full §2.3 container surface through the text front door, and
    compile to the same results as the programmatic Expr API."""
    from bullet_spark_spark.functions.exprs import E

    df = spark.createDataFrame(
        [
            (1, ["alpha", "be", "gamma"], [True, False, True], ["^al", "^xx"]),
            (2, ["query", "x"], [False, True], ["^zz"]),
            (3, ["nope"], [False], ["^zz"]),
        ],
        "id long, toks array<string>, mask array<boolean>, pats array<string>",
    )
    df.createOrReplaceTempView("lists_t")
    got = bql(
        spark,
        "SELECT id, SIZEOF(FILTER(toks, mask)) AS n_kept, SIZEIS(toks, 2) AS is2 "
        "FROM lists_t WHERE 'query' IN toks OR toks[0] RLIKE ANY (pats) LIMIT 10",
    )
    rows = {r["id"]: (r["n_kept"], r["is2"]) for r in got.collect()}
    assert rows == {1: (2, False), 2: (1, True)}  # id 3 filtered out

    # differential: same predicate + projection built programmatically
    prog = df.filter(
        (
            E.in_list(E.v("query"), E.f("toks"))
            | E.rlike_any(E.f("toks", index=0), E.f("pats"))
        ).col()
    ).select(
        "id",
        E.sizeof(E.list_filter(E.f("toks"), E.f("mask"))).col().alias("n_kept"),
        (E.sizeof(E.f("toks")) == E.v(2)).col().alias("is2"),
    )
    assert {r["id"]: (r["n_kept"], r["is2"]) for r in prog.collect()} == rows


def test_not_in_list_field_via_text(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["c"])], "id long, toks array<string>"
    )
    df.createOrReplaceTempView("nil_t")
    got = bql(spark, "SELECT id FROM nil_t WHERE 'a' NOT IN toks LIMIT 10")
    assert [r["id"] for r in got.collect()] == [2]
    # value-list IN is unchanged
    q = parse_bql("SELECT id FROM nil_t WHERE id IN (1, 3) LIMIT 10")
    assert q.filter is not None


def test_container_grammar_errors():
    with pytest.raises(BQLError, match="FILTER"):
        parse_bql("SELECT FILTER(toks) AS x FROM t LIMIT 1")
    with pytest.raises(BQLError, match="SIZEIS"):
        parse_bql("SELECT SIZEIS(toks) AS x FROM t LIMIT 1")


def test_bql_approx_count_distinct(spark, tables):
    """APPROX_COUNT_DISTINCT (Spark SQL's function name) parses to the
    HLL-sketch CD; at the fixture's cardinality HLL++ is in sparse
    (exact) mode, so the batch-compiled estimate equals exact."""
    from bullet_spark_spark.plans import compile_query
    from bullet_spark_spark.plans.bql import parse_bql

    spec = parse_bql(
        "SELECT APPROX_COUNT_DISTINCT(user_id) AS cd FROM STREAM() WHERE value > 50"
    )
    assert spec.aggregation.approx is True
    got = compile_query(spark, spec, df=tables["events"]).collect()[0]["cd"]
    exact = (
        tables["events"].filter(F.col("value") > 50).select("user_id").distinct().count()
    )
    assert abs(got - exact) <= max(2, exact * 0.05)


def test_lateral_view_explode_list(spark):
    df = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b"]), (3, [])], "id long, tags array<string>"
    )
    df.createOrReplaceTempView("tagged")
    out = bql(
        spark,
        "SELECT tag, COUNT(*) AS cnt FROM tagged "
        "LATERAL VIEW EXPLODE(tags) AS tag GROUP BY tag ORDER BY tag",
    )
    assert [(r["tag"], r["cnt"]) for r in out.collect()] == [("a", 1), ("b", 2)]


def test_lateral_view_outer_keeps_empty(spark):
    df = spark.createDataFrame(
        [(1, ["a"]), (2, [])], "id long, tags array<string>"
    )
    df.createOrReplaceTempView("tagged2")
    out = bql(
        spark,
        "SELECT id, tag FROM tagged2 LATERAL VIEW OUTER EXPLODE(tags) AS tag",
    )
    got = {(r["id"], r["tag"]) for r in out.collect()}
    assert got == {(1, "a"), (2, None)}  # OUTER keeps the empty-container row


def test_lateral_view_explode_map(spark):
    df = spark.createDataFrame(
        [(1, {"x": 10, "y": 20})], "id long, m map<string,int>"
    )
    df.createOrReplaceTempView("mapped")
    out = bql(
        spark,
        "SELECT id, k, v FROM mapped "
        "LATERAL VIEW EXPLODE(m) AS (k, v) ORDER BY k",
    )
    assert [(r["k"], r["v"]) for r in out.collect()] == [("x", 10), ("y", 20)]


def test_lateral_view_where_sees_exploded_column(spark):
    df = spark.createDataFrame(
        [(1, ["keep", "drop"])], "id long, tags array<string>"
    )
    df.createOrReplaceTempView("tagged3")
    out = bql(
        spark,
        "SELECT id, tag FROM tagged3 LATERAL VIEW EXPLODE(tags) AS tag "
        "WHERE tag = 'keep'",
    )
    assert [(r["id"], r["tag"]) for r in out.collect()] == [(1, "keep")]


def test_split_requires_literal_pattern():
    q = parse_bql(
        "SELECT w FROM t LATERAL VIEW EXPLODE(SPLIT(text, ' ')) AS w"
    )
    assert q.explode is not None and q.explode.alias == "w"
    with pytest.raises(BQLError):
        parse_bql("SELECT w FROM t LATERAL VIEW EXPLODE(SPLIT(text)) AS w")
    with pytest.raises(BQLError):
        parse_bql(
            "SELECT a FROM t LATERAL VIEW EXPLODE(x) AS (a, b, c)"
        )


def test_select_distinct(spark):
    df = spark.createDataFrame(
        [(1, "a"), (1, "a"), (2, "b")], "k long, v string"
    )
    df.createOrReplaceTempView("dup_rows")
    out = bql(spark, "SELECT DISTINCT k, v FROM dup_rows")
    assert out.columns == ["k", "v"]
    assert {(r["k"], r["v"]) for r in out.collect()} == {(1, "a"), (2, "b")}


def test_select_distinct_rejections():
    with pytest.raises(BQLError):
        parse_bql("SELECT DISTINCT * FROM t")
    with pytest.raises(BQLError):
        parse_bql("SELECT DISTINCT k FROM t GROUP BY k")


def test_explode_spec_rejected_by_multiplexers(spark):
    from bullet_spark_spark.streaming.dynamic import DynamicMultiplexer

    q = parse_bql(
        "SELECT w, COUNT(*) AS c FROM STREAM() "
        "LATERAL VIEW EXPLODE(SPLIT(text, ' ')) AS w GROUP BY w"
    )
    dyn = DynamicMultiplexer(spark)
    with pytest.raises(ValueError, match="EXPLODE"):
        dyn.register("q1", q)
