"""Query multiplexer: evaluate N queries' predicates in ONE pass over the
record stream.

This is the Spark-first reformulation of the reference's central mechanism —
FilterStreaming runs every live query's ``Querier(Mode.PARTITION)`` over each
partition's records per batch (FilterStreaming.scala:54-67, QueryManager
categorize :105-110), with the query list re-broadcast from the driver every
batch (:48-53). Here the compiled predicate list is baked into the plan as a
single array of the query ids whose filter matches; one ``explode`` emits
(query_id, record) pairs for matching queries only. Catalyst broadcasts the
literals inside the codegen'd expression — no driver round-trip per batch.

:func:`route` builds that routing column. The streaming shared stage
(``streaming.dynamic.DynamicMultiplexer``, which runs every live query in
one routed-aggregation job per micro-batch) compiles it once per registry
change; :func:`multiplex_filter` and :func:`multiplex_partials` apply it to
a batch DataFrame.

Scale: output volume is Σ per-query selectivity × input rows; the explode is
map-side (no shuffle), and the per-query aggregation that follows shuffles by
(query_id, group-keys) — exactly the partitioning the reference used its
byte-blob merge for (JoinStreaming.scala:40).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bullet_spark_spark.functions.exprs import Expr, ExprSQLUnsupported
from bullet_spark_spark.plans.spec import AggOp


def route(predicates: dict[str, Expr | None]) -> Column:
    """Explode each row to the query ids whose filter it matches (a
    ``None`` filter matches every row).

    Fast path: render the whole routing expression as ONE SQL string
    via the expression AST's ``sql()`` (a single F.expr py4j round
    trip). Building it node-by-node through py4j costs ~0.24 s for 32
    queries — pure driver latency paid on EVERY registry change, the
    dominant term of the control plane's registry-churn cost (the
    reference re-broadcasts hundreds of queries per batch; compile
    latency IS the serving metric). Falls back to the per-node Column
    path for filters with no SQL text form."""
    try:
        parts = []
        for qid, pred in predicates.items():
            if "'" in qid or "\\" in qid:
                raise ExprSQLUnsupported("quote in query id")
            cond = "true" if pred is None else pred.sql()
            parts.append(f"if(coalesce(({cond}), false), '{qid}', null)")
        return F.explode(F.expr(f"array_compact(array({', '.join(parts)}))"))
    except ExprSQLUnsupported:
        pass
    tagged = F.array(
        *[
            F.struct(
                F.lit(qid).alias("qid"),
                (pred.col() if pred is not None else F.lit(True)).alias("m"),
            )
            for qid, pred in predicates.items()
        ]
    )
    return F.explode(
        F.transform(
            F.filter(tagged, lambda s: F.coalesce(s["m"], F.lit(False))),
            lambda s: s["qid"],
        )
    )


def multiplex_filter(df: DataFrame, predicates: dict[str, Expr | None]) -> DataFrame:
    """One scan, N predicates → (query_id, record) rows for every query whose
    filter matches. Output schema: ``query_id`` + all input columns."""
    return df.select(route(predicates).alias("query_id"), "*")


def multiplex_partials(df: DataFrame, specs: dict[str, "Query"]) -> DataFrame:
    """ONE pass + ONE shuffle computing *mergeable partial aggregates* for N
    heterogeneous queries — the full reference multiplexing surface
    (FilterStreaming.scala:54-67 runs every query type's
    ``Querier(Mode.PARTITION)`` per partition; the partial byte blobs merge
    downstream, JoinStreaming.scala:126). Supported spec families:

    - GroupAgg with COUNT / COUNT_FIELD / SUM / MIN / MAX / AVG (AVG is
      decomposed into mergeable SUM + COUNT_FIELD partials),
    - TopKAgg (partial = per-group counts; top-k selection happens at merge),
    - DistributionAgg PMF/CDF (partial = per-bucket counts; key is the
      bucket index),
    - CountDistinctAgg exact mode (partial = presence of each distinct
      field tuple — the key map itself is the mergeable state; merge =
      key-set union, count = #keys with no NULL component, the reference's
      exact-below-threshold regime [D]),
    - CountDistinctAgg approx mode (partial = a DataSketches-compatible
      HLL blob per batch via hll_sketch_agg; merge = blob-list append,
      finalize = one hll_union_agg job — the byte-blob combine contract,
      JoinStreaming.scala:126),
    - DistributionAgg QUANTILE with ``width`` set (partial = per-bucket
      counts under LINEAR bucketing floor(value/width) — the
      sketch.hist_group_sketches state; merge = bucket-count sum; the
      estimate at any quantile is within one width of exact).

    Keys are stringified into a map (different queries group by different
    columns); aggregate columns keep their NATIVE types (sums of longs stay
    long — no lossy double coercion). Output:
    (query_id, keys map<string,string>, count_, [sum_f / min_f / max_f /
    cntf_f / hll_f ...]) with one column per (op, field) pair any query
    needs."""
    from bullet_spark_spark.plans.spec import (
        CountDistinctAgg,
        DistributionAgg,
        DistributionType,
        GroupAgg,
        TopKAgg,
    )

    routed = multiplex_filter(df, {qid: s.filter for qid, s in specs.items()})

    key_expr = None
    # union of partial-aggregate columns the spec set needs, keyed by a
    # stable column name; native output types (no casts)
    partials: dict[str, Column] = {"count_": F.count(F.lit(1))}
    for qid, spec in specs.items():
        agg = spec.aggregation
        if isinstance(agg, CountDistinctAgg) and agg.approx:
            # approx CD's state is the HLL blob, not the key map: one
            # group per query (empty key map), one blob partial per batch
            empty = F.array().cast("array<string>")
            branch = F.map_from_arrays(empty, empty)
            # DataSketches-compatible HLL blob partial (hll_union_agg
            # re-merges it — the byte-blob combine contract); a NULL in any
            # tuple component voids the row, matching exact CD's convention
            key = F.concat_ws(
                "\x1f", *[F.col(cc).cast("string") for cc in agg.fields]
            )
            for cc in agg.fields:
                key = F.when(F.col(cc).isNotNull(), key)
            partials["hll_" + "_".join(agg.fields)] = F.hll_sketch_agg(key, F.lit(12))
        elif isinstance(agg, (GroupAgg, TopKAgg, CountDistinctAgg)):
            # CountDistinct reuses the group-key map: each distinct field
            # tuple becomes one partial row; NULL components stay visible
            # as NULL map values so the merge can apply SQL's
            # exclude-NULL-tuples convention
            arr_k = F.array(*[F.lit(k) for k in agg.fields])
            arr_v = F.array(*[F.col(k).cast("string") for k in agg.fields])
            branch = F.map_from_arrays(arr_k, arr_v)
        elif isinstance(agg, DistributionAgg) and agg.type is DistributionType.QUANTILE:
            if not agg.width:
                raise ValueError(
                    f"{qid}: multiplexed QUANTILE needs DistributionAgg.width "
                    "(linear mergeable bucketing) — or use register()"
                )
            c = F.col(agg.field)
            bucket = F.when(
                c.isNotNull(), F.floor(c / F.lit(agg.width)).cast("long")
            )
            branch = F.create_map(F.lit("__bucket"), bucket.cast("string"))
        elif isinstance(agg, DistributionAgg):
            from functools import reduce

            from bullet_spark_spark.plans.compiler import _bucket_points

            c = F.col(agg.field)
            bucket = reduce(
                lambda acc, p: acc + F.when(c >= F.lit(p), 1).otherwise(0),
                _bucket_points(agg),
                F.lit(0),
            )
            branch = F.create_map(F.lit("__bucket"), bucket.cast("string"))
        else:
            raise ValueError(
                f"{qid}: {type(agg).__name__} is not multiplexable — use register()"
            )
        key_expr = (
            F.when(F.col("query_id") == qid, branch)
            if key_expr is None
            else key_expr.when(F.col("query_id") == qid, branch)
        )
        if not isinstance(agg, GroupAgg):
            continue  # TopK / Distribution / exact CD partials are just count_
        for op, fld, _out in agg.operations:
            if op is AggOp.COUNT:
                continue
            if op is AggOp.COUNT_FIELD:
                partials[f"cntf_{fld}"] = F.count(F.col(fld))
            elif op is AggOp.SUM:
                partials[f"sum_{fld}"] = F.sum(F.col(fld))
            elif op is AggOp.MIN:
                partials[f"min_{fld}"] = F.min(F.col(fld))
            elif op is AggOp.MAX:
                partials[f"max_{fld}"] = F.max(F.col(fld))
            elif op is AggOp.AVG:
                # decomposed into mergeable partials; avg = sum/cnt at merge
                partials[f"sum_{fld}"] = F.sum(F.col(fld))
                partials[f"cntf_{fld}"] = F.count(F.col(fld))
            else:
                raise ValueError(
                    f"{op} partials are not mergeable across batches — "
                    "use register() for this query"
                )

    return (
        routed.withColumn("keys", key_expr)
        .groupBy("query_id", F.map_entries("keys").alias("key_entries"))
        .agg(*[col.alias(name) for name, col in partials.items()])
        .withColumn("keys", F.map_from_entries("key_entries"))
        .drop("key_entries")
    )
