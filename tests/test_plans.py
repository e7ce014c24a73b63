"""Physical-plan assertions: the optimizations we rely on at 100 TB must
be visible in `explain` output (SURVEY.md §4) — filter pushdown to
parquet, broadcast of the small join side, partial (map-side) aggregation.
"""

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_parquet_filter_pushdown(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .filter(F.col("l_orderkey") == 1)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "IsNotNull(l_orderkey)" in plan or "EqualTo(l_orderkey" in plan
    # column pruning: scan schema should not mention unprojected columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1][:300]


def test_candidate_join_broadcasts_small_reference(spark):
    import pandas as pd

    from brdrq_spark.operators.align import AlignConfig, align_candidate_rows
    from brdrq_spark.sources.synthetic import reference_parcels, thematic_polygons

    ref = spark.createDataFrame(reference_parcels(6, 6, seed=2))
    th = spark.createDataFrame(thematic_polygons(4, 6, 6, seed=2))
    rows, _res = align_candidate_rows(
        spark, th, ref, AlignConfig(relevant_distances=[2.0]), broadcast_ref=True
    )
    plan = _plan(rows)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_groupby_partial_aggregation(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"))
    )
    plan = _plan(df)
    # two HashAggregate nodes = map-side partial + final after shuffle
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_relational_query(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(F.col("o_totalprice") > 100)
        .groupBy("o_orderpriority")
        .count()
    )
    df.collect()  # AQE finalizes the plan only on execution
    plan = _plan(df)
    # codegen'd spans render as "*(n) Operator" in the final plan
    assert "*(1)" in plan or "WholeStageCodegen" in plan
