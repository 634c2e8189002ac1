"""Physical-plan shape assertions: the engine must not merely be
correct — the plans must be the ones you'd want at 100 TB
(SURVEY.md §4.2: pushdown/pruning/broadcast come from Catalyst IF the
code is written declaratively; these tests pin that property)."""

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as E


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Projecting 2 of 11 lineitem columns must prune the ReadSchema —
    and never read html-sized payloads it doesn't need."""
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    rs = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in rs and "l_quantity" in rs
    assert "l_extendedprice" not in rs and "l_shipdate" not in rs


def test_dim_joins_are_broadcast(spark, sf_dir):
    plan = _plan(E.queries()["join_star"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan


def test_pip_join_no_shuffle_on_point_side(spark, sf_dir):
    """PIP is map-only over the points: no join and no Exchange between
    the parquet scan and the output, one ArrowEvalPython below the
    explode (the filter for pip_anti), the pip UDF called once in the
    optimized plan, and no JVM cell expression (FLOOR, shiftleft) in it:
    the UDF encodes the points itself."""
    for name, below in (("pip_rows", "Generate"), ("pip_anti", "Filter")):
        df = E.queries()[name](spark, sf_dir)
        plan = _plan(df)
        assert "Join" not in plan and "Exchange" not in plan, name
        assert plan.count("ArrowEvalPython") == 1, name
        assert plan.index(below) < plan.index("ArrowEvalPython"), name
        optimized = _optimized(df)
        assert optimized.count("pip_zones(") == 1, name
        assert "FLOOR(" not in optimized and "shiftleft(" not in optimized, name


def test_whole_stage_codegen_hot_path(spark, sf_dir):
    """Cell encode + tile math must live inside WholeStageCodegen
    (the `*(n)` markers in the executed-plan string)."""
    plan = _plan(E.queries()["tile_assign"](spark, sf_dir))
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python ever
    plan2 = _plan(E.queries()["cell_encode"](spark, sf_dir))
    assert "*(1)" in plan2


def test_no_row_at_a_time_python_anywhere(spark, sf_dir):
    """BASELINE input_hint: vectorized UDFs only. ArrowEvalPython is the
    vectorized operator; BatchEvalPython (pickled row loop) is banned."""
    for name, fn in E.queries().items():
        plan = _plan(fn(spark, sf_dir))
        assert "BatchEvalPython" not in plan, name


def test_agg_has_partial_merge(spark, sf_dir):
    """groupBy must plan partial (map-side) + final aggregation."""
    plan = _plan(E.queries()["agg_summary"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_partition_pruning_on_cell_partitioned_sink(spark, tmp_path, sf_dir):
    """Writing partitioned by coarse cell + reading one cell back must
    scan only that partition (partition pruning at the source)."""
    from o2g_spark.functions import cellfns

    pts = E.queries()["cell_encode"](spark, sf_dir).withColumn(
        "cell_r2", cellfns.cell_parent("cell_id", 12, 2)
    )
    out = str(tmp_path / "cells")
    pts.write.partitionBy("cell_r2").parquet(out)
    one = pts.select("cell_r2").first()["cell_r2"]
    rd = spark.read.parquet(out).filter(F.col("cell_r2") == one)
    plan = _plan(rd)
    assert "PartitionFilters" in plan and "cell_r2" in plan.split("PartitionFilters")[1][:200]
