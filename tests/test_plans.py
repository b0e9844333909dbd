"""Plan-quality assertions: the physical plans the engine promises.

These guard the scale contract, not results: filters reach the parquet
scan, dimension joins broadcast, the native tiers contain no python
eval nodes, and the refine pUDF sits after (not before) the envelope
short-circuit.
"""

import re

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _projects(df) -> int:
    """Project nodes in the optimized logical plan."""
    return len(re.findall(r"(?m)^[\s:+|-]*Project \[", _optimized(df)))


def test_filter_pushdown_to_parquet(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    q = df.where(F.col("doc_id") < 100).select("doc_id", "lang")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)]" in plan
    # column pruning: text/html not read
    assert "ReadSchema" in plan and "text" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_pip_join_plan_shape(spark):
    from geos_spark.operators.spatial_join import point_in_polygon_join
    from geos_spark.sources.pages import EXTENT, star_polygons, with_doc_point

    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    out = point_in_polygon_join(
        pts, star_polygons(spark), "intersects", level=6, extent=EXTENT
    )
    plan = _plan(out)
    # dimension build side broadcasts — no shuffle of the probe side
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # exactly one python eval NODE (formatted plans print each
    # operator twice: tree + detail section)
    assert plan.count("ArrowEvalPython (") == 1
    # each Hilbert cell is one projection; a temp column per encoder
    # step would put ~30 Project nodes here
    assert _projects(out) <= 5


def test_tile_assign_fully_native(spark):
    from geos_spark.functions.hilbert_native import with_tile_cell
    from geos_spark.sources.pages import EXTENT, with_doc_point

    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    out = with_tile_cell(pts, "x", "y", 12, EXTENT)
    plan = _plan(out)
    assert "Python" not in plan and "Arrow" not in plan
    # "*" operator prefix marks whole-stage-codegen'd operators
    assert "* Project" in plan


def test_tile_cell_is_one_projection(spark):
    from geos_spark.functions.hilbert_native import (
        with_hilbert_cell,
        with_tile_cell,
        with_tile_cells_exploded,
    )
    from geos_spark.sources.pages import EXTENT, with_doc_point

    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    for level in (6, 16):
        out = with_tile_cell(pts, "x", "y", level, EXTENT)
        assert _projects(out) == _projects(pts) + 1
        assert "__h_" not in _optimized(out)
        assert "* Project" in _plan(out)
    grid = pts.select("doc_id", F.col("x").cast("long").alias("gx"),
                      F.col("y").cast("long").alias("gy"))
    out = with_hilbert_cell(grid, "gx", "gy", 10)
    assert _projects(out) == _projects(grid) + 1
    boxes = pts.select("doc_id", "x", "y")
    out = with_tile_cells_exploded(boxes, ("x", "y", "x", "y"), 6, EXTENT)
    assert _projects(out) == _projects(boxes) + 1
    assert "__h_" not in _optimized(out)


def test_distance_join_fully_native(spark):
    from geos_spark.operators.knn import within_distance_join
    from geos_spark.queries import _centers
    from geos_spark.sources.pages import EXTENT, with_doc_point

    pts = with_doc_point(spark.range(0, 1000).withColumnRenamed("id", "doc_id"))
    out = within_distance_join(pts, _centers(spark), 50.0, level=6, extent=EXTENT)
    plan = _plan(out)
    assert "Python" not in plan and "Arrow" not in plan
    assert "BroadcastHashJoin" in plan
