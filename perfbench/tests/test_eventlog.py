"""The event-log folder reports the phases of a known two-phase plan
(broadcast join, then an aggregate behind a shuffle)."""

import glob
import os

import pytest

from perfbench import eventlog, harness, host
from perfbench.spans import Tracer


@pytest.fixture(scope="module")
def folded(tmp_path_factory):
    root = harness.Path(__file__).resolve().parents[2]
    work = tmp_path_factory.mktemp("work")
    host.fit(root, work)
    ev = work / "eventlog"
    ev.mkdir()
    spark = harness.start_session(str(ev))
    try:
        from pyspark.sql import functions as F

        tr = Tracer(spark.sparkContext)
        big = spark.range(0, 200_000, 1, 4).withColumn("k", F.col("id") % 100)
        dim = spark.range(0, 100).withColumnRenamed("id", "k")
        with tr.span("spatial_join", "broadcast_join"):
            joined = big.join(F.broadcast(dim), "k").localCheckpoint(eager=True)
        with tr.span("lm", "aggregate"):
            rows = joined.groupBy("k").agg(F.count("*").alias("n")).collect()
        assert len(rows) == 100
    finally:
        harness.stop_session(spark)
    files = glob.glob(os.path.join(str(ev), "**", "events_*"), recursive=True)
    assert files, "no event log written"
    return eventlog.fold(files, tr.spans, {}, 1.0), tr.spans


def test_every_metric_is_reported(folded):
    layers, _ = folded
    assert set(layers) == set(eventlog.metric_units())
    assert all(isinstance(v["value"], float) for v in layers.values())


def test_phases_are_charged_to_their_layers(folded):
    layers, spans = folded
    assert [s.name for s in spans] == ["broadcast_join", "aggregate"]
    # phase 1: the broadcast join ran tasks, broadcast its build side
    # and checkpointed its output
    assert layers["spatial_join.task_s"]["value"] > 0
    assert layers["spatial_join.broadcast_bytes"]["value"] > 0
    assert layers["spatial_join.candidates"]["value"] == 0  # no __cell join
    # phase 2: the aggregate shuffled
    assert layers["lm.task_s"]["value"] > 0
    assert layers["lm.shuffle_write_bytes"]["value"] > 0
    assert layers["spatial_join.shuffle_write_bytes"]["value"] == 0
    assert layers["lm.self_s"]["value"] > 0
    assert layers["session.start_s"]["value"] == 1.0
