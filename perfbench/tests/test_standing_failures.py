"""Engine defects that keep an operation out of the benchmark's loop.

Each test is a strict xfail: it fails while the defect stands and
turns into an error (XPASS) once the engine is fixed, which is the cue
to put the operation back into its workload.

Slow (one JVM): ``python3 -m pytest perfbench/tests -q``.
"""

from pathlib import Path

import pytest

from perfbench import harness, host
from perfbench import oracles as O
from perfbench.workloads import Workload

ROOT = Path(__file__).resolve().parents[2]


@pytest.mark.xfail(strict=True, reason=(
    "minhash_signatures derives hash j of a shingle as ((j+1)*g + b_j) mod p from "
    "one g, so its 16 minhashes are not independent: a shingle with g near p/4 is "
    "near 0 in one hash of every band, and dedup_clusters splits planted "
    "near-duplicates (Jaccard >= 0.97) on about a quarter of seeds"))
def test_dedup_clusters_keeps_planted_near_duplicates(tmp_path):
    from geos_spark.operators.dedup import dedup_clusters

    # seed 7 plants a copy whose differing last shingle hits the defect
    part = Workload("tile_pages", 7, "full", str(tmp_path)).parts[1]
    host.fit(ROOT, tmp_path)
    spark = harness.start_session()
    try:
        pages = spark.createDataFrame(part.inp["pages"][["doc_id", "text"]])
        out = dedup_clusters(pages).select("doc_id", "canonical", "csize").toPandas()
    finally:
        harness.stop_session(spark)
    assert O.check_clusters(out, part.inp["group"]) == []
