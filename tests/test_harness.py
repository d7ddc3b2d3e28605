"""The timing harness reads Spark's own telemetry: build-time plans from
the SQL status store (tools/capture_plans.py) and the per-micro-batch
durationMs split from a StreamingQueryListener (bench.py)."""

from __future__ import annotations

import bench
from clj_kinesis_to_firehose_spark import registry
from clj_kinesis_to_firehose_spark.operators import graph
from tests.conftest import SF_DIR
from tools import capture_plans

QUERIES = registry.queries()


def test_capture_sees_every_pagerank_iteration(spark):
    """Each power iteration runs as an eager localCheckpoint while the
    DataFrame is being built; all of them, not one sampled iteration,
    land in the capture with their join."""
    _, built = capture_plans.build_with_plans(
        spark, QUERIES["graph_pagerank"], SF_DIR
    )
    iters = [
        plan for _, desc, plan in built
        if desc.startswith("localCheckpoint") and "Join" in plan
    ]
    assert len(iters) >= graph.N_ITER, [desc for _, desc, _ in built]


def test_stream_telemetry_reports_duration_split(spark):
    telemetry = bench.StreamTelemetry()
    spark.streams.addListener(telemetry)
    try:
        mark = telemetry.mark()
        rows = QUERIES["stream_foreachbatch_sink"](spark, SF_DIR).collect()
        split = telemetry.split_since(mark)
    finally:
        spark.streams.removeListener(telemetry)
    assert rows
    assert split.get("addBatch", 0) > 0, split
    assert split.get("triggerExecution", 0) > 0, split
