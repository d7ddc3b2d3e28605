"""Enhanced fan-out consumer conformance op — round-8 extension.

``stream_efo_push_consumer`` is the push-model twin of
``stream_source_faults``: the same ``kinesis_replay`` DataSource, but
with ``efo=true`` every slice is delivered through the
SubscribeToShard double (sources/efo.py) — consumer registration and
CREATING→ACTIVE activation, subscription windows that expire every
few events, hash-scheduled heartbeats, one mid-subscription
connection drop, and one ResourceInUse rejection on the hurried
re-subscribe. The oracle is the untouched events table: all that
churn must be invisible — exact count, identity, and value mass per
event_type, no duplicate and no dropped record. Subscription /
heartbeat / drop / rate-limit accounting is pinned separately in
tests/test_efo.py.

Scale shape: identical to the pull-path replay — one Spark input
partition per slice, the churn entirely executor-local, zero extra
shuffles; the aggregation and the oracle are stream_source_faults'
(``streaming_ops.event_type_totals``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from clj_kinesis_to_firehose_spark.operators.streaming_ops import event_type_totals
from clj_kinesis_to_firehose_spark.registry import oracle, register


@register(
    "stream_efo_push_consumer",
    # build executes only when the replay-slice memo is cold (the read
    # itself is a lazy batch DataSource scan) — conditional
    executes_on_build="conditional",
    oracle=oracle("stream_source_faults"),
)
def stream_efo_push_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from clj_kinesis_to_firehose_spark.sources.pyds import register_replay_source
    from clj_kinesis_to_firehose_spark.sources.streams import write_replay_slices

    register_replay_source(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    return event_type_totals(
        spark.read.format("kinesis_replay")
        .option("path", replay)
        .option("efo", "true")
        .load()
    )
