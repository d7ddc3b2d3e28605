"""Registry entries for the streaming operators (SURVEY.md §2 A4-A7,
I4-I7). All weak (streaming semantics are not DuckDB-expressible)
except where a post-replay result coincides with a batch answer —
those get exact oracles since the replay is deterministic.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table, scratch_dir
from clj_kinesis_to_firehose_spark.streaming import pipelines
from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
    COUNTERS_SCHEMA,
    DeadLetterDir,
    LocalDirFirehoseClient,
    deliver_frame,
    delivery_kernel,
    gzip_payload,
    newline_terminate,
)


@register(
    "stream_source_file", executes_on_build=True,
    oracle="""
    SELECT event_type, COUNT(*) AS n_records, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_source_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    # replaying the full fixture through micro-batches must converge to
    # the batch aggregate — so the streaming source gets an EXACT oracle
    return pipelines.stream_file_source(spark, sf_dir)


@register("stream_source_rate", executes_on_build=True)
def stream_source_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.stream_rate_source(spark, sf_dir)


@register(
    "stream_tumbling_watermark", executes_on_build=True,
    oracle="""
    SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) AS wstart,
           event_type,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: the time-ordered flush-sentinel replay finalizes every
    # real window, so append-mode output equals the batch tumbling
    # aggregate; the late-data DROP semantics (the watermark's other
    # half) are asserted with a crafted late slice in
    # tests/test_streaming.py::test_watermark_drops_late_rows
    return pipelines.stream_tumbling_watermark(spark, sf_dir)


@register(
    "stream_dedup", executes_on_build=True,
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # replay injects 200 duplicate event_ids; watermark-scoped
    # dropDuplicates restores the exact distinct counts
    return pipelines.stream_dedup(spark, sf_dir)


@register(
    "stream_stateful_counter", executes_on_build=True,
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # running applyInPandasWithState totals converge to the batch
    # aggregate once the replay drains
    return pipelines.stream_stateful_counter(spark, sf_dir)


@register(
    "stream_sliding_window", executes_on_build=True,
    oracle="""
    SELECT wstart, COUNT(*) AS n_events FROM (
        SELECT TIME_BUCKET(INTERVAL 30 MINUTES, ts) AS wstart FROM events
        UNION ALL
        SELECT TIME_BUCKET(INTERVAL 30 MINUTES, ts) - INTERVAL 30 MINUTES
        FROM events
    ) GROUP BY wstart
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: the flush-sentinel replay finalizes (and evicts) every
    # real window, so append-mode output equals the batch expansion of
    # each event into its two 1h/30min window alignments
    return pipelines.stream_sliding_window(spark, sf_dir)


@register(
    "stream_session_window", executes_on_build=True,
    oracle="""
    WITH marks AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) IS NULL
                     OR ts - LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id)
                        >= INTERVAL 10 MINUTE
                    THEN 1 ELSE 0 END AS is_new_session
        FROM events
    ), numbered AS (
        SELECT user_id, ts,
               SUM(is_new_session) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS session_id
        FROM marks
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: flush-sentinel replay ⇒ every session emitted+evicted ⇒
    # output equals the batch gaps-and-islands reconstruction (the
    # same oracle shape as the batch twin window_session)
    return pipelines.stream_session_window(spark, sf_dir)


@register(
    "stream_stateful_tws", executes_on_build=True,
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    # transformWithStateInPandas running totals converge to the batch
    # aggregate after the replay drains (max is order-insensitive and
    # exact — no float accumulation)
    return pipelines.stream_stateful_tws(spark, sf_dir)


@register(
    "stream_stream_join", executes_on_build=True,
    oracle="""
    SELECT p.user_id, COUNT(*) AS n_pairs,
           COUNT(DISTINCT p.event_id) AS n_purchases_with_click
    FROM events p
    JOIN events c ON p.user_id = c.user_id
                 AND c.ts > p.ts
                 AND c.ts <= p.ts + INTERVAL 1 HOUR
    WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    GROUP BY p.user_id
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # after the replay drains, the state-bounded stream-stream join
    # must equal the batch self-join with the same event-time bound
    return pipelines.stream_stream_join(spark, sf_dir)


@register(
    "stream_stream_join_outer", executes_on_build=True,
    oracle="""
    WITH p AS (
        SELECT user_id, ts AS p_ts, event_id AS p_event
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, ts AS c_ts, event_id AS c_event
        FROM events WHERE event_type = 'click'
    ), j AS (
        SELECT p.user_id, p.p_event, c.c_event
        FROM p LEFT JOIN c ON p.user_id = c.user_id
                           AND c.c_ts > p.p_ts
                           AND c.c_ts <= p.p_ts + INTERVAL 1 HOUR
    )
    SELECT user_id,
           CAST(COUNT(c_event) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT p_event) AS BIGINT) AS n_purchases,
           CAST(COUNT(DISTINCT CASE WHEN c_event IS NULL THEN p_event END)
                AS BIGINT) AS n_unmatched
    FROM j GROUP BY user_id
    """,
)
def stream_stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: flush-sentinel replay advances BOTH watermarks past every
    # real purchase's join window, so all unmatched-left state evicts
    # and emits its null rows — the streaming outer join then equals
    # the batch LEFT JOIN with the same event-time bound
    return pipelines.stream_stream_join_outer(spark, sf_dir)


@register(
    "stream_join_then_window", executes_on_build=True,
    oracle="""
    WITH p AS (
        SELECT user_id, ts AS p_ts, value AS p_value
        FROM events WHERE event_type = 'purchase'
    ), c AS (
        SELECT user_id, ts AS c_ts
        FROM events WHERE event_type = 'click'
    ), j AS (
        SELECT p.p_ts, p.p_value
        FROM p JOIN c ON p.user_id = c.user_id
                      AND c.c_ts > p.p_ts
                      AND c.c_ts <= p.p_ts + INTERVAL 1 HOUR
    )
    SELECT TIME_BUCKET(INTERVAL 1 HOUR, p_ts) AS wstart,
           COUNT(*) AS n_pairs,
           CAST(ROUND(SUM(CAST(p_value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM j GROUP BY 1
    """,
)
def stream_join_then_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: chained stateful ops (stream-stream join → tumbling agg)
    # under one propagated watermark; the flush sentinel finalizes
    # every real window, so the append output equals the batch
    # join-then-group-by (DECIMAL sums keep the fold order-free)
    return pipelines.stream_join_then_window(spark, sf_dir)


@register(
    "stream_foreachbatch_sink", executes_on_build=True,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_delivered,
           COUNT(DISTINCT event_id) AS n_unique
    FROM events WHERE event_type <> 'error'
    GROUP BY event_type
    """,
)
def stream_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: the delivery-side audit (newline-terminated JSON records
    # read back from the batch files) must equal the non-error source
    # counts — the replay is duplicate-free and the sink idempotent, so
    # delivered == unique == source. Batch-size caps, partial-failure
    # retry, and redelivery dedup stay property-tested in
    # tests/test_firehose_sink.py and tests/test_streaming.py.
    return pipelines.stream_firehose_pipeline(spark, sf_dir)


@register(
    "sink_firehose_dynamic_partition", executes_on_build=True,
    oracle="""
    SELECT event_type || '/' || STRFTIME(ts, '%Y/%m/%d') AS prefix,
           COUNT(*) AS n_delivered,
           CAST(0 AS BIGINT) AS n_misrouted
    FROM events WHERE event_type <> 'error'
    GROUP BY 1
    """,
)
def sink_firehose_dynamic_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: per-prefix delivery counts derived from the FILE PATHS of
    # the delivered records must equal the source's (type, day)
    # partitioning, with zero payload-vs-path mismatches — physical
    # proof of the dynamic-partitioning routing
    return pipelines.stream_firehose_dynamic_partition(spark, sf_dir)


@register(
    "sink_firehose_format_conversion", executes_on_build=True,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_delivered,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events WHERE event_type <> 'error'
    GROUP BY event_type
    """,
)
def sink_firehose_format_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: the delivered PARQUET read back must reproduce per-stream
    # counts, distinct ids, and value sums — lossless JSON→columnar
    # conversion at the delivery boundary
    return pipelines.stream_firehose_format_conversion(spark, sf_dir)


@register(
    "sink_firehose_batched",
    # deliver_frame delivers eagerly, at build
    executes_on_build=True,
    oracle="""
    SELECT event_type AS stream, COUNT(*) AS n_delivered
    FROM events GROUP BY event_type
    """,
)
def sink_firehose_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 standalone (batch form): serialize events to JSON-lines and
    deliver through the PutRecordBatch chunker; returns the delivery
    kernel's own counters per stream (weak: asserts live in
    tests/test_firehose_sink.py — every batch ≤500 records/≤4 MiB,
    at-least-once counts equal input).

    This is THE reference operation (SURVEY.md §2 A6): batching under
    the Firehose service quotas with per-record retry. The streaming
    composition is stream_foreachbatch_sink.
    """
    out_dir = scratch_dir("kf_sink_a6_")
    kernel = delivery_kernel(
        functools.partial(LocalDirFirehoseClient, out_dir), "batch"
    )
    counters = deliver_frame(load_table(spark, sf_dir, "events"), "event_type", kernel)
    # delivered-record counts are deterministic (exact oracle); batch
    # counts depend on partitioning and are audited in tests instead
    return (
        spark.createDataFrame(counters, COUNTERS_SCHEMA)
        .groupBy("stream")
        .agg(F.sum("n_records").alias("n_delivered"))
    )


@register(
    "sink_firehose_compressed", executes_on_build=True,
    oracle="""
    SELECT event_type AS stream, COUNT(*) AS n_delivered
    FROM events GROUP BY event_type
    """,
)
def sink_firehose_compressed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GZIP delivery compression [PK: Firehose S3 compression option]:
    each record is client-side gzipped (one deterministic gzip member),
    the PutRecordBatch caps apply to the COMPRESSED bytes — the bytes
    that actually cross the API, matching the public accounting — and
    a delivery file is the concatenation of members, i.e. a valid
    multi-member .jsonl.gz that Spark's reader decompresses natively.
    EXACT oracle: per-stream counts of the records read back FROM THE
    COMPRESSED FILES equal the source. Cap invariants on compressed
    sizes are pinned in tests/test_firehose_sink.py."""
    out_dir = scratch_dir("kf_sink_gz_")
    kernel = delivery_kernel(
        functools.partial(LocalDirFirehoseClient, out_dir, compression="gzip"),
        "gz",
        # opaque gzip members: no newline framing around them
        codec=lambda p: gzip_payload(newline_terminate(p)),
    )
    deliver_frame(load_table(spark, sf_dir, "events"), "event_type", kernel)
    return (
        spark.read.json(os.path.join(out_dir, "*.jsonl.gz"))
        .groupBy(F.col("event_type").alias("stream"))
        .agg(F.count("*").alias("n_delivered"))
    )


@register(
    "sink_firehose_dead_letter", executes_on_build=True,
    oracle="""
    SELECT event_type AS stream,
           CAST(COUNT(*) FILTER (WHERE event_type <> 'error') AS BIGINT)
             AS n_delivered,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT)
             AS n_dead
    FROM events GROUP BY event_type
    """,
)
def sink_firehose_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poison-record dead-lettering (Firehose's S3 error-prefix backup
    [PK]): 'error'-typed payloads fail delivery on EVERY attempt; after
    retry exhaustion they divert to the DLQ and delivery CONTINUES —
    one poison record must not block the rest of its batch or wedge a
    checkpoint replay. The audit is physical, not counter-based: the
    delivered and dead-letter files are read back, and
    delivered + dead must equal the source exactly, per stream."""
    out_dir = scratch_dir("kf_sink_dlq_")
    kernel = delivery_kernel(
        functools.partial(
            LocalDirFirehoseClient, out_dir, poison_marker=b'"event_type":"error"'
        ),
        "dlq",
        dead_letter=DeadLetterDir(out_dir),
        max_retries=2,
    )
    deliver_frame(load_table(spark, sf_dir, "events"), "event_type", kernel)
    delivered = (
        spark.read.json(os.path.join(out_dir, "*.jsonl"))
        .groupBy(F.col("event_type").alias("stream"))
        .agg(F.count("*").alias("n_delivered"))
    )
    dead = (
        spark.read.json(os.path.join(out_dir, "errors", "*.jsonl"))
        .groupBy(F.col("event_type").alias("stream"))
        .agg(F.count("*").alias("n_dead"))
    )
    return (
        delivered.join(dead, "stream", "full_outer")
        .na.fill(0, ["n_delivered", "n_dead"])
        .select("stream", "n_delivered", "n_dead")
    )


@register(
    "sink_firehose_transform", executes_on_build=True,
    oracle="""
    SELECT event_type AS stream,
           COUNT(*) FILTER (WHERE event_type <> 'error' AND value >= 1.0)
             AS n_delivered,
           CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT))
                         FILTER (WHERE event_type <> 'error' AND value >= 1.0),
                         0) AS BIGINT) AS sum_cents,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_failed,
           COUNT(*) FILTER (WHERE event_type <> 'error' AND value < 1.0)
             AS n_dropped
    FROM events GROUP BY event_type
    """,
)
def sink_firehose_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Firehose DATA TRANSFORMATION contract [PK: the per-record
    transform returns Ok / Dropped / ProcessingFailed]: Ok records
    deliver with the TRANSFORMED payload (here: a derived value_cents
    field), Dropped records vanish silently (sub-threshold values),
    and ProcessingFailed records ('error' type) divert to the error
    prefix carrying their ORIGINAL payload — straight to the DLQ, no
    retry loop, exactly as the transform contract specifies. The audit
    is physical: delivered counts and the transformed-field sum are
    read back from the batch files, failures from the DLQ, drops
    reconciled against the source."""
    out_dir = scratch_dir("kf_sink_xform_")
    ev = load_table(spark, sf_dir, "events")
    failed = F.col("event_type") == "error"
    transformed = F.to_json(
        F.struct(
            "event_id", "user_id", "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )
    # ProcessingFailed payloads carry the poison marker, so with no
    # retries they land in errors/ on their first attempt
    kernel = delivery_kernel(
        functools.partial(
            LocalDirFirehoseClient, out_dir, poison_marker=b'"event_type":"error"'
        ),
        "xf",
        dead_letter=DeadLetterDir(out_dir),
        max_retries=0,
    )
    deliver_frame(
        ev.filter(failed | (F.col("value") >= 1.0)),  # Dropped rows vanish
        "event_type",
        kernel,
        payload=F.when(failed, F.to_json(F.struct(*ev.columns))).otherwise(transformed),
    )
    delivered = (
        spark.read.json(os.path.join(out_dir, "*.jsonl"))
        .groupBy(F.col("event_type").alias("stream"))
        .agg(
            F.count("*").alias("n_delivered"),
            F.sum("value_cents").alias("sum_cents"),
        )
    )
    dead = (
        spark.read.json(os.path.join(out_dir, "errors", "*.jsonl"))
        .groupBy(F.col("event_type").alias("stream"))
        .agg(F.count("*").alias("n_failed"))
    )
    source = ev.groupBy(F.col("event_type").alias("stream")).agg(
        F.count("*").alias("n_source")
    )
    return (
        source.join(delivered, "stream", "left_outer")
        .join(dead, "stream", "left_outer")
        .na.fill(0, ["n_delivered", "sum_cents", "n_failed"])
        .select(
            "stream",
            "n_delivered",
            "sum_cents",
            "n_failed",
            (F.col("n_source") - F.col("n_delivered") - F.col("n_failed"))
            .alias("n_dropped"),
        )
    )


@register(
    "sink_firehose_dlq_redrive", executes_on_build=True,
    oracle="""
    SELECT event_type AS stream,
           COUNT(*) AS n_delivered,
           CAST(0 AS BIGINT) AS n_dead_remaining
    FROM events GROUP BY event_type
    """,
)
def sink_firehose_dlq_redrive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dead-letter REDRIVE — the second half of the DLQ lifecycle [PK:
    SQS/Firehose redrive]: after the downstream fault clears, the
    diverted records are re-read from the error prefix, routed by
    their payload's stream again, and redelivered through the same
    capped/batched/idempotent path; consumed DLQ files are removed
    only after their records deliver. EXACT oracle: post-redrive,
    EVERY source record (including the previously-poisoned ones) is
    delivered exactly once and the DLQ is empty. Both phases run the
    bridge's delivery kernel (``deliver_frame``): the DLQ is read as an
    ordinary text source and placed by its size like any micro-batch."""
    out_dir = scratch_dir("kf_sink_redrive_")
    ev = load_table(spark, sf_dir, "events")

    # phase 1: delivery with 'error' payloads permanently failing
    poisoned = delivery_kernel(
        functools.partial(
            LocalDirFirehoseClient, out_dir, poison_marker=b'"event_type":"error"'
        ),
        "rd",
        dead_letter=DeadLetterDir(out_dir),
        max_retries=1,
    )
    deliver_frame(ev, "event_type", poisoned)

    # phase 2: fault cleared — redrive the DLQ, read as an ordinary
    # text source, then remove consumed DLQ files (driver-side metadata
    # op only)
    err_dir = os.path.join(out_dir, "errors")
    dlq = spark.read.text(os.path.join(err_dir, "*.jsonl"))
    healthy = delivery_kernel(functools.partial(LocalDirFirehoseClient, out_dir), "redrive")
    deliver_frame(
        dlq,
        F.get_json_object("value", "$.event_type"),
        healthy,
        payload=F.col("value"),
    )
    # the redrive action raises on any undelivered record, so reaching
    # this point means every DLQ record landed — consume the files
    for name in os.listdir(err_dir):
        os.unlink(os.path.join(err_dir, name))

    # n_dead_remaining is MEASURED, not assumed: per-stream source
    # count minus what the delivery files physically contain. A failed
    # or partial redrive shows up here (and in n_delivered) even
    # though the DLQ directory was emptied.
    delivered = (
        spark.read.json(os.path.join(out_dir, "*.jsonl"))
        .groupBy(F.col("event_type").alias("stream"))
        .agg(F.count("*").alias("n_delivered"))
    )
    source = ev.groupBy(F.col("event_type").alias("stream")).agg(
        F.count("*").alias("n_source")
    )
    return (
        source.join(delivered, "stream", "left_outer")
        .na.fill(0, ["n_delivered"])
        .select(
            "stream",
            "n_delivered",
            (F.col("n_source") - F.col("n_delivered")).alias("n_dead_remaining"),
        )
    )


@register(
    "stream_static_enrich", executes_on_build=True,
    oracle="""
    SELECT c_mktsegment, event_type, COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stream-static broadcast enrichment converges to the batch join
    # over the full replay → exact oracle
    return pipelines.stream_static_enrich(spark, sf_dir)


@register(
    "stream_kpl_firehose_bridge", executes_on_build=True,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_delivered,
           COUNT(DISTINCT event_id) AS n_unique
    FROM events WHERE event_type <> 'error'
    GROUP BY event_type
    """,
)
def stream_kpl_firehose_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: the complete bridge at full wire fidelity — KPL-aggregated
    # blobs stream in, deaggregate (checksum-verified mapInPandas ON
    # the stream), route, deliver through the PutRecordBatch sink;
    # delivered counts read back from the batch files must equal the
    # non-error source (duplicate-free: exactly-once checkpointing).
    return pipelines.stream_kpl_firehose_bridge(spark, sf_dir)


@register(
    "stream_reshard_replay", executes_on_build=True,
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               NTILE(3) OVER (ORDER BY ts, event_id) AS epoch,
               ('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
                 AS hb
        FROM events
    ), shards AS (
        SELECT user_id,
               CASE WHEN hb % 2 = 0 THEN 'shard-0'
                    WHEN epoch = 1 THEN 'shard-1'
                    WHEN epoch = 2 THEN
                        CASE WHEN hb % 4 = 1 THEN 'shard-1a'
                             ELSE 'shard-1b' END
                    ELSE 'shard-2' END AS shard
        FROM ordered
    )
    SELECT shard,
           COUNT(*) AS n_records,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(0 AS BIGINT) AS n_order_violations,
           CAST(0 AS BIGINT) AS n_lineage_crossings
    FROM shards GROUP BY shard
    """,
)
def stream_reshard_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    # EXACT: per-shard record/key counts across a shard split AND merge
    # must equal the oracle's portable-hash routing of the source, and
    # the oracle pins the per-key order-violation and lineage-crossing
    # counters (measured from the stream's arrival log) to zero —
    # Kinesis's per-partition-key ordering promise through a reshard.
    # Checkpoint continuity across the reshard boundary is pinned in
    # tests/test_streaming.py::test_checkpoint_survives_reshard.
    return pipelines.stream_reshard_replay(spark, sf_dir)


@register("stream_backpressure_trigger", executes_on_build=True)
def stream_backpressure_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    # weak: batch boundaries are an execution property, not a query
    # result — the pytest asserts the backlog drained as bounded
    # micro-batches (see pipelines.stream_backpressure_trigger)
    return pipelines.stream_backpressure_trigger(spark, sf_dir)


@register(
    "stream_pyds_connector_pair", executes_on_build=True,
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_records,
           COUNT(DISTINCT event_id) AS n_ids,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_pyds_connector_pair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Python-DataSource connector pair end-to-end: replay →
    ``kinesis_replay`` STREAM reader (slice-index offsets) → a
    checkpointed streaming query → ``firehose_delivery`` STREAM writer
    (PutRecordBatch-capped staged files, idempotent batch-named commit)
    → delivered JSON-lines read back and aggregated. The oracle is the
    original events table: whatever goes through both connector faces
    must come out bit-equal in count, identity, and value mass."""
    import glob

    from clj_kinesis_to_firehose_spark.sources.pyds import (
        register_delivery_sink,
        register_replay_source,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import (
        write_replay_slices,
    )

    register_replay_source(spark)
    register_delivery_sink(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    out = scratch_dir("kf_pyds_deliv_")
    pipelines.run_bounded(
        spark.readStream.format("kinesis_replay")
        .option("path", replay)
        .load()
        .writeStream.format("firehose_delivery")
        .option("path", out)
    )
    delivered = spark.read.schema(
        "event_id long, ts string, user_id long, "
        "event_type string, value double, props string"
    ).json(sorted(glob.glob(f"{out}/batch-*.jsonl")))
    return delivered.groupBy("event_type").agg(
        F.count("*").alias("n_records"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "stream_source_faults",
    # build executes only when the replay-slice memo is cold — the
    # fault-injecting read itself is lazy; conditional
    executes_on_build="conditional",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_records,
           COUNT(DISTINCT event_id) AS n_ids,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_source_faults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kinesis consumer's defensive path end-to-end: the
    ``kinesis_replay`` source with ``faults=true`` routes every slice
    through the GetRecords fault gauntlet (sources/faults.py) — each
    slice suffers at least one ProvisionedThroughputExceeded (capped
    exponential backoff, same iterator), one expired iterator
    (re-acquire AFTER the last sequence number), and one mid-slice
    disconnect (backoff + re-acquire) before its records are all
    delivered. The oracle is the untouched events table: surviving
    the gauntlet must be invisible — exact count, identity, and value
    mass per event_type, no duplicate and no dropped record. Retry
    counts, backoff capping, and give-up-after-N are pinned separately
    in tests/test_source_faults.py."""

    from clj_kinesis_to_firehose_spark.sources.pyds import (
        register_replay_source,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import (
        write_replay_slices,
    )

    register_replay_source(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    df = (
        spark.read.format("kinesis_replay")
        .option("path", replay)
        .option("faults", "true")
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_records"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )
