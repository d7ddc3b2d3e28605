"""Structured Streaming pipelines (SURVEY.md §2 I4-I7, A4-A7):
the reference's Kinesis→transform→Firehose job re-expressed as
readStream → event-time operators → batched sink.

Each pipeline runs bounded here: a file replay drained by
:func:`run_bounded` (fresh scratch checkpoint + availableNow), then
the materialized result is returned so the driver's rows-only check
and pytest can assert on it; the identical plan runs unbounded
against a Kinesis source in production.

Scale notes: state is always bounded — watermarks expire window and
dedup state; the stateful counter keeps one row per user. Shuffle
partitions for streaming state default to the session setting; on a
cluster, state store instances scale with partitions, checkpointed
incrementally (RocksDB provider configured in session.py).
"""

from __future__ import annotations

import os
import uuid

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from clj_kinesis_to_firehose_spark.sources import scratch_dir
from clj_kinesis_to_firehose_spark.sources.streams import (
    read_event_stream,
    write_replay_slices,
)
from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
    firehose_foreach_batch,
)


def run_bounded(writer: DataStreamWriter) -> StreamingQuery:
    """THE bounded run of a checkpointed stream: ``writer`` (sink,
    output mode, query name already set) gets a fresh scratch
    checkpoint and the availableNow trigger, which drains everything
    available at start — honouring the source's per-trigger limits
    such as ``maxFilesPerTrigger`` — and stops. Returns the terminated
    query (for ``recentProgress``); a failed query re-raises as
    ``StreamingQueryException``."""
    q = (
        writer.option("checkpointLocation", scratch_dir("kf_chk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def _run_to_memory(stream_df: DataFrame, output_mode: str) -> DataFrame:
    """Run a bounded stream into a memory sink, return the result table."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    run_bounded(
        stream_df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    )
    return stream_df.sparkSession.table(name)


def stream_file_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: replayed micro-batch ingestion — counts per event_type over
    the full replay must equal the batch answer."""
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    ev = read_event_stream(spark, replay)
    out = ev.groupBy("event_type").agg(
        F.count("*").alias("n_records"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return _run_to_memory(out, "complete")


def stream_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: synthetic rate-source smoke — bounded by one micro-batch."""
    from clj_kinesis_to_firehose_spark.sources.streams import read_rate_stream

    name = f"mem_{uuid.uuid4().hex[:12]}"
    stream = read_rate_stream(spark, rows_per_second=500).select(
        "timestamp", "value"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).agg(
        F.count("*").alias("n_rows"),
        F.min("value").alias("min_value"),
    )


def stream_tumbling_watermark(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """I4: 1-hour tumbling windows under a 15-minute watermark, append
    mode — only windows the watermark has passed are emitted; late rows
    beyond the watermark are dropped (asserted with a crafted late
    slice in tests/test_streaming.py). The default fixture replay is
    time-ordered with a flush sentinel, so every real window finalizes
    and the output converges to the batch tumbling aggregate — EXACT
    oracle (see stream_sliding_window)."""
    replay = replay_dir or write_replay_slices(
        spark, sf_dir, n_slices=4, flush_sentinel=True
    )
    ev = read_event_stream(spark, replay)
    out = (
        ev.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events")
    )
    return _run_to_memory(out, "append")


def stream_dedup(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """I5: at-least-once → effectively-once. Kinesis redelivery double:
    the replay appends duplicate event_ids; dropDuplicates within the
    watermark removes them, so per-type counts equal the batch answer."""
    replay = replay_dir or write_replay_slices(
        spark, sf_dir, n_slices=4, dup_event_ids=200
    )
    ev = read_event_stream(spark, replay)
    deduped = ev.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    out = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return _run_to_memory(out, "complete")


_COUNTER_SCHEMA = "user_id long, n_events long, sum_value double"
_COUNTER_STATE_SCHEMA = "n long, s double"


def _count_per_user(key, pdf_iter, state: GroupState):
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdf_iter:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
    )


def stream_stateful_counter(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """I6: arbitrary stateful processing — running per-user event count
    and value sum across micro-batches via applyInPandasWithState.
    Update mode: the memory table's LAST row per user is the final
    running total (equals the batch groupBy at end of replay)."""
    replay = replay_dir or write_replay_slices(spark, sf_dir, n_slices=4)
    ev = read_event_stream(spark, replay)
    counted = ev.groupBy("user_id").applyInPandasWithState(
        _count_per_user,
        outputStructType=_COUNTER_SCHEMA,
        stateStructType=_COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    # update-mode memory sink appends every emitted update; keep the
    # final (largest) running total per user
    return (
        _run_to_memory(counted, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("sum_value").alias("sum_value"),
        )
    )


def stream_sliding_window(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """I2 streaming form: 1-hour windows sliding every 30 minutes under
    a 15-minute watermark (append mode — each event contributes to two
    windows; a window is emitted only once the watermark finalizes it,
    and its state is then evicted).

    The replay ends with a far-future flush sentinel
    (write_replay_slices flush_sentinel): the watermark passes every
    real window, so the append-mode output converges to the batch
    aggregate — EXACT oracle — while eviction still runs. The
    sentinel's own window is the one window the final watermark never
    reaches, so it is withheld automatically and never appears."""
    replay = replay_dir or write_replay_slices(
        spark, sf_dir, n_slices=4, flush_sentinel=True
    )
    ev = read_event_stream(spark, replay)
    out = (
        ev.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "n_events")
    )
    return _run_to_memory(out, "append")


def stream_session_window(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """I3 streaming form: per-user session windows (10-minute gap)
    under a watermark — session state merges as events arrive and a
    session is emitted (then evicted) once the watermark passes its
    close. Flush-sentinel replay ⇒ every real session emits ⇒ the
    result equals the batch gaps-and-islands answer — EXACT oracle
    (see stream_sliding_window)."""
    replay = replay_dir or write_replay_slices(
        spark, sf_dir, n_slices=4, flush_sentinel=True
    )
    ev = read_event_stream(spark, replay)
    out = (
        ev.withWatermark("ts", "15 minutes")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )
    return _run_to_memory(out, "append")


_TWS_OUT_SCHEMA = "user_id long, n_events long, max_value double"


def _user_stats_group_state(key, pdf_iter, state: GroupState):
    # GroupState twin of the TWS processor: same output contract
    n, mx = state.get if state.exists else (0, float("-inf"))
    for pdf in pdf_iter:
        n += len(pdf)
        mx = max(mx, float(pdf["value"].max()))
    state.update((n, mx))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_value": [mx]})


def _drain_update_stream(counted: DataFrame) -> DataFrame:
    """Run an update-mode stateful stream to a memory sink and reduce
    the emitted updates to the final (monotone-max) row per user."""
    return (
        _run_to_memory(counted, "update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("max_value").alias("max_value"),
        )
    )


def _make_user_stats_processor():
    """transformWithStateInPandas processor: per-user running count and
    max value in a ValueState cell (the Spark 4.x arbitrary-state API —
    typed state handles, timers, TTL — vs the legacy GroupState form in
    _count_per_user). Built inside a factory so importing this module
    never requires the stateful-processor API to exist."""
    from pyspark.sql.streaming.stateful_processor import StatefulProcessor
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    class UserStatsProcessor(StatefulProcessor):
        def init(self, handle) -> None:
            self._stats = handle.getValueState(
                "stats",
                StructType(
                    [StructField("n", LongType()), StructField("mx", DoubleType())]
                ),
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._stats.exists():
                n, mx = self._stats.get()
            else:
                n, mx = 0, float("-inf")
            for pdf in rows:
                n += len(pdf)
                mx = max(mx, float(pdf["value"].max()))
            self._stats.update((n, mx))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
            )

        def close(self) -> None:
            pass

    return UserStatsProcessor()


def tws_available() -> bool:
    """transformWithStateInPandas needs a working protobuf install for
    its state-server protocol; this container ships a broken
    google.protobuf (verified: `cannot import name 'descriptor'`), so
    the operator probes before choosing the state API."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_stateful_tws(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """I6 on the modern API: transformWithStateInPandas with a typed
    ValueState (RocksDB state store, set by session.py / injected at
    runtime for foreign sessions).

    Where the TWS protobuf dependency is unavailable (this container —
    see tws_available), the identical per-user running stats are
    computed through the legacy applyInPandasWithState path so the
    operator contract holds everywhere; the TWS branch is exercised on
    any environment with a functional protobuf.
    """
    if not tws_available():
        replay = replay_dir or write_replay_slices(spark, sf_dir, n_slices=4)
        ev = read_event_stream(spark, replay)
        counted = ev.groupBy("user_id").applyInPandasWithState(
            _user_stats_group_state,
            outputStructType=_TWS_OUT_SCHEMA,
            stateStructType="n long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        return _drain_update_stream(counted)
    proc = _make_user_stats_processor()
    replay = replay_dir or write_replay_slices(spark, sf_dir, n_slices=4)
    ev = read_event_stream(spark, replay)
    counted = ev.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=proc,
        outputStructType=_TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return _drain_update_stream(counted)


def stream_stream_join(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: each purchase
    joined to the same user's clicks within the following hour.

    Both sides carry watermarks and the join condition bounds the event-
    time skew, so Spark retains exactly the state window it needs
    (purchase state lives 1h + watermark, then is evicted) — the
    stream-stream join is state-bounded and equals the batch join once
    the replay drains. Aggregated per user so the exact oracle hashes a
    compact, deterministic result.
    """
    replay = replay_dir or write_replay_slices(spark, sf_dir, n_slices=4)
    ev = read_event_stream(spark, replay)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
        )
        .withWatermark("p_ts", "15 minutes")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
        .withWatermark("c_ts", "15 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select(F.col("p_user").alias("user_id"), "p_event", "c_event")
    pairs = _run_to_memory(joined, "append")
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("p_event").alias("n_purchases_with_click"),
    )


def stream_stream_join_outer(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """Stream-stream LEFT OUTER join with watermark state eviction:
    every purchase pairs with the same user's clicks in the following
    hour, and a purchase with NO such click still emits — with nulls —
    once the watermark proves no matching click can arrive. That
    null-emission-on-eviction is the semantically hard part of
    streaming outer joins (an unmatched row is only *known* unmatched
    when event time has passed its whole join window).

    Exactness comes from the flush-sentinel replay: the sentinel rides
    BOTH filtered sides (its `__flush__` type is kept in each filter),
    so both watermarks advance past every real purchase's join window,
    every real unmatched purchase is evicted and emitted, and the
    post-replay result equals the batch LEFT JOIN exactly. The
    sentinel's own row is the only state the final watermark never
    expires, so it is withheld and needs no filtering — the same
    convergence trick as stream_tumbling_watermark. State stays
    bounded at (1 h + watermark) per side at any scale."""
    replay = replay_dir or write_replay_slices(
        spark, sf_dir, n_slices=4, flush_sentinel=True
    )
    ev = read_event_stream(spark, replay)
    purchases = (
        ev.filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("p_event"),
        )
        .withWatermark("p_ts", "15 minutes")
    )
    clicks = (
        ev.filter(F.col("event_type").isin("click", "__flush__"))
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            F.col("event_id").alias("c_event"),
        )
        .withWatermark("c_ts", "15 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        "leftOuter",
    ).select(F.col("p_user").alias("user_id"), "p_event", "c_event")
    pairs = _run_to_memory(joined, "append")
    return pairs.groupBy("user_id").agg(
        F.count("c_event").alias("n_pairs"),
        F.countDistinct("p_event").alias("n_purchases"),
        F.countDistinct(
            F.when(F.col("c_event").isNull(), F.col("p_event"))
        ).alias("n_unmatched"),
    )


def stream_join_then_window(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """CHAINED stateful streaming operators in one append-mode query:
    a watermarked stream-stream join whose output feeds a tumbling
    window aggregation downstream — purchase⋈click pairs per hour.
    Multiple stateful operators in a single streaming query is the
    modern engine capability (Spark 3.4+) that previously forced a
    two-job pipeline with an intermediate sink; here the join's state
    eviction and the window's finalization share one propagated
    watermark.

    Exactness: the flush sentinel rides both join inputs, the global
    watermark (min of both sides) passes every real pair's window, so
    every real window finalizes and the output equals the batch
    join-then-group-by. The sentinel row never matches (inner join),
    so no window is polluted. State: join side 1 h + watermark, window
    one row per open hour — both bounded at any scale."""
    replay = replay_dir or write_replay_slices(
        spark, sf_dir, n_slices=4, flush_sentinel=True
    )
    ev = read_event_stream(spark, replay)
    purchases = (
        ev.filter(F.col("event_type").isin("purchase", "__flush__"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "15 minutes")
    )
    clicks = (
        ev.filter(F.col("event_type").isin("click", "__flush__"))
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "15 minutes")
    )
    joined = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    out = (
        joined.groupBy(F.window("p_ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # DECIMAL sum: order-independent, so micro-batch addition
            # order can't drift from the oracle's batch fold
            F.round(F.sum(F.col("p_value").cast("decimal(18,4)")), 2)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("wstart"), "n_pairs", "sum_value")
    )
    return _run_to_memory(out, "append")


def stream_firehose_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str | None = None,
    fail_first_attempt_every: int = 0,
) -> DataFrame:
    """I7 + A6 + A7: the complete reference job — replayed Kinesis
    double → payload inspection/filter → route by event_type → Firehose
    PutRecordBatch sink (≤500 rec / ≤4 MiB batches, newline-terminated
    JSON, per-record retry, idempotent batch files) with checkpointed
    foreachBatch for exactly-once.

    Returns per-stream delivered counts read back from the delivery
    directory — the at-least-once/effectively-once audit surface.
    """
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    delivery_dir = out_dir or scratch_dir("kf_firehose_")
    ev = read_event_stream(spark, replay)
    routed = ev.withColumn(
        "prop_k", F.get_json_object("props", "$.k").cast("long")
    ).filter(F.col("event_type") != "error")  # the bridge's drop-filter
    run_bounded(
        routed.writeStream.foreachBatch(
            firehose_foreach_batch(
                delivery_dir, fail_first_attempt_every=fail_first_attempt_every
            )
        )
    )
    delivered = spark.read.json(os.path.join(delivery_dir, "*.jsonl"))
    return delivered.groupBy("event_type").agg(
        F.count("*").alias("n_delivered"),
        F.countDistinct("event_id").alias("n_unique"),
    )


def stream_firehose_dynamic_partition(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Firehose DYNAMIC PARTITIONING: the delivery prefix is computed
    from payload fields (``event_type/yyyy/MM/dd``), so the sink lands
    each record under its partition path — the Firehose feature that
    makes delivered data directly queryable as a partitioned table
    (partition-pruned scans, no post-delivery re-layout job).

    The audit reads the delivered files back and derives each record's
    prefix from its FILE PATH (not its payload), so the check proves
    physical routing: per-prefix counts must equal the source
    partitioning exactly, and a payload-vs-path mismatch count is
    asserted zero. Routing is map-side column work; at scale each
    partition's records group by prefix locally before delivery, so
    batch caps apply per prefix exactly as per stream."""
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    delivery_dir = out_dir or scratch_dir("kf_fh_dyn_")
    ev = read_event_stream(spark, replay)
    routed = ev.filter(F.col("event_type") != "error").withColumn(
        "__prefix",
        F.concat_ws("/", "event_type", F.date_format("ts", "yyyy/MM/dd")),
    )
    run_bounded(
        routed.writeStream.foreachBatch(
            firehose_foreach_batch(delivery_dir, stream_name_col="__prefix")
        )
    )
    delivered = spark.read.json(
        os.path.join(delivery_dir, "*", "*", "*", "*.jsonl")
    )
    file_prefix = F.regexp_extract(
        F.input_file_name(), r"([^/]+/\d{4}/\d{2}/\d{2})-[^/]*\.jsonl$", 1
    )
    payload_prefix = F.concat_ws(
        "/",
        "event_type",
        F.translate(F.substring("ts", 1, 10), "-", "/"),
    )
    return (
        delivered.select(
            file_prefix.alias("prefix"),
            (file_prefix != payload_prefix).cast("long").alias("misrouted"),
        )
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_delivered"),
            F.sum("misrouted").alias("n_misrouted"),
        )
    )


def stream_firehose_format_conversion(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> DataFrame:
    """Firehose RECORD FORMAT CONVERSION: the delivery client converts
    each buffered JSON batch to one columnar parquet file on the way
    out (ParquetConvertingFirehoseClient) — the Firehose feature that
    lands warehouse-ready columnar data without a post-delivery ETL
    job. The audit scans the delivered parquet back: per-stream
    counts, distinct ids, and DECIMAL value sums must reproduce the
    source exactly, proving the JSON→columnar conversion is lossless
    (doubles survive via shortest-repr JSON round-trip). Same caps,
    retry, and idempotent-naming machinery as the JSON-lines path —
    only the client differs."""
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        ParquetConvertingFirehoseClient,
    )

    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    delivery_dir = out_dir or scratch_dir("kf_fh_pq_")
    ev = read_event_stream(spark, replay)
    routed = ev.filter(F.col("event_type") != "error")
    run_bounded(
        routed.writeStream.foreachBatch(
            firehose_foreach_batch(
                delivery_dir, client_factory=ParquetConvertingFirehoseClient
            )
        )
    )
    delivered = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(delivery_dir, "*.parquet")
    )
    return delivered.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_delivered"),
        F.countDistinct("event_id").cast("long").alias("n_unique"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the replayed event stream is enriched
    per-micro-batch against a static dimension (customer segment,
    keyed on the user id). The static side is planned fresh each
    micro-batch; it is UNHINTED (customer grows with the fact, so a
    hard broadcast hint would OOM at 100 TB) and the planner
    broadcasts it per-batch while its stats fit — no state, no
    watermark needed; this is
    the bridge's "annotate records from a lookup table" path in
    Structured Streaming form. Converges to the batch join, so the
    registry gives it an exact oracle."""
    from clj_kinesis_to_firehose_spark.sources import load_table

    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    ev = read_event_stream(spark, replay)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = (
        ev.join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return _run_to_memory(out, "complete")


def stream_backpressure_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion rate control: maxFilesPerTrigger=1 caps each
    micro-batch at one replay slice, so a backlog drains as bounded
    batches instead of one giant catch-up batch — the file-source
    analog of Kinesis maxRecordsPerFetch / rate-limited resharding
    recovery. Unbounded catch-up batches are the classic streaming
    OOM at scale: state updates, shuffles, and sink batches all size
    with the micro-batch, so bounding the trigger bounds memory.

    foreachBatch records per-epoch row counts; the summary proves the
    backlog split into >=n_slices batches, none exceeding one slice.
    """
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    ev = read_event_stream(spark, replay)  # maxFilesPerTrigger=1 inside
    seen: list[int] = []

    def record(batch_df: DataFrame, epoch_id: int) -> None:
        seen.append(batch_df.count())

    run_bounded(ev.writeStream.foreachBatch(record))
    batches = [n for n in seen if n > 0]
    return spark.createDataFrame(
        [(len(batches), int(max(batches)), int(sum(batches)))],
        "n_batches long, max_batch_rows long, total_rows long",
    )


def stream_reshard_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard split + merge replay (sources.streams.write_reshard_replay):
    the stream is consumed through a checkpointed foreachBatch capture,
    then the ARRIVAL LOG — not the source — is audited:

    * ``n_records`` / ``n_keys`` per shard must equal the oracle's
      portable-hash routing of the source table (nothing lost or
      duplicated across the split and the merge);
    * ``n_order_violations``: per partition key, arrival order
      (micro-batch, then in-shard sequence number) must never run
      backwards in event time — the per-key ordering Kinesis promises
      across a reshard when parents are drained before children;
    * ``n_lineage_crossings``: a key must never appear in a shard
      outside its hash range's lineage.

    The oracle pins both violation counters to ZERO, so they are
    exact-checked, not just asserted locally."""
    from pyspark.sql.window import Window

    from clj_kinesis_to_firehose_spark.sources.streams import (
        _SHARD_BUCKET,
        read_reshard_stream,
        write_reshard_replay,
    )

    replay = write_reshard_replay(spark, sf_dir)
    cap_dir = os.path.join(scratch_dir("kf_reshard_cap_"), "arrivals")

    def capture(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.withColumn("batch_id", F.lit(int(epoch_id))).write.mode(
            "append"
        ).parquet(cap_dir)

    run_bounded(read_reshard_stream(spark, replay).writeStream.foreachBatch(capture))

    arr = spark.read.parquet(cap_dir)
    w = Window.partitionBy("user_id").orderBy("batch_id", "seq")
    b2 = F.expr(_SHARD_BUCKET).cast("long") % 2
    return (
        arr.withColumn(
            "viol",
            F.when(F.col("ts") < F.lag("ts").over(w), 1).otherwise(0),
        )
        .withColumn(
            "crossing",
            F.when(
                ((b2 == 0) & (F.col("shard_id") != "shard-0"))
                | ((b2 == 1) & (F.col("shard_id") == "shard-0")),
                1,
            ).otherwise(0),
        )
        .groupBy(F.col("shard_id").alias("shard"))
        .agg(
            F.count("*").alias("n_records"),
            F.countDistinct("user_id").alias("n_keys"),
            F.sum("viol").cast("long").alias("n_order_violations"),
            F.sum("crossing").cast("long").alias("n_lineage_crossings"),
        )
    )


def stream_kpl_firehose_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE reference bridge at full wire fidelity: KPL-AGGREGATED
    Kinesis traffic in → checksum-verified deaggregation → payload
    decode → route (drop 'error') → Firehose PutRecordBatch delivery,
    exactly-once via checkpoint + idempotent batch files.

    Producer simulation packs events into KPL blobs (public wire
    format, sources/kinesis.py) grouped per (time-slice, batch) via
    applyInPandas; the replay streams the BLOBS (one slice per
    micro-batch), deaggregation runs as Arrow-batched mapInPandas ON
    THE STREAM — stateless map work that parallelizes with ingestion,
    exactly like a production KCL consumer — and the delivery audit
    reads the batch files back. EXACT oracle: delivered per-stream
    counts and distinct ids equal the non-error source."""
    from pyspark.sql.window import Window

    from clj_kinesis_to_firehose_spark.sources.kinesis import (
        kpl_aggregate,
        kpl_deaggregate,
    )
    from clj_kinesis_to_firehose_spark.sources.loader import load_table
    from clj_kinesis_to_firehose_spark.sources.streams import _stamp_slice_order

    raw = load_table(spark, sf_dir, "events")
    sliced = raw.select(
        (F.ntile(4).over(Window.orderBy("ts", "event_id")) - 1).alias("__slice"),
        (F.col("event_id") % 16).alias("__batch"),
        F.col("user_id").cast("string").alias("pk"),
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("payload"),
    )

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("payload")
        blob = kpl_aggregate(
            [(pk, p.encode()) for pk, p in zip(pdf["pk"], pdf["payload"])]
        )
        return pd.DataFrame({"slice": [int(pdf["__slice"].iloc[0])], "blob": [blob]})

    # persist: the per-slice writes below would otherwise re-execute
    # the global ntile sort AND the Python KPL packing once per slice
    blobs = sliced.groupBy("__slice", "__batch").applyInPandas(
        encode, "slice int, blob binary"
    ).persist()
    replay_dir = scratch_dir("kf_kpl_replay_")
    try:
        for i in range(4):
            (
                blobs.filter(F.col("slice") == i)
                .select("blob")
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(os.path.join(replay_dir, f"slice={i}"))
            )
    finally:
        blobs.unpersist()
    _stamp_slice_order(replay_dir)

    def decode(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                rows.extend(
                    (pk, data.decode())
                    for pk, data in kpl_deaggregate(bytes(blob))
                )
            yield pd.DataFrame(rows, columns=["pk", "payload"])

    stream = (
        spark.readStream.schema("blob binary")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(replay_dir)
    )
    parsed = (
        stream.mapInPandas(decode, "pk string, payload string")
        .select(
            F.from_json(
                "payload",
                "event_id long, user_id long, event_type string, value double",
            ).alias("e")
        )
        .select("e.*")
    )
    routed = parsed.filter(F.col("event_type") != "error")
    delivery_dir = scratch_dir("kf_kpl_fh_")
    run_bounded(routed.writeStream.foreachBatch(firehose_foreach_batch(delivery_dir)))
    delivered = spark.read.json(os.path.join(delivery_dir, "*.jsonl"))
    return delivered.groupBy("event_type").agg(
        F.count("*").alias("n_delivered"),
        F.countDistinct("event_id").alias("n_unique"),
    )
