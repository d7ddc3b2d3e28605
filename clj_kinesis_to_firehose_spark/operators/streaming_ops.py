"""The streaming operators (SURVEY.md §2 A4-A7, I4-I7): the reference's
Kinesis→transform→Firehose job re-expressed as readStream → event-time
operators → batched sink, each registered where it is built.

All weak (streaming semantics are not DuckDB-expressible) except where
a post-replay result coincides with a batch answer — those get exact
oracles since the replay is deterministic. Each stream runs bounded
(``pipelines.run_bounded``); the identical plan runs unbounded against
a Kinesis source in production.

Scale notes: state is always bounded — watermarks expire window, join
and dedup state; the stateful counters keep one row per user. Shuffle
partitions for streaming state default to the session setting; on a
cluster, state store instances scale with partitions, checkpointed
incrementally (RocksDB provider configured in session.py).
"""

from __future__ import annotations

import functools
import os
import uuid

import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table, scratch_dir
from clj_kinesis_to_firehose_spark.sources.streams import (
    read_event_stream,
    read_replay,
    write_replay,
    write_replay_slices,
)
from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
    COUNTERS_SCHEMA,
    DeadLetterDir,
    LocalDirFirehoseClient,
    ParquetConvertingFirehoseClient,
    deliver_frame,
    delivery_kernel,
    firehose_foreach_batch,
    gzip_payload,
    newline_terminate,
)
from clj_kinesis_to_firehose_spark.streaming.pipelines import (
    _run_to_memory,
    run_bounded,
    run_epochs,
)


def _replay(spark: SparkSession, sf_dir: str, **slices) -> DataFrame:
    """The events fixture as a four-slice file replay, one slice per
    micro-batch (``slices``: write_replay_slices' duplicate / flush
    sentinel options)."""
    return read_event_stream(
        spark, write_replay_slices(spark, sf_dir, n_slices=4, **slices)
    )


def _drain_update_stream(counted: DataFrame) -> DataFrame:
    """Run an update-mode stateful stream to a memory sink and keep each
    user's final row: the sink appends every emitted update, and the
    running totals only grow, so the final row is the per-column max."""
    updates = _run_to_memory(counted, "update")
    return updates.groupBy("user_id").agg(
        *(F.max(c).alias(c) for c in updates.columns if c != "user_id")
    )


def _purchase_click_pairs(ev: DataFrame, how: str = "inner") -> DataFrame:
    """THE watermarked purchase⋈click join: each purchase (``p_user,
    p_ts, p_event, p_value``) paired with the same user's clicks
    (``c_*``) in the following hour, each side under a 15-minute
    watermark. The condition bounds the event-time skew, so Spark keeps
    a row for 1 h + watermark and then evicts it — emitting an
    unmatched purchase with nulls first, for a left outer join. A
    replay's flush sentinel (``__flush__``) rides both sides, so both
    watermarks pass every real row; it never matches, and its own state
    is the only state the final watermark never expires."""

    def side(event_type: str, p: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type").isin(event_type, "__flush__"))
            .select(
                F.col("user_id").alias(f"{p}_user"),
                F.col("ts").alias(f"{p}_ts"),
                F.col("event_id").alias(f"{p}_event"),
                F.col("value").alias(f"{p}_value"),
            )
            .withWatermark(f"{p}_ts", "15 minutes")
        )

    return side("purchase", "p").join(
        side("click", "c"),
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") > F.col("p_ts"))
        & (F.col("c_ts") <= F.col("p_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    )


def _read_back(
    spark: SparkSession,
    pattern: str,
    *aggs: Column,
    key: str | Column = "stream",
    count: str = "n_delivered",
) -> DataFrame:
    """THE physical audit of a delivery: the JSON records in the files
    matching ``pattern``, read back and counted (as ``count``) per
    ``key`` — the payload's event_type under that name, or a grouping
    column — plus ``aggs``."""
    if isinstance(key, str):
        key = F.col("event_type").alias(key)
    return spark.read.json(pattern).groupBy(key).agg(F.count("*").alias(count), *aggs)


def event_type_totals(events: DataFrame) -> DataFrame:
    """Count, distinct ids and DECIMAL value mass per event_type — the
    audit of a connector face that must deliver the events table
    untouched (the DECIMAL sum is order-independent, so micro-batch
    order cannot drift from the oracle's batch fold)."""
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_records"),
        F.countDistinct("event_id").cast("long").alias("n_ids"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "stream_source_file", executes_on_build=True,
    oracle="""
    SELECT event_type, COUNT(*) AS n_records, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_source_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: replayed micro-batch ingestion — counts per event_type over
    the full replay must converge to the batch aggregate, so the
    streaming source gets an EXACT oracle."""
    out = _replay(spark, sf_dir).groupBy("event_type").agg(
        F.count("*").alias("n_records"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )
    return _run_to_memory(out, "complete")


@register("stream_source_rate", executes_on_build=True)
def stream_source_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
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
def stream_tumbling_watermark(
    spark: SparkSession, sf_dir: str, replay_dir: str | None = None
) -> DataFrame:
    """I4: 1-hour tumbling windows under a 15-minute watermark, append
    mode — only windows the watermark has passed are emitted; late rows
    beyond the watermark are dropped (asserted with a crafted late
    ``replay_dir`` in tests/test_streaming.py::
    test_watermark_drops_late_rows). The default fixture replay is
    time-ordered with a flush sentinel, so every real window finalizes
    and the output equals the batch tumbling aggregate — EXACT oracle
    (see stream_sliding_window)."""
    ev = (
        read_event_stream(spark, replay_dir)
        if replay_dir
        else _replay(spark, sf_dir, flush_sentinel=True)
    )
    out = (
        ev.withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "event_type", "n_events")
    )
    return _run_to_memory(out, "append")


@register(
    "stream_dedup", executes_on_build=True,
    oracle="""
    SELECT event_type, COUNT(DISTINCT event_id) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I5: at-least-once → effectively-once. Kinesis redelivery double:
    the replay appends 200 duplicate event_ids; dropDuplicates within
    the watermark removes them, so per-type counts equal the batch
    distinct counts."""
    ev = _replay(spark, sf_dir, dup_event_ids=200)
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


@register(
    "stream_stateful_counter", executes_on_build=True,
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6: arbitrary stateful processing — running per-user event count
    and value sum across micro-batches via applyInPandasWithState. The
    final running totals equal the batch groupBy once the replay
    drains."""
    counted = _replay(spark, sf_dir).groupBy("user_id").applyInPandasWithState(
        _count_per_user,
        outputStructType=_COUNTER_SCHEMA,
        stateStructType=_COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return _drain_update_stream(counted)


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
    """I2 streaming form: 1-hour windows sliding every 30 minutes under
    a 15-minute watermark (append mode — each event contributes to two
    windows; a window is emitted only once the watermark finalizes it,
    and its state is then evicted).

    The replay ends with a far-future flush sentinel
    (write_replay_slices flush_sentinel): the watermark passes every
    real window, so the append-mode output equals the batch expansion
    of each event into its two window alignments — EXACT oracle — while
    eviction still runs. The sentinel's own window is the one window
    the final watermark never reaches, so it is withheld automatically
    and never appears."""
    out = (
        _replay(spark, sf_dir, flush_sentinel=True)
        .withWatermark("ts", "15 minutes")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("wstart"), "n_events")
    )
    return _run_to_memory(out, "append")


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
    """I3 streaming form: per-user session windows (10-minute gap)
    under a watermark — session state merges as events arrive and a
    session is emitted (then evicted) once the watermark passes its
    close. Flush-sentinel replay ⇒ every real session emits ⇒ the
    result equals the batch gaps-and-islands answer (the oracle shape
    of the batch twin window_session) — EXACT oracle (see
    stream_sliding_window)."""
    out = (
        _replay(spark, sf_dir, flush_sentinel=True)
        .withWatermark("ts", "15 minutes")
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
    its state-server protocol; a broken google.protobuf install fails
    with `cannot import name 'descriptor'`, so the operator probes
    before choosing the state API."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@register(
    "stream_stateful_tws", executes_on_build=True,
    oracle="""
    SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
    FROM events GROUP BY user_id
    """,
)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """I6 on the modern API: transformWithStateInPandas with a typed
    ValueState (RocksDB state store, set by session.py / injected at
    runtime for foreign sessions). The running stats equal the batch
    aggregate after the replay drains (max is order-insensitive and
    exact — no float accumulation).

    Where the TWS protobuf dependency is unavailable (see
    tws_available), the identical per-user running stats are
    computed through the legacy applyInPandasWithState path so the
    operator contract holds everywhere; the TWS branch is exercised on
    any environment with a functional protobuf.
    """
    per_user = _replay(spark, sf_dir).groupBy("user_id")
    if tws_available():
        counted = per_user.transformWithStateInPandas(
            statefulProcessor=_make_user_stats_processor(),
            outputStructType=_TWS_OUT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    else:
        counted = per_user.applyInPandasWithState(
            _user_stats_group_state,
            outputStructType=_TWS_OUT_SCHEMA,
            stateStructType="n long, mx double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    return _drain_update_stream(counted)


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
    """Stream-stream inner join with event-time bounds
    (:func:`_purchase_click_pairs`): both sides carry watermarks and the
    join condition bounds the event-time skew, so Spark retains exactly
    the state window it needs — the join is state-bounded and equals
    the batch self-join with the same bound once the replay drains.
    Aggregated per user so the exact oracle hashes a compact,
    deterministic result."""
    joined = _purchase_click_pairs(_replay(spark, sf_dir)).select(
        F.col("p_user").alias("user_id"), "p_event", "c_event"
    )
    return _run_to_memory(joined, "append").groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("p_event").alias("n_purchases_with_click"),
    )


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
    """Stream-stream LEFT OUTER join with watermark state eviction: a
    purchase with NO click in the following hour still emits — with
    nulls — once the watermark proves no matching click can arrive.
    That null-emission-on-eviction is the semantically hard part of
    streaming outer joins (an unmatched row is only *known* unmatched
    when event time has passed its whole join window).

    Exactness comes from the flush-sentinel replay: it advances BOTH
    watermarks past every real purchase's join window, so every real
    unmatched purchase is evicted and emitted, and the post-replay
    result equals the batch LEFT JOIN exactly; the sentinel's own row is
    withheld, so it needs no filtering. State stays bounded at
    (1 h + watermark) per side at any scale."""
    joined = _purchase_click_pairs(
        _replay(spark, sf_dir, flush_sentinel=True), "leftOuter"
    ).select(F.col("p_user").alias("user_id"), "p_event", "c_event")
    return _run_to_memory(joined, "append").groupBy("user_id").agg(
        F.count("c_event").alias("n_pairs"),
        F.countDistinct("p_event").alias("n_purchases"),
        F.countDistinct(
            F.when(F.col("c_event").isNull(), F.col("p_event"))
        ).alias("n_unmatched"),
    )


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
    joined = _purchase_click_pairs(_replay(spark, sf_dir, flush_sentinel=True))
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
def stream_foreachbatch_sink(
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
    directory — the at-least-once/effectively-once audit surface. EXACT:
    the replay is duplicate-free and the sink idempotent, so delivered
    == unique == the non-error source. Batch-size caps, partial-failure
    retry (``fail_first_attempt_every``) and redelivery dedup stay
    property-tested in tests/test_firehose_sink.py and
    tests/test_streaming.py.
    """
    delivery_dir = out_dir or scratch_dir("kf_firehose_")
    routed = (
        _replay(spark, sf_dir)
        .withColumn("prop_k", F.get_json_object("props", "$.k").cast("long"))
        .filter(F.col("event_type") != "error")  # the bridge's drop-filter
    )
    run_bounded(
        routed.writeStream.foreachBatch(
            firehose_foreach_batch(
                delivery_dir, fail_first_attempt_every=fail_first_attempt_every
            )
        )
    )
    return _read_back(
        spark,
        os.path.join(delivery_dir, "*.jsonl"),
        F.countDistinct("event_id").alias("n_unique"),
        key="event_type",
    )


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
    """Firehose DYNAMIC PARTITIONING: the delivery prefix is computed
    from payload fields (``event_type/yyyy/MM/dd``), so the sink lands
    each record under its partition path — the Firehose feature that
    makes delivered data directly queryable as a partitioned table
    (partition-pruned scans, no post-delivery re-layout job).

    EXACT: the audit reads the delivered files back and derives each
    record's prefix from its FILE PATH (not its payload), so the check
    proves physical routing: per-prefix counts must equal the source
    partitioning exactly, and the payload-vs-path mismatch count must
    be zero. Routing is map-side column work; at scale each partition's
    records group by prefix locally before delivery, so batch caps
    apply per prefix exactly as per stream."""
    delivery_dir = scratch_dir("kf_fh_dyn_")
    routed = (
        _replay(spark, sf_dir)
        .filter(F.col("event_type") != "error")
        .withColumn(
            "__prefix",
            F.concat_ws("/", "event_type", F.date_format("ts", "yyyy/MM/dd")),
        )
    )
    run_bounded(
        routed.writeStream.foreachBatch(
            firehose_foreach_batch(delivery_dir, stream_name_col="__prefix")
        )
    )
    file_prefix = F.regexp_extract(
        F.input_file_name(), r"([^/]+/\d{4}/\d{2}/\d{2})-[^/]*\.jsonl$", 1
    )
    payload_prefix = F.concat_ws(
        "/",
        "event_type",
        F.translate(F.substring("ts", 1, 10), "-", "/"),
    )
    return _read_back(
        spark,
        os.path.join(delivery_dir, "*", "*", "*", "*.jsonl"),
        F.sum((file_prefix != payload_prefix).cast("long")).alias("n_misrouted"),
        key=file_prefix.alias("prefix"),
    )


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
    """Firehose RECORD FORMAT CONVERSION: the delivery client converts
    each buffered JSON batch to one columnar parquet file on the way
    out (ParquetConvertingFirehoseClient) — the Firehose feature that
    lands warehouse-ready columnar data without a post-delivery ETL
    job. EXACT: the audit scans the delivered parquet back: per-stream
    counts, distinct ids, and DECIMAL value sums must reproduce the
    source exactly, proving the JSON→columnar conversion is lossless
    (doubles survive via shortest-repr JSON round-trip). Same caps,
    retry, and idempotent-naming machinery as the JSON-lines path —
    only the client differs."""
    delivery_dir = scratch_dir("kf_fh_pq_")
    routed = _replay(spark, sf_dir).filter(F.col("event_type") != "error")
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
    return _read_back(spark, os.path.join(out_dir, "*.jsonl.gz"))


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
    delivered = _read_back(spark, os.path.join(out_dir, "*.jsonl"))
    dead = _read_back(spark, os.path.join(out_dir, "errors", "*.jsonl"), count="n_dead")
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
    delivered = _read_back(
        spark, os.path.join(out_dir, "*.jsonl"), F.sum("value_cents").alias("sum_cents")
    )
    dead = _read_back(spark, os.path.join(out_dir, "errors", "*.jsonl"), count="n_failed")
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
    delivered = _read_back(spark, os.path.join(out_dir, "*.jsonl"))
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
    """Stream-static join: the replayed event stream is enriched
    per-micro-batch against a static dimension (customer segment,
    keyed on the user id). The static side is planned fresh each
    micro-batch; it is UNHINTED (customer grows with the fact, so a
    hard broadcast hint would OOM at 100 TB) and the planner
    broadcasts it per-batch while its stats fit — no state, no
    watermark needed; this is the bridge's "annotate records from a
    lookup table" path in Structured Streaming form. Converges to the
    batch join over the full replay, so it gets an exact oracle."""
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    out = (
        _replay(spark, sf_dir)
        .join(dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return _run_to_memory(out, "complete")


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
    counts and distinct ids equal the non-error source (duplicate-free:
    exactly-once checkpointing)."""
    from pyspark.sql.window import Window

    from clj_kinesis_to_firehose_spark.sources.kinesis import (
        kpl_aggregate,
        kpl_deaggregate,
    )

    raw = load_table(spark, sf_dir, "events")
    records = raw.select(
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
        return pd.DataFrame({"__slice": [int(pdf["__slice"].iloc[0])], "blob": [blob]})

    # write_replay caches the blobs while it cuts the slices, so the
    # global ntile sort and the Python KPL packing run once
    replay_dir = write_replay(
        scratch_dir("kf_kpl_replay_"),
        sliced=records.groupBy("__slice", "__batch").applyInPandas(
            encode, "__slice int, blob binary"
        ),
        n_slices=4,
    )

    def decode(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                rows.extend(
                    (pk, data.decode())
                    for pk, data in kpl_deaggregate(bytes(blob))
                )
            yield pd.DataFrame(rows, columns=["pk", "payload"])

    parsed = (
        read_replay(spark, replay_dir, "blob binary")
        .mapInPandas(decode, "pk string, payload string")
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
    return _read_back(
        spark,
        os.path.join(delivery_dir, "*.jsonl"),
        F.countDistinct("event_id").alias("n_unique"),
        key="event_type",
    )


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
    """Shard split + merge replay (sources.streams.write_reshard_replay):
    the stream's micro-batches are captured, each tagged with its
    batch id, as the epochs of an ARRIVAL LOG (``run_epochs``), and
    the log — not the source — is audited:

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
    exact-checked, not just asserted locally. Checkpoint continuity
    across the reshard boundary is pinned in
    tests/test_streaming.py::test_checkpoint_survives_reshard."""
    from pyspark.sql.window import Window

    from clj_kinesis_to_firehose_spark.sources.streams import (
        _SHARD_BUCKET,
        RESHARD_RAW_SCHEMA,
        write_reshard_replay,
    )

    arr = run_epochs(
        read_replay(spark, write_reshard_replay(spark, sf_dir), RESHARD_RAW_SCHEMA),
        lambda batch_df, epoch: batch_df.withColumn("batch_id", F.lit(epoch)),
    )
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


@register("stream_backpressure_trigger", executes_on_build=True)
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
    Weak: batch boundaries are an execution property, not a query
    result — tests/test_streaming.py asserts them.
    """
    ev = _replay(spark, sf_dir)  # maxFilesPerTrigger=1 inside
    seen: list[int] = []

    def record(batch_df: DataFrame, epoch_id: int) -> None:
        seen.append(batch_df.count())

    run_bounded(ev.writeStream.foreachBatch(record))
    batches = [n for n in seen if n > 0]
    return spark.createDataFrame(
        [(len(batches), int(max(batches)), int(sum(batches)))],
        "n_batches long, max_batch_rows long, total_rows long",
    )


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

    register_replay_source(spark)
    register_delivery_sink(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    out = scratch_dir("kf_pyds_deliv_")
    run_bounded(
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
    return event_type_totals(delivered)


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
    from clj_kinesis_to_firehose_spark.sources.pyds import register_replay_source

    register_replay_source(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    return event_type_totals(
        spark.read.format("kinesis_replay")
        .option("path", replay)
        .option("faults", "true")
        .load()
    )
