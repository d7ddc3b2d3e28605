"""Event-analytics operators: funnel conversion, cohort retention,
sessionization statistics, modal values, and time-bucketed rollups.

These are the query shapes a product-analytics user of a
Kinesis→Firehose event pipeline runs downstream of delivery (the
reference moves the events; an engine that replaces it must also be
able to answer the questions asked of them). All are pure DataFrame
compositions — conditional aggregation, gaps-and-islands windows,
date bucketing — that Catalyst plans as scan → partial agg → one
shuffle per grouping, so they hold at 100 TB: the only shuffles are
on `user_id` (high-cardinality, well distributed) or on coarse
(day, event_type) buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table

#: ordered funnel stages over events.event_type
FUNNEL_STAGES = ["signup", "view", "purchase"]

#: sessionization gap (seconds) for funnel/session stats
SESSION_GAP_S = 30 * 60


@register(
    "funnel_conversion",
    oracle="""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS ts1 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), s2 AS (
        SELECT e.user_id, MIN(e.ts) AS ts2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'view' AND e.ts > s1.ts1
        GROUP BY e.user_id
    ), s3 AS (
        SELECT e.user_id, MIN(e.ts) AS ts3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.ts2
        GROUP BY e.user_id
    )
    SELECT '1_signup' AS stage, COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT '2_view' AS stage, COUNT(*) AS n_users FROM s2
    UNION ALL
    SELECT '3_purchase' AS stage, COUNT(*) AS n_users FROM s3
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who signed up, then viewed strictly after
    signup, then purchased strictly after that first view.

    Each stage is one groupBy(user_id) min-aggregation joined to the
    previous stage's result — the per-stage frontier (one row per
    surviving user) shrinks monotonically, so at scale each join's
    right side is the smallest relation so far and AQE will broadcast
    it once it fits. No window state, no per-user event lists.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")

    stage_min = None
    frontiers = []
    for etype in FUNNEL_STAGES:
        cur = ev.filter(F.col("event_type") == etype)
        if stage_min is None:
            cur_min = cur.groupBy("user_id").agg(F.min("ts").alias("ts_stage"))
        else:
            cur_min = (
                cur.join(stage_min.withColumnRenamed("ts_stage", "ts_prev"), "user_id")
                .filter(F.col("ts") > F.col("ts_prev"))
                .groupBy("user_id")
                .agg(F.min("ts").alias("ts_stage"))
            )
        # r15: a lazy pin per frontier was tried (each frontier is
        # consumed twice — next stage's join + its own count branch —
        # so the stage-3 branch re-derives stages 1..3, 6 event scans
        # for a 3-stage funnel) and REJECTED: it bought only ~8%
        # (1.49 -> 1.37 s, the duplicated subtrees are pruned scans +
        # broadcast joins) while hiding the plan contract that
        # test_funnel_pushes_stage_filters_and_broadcasts_frontiers
        # pins — every stage's event_type filter pushed to its scan
        # and every frontier lookup a broadcast, the properties that
        # actually carry this shape to 100 TB.
        frontiers.append(cur_min)
        stage_min = cur_min

    counts = [
        f.agg(F.count("*").alias("n_users")).select(
            F.lit(f"{i + 1}_{etype}").alias("stage"), "n_users"
        )
        for i, (etype, f) in enumerate(zip(FUNNEL_STAGES, frontiers))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


@register(
    "retention_cohort",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), cohort AS (
        SELECT user_id, MIN(day) AS cohort_day FROM days GROUP BY user_id
    )
    SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
           CAST(FLOOR(DATE_DIFF('day', c.cohort_day, d.day) / 7) AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT d.user_id) AS n_active
    FROM days d JOIN cohort c ON d.user_id = c.user_id
    GROUP BY c.cohort_day, week_offset

    """,
)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-active day, counted in
    each subsequent week-offset bucket.

    The (user, day) dedup and the cohort min both shuffle on user_id;
    the final agg shuffles on the tiny (cohort_day, week_offset) key
    space. DuckDB's DATE_DIFF('day', start, end) argument order is the
    reverse of Spark's datediff(end, start) — mind the oracle.
    """
    days = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.to_date("ts").alias("day"))
        .distinct()
    )
    cohort = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(cohort, "user_id")
        .select(
            "cohort_day",
            F.floor(F.datediff("day", "cohort_day") / 7).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_day", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
        # dates travel as strings — the engines' date types hash differently
        .select(
            F.col("cohort_day").cast("string").alias("cohort_day"),
            "week_offset",
            "n_active",
        )
    )


@register(
    "sessionize_stats",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, value,
               LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ), flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN prev_ts IS NULL
                         OR EPOCH_US(ts) - EPOCH_US(prev_ts) > {SESSION_GAP_S} * 1000000
                    THEN 1 ELSE 0 END AS new_session,
               event_id
        FROM ordered
    ), numbered AS (
        SELECT user_id, ts, value,
               -- CAST: DuckDB window SUM(int) yields HUGEINT → float64 in
               -- pandas; Spark yields long — align the hash representation
               CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                           ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq, COUNT(*) AS n_events,
           EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS duration_us,
           ROUND(SUM(value), 2) AS sum_value
    FROM numbered GROUP BY user_id, session_seq
    """,
)
def sessionize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session statistics via gaps-and-islands (30-min gap):
    events per session, duration in µs, summed value.

    One shuffle on user_id serves both window passes (lag + running
    sum share the partitioning) and the final group-by composes the
    session key onto the same keys, so Catalyst reuses the exchange.
    Tie-break on event_id makes the island numbering deterministic
    across engines. Duration is integer µs (unix_micros), not a
    float second diff — no truncation-direction ambiguity.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        .withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (F.unix_micros("ts") - F.unix_micros("prev_ts") > SESSION_GAP_S * 1_000_000),
                1,
            ).otherwise(0),
        )
    )
    numbered = flagged.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("duration_us"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "agg_mode",
    oracle="""
    SELECT o_orderstatus, o_orderpriority AS modal_priority, n_orders FROM (
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                  ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
        FROM orders GROUP BY o_orderstatus, o_orderpriority
    ) WHERE rn = 1
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal o_orderpriority per o_orderstatus with a deterministic
    (count desc, priority asc) tie-break — Spark's built-in `mode()`
    is tie-nondeterministic across engines, so the portable form is
    count + row_number, which also partial-aggregates map-side.
    """
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n_orders"), F.asc("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("modal_priority"),
            "n_orders",
        )
    )


@register(
    "time_bucket_rollup",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, event_type,
               COUNT(*) AS n_events, ROUND(SUM(value), 2) AS day_value
        FROM events GROUP BY day, event_type
    )
    SELECT CAST(day AS VARCHAR) AS day, event_type, n_events, day_value,
           ROUND(AVG(day_value) OVER (PARTITION BY event_type ORDER BY day
                                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4)
             AS ma7_value
    FROM daily
    """,
)
def time_bucket_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous rollup: raw events → daily buckets
    per event_type, plus a 7-day trailing average of the daily sums.

    The daily agg collapses ~(days × types) groups before the window
    runs, so the window input is tiny regardless of raw volume — the
    100 TB pattern is exactly this: aggregate first, window over the
    rollup. The moving average reads the ROUNDED daily sums (frame of
    ≤7 fixed-order values), keeping the float result cross-engine
    stable at 4 dp.
    """
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("day_value"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    return (
        daily.withColumn("ma7_value", F.round(F.avg("day_value").over(w), 4))
        # dates travel as strings — the engines' date types hash differently
        .withColumn("day", F.col("day").cast("string"))
    )


@register(
    "corpus_curation",
    oracle="""
    WITH filtered AS (
        SELECT doc_id, text, source, n_chars FROM documents
        WHERE lang = 'en'
          AND n_chars BETWEEN 40 AND 120
          AND LEN(STRING_SPLIT(text, ' ')) >= 8
    ), deduped AS (
        SELECT MIN(doc_id) AS doc_id, text, MIN(source) AS source,
               MIN(n_chars) AS n_chars
        FROM filtered GROUP BY text
    )
    SELECT source, COUNT(*) AS n_docs, ROUND(AVG(n_chars), 4) AS avg_chars
    FROM deduped GROUP BY source
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation: language filter + length /
    token-count quality gates + exact dedup (deterministic min-doc_id
    winner), reported per source.

    This is the composition a 100 TB pretraining pipeline runs as one
    job: the quality predicates are pushed into the parquet scan, the
    dedup is a single hash-agg shuffle on text (content key — uniform),
    and the per-source report rides a second tiny shuffle. The
    min(source)/min(n_chars) pairing keeps the surviving metadata
    deterministic rather than row-order-dependent.
    """
    filtered = (
        load_table(spark, sf_dir, "documents")
        .filter(
            (F.col("lang") == "en")
            & F.col("n_chars").between(40, 120)
            & (F.size(F.split("text", " ")) >= 8)
        )
        .select("doc_id", "text", "source", "n_chars")
    )
    deduped = filtered.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.min("source").alias("source"),
        F.min("n_chars").alias("n_chars"),
    )
    return deduped.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    "event_pattern_match",
    oracle="""
    WITH purchases AS (
        SELECT user_id, ts AS p_ts, event_id AS p_event_id, value
        FROM events WHERE event_type = 'purchase'
    ), views AS (
        SELECT user_id, ts AS v_ts, event_id AS v_event_id
        FROM events WHERE event_type = 'view'
    )
    SELECT v.user_id, v.v_event_id AS view_event_id,
           p.p_event_id AS purchase_event_id,
           EPOCH_US(p.p_ts) - EPOCH_US(v.v_ts) AS latency_us
    FROM views v JOIN purchases p
      ON v.user_id = p.user_id
     AND p.p_ts > v.v_ts
     -- literal, not 3600 * 1000000: DuckDB multiplies INT32 and overflows
     AND EPOCH_US(p.p_ts) - EPOCH_US(v.v_ts) <= 3600000000
    """,
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern detection (MATCH_RECOGNIZE analog): every
    view → purchase pair by the same user within one hour, with the
    conversion latency.

    The equi-key (user_id) carries the join; the temporal pattern is
    a post-join range predicate — so this stays a hash join sized by
    per-user event counts, not a nested loop. It is also the batch
    twin of stream_stream_join's interval join, making the
    batch/streaming parity of the pattern explicit.
    """
    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_event_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("purchase_event_id"),
    )
    lat = F.unix_micros("p_ts") - F.unix_micros("v_ts")
    return (
        views.join(purchases, "user_id")
        .filter((F.col("p_ts") > F.col("v_ts")) & (lat <= 3600 * 1_000_000))
        .select(
            "user_id", "view_event_id", "purchase_event_id", lat.alias("latency_us")
        )
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bin,
           COUNT(*) AS n_orders,
           ROUND(MIN(o_totalprice), 2) AS bin_min,
           ROUND(MAX(o_totalprice), 2) AS bin_max
    FROM orders GROUP BY bin
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals (50k-wide bins): integer
    bin arithmetic + one hash agg — the profile/summary scan every
    data-quality pipeline runs first. Bin count is value-range-bounded
    (independent of row count), so the shuffle is O(bins)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 50000).cast("long").alias("bin")
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("bin_min"),
            F.round(F.max("o_totalprice"), 2).alias("bin_max"),
        )
    )


@register(
    "ewma_smoothing",
    oracle="""
    WITH x AS (
      SELECT user_id, event_id, value,
             LAG(value, 1) OVER w AS v1, LAG(value, 2) OVER w AS v2,
             LAG(value, 3) OVER w AS v3, LAG(value, 4) OVER w AS v4
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT user_id, event_id,
           ROUND((16.0 * value
                  + 8.0 * COALESCE(v1, 0.0) + 4.0 * COALESCE(v2, 0.0)
                  + 2.0 * COALESCE(v3, 0.0) + 1.0 * COALESCE(v4, 0.0))
                 / (16.0
                    + CASE WHEN v1 IS NULL THEN 0.0 ELSE 8.0 END
                    + CASE WHEN v2 IS NULL THEN 0.0 ELSE 4.0 END
                    + CASE WHEN v3 IS NULL THEN 0.0 ELSE 2.0 END
                    + CASE WHEN v4 IS NULL THEN 0.0 ELSE 1.0 END), 4) AS ewma
    FROM x
    """,
)
def ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average (α=1/2, 5-tap truncated
    kernel) of event value per user — the smoothing pass a metrics
    pipeline applies before anomaly thresholds.

    Expressed as lag columns with explicit power-of-two weights and a
    presence-normalized denominator: identical arithmetic order on
    both engines (bit-exact before the 4-dp round), one shuffle on
    user_id, and a fixed 5-row state per row regardless of history
    length — unlike a recursive EWMA, this scales embarrassingly.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", i).over(w) for i in (1, 2, 3, 4)]
    weights = [8.0, 4.0, 2.0, 1.0]
    num = F.lit(16.0) * F.col("value")
    den = F.lit(16.0)
    for lg, wt in zip(lags, weights):
        num = num + F.lit(wt) * F.coalesce(lg, F.lit(0.0))
        den = den + F.when(lg.isNull(), F.lit(0.0)).otherwise(F.lit(wt))
    return ev.select(
        "user_id", "event_id", F.round(num / den, 4).alias("ewma")
    )


@register(
    "ts_time_weighted_avg",
    oracle="""
    WITH x AS (
      SELECT user_id, value,
             DATE_DIFF('microseconds', ts,
                       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS dt_us
      FROM events)
    SELECT user_id,
           ROUND(SUM(value * dt_us) / SUM(dt_us), 4) AS twap
    FROM x WHERE dt_us IS NOT NULL AND dt_us > 0 GROUP BY user_id
    """,
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of event value per user (TWAP): each
    sample weighted by how long it was "current" (interval to the next
    event). The standard irregular-time-series average — a plain AVG
    over-weights bursts.

    Intervals are exact integer microseconds (unix_micros difference),
    so only the final weighted mean is floating; 4-dp round absorbs
    partial-aggregation order drift. One window + one aggregate, both
    shuffling on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    return (
        ev.select("user_id", "value", dt.alias("dt_us"))
        .filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us"), 4
            ).alias("twap")
        )
    )


@register(
    "agg_entropy",
    oracle="""
    WITH c AS (
      SELECT user_id, event_type, COUNT(*) AS n
      FROM events GROUP BY 1, 2)
    SELECT user_id,
           ROUND(-SUM((CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))
                      * LN(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE))), 6)
             AS type_entropy
    FROM (SELECT user_id, event_type, n,
                 SUM(n) OVER (PARTITION BY user_id) AS tot FROM c)
    GROUP BY user_id
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity signal a curation pipeline uses to separate
    bots (near-zero entropy) from organic traffic.

    Two-level aggregate: per-(user, type) counts, then a window total
    and the -Σ p·ln p fold — at most |event_types| terms per user, so
    the 6-dp round covers within-group order drift. Both shuffles are
    on user_id.
    """
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("user_id"))
    p = (F.col("n").cast("double") / tot.cast("double"))
    return (
        c.select("user_id", (p * F.log(p)).alias("term"))
        .groupBy("user_id")
        .agg(F.round(-F.sum("term"), 6).alias("type_entropy"))
    )


@register(
    "event_transition_matrix",
    oracle="""
    WITH x AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS next_type
      FROM events)
    SELECT event_type, next_type, COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / CAST(SUM(COUNT(*)) OVER (PARTITION BY event_type) AS DOUBLE),
                 6) AS p
    FROM x WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of event types per user:
    counts and row-normalized probabilities of A→B steps. The
    behavioral fingerprint used for bot detection and journey
    modeling. One window shuffle on user_id, then a tiny
    (|types|²)-row aggregate.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    x = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    c = x.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    tot = F.sum("n").over(Window.partitionBy("event_type"))
    return c.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / tot.cast("double"), 6).alias("p"),
    )


@register(
    "win_rolling_distinct",
    oracle="""
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    expanded AS (
      SELECT CAST(UNNEST(GENERATE_SERIES(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS end_day,
             user_id
      FROM du),
    bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM du)
    SELECT CAST(end_day AS VARCHAR) AS day,
           COUNT(DISTINCT user_id) AS users_7d
    FROM expanded, bounds WHERE end_day BETWEEN d0 AND d1
    GROUP BY end_day
    """,
)
def win_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct users per day (the DAU/WAU family).
    COUNT(DISTINCT) over a sliding window isn't a window function in
    either engine; the scalable trick is re-bucketing: each (day,
    user) contributes to the 7 window-END days it falls in (bounded
    7× amplification of the tiny distinct-pairs relation), then one
    distinct-count per end day. No per-window re-scan, no state
    explosion — this is also exactly how the streaming sliding
    window (I2/window_sliding) distributes.
    """
    ev = load_table(spark, sf_dir, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    # r16 (2×-tail triage, the r15 bounded-pin pattern): bounds and
    # expanded both consume du, and without a pin each re-derived the
    # events scan + distinct (scan_audit: 2× events). du is
    # |days × users|-bounded — the lazy pin materializes it once
    # inside this query's own execution.
    du = du.localCheckpoint(eager=False)
    bounds = du.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    expanded = du.select(
        F.explode(F.sequence("day", F.date_add("day", 6))).alias("end_day"),
        "user_id",
    )
    return (
        expanded.join(F.broadcast(bounds))
        .filter(F.col("end_day").between(F.col("d0"), F.col("d1")))
        .groupBy("end_day")
        .agg(F.countDistinct("user_id").alias("users_7d"))
        .select(F.col("end_day").cast("string").alias("day"), "users_7d")
    )


@register(
    "ts_autocorr_lag1",
    oracle="""
    SELECT event_type, ROUND(CORR(value, pv), 4) AS autocorr_lag1
    FROM (SELECT event_type, value,
                 LAG(value) OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS pv
          FROM events) t
    GROUP BY event_type
    """,
)
def ts_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of event values per type: pair each value
    with the previous value in its (user, type) series, then correlate.
    One shuffle on the window key; the corr aggregate is algebraic
    (partial-aggregated map-side). Window ties broken by event_id so
    both engines pick identical lag pairs."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        events.withColumn("pv", F.lag("value").over(w))
        .groupBy("event_type")
        .agg(F.round(F.corr("value", "pv"), 4).alias("autocorr_lag1"))
    )


@register(
    "rfm_segmentation",
    oracle="""
    WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
    rfm AS (
      SELECT o_custkey AS c_custkey,
             DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT ref_date FROM ref)) AS recency_days,
             COUNT(*) AS frequency,
             ROUND(SUM(o_totalprice), 2) AS monetary
      FROM orders GROUP BY o_custkey),
    bounds AS (
      SELECT QUANTILE_CONT(monetary, 0.25) AS q1,
             QUANTILE_CONT(monetary, 0.50) AS q2,
             QUANTILE_CONT(monetary, 0.75) AS q3
      FROM rfm)
    SELECT c_custkey, recency_days, frequency, monetary,
           CASE WHEN monetary <= q1 THEN 1
                WHEN monetary <= q2 THEN 2
                WHEN monetary <= q3 THEN 3
                ELSE 4 END AS m_quartile
    FROM rfm CROSS JOIN bounds
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation with
    quartile binning. The quartile boundaries come from a 1-row exact
    percentile aggregate broadcast back over the per-customer rollup —
    map-side bin assignment, NO global sort/ntile (the scale-correct
    formulation: at 100 TB swap percentile for approx_percentile and
    the plan is unchanged). Boundary floats are bit-identical across
    engines because both interpolate over the same rounded monetary
    values (same parity agg_percentile relies on)."""
    orders = load_table(spark, sf_dir, "orders")
    ref = orders.agg(F.max(F.col("o_orderdate").cast("date")).alias("ref_date"))
    rfm = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .join(F.broadcast(ref))
        .select(
            "c_custkey",
            F.datediff("ref_date", "last_order").cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    # lazy pin (r15, guide §2.4/§5): the bounds aggregate and the bin
    # join each rebuilt the whole scan→rollup→ref-join pipeline (4
    # orders scans in the plan); one customer-count-bounded relation
    # now feeds both.
    rfm = rfm.localCheckpoint(eager=False)
    bounds = rfm.agg(
        F.percentile("monetary", 0.25).alias("q1"),
        F.percentile("monetary", 0.50).alias("q2"),
        F.percentile("monetary", 0.75).alias("q3"),
    )
    return rfm.join(F.broadcast(bounds)).select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.when(F.col("monetary") <= F.col("q1"), 1)
        .when(F.col("monetary") <= F.col("q2"), 2)
        .when(F.col("monetary") <= F.col("q3"), 3)
        .otherwise(4)
        .cast("int")
        .alias("m_quartile"),
    )


@register(
    "basket_copurchase_pairs",
    oracle="""
    SELECT a.l_partkey AS p1, b.l_partkey AS p2, COUNT(*) AS n_baskets
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY p1, p2
    ORDER BY n_baskets DESC, p1, p2
    LIMIT 20
    """,
)
def basket_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-purchase mining: the 20 part pairs most often
    ordered together. Distinct (order, part) first, then a self-join on
    the order key with p1<p2 to emit each unordered pair once. The
    expansion is quadratic in BASKET size (bounded ~7 lines/order at
    every SF), not in table size, and the self-join co-partitions on
    l_orderkey so it is one shuffle; top-k via TakeOrderedAndProject
    with full tie-break."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.select(F.col("l_orderkey").alias("k"), F.col("l_partkey").alias("p1"))
    b = li.select(F.col("l_orderkey").alias("k2"), F.col("l_partkey").alias("p2"))
    return (
        # merge hint: both sides require the IDENTICAL
        # hashpartitioning(orderkey) exchange over the same distinct, so
        # exchange reuse computes the distinct once; the planner's own
        # choice (a broadcast at fixture scale) builds it twice and ships
        # the whole relation. SMJ is also the 100 TB shape: no broadcast
        # bound, and AQE skew-split applies to hot basket keys.
        a.join(
            b.hint("merge"),
            (F.col("k") == F.col("k2")) & (F.col("p1") < F.col("p2")),
        )
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("n_baskets"))
        .orderBy(F.desc("n_baskets"), "p1", "p2")
        .limit(20)
    )


@register(
    "event_dau_rolling",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1)
    SELECT CAST(day AS VARCHAR) AS day, dau,
           ROUND(AVG(dau) OVER (ORDER BY day
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
                 4) AS dau_7d_avg
    FROM daily
    """,
)
def event_dau_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users with a 7-day trailing average. The distinct
    count shuffles once on day; the trailing window then runs over the
    POST-aggregate frame (one row per day — ~30 here, ~36.5k for a
    century), so the unpartitioned window is safe at any raw volume."""
    from pyspark.sql.window import Window

    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        F.col("day").cast("string").alias("day"),
        "dau",
        F.round(F.avg("dau").over(w), 4).alias("dau_7d_avg"),
    )


@register(
    "event_hourly_heatmap",
    oracle="""
    SELECT CAST(EXTRACT(dow FROM ts) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hr,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY dow, hr
    """,
)
def event_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap. Spark's dayofweek() is
    1=Sunday..7 while the oracle's EXTRACT(dow) is 0=Sunday..6 — the
    Spark side subtracts 1. Output is ≤168 cells at any scale (single
    partial-aggregated shuffle)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "orders_new_vs_returning",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderdate, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn
      FROM orders)
    SELECT CAST(CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS VARCHAR) AS month,
           CASE WHEN rn = 1 THEN 'new' ELSE 'returning' END AS cust_kind,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS revenue
    FROM seq GROUP BY month, cust_kind
    """,
)
def orders_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning revenue split per month: each order is tagged
    as its customer's first (row_number over the per-customer order
    sequence) or a repeat. One shuffle on o_custkey for the window,
    one tiny rollup — the standard acquisition/retention business
    lens."""
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").cast("string").alias("month"),
            F.when(F.col("rn") == 1, "new").otherwise("returning").alias("cust_kind"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@register(
    "funnel_time_to_convert",
    oracle="""
    WITH s AS (SELECT user_id, MIN(ts) AS signup_ts FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    p AS (SELECT user_id, MIN(ts) AS first_purchase_ts FROM events
          WHERE event_type = 'purchase' GROUP BY user_id),
    d AS (SELECT EXTRACT(EPOCH FROM (first_purchase_ts - signup_ts)) AS secs
          FROM s JOIN p USING (user_id)
          WHERE first_purchase_ts > signup_ts)
    SELECT COUNT(*) AS n_converted,
           CAST(ROUND(QUANTILE_CONT(secs, 0.5), 0) AS BIGINT) AS median_secs,
           CAST(ROUND(QUANTILE_CONT(secs, 0.9), 0) AS BIGINT) AS p90_secs
    FROM d
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→first-purchase conversion latency distribution. Two
    filtered min-aggregates join on user (both shuffle once on
    user_id); the latency is kept fractional-seconds double on both
    engines (timestamp→double cast ↔ EXTRACT(EPOCH FROM interval)) so
    the percentile interpolation sees identical inputs."""
    events = load_table(spark, sf_dir, "events")
    s = (
        events.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("signup_ts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase_ts"))
    )
    d = (
        s.join(p, "user_id")
        .filter(F.col("first_purchase_ts") > F.col("signup_ts"))
        .select(
            (
                F.col("first_purchase_ts").cast("double")
                - F.col("signup_ts").cast("double")
            ).alias("secs")
        )
    )
    return d.agg(
        F.count("*").alias("n_converted"),
        F.round(F.percentile("secs", F.lit(0.5)), 0).cast("long").alias("median_secs"),
        F.round(F.percentile("secs", F.lit(0.9)), 0).cast("long").alias("p90_secs"),
    )


@register(
    "ts_changepoint_cusum",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               SUM(value) AS day_value
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), dev AS (
        SELECT event_type, day, day_value,
               day_value - AVG(day_value) OVER (PARTITION BY event_type) AS d
        FROM daily
    ), cusum AS (
        SELECT event_type, day,
               SUM(d) OVER (PARTITION BY event_type ORDER BY day) AS s
        FROM dev
    )
    SELECT event_type, CAST(day AS VARCHAR) AS changepoint_day,
           ROUND(max_abs_s, 4) AS max_abs_s
    FROM (
        SELECT event_type, day, ABS(s) AS max_abs_s,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY ROUND(ABS(s), 4) DESC, day) AS rnk
        FROM cusum
    ) WHERE rnk = 1
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event-type series: cumulative
    sum of deviations from the series mean, with the day of maximum
    |S| as the most likely level-shift point (Page's CUSUM statistic,
    the textbook drift detector behind pipeline-health monitors).

    Scale shape: the raw stream collapses to a (type × day) rollup in
    one aggregation; the mean, the running sum, and the argmax all run
    as windows over that rollup — days × types rows, independent of
    raw event volume. The tie-break ranks on the ROUNDED statistic so
    float-sum noise can't flip the winning day between engines."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.sum("value").alias("day_value"))
    w_all = Window.partitionBy("event_type")
    w_ord = Window.partitionBy("event_type").orderBy("day")
    cusum = daily.withColumn(
        "d", F.col("day_value") - F.avg("day_value").over(w_all)
    ).withColumn("s", F.sum("d").over(w_ord))
    w_rank = Window.partitionBy("event_type").orderBy(
        F.desc(F.round(F.abs("s"), 4)), F.asc("day")
    )
    return (
        cusum.withColumn("rnk", F.row_number().over(w_rank))
        .filter(F.col("rnk") == 1)
        .select(
            "event_type",
            F.col("day").cast("string").alias("changepoint_day"),
            F.round(F.abs("s"), 4).alias("max_abs_s"),
        )
    )
