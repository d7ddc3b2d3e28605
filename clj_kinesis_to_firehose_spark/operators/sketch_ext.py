"""KMV / theta sketch set algebra — round-8 sketch extension.

The portable-sketch family (agg_hll_portable, agg_cms_portable,
agg_approx_quantile) covers cardinality, frequency, and quantiles,
but HLL registers can only be MAX-merged — they answer unions, never
intersections. The K-minimum-values / theta sketch [PK: Beyer et al.
"On Synopses for Distinct-Value Estimation", SIGMOD'07; the Apache
DataSketches theta family] closes that gap: keep the K smallest
distinct hash values per set; the Kth value theta estimates density
(est = (K-1)·R/theta for hash range R), and because every sketch is a
uniform sample of the hash space below its theta, sketches COMPOSE —
|A∪B| ≈ |{distinct sketch values ≤ min theta}|·R/θmin and |A∩B| ≈
|{shared values}|·R/θmin. That is the one sketch algebra that gives
audience-overlap / segment-intersection numbers without a COUNT
DISTINCT over the raw pair.

``agg_kmv_theta`` sketches USER-DAYS (user_id:yyyy-MM-dd) per
event_type and emits, for every type pair, the KMV distinct estimates
and the theta union/intersection estimates. Everything is built on
the repo's portable md5-derived 60-bit hash, so the DuckDB oracle
rebuilds the sketches bit-for-bit and the whole algebra — order
statistics, theta selection, exact-mode fallback (k_n < K means the
"sketch" is the exact set), pair composition — is hash-checked, not
eyeballed.

Scale shape: the only Θ(data) stage is the DISTINCT on
(event_type, hv) — identical to agg_count_distinct's shuffle. After
it, per-group cardinality is bounded and the top-K rank keeps 64
values per group: sketch state is K×8 bytes per group, mergeable
across partitions, days, or table snapshots (persist the K values,
re-merge by re-ranking — the same incremental-rollup pattern as the
HLL registers). Pair composition runs on ≤ 2K rows per pair — driver
never sees the data, and nothing here is all-pairs over users.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clj_kinesis_to_firehose_spark.operators.llm_dedup import portable_hash60
from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table
from clj_kinesis_to_firehose_spark.streaming.pipelines import run_bounded

#: sketch size (values kept per set) and hash range (60-bit md5 prefix)
KMV_K = 64
HASH_RANGE = 1 << 60


@register(
    "agg_kmv_theta",
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' ||
                 strftime(ts, '%Y-%m-%d')), 1, 15))::BIGINT) AS hv
      FROM events
    ), rk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ), sk AS (
      SELECT event_type, hv FROM rk WHERE rn <= 64
    ), kt AS (
      SELECT event_type, max(hv) AS theta, count(*) AS k_n
      FROM sk GROUP BY event_type
    ), kte AS (
      SELECT event_type, k_n,
             CASE WHEN k_n < 64 THEN 1152921504606846976
                  ELSE theta END AS theta_eff,
             CASE WHEN k_n < 64 THEN CAST(k_n AS DOUBLE)
                  ELSE ROUND((63.0 * 1152921504606846976) / theta, 4)
                  END AS est
      FROM kt
    ), pair AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             a.k_n AS k_a, b.k_n AS k_b,
             LEAST(a.theta_eff, b.theta_eff) AS theta_min,
             a.est AS est_a, b.est AS est_b
      FROM kte a JOIN kte b ON a.event_type < b.event_type
    ), com AS (
      SELECT sa.event_type AS type_a, sb.event_type AS type_b,
             COUNT(*) AS n_common
      FROM sk sa JOIN sk sb
        ON sa.hv = sb.hv AND sa.event_type < sb.event_type
      GROUP BY 1, 2
    ), uni AS (
      SELECT p.type_a, p.type_b, COUNT(DISTINCT s.hv) AS n_union
      FROM pair p
      JOIN sk s ON s.event_type IN (p.type_a, p.type_b)
              AND s.hv <= p.theta_min
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b, p.k_a, p.k_b,
           COALESCE(c.n_common, 0) AS n_common,
           p.est_a, p.est_b,
           ROUND((u.n_union * 1152921504606846976.0) / p.theta_min, 4)
             AS est_union,
           ROUND((COALESCE(c.n_common, 0) * 1152921504606846976.0)
                 / p.theta_min, 4) AS est_intersect
    FROM pair p
    JOIN uni u ON u.type_a = p.type_a AND u.type_b = p.type_b
    LEFT JOIN com c ON c.type_a = p.type_a AND c.type_b = p.type_b
    """,
)
def agg_kmv_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # KMV sketch per event_type over user-days, then theta-sketch
    # union/intersection per type pair. Inclusive-theta convention
    # (region hv <= theta, theta itself the Kth member) on BOTH
    # engines; the O(1/K) estimator bias that buys is irrelevant next
    # to cross-engine determinism. Exact-mode fallback: a group with
    # fewer than K distinct values IS its own sketch (theta_eff = R),
    # and the pair estimators then return exact counts.
    ev = load_table(spark, sf_dir, "events")
    K, R = KMV_K, HASH_RANGE
    item = F.concat(
        F.col("user_id").cast("string"),
        F.lit(":"),
        F.date_format("ts", "yyyy-MM-dd"),
    )
    d = ev.select(
        "event_type", portable_hash60(item).alias("hv")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("hv")
    # lazy pin (r15, guide §2.4/§5): the sketch is the WHOLE POINT of
    # KMV — |event_types| x K rows — yet the theta table, both pair
    # sides, the common-hash self-join, and the union estimate each
    # re-derived the full scan→distinct→window pipeline (7 event
    # scans). Pinning the sketch makes everything downstream operate
    # on the bounded sketch rows, exactly as the sketch contract
    # promises.
    sk = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= K)
        .select("event_type", "hv")
        .localCheckpoint(eager=False)
    )
    kt = sk.groupBy("event_type").agg(
        F.max("hv").alias("theta"), F.count("*").alias("k_n")
    )
    kte = kt.select(
        "event_type",
        "k_n",
        F.when(F.col("k_n") < K, F.lit(R))
        .otherwise(F.col("theta"))
        .alias("theta_eff"),
        F.when(F.col("k_n") < K, F.col("k_n").cast("double"))
        .otherwise(
            F.round(
                F.lit(63.0 * float(R)) / F.col("theta").cast("double"), 4
            )
        )
        .alias("est"),
    )
    pa = kte.select(
        F.col("event_type").alias("type_a"),
        F.col("k_n").alias("k_a"),
        F.col("theta_eff").alias("th_a"),
        F.col("est").alias("est_a"),
    )
    pb = kte.select(
        F.col("event_type").alias("type_b"),
        F.col("k_n").alias("k_b"),
        F.col("theta_eff").alias("th_b"),
        F.col("est").alias("est_b"),
    )
    pair = pa.join(pb, F.col("type_a") < F.col("type_b")).withColumn(
        "theta_min", F.least("th_a", "th_b")
    )
    sa = sk.select(F.col("event_type").alias("type_a"), "hv")
    sb = sk.select(
        F.col("event_type").alias("type_b"), F.col("hv").alias("hv_b")
    )
    com = (
        sa.join(
            sb,
            (F.col("hv") == F.col("hv_b"))
            & (F.col("type_a") < F.col("type_b")),
        )
        .groupBy("type_a", "type_b")
        .agg(F.count("*").alias("n_common"))
    )
    uni = (
        pair.select("type_a", "type_b", "theta_min")
        .join(
            sk,
            (sk["event_type"] == F.col("type_a"))
            | (sk["event_type"] == F.col("type_b")),
        )
        .filter(F.col("hv") <= F.col("theta_min"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("hv").alias("n_union"))
    )
    est_union = F.round(
        F.col("n_union").cast("double") * F.lit(float(R))
        / F.col("theta_min").cast("double"),
        4,
    )
    n_common = F.coalesce(F.col("n_common"), F.lit(0)).cast("long")
    est_intersect = F.round(
        n_common.cast("double") * F.lit(float(R))
        / F.col("theta_min").cast("double"),
        4,
    )
    return (
        pair.join(uni, ["type_a", "type_b"])
        .join(com, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "k_a",
            "k_b",
            n_common.alias("n_common"),
            "est_a",
            "est_b",
            est_union.alias("est_union"),
            est_intersect.alias("est_intersect"),
        )
    )


@register(
    "agg_kmv_incremental",
    oracle="""
    WITH h AS (
      SELECT DISTINCT strftime(ts, '%Y-%m-%d') AS day, event_type,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' ||
                 strftime(ts, '%Y-%m-%d')), 1, 15))::BIGINT) AS hv
      FROM events
    ), dk AS (
      SELECT day, event_type, hv,
             row_number() OVER (PARTITION BY day, event_type
                                ORDER BY hv) AS rn
      FROM h
    ), daily AS (
      SELECT day, event_type, hv FROM dk WHERE rn <= 64
    ), merged AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM (SELECT DISTINCT event_type, hv FROM daily)
    ), sk AS (
      SELECT event_type, hv FROM merged WHERE rn <= 64
    ), kt AS (
      SELECT event_type, max(hv) AS theta, count(*) AS k_n
      FROM sk GROUP BY event_type
    ), np AS (
      SELECT event_type, count(DISTINCT day) AS n_days,
             count(*) AS n_partial_values
      FROM daily GROUP BY event_type
    )
    SELECT k.event_type, p.n_days, p.n_partial_values, k.k_n,
           CASE WHEN k.k_n < 64 THEN CAST(k.k_n AS DOUBLE)
                ELSE ROUND((63.0 * 1152921504606846976) / k.theta, 4)
                END AS est_distinct
    FROM kt k JOIN np p USING (event_type)
    """,
)
def agg_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The incremental-rollup pattern for the KMV sketch: build a
    # partial sketch per (day, event_type) — the shape you would
    # PERSIST alongside each daily partition — then merge partials by
    # re-ranking the union of their values. The K smallest of the
    # union of per-day K-smallest sets ARE the K smallest of the full
    # set (any globally-top-K value is top-K within its own day), so
    # the merged sketch is IDENTICAL to the direct one — pinned by
    # tests/test_round8_ext.py, and the same argument covers merging
    # across partitions, tables, or snapshots. Backfilling a new day
    # touches one partial; the merge input is bounded by
    # days × K × groups rows, never by raw volume.
    ev = load_table(spark, sf_dir, "events")
    K, R = KMV_K, HASH_RANGE
    day = F.date_format("ts", "yyyy-MM-dd")
    item = F.concat(F.col("user_id").cast("string"), F.lit(":"), day)
    h = ev.select(
        day.alias("day"), "event_type", portable_hash60(item).alias("hv")
    ).distinct()
    wd = Window.partitionBy("day", "event_type").orderBy("hv")
    daily = (
        h.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") <= K)
        .select("day", "event_type", "hv")
    )
    wm = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        daily.select("event_type", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= K)
    )
    kt = sk.groupBy("event_type").agg(
        F.max("hv").alias("theta"), F.count("*").alias("k_n")
    )
    np_ = daily.groupBy("event_type").agg(
        F.countDistinct("day").alias("n_days"),
        F.count("*").alias("n_partial_values"),
    )
    est = F.when(F.col("k_n") < K, F.col("k_n").cast("double")).otherwise(
        F.round(F.lit(63.0 * float(R)) / F.col("theta").cast("double"), 4)
    )
    return kt.join(np_, "event_type").select(
        "event_type",
        "n_days",
        "n_partial_values",
        "k_n",
        est.alias("est_distinct"),
    )


@register(
    "stream_kmv_incremental", executes_on_build=True,
    oracle="""
    WITH h AS (
      SELECT DISTINCT event_type,
             (('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':' ||
                 strftime(ts, '%Y-%m-%d')), 1, 15))::BIGINT) AS hv
      FROM events
    ), rk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h
    ), kt AS (
      SELECT event_type, max(hv) AS theta, count(*) AS k_n
      FROM rk WHERE rn <= 64 GROUP BY event_type
    )
    SELECT event_type, k_n,
           CASE WHEN k_n < 64 THEN CAST(k_n AS DOUBLE)
                ELSE ROUND((63.0 * 1152921504606846976) / theta, 4)
                END AS est_distinct
    FROM kt
    """,
)
def stream_kmv_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-merge law IN the streaming path: each replay
    micro-batch reduces to a per-type partial sketch (distinct +
    top-K rank, the same two-stage shape as the batch op), foreach-
    Batch merges partials into K-value accumulator state, and the
    final merged sketch must equal the DIRECT sketch of the whole
    table — exactly, by the merge law the Hypothesis suite pins, and
    regardless of micro-batch boundaries because set-union merging is
    order-independent. Per-batch driver traffic is K × |types| longs
    (metadata-sized, the repo's collect discipline); this is the
    live-dashboard "distinct users so far" pattern where recomputing
    the distinct from raw history every batch would be Θ(history)."""
    from clj_kinesis_to_firehose_spark.sources.pyds import (
        register_replay_source,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import (
        write_replay_slices,
    )

    K, R = KMV_K, HASH_RANGE
    register_replay_source(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    state: dict[str, list[int]] = {}

    def merge_batch(batch_df: DataFrame, _epoch: int) -> None:
        item = F.concat(
            F.col("user_id").cast("string"),
            F.lit(":"),
            F.date_format("ts", "yyyy-MM-dd"),
        )
        d = batch_df.select(
            "event_type", portable_hash60(item).alias("hv")
        ).distinct()
        w = Window.partitionBy("event_type").orderBy("hv")
        partial = (
            d.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= K)
            .groupBy("event_type")
            .agg(F.collect_list("hv").alias("sk"))
        )
        for r in partial.collect():  # K × |types| longs per batch
            merged = sorted(set(state.get(r.event_type, [])) | set(r.sk))
            state[r.event_type] = merged[:K]

    run_bounded(
        spark.readStream.format("kinesis_replay")
        .option("path", replay)
        .load()
        .writeStream.foreachBatch(merge_batch)
    )

    res = spark.createDataFrame(
        [(t, len(v), v[-1]) for t, v in state.items()],
        "event_type string, k_n long, theta long",
    )
    est = F.when(F.col("k_n") < K, F.col("k_n").cast("double")).otherwise(
        F.round(F.lit(63.0 * float(R)) / F.col("theta").cast("double"), 4)
    )
    return res.select("event_type", "k_n", est.alias("est_distinct"))


#: reservoir size for the streaming bottom-k row sample
RESERVOIR_N = 100


@register(
    "stream_reservoir_sample", executes_on_build=True,
    oracle="""
    SELECT event_id, event_type, value, hv
    FROM (
      SELECT event_id, event_type, value,
             (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT)
               AS hv,
             row_number() OVER (ORDER BY
               (('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))::BIGINT),
               event_id) AS rn
      FROM events
    ) WHERE rn <= 100
    """,
)
def stream_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic uniform stream sampling WITHOUT RNG: the sample
    is the bottom-k ROWS by portable hash rank — a bottom-k sketch,
    the row-carrying generalization of KMV, so the same merge law
    applies: per batch, TakeOrderedAndProject yields the batch's
    k smallest (per-partition heaps, k rows to the driver), the
    accumulator keeps the k smallest of the union, and the final
    reservoir is bit-equal to the batch-mode top-k of the whole
    table regardless of micro-batch boundaries. This is how a
    100 TB stream keeps a fixed-size uniform sample reproducibly —
    any two runs, any repartitioning, any batch cadence give the
    SAME rows, which classic random-reservoir sampling cannot."""
    from clj_kinesis_to_firehose_spark.sources.pyds import (
        register_replay_source,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import (
        write_replay_slices,
    )

    N = RESERVOIR_N
    register_replay_source(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    state: list[tuple] = []  # rows sorted by (hv, event_id), len <= N

    def merge_batch(batch_df: DataFrame, _epoch: int) -> None:
        nonlocal state
        hv = portable_hash60(F.col("event_id").cast("string"))
        batch_top = (
            batch_df.select(
                "event_id", "event_type", "value", hv.alias("hv")
            )
            .orderBy("hv", "event_id")
            .limit(N)
            .collect()
        )
        merged = state + [
            (r.event_id, r.event_type, r.value, r.hv) for r in batch_top
        ]
        merged.sort(key=lambda t: (t[3], t[0]))
        state = merged[:N]

    run_bounded(
        spark.readStream.format("kinesis_replay")
        .option("path", replay)
        .load()
        .writeStream.foreachBatch(merge_batch)
    )

    return spark.createDataFrame(
        state, "event_id long, event_type string, value double, hv long"
    )
