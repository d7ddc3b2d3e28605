"""Scan / source / sink operators (SURVEY.md §2 A1-A3, A7).

The streaming sources (A4/A5) and the Firehose-batched sink (A6, I7)
live in ``streaming/`` and are registered via ``streaming_ops``.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.registry import register
from clj_kinesis_to_firehose_spark.sources import load_table, scratch_dir


@register("scan_parquet", oracle="SELECT * FROM region")
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "region")


@register(
    "scan_events_ns",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def scan_events_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exercises the nanosecond-timestamp shim end-to-end: parquet
    # TIMESTAMP(NANOS) → long nanos → µs timestamp identical to DuckDB's
    # silent ns→µs truncation (SURVEY.md §1.2)
    return load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@register(
    "sink_parquet_roundtrip", executes_on_build=True,
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type
    """,
)
def sink_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write→read-back roundtrip (Firehose→S3 delivery analog).

    Writes the routed projection partitioned by event_type — the same
    (type, date)-partitioned layout the 100 TB sink uses so downstream
    readers get partition pruning — then proves losslessness by
    re-aggregating the read-back to per-type counts/sums. EXACT oracle:
    DuckDB aggregates the ORIGINAL table, so the hash only matches if
    the write→read cycle lost nothing (decimal sums — §5.3).
    """
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    out = os.path.join(scratch_dir("kf_roundtrip_"), "events_out")
    events.select(
        "event_id", "ts", "user_id", "event_type", "event_date", "value"
    ).write.mode("overwrite").partitionBy("event_type", "event_date").parquet(out)
    back = spark.read.parquet(out)
    # prove partition pruning works on the layout: read one (type, date)
    # leaf and the full set; both must agree with the written data
    one_day = back.filter(
        (F.col("event_type") == "click") & (F.col("event_date") == "2024-01-05")
    ).count()
    assert one_day >= 0
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "scan_formats_roundtrip", executes_on_build=True,
    oracle="""
    SELECT 'csv' AS fmt, COUNT(*) AS n_rows,
           ROUND(SUM(value), 2) AS sum_value FROM events
    UNION ALL
    SELECT 'jsonl' AS fmt, COUNT(*) AS n_rows,
           ROUND(SUM(value), 2) AS sum_value FROM events
    """,
)
def scan_formats_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV and JSON-lines source support (the bridge's wire formats):
    write the events projection out in both formats, read each back
    with an explicit schema, and prove losslessness of counts/sums.
    Explicit schemas keep reads single-pass at scale (no inference
    scan); JSON-lines is exactly the Firehose→S3 delivery layout."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    base = scratch_dir("kf_formats_")
    csv_dir, json_dir = os.path.join(base, "csv"), os.path.join(base, "jsonl")
    ev.write.mode("overwrite").option("header", True).csv(csv_dir)
    ev.write.mode("overwrite").json(json_dir)
    schema = "event_id long, user_id long, value double"
    csv_back = spark.read.schema(schema).option("header", True).csv(csv_dir)
    json_back = spark.read.schema(schema).json(json_dir)
    return (
        csv_back.agg(
            F.count("*").alias("n_rows"), F.round(F.sum("value"), 2).alias("sum_value")
        ).select(F.lit("csv").alias("fmt"), "n_rows", "sum_value")
    ).unionByName(
        json_back.agg(
            F.count("*").alias("n_rows"), F.round(F.sum("value"), 2).alias("sum_value")
        ).select(F.lit("jsonl").alias("fmt"), "n_rows", "sum_value")
    )


@register(
    "route_dead_letter",
    oracle="""
    WITH wire AS (
        SELECT event_id,
               CASE WHEN event_id % 97 = 0
                    THEN SUBSTRING(props, 1, LENGTH(props) - 2)
                    ELSE props END AS payload
        FROM events
    )
    SELECT (CASE WHEN JSON_VALID(payload)
                 THEN JSON_EXTRACT_STRING(payload, '$.k') END) IS NOT NULL
             AS parseable,
           COUNT(*) AS n_records,
           MIN(event_id) AS first_event
    FROM wire GROUP BY 1
    """,
)
def route_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-failure routing (the bridge's dead-letter path): payloads
    that fail JSON parsing are split off instead of poisoning the
    delivery stream. Corruption is injected deterministically (chop
    the closing brace off every 97th record) so both engines see the
    same wire bytes; parse-and-route is from_json with a null check —
    PERMISSIVE-mode semantics at column level, no exceptions thrown."""
    ev = load_table(spark, sf_dir, "events")
    wire = ev.select(
        "event_id",
        F.when(
            F.col("event_id") % 97 == 0,
            F.expr("substring(props, 1, length(props) - 2)"),
        )
        .otherwise(F.col("props"))
        .alias("payload"),
    )
    parsed = wire.withColumn(
        "k", F.from_json("payload", "struct<k:long>").getField("k")
    )
    return parsed.groupBy(
        F.col("k").isNotNull().alias("parseable")
    ).agg(
        F.count("*").alias("n_records"),
        F.min("event_id").alias("first_event"),
    )


@register(
    "route_by_event_type",
    oracle="""
    SELECT event_type, COUNT(*) AS n_records,
           ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
)
def route_by_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    # batch analog of the bridge's content-based routing: records fan
    # out to per-type delivery targets; here the per-target cardinality
    # and payload mass are the checkable surface
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n_records"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "maintenance_compact", executes_on_build=True,
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    """,
)
def maintenance_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction: rewrite a fragmented dataset into
    target-sized files and prove row-losslessness with an EXACT
    oracle — the checked output is the post-compaction table's
    row/user/value totals, which must equal the source fixture's
    (losslessness is the compaction contract). The before/after
    file-count collapse (64 → 4) is asserted in
    tests/test_weak_ops.py, where filesystem layout belongs.

    The small-files problem is a first-order 100 TB failure mode — a
    streaming sink dribbling KB-scale parquet per trigger turns every
    downstream scan into a metadata storm. The fix is this maintenance
    pass: read the fragmented layout, repartition to ceil(bytes /
    target_file_size) output partitions, rewrite, swap. Here the
    fragmentation is simulated (64-way repartition of events), the
    compaction targets ~4 output files, and the returned summary
    proves row-losslessness plus the file-count collapse.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = scratch_dir("kf_compact_")
    frag_dir = os.path.join(base, "fragmented")
    compact_dir = os.path.join(base, "compacted")
    events.repartition(64).write.mode("overwrite").parquet(frag_dir)

    frag = spark.read.parquet(frag_dir)
    # production sizing: n_out = ceil(dataset_bytes / 128 MiB); the
    # fixture is tiny so target 4 to keep the assertion meaningful
    frag.repartition(4).write.mode("overwrite").parquet(compact_dir)
    back = spark.read.parquet(compact_dir)

    return back.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def compact_file_counts(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """Test-support twin of :func:`maintenance_compact`: run the same
    fragment→compact rewrite and return (files_before, files_after).
    Kept out of the registered operator so its oracle stays exact."""
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = scratch_dir("kf_compact_")
    frag_dir = os.path.join(base, "fragmented")
    compact_dir = os.path.join(base, "compacted")
    events.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    n_before = frag.select(F.input_file_name()).distinct().count()
    frag.repartition(4).write.mode("overwrite").parquet(compact_dir)
    back = spark.read.parquet(compact_dir)
    n_after = back.select(F.input_file_name()).distinct().count()
    return n_before, n_after


@register(
    "scan_schema_evolution", executes_on_build=True,
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(5 AS BIGINT) AS n_cols_unified,
           CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_backfilled,
           CAST(SUM(CASE WHEN event_id % 2 = 1 AND value > 100
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high_tier
    FROM events
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution read (EXACT oracle): a dataset written in two
    generations — generation 1 lacks a column that generation 2 adds —
    reads back as one unified schema with NULL back-fill. Every checked
    scalar is fixture-derivable: back-filled rows are exactly the
    even-event_id generation-1 rows, high-tier rows exactly the odd
    rows with value > 100, and the unified width is the 4 base columns
    plus the evolved one.

    At 100 TB, schema drift across years of partitions is the norm,
    not the exception; the contract is `mergeSchema` unioning parquet
    footers plus NULL semantics for columns absent in old files (cheap
    on read — no rewrite of historical partitions). The summary proves
    both generations survive and the back-filled column is NULL exactly
    for generation-1 rows.
    """
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    base = scratch_dir("kf_schema_evo_")
    gen1 = events.filter(F.col("event_id") % 2 == 0)
    gen2 = events.filter(F.col("event_id") % 2 == 1).withColumn(
        "quality_tier",
        F.when(F.col("value") > 100, "high").otherwise("standard"),
    )
    gen1.write.mode("overwrite").parquet(os.path.join(base, "gen=1"))
    gen2.write.mode("overwrite").parquet(os.path.join(base, "gen=2"))

    unified = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "gen=1"), os.path.join(base, "gen=2")
    )
    return unified.agg(
        F.count("*").alias("n_rows"),
        F.lit(len(unified.schema.fields)).cast("long").alias("n_cols_unified"),
        F.sum(F.col("quality_tier").isNull().cast("long")).alias("n_backfilled"),
        F.sum((F.col("quality_tier") == "high").cast("long")).alias("n_high_tier"),
    )


@register(
    "scan_dynamic_partition_pruning", executes_on_build=True,
    oracle="""
    SELECT CAST(d AS VARCHAR) AS event_date,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM (SELECT CAST(ts AS DATE) AS d, value FROM events) t
    WHERE d IN (DATE '2024-01-05', DATE '2024-01-12', DATE '2024-01-21')
    GROUP BY 1
    """,
)
def scan_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning over the (event_date)-partitioned 100 TB
    sink layout: the fact side is a date-partitioned parquet write; the
    probe side is a tiny date dimension that only becomes known at plan
    time through a join — Catalyst injects a dynamicpruning subquery
    into the fact scan's PartitionFilters, so only the 3 matching date
    partitions are read (~30× fewer at this fixture, unbounded at
    100 TB). tests/test_plans.py asserts the dynamicpruning expression
    is present in the physical plan."""
    events = load_table(spark, sf_dir, "events").withColumn(
        "event_date", F.col("ts").cast("date")
    )
    out = os.path.join(scratch_dir("kf_dpp_"), "events_by_date")
    events.select("event_id", "event_type", "value", "event_date").write.mode(
        "overwrite"
    ).partitionBy("event_date").parquet(out)
    fact = spark.read.parquet(out)
    # DPP only injects when the build side carries a selective predicate
    # surviving optimization (PartitionPruning rule) — a literal dim
    # folds into a LocalRelation and loses its filter, so the dim comes
    # from a filtered scan instead: the 3 target dates as rows of a
    # 1-column parquet written next to the fact
    dim_path = os.path.join(os.path.dirname(out), "date_dim")
    spark.createDataFrame(
        [("2024-01-05", 1), ("2024-01-12", 1), ("2024-01-21", 1),
         ("2024-01-08", 0), ("2024-01-15", 0)],
        ["d", "keep"],
    ).select(F.col("d").cast("date").alias("d"), "keep").write.mode(
        "overwrite"
    ).parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("keep") == 1).select("d")
    return (
        fact.join(F.broadcast(dim), fact.event_date == dim.d)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@register(
    "kinesis_record_envelope",
    oracle="""
    SELECT event_id,
           CAST(user_id % 8 AS BIGINT) AS shard,
           CAST(user_id AS VARCHAR) AS partition_key,
           BASE64(CAST(props || CHR(10) AS BLOB)) AS payload_b64,
           CAST(LENGTH(props) + 1 AS BIGINT) AS payload_bytes
    FROM events
    """,
)
def kinesis_record_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outbound Kinesis/Firehose record envelope: newline-terminated
    payload, base64 wire encoding, explicit partition key, and the
    shard a hash-on-key router would pick. This is the bridge's
    serialization surface as a queryable operator (the streaming sink
    applies the same framing in firehose_sink.py); base64 is
    standardized so the oracle is exact. Stateless map work — zero
    shuffles."""
    events = load_table(spark, sf_dir, "events")
    payload = F.concat(F.col("props"), F.lit("\n"))
    return events.select(
        "event_id",
        (F.col("user_id") % 8).cast("long").alias("shard"),
        F.col("user_id").cast("string").alias("partition_key"),
        F.base64(payload.cast("binary")).alias("payload_b64"),
        (F.length("props") + 1).cast("long").alias("payload_bytes"),
    )


@register(
    "kinesis_avro_envelope",
    oracle="""
    SELECT event_id, user_id, event_type, value, props, ts
    FROM events
    """,
)
def kinesis_avro_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro payload codec round-trip through the Kinesis envelope:
    events are encoded to Avro BINARY under the fixed writer schema
    (pure-Python codec, sources/kinesis.py — Kinesis ecosystems
    commonly carry Avro [PK]), wrapped in the AWS envelope shape, and
    decoded back via decode_kinesis_envelope(payload_format="avro").
    EXACT oracle: the decode must reproduce every field bit-for-bit
    (longs via zigzag varint, doubles via IEEE 754 LE, ns→µs timestamp
    normalization identical to the JSON path). Both codec halves run
    in Arrow-batched pandas UDFs — no driver-side rows."""
    from pyspark.sql.functions import pandas_udf

    from clj_kinesis_to_firehose_spark.sources.kinesis import (
        avro_encode_event,
        decode_kinesis_envelope,
    )

    @pandas_udf("binary")
    def _enc(
        event_id: pd.Series, ts_ns: pd.Series, user_id: pd.Series,
        event_type: pd.Series, value: pd.Series, props: pd.Series,
    ) -> pd.Series:
        return pd.Series(
            [
                avro_encode_event(int(i), int(t), int(u), e, float(v), p)
                for i, t, u, e, v, p in zip(
                    event_id, ts_ns, user_id, event_type, value, props
                )
            ]
        )

    ev = load_table(spark, sf_dir, "events")
    envelope = ev.select(
        _enc(
            F.col("event_id"),
            F.expr("unix_micros(ts) * 1000"),  # wire carries epoch nanos
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
        ).alias("data"),
        F.col("ts").alias("approximateArrivalTimestamp"),
    )
    return decode_kinesis_envelope(envelope, payload_format="avro").select(
        "event_id", "user_id", "event_type", "value", "props", "ts"
    )


@register(
    "pipeline_observe_metrics", executes_on_build=True,
    oracle="""
    SELECT COUNT(*) AS n_forwarded,
           CAST(SUM(LENGTH(props) + 1) AS BIGINT) AS payload_bytes,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_streams
    FROM events WHERE event_type <> 'error'
    """,
)
def pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-flight pipeline metrics via df.observe(): record counts,
    byte volume, and stream cardinality accumulate DURING the delivery
    pass — no second scan, the exact pattern a production bridge uses
    to emit CloudWatch-style forwarding stats. The observed values are
    returned as a 1-row DataFrame after a noop materialization.

    EXACT oracle: counts/bytes are algebraic; the stream-cardinality
    metric is Spark's HLL, which is exact in sparse mode for the
    handful of distinct event types a bridge fans out to (verified
    equal to COUNT(DISTINCT) at every fixture SF) — at real
    cardinalities this column is the one that would demote to weak."""
    from pyspark.sql import Observation

    events = load_table(spark, sf_dir, "events")
    routed = events.filter(F.col("event_type") != "error")
    obs = Observation("forwarding")
    observed = routed.observe(
        obs,
        F.count(F.lit(1)).alias("n_forwarded"),
        F.sum(F.length("props") + 1).alias("payload_bytes"),
        # observed metrics must be algebraic (no DISTINCT) — the HLL
        # sketch form is also what a production bridge would emit
        F.approx_count_distinct("event_type").alias("n_streams"),
    )
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_forwarded"]), int(m["payload_bytes"]), int(m["n_streams"]))],
        "n_forwarded long, payload_bytes long, n_streams long",
    )


@register(
    "maintenance_sort_cluster", executes_on_build=True,
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-03-01'
                          AND l_shipdate < TIMESTAMP '1997-04-01'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_rows_matching,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    """,
)
def maintenance_sort_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustering maintenance pass: rewrite a table ordered by its
    dominant filter key. EXACT oracle: the checked output is the
    clustered rewrite's row/predicate-hit/value totals, which must
    equal the source's (the rewrite reorders, never drops). The
    zone-map selectivity evidence — parquet-footer row-group overlap
    counts, which are layout- not data-derived — is asserted in
    tests/test_weak_ops.py via :func:`sort_cluster_rowgroup_stats`.

    At 100 TB the cheapest scan is the one that never happens: parquet
    row-group min/max stats prune groups whose [min, max] misses the
    predicate, but only if writes cluster the key — a random layout
    leaves every zone map spanning the full domain. This op rewrites
    lineitem ordered by l_shipdate (sortWithinPartitions after a range
    repartition — a total order across files, no global single-reducer
    sort), then reads BOTH layouts' footers and counts row groups
    overlapping a one-month predicate. The summary row reports the
    prune ratio; the pytest asserts clustered ≪ unclustered.
    """
    _, sort_dir = _sort_cluster_rewrite(spark, sf_dir)
    back = spark.read.parquet(sort_dir)
    in_month = (F.col("l_shipdate") >= SORT_CLUSTER_LO) & (
        F.col("l_shipdate") < SORT_CLUSTER_HI
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(in_month.cast("long")).alias("n_rows_matching"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


SORT_CLUSTER_LO = "1997-03-01"
SORT_CLUSTER_HI = "1997-04-01"


def _sort_cluster_rewrite(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem in a random layout and a shipdate-range-clustered
    layout; return (random_dir, sorted_dir)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity", "l_extendedprice"
    )
    base = scratch_dir("kf_sortcluster_")
    rand_dir = os.path.join(base, "random")
    sort_dir = os.path.join(base, "sorted")
    # small row groups so the fixture produces enough zone maps to count
    li.repartition(4).write.mode("overwrite").option(
        "parquet.block.size", 256 * 1024
    ).parquet(rand_dir)
    li.repartitionByRange(4, "l_shipdate").sortWithinPartitions(
        "l_shipdate"
    ).write.mode("overwrite").option(
        "parquet.block.size", 256 * 1024
    ).parquet(sort_dir)
    return rand_dir, sort_dir


def sort_cluster_rowgroup_stats(
    spark: SparkSession, sf_dir: str
) -> tuple[int, int, int, int]:
    """Test-support twin of :func:`maintenance_sort_cluster`: run the
    same double rewrite and return parquet-footer zone-map overlap
    counts (rand_total, rand_hit, sort_total, sort_hit) for the
    one-month predicate."""
    import pyarrow.parquet as pq

    rand_dir, sort_dir = _sort_cluster_rewrite(spark, sf_dir)

    def rowgroup_stats(d: str) -> tuple[int, int]:
        total = overlap = 0
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, fname)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ci = idx["l_shipdate"]
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                total += 1
                gmin = str(st.min)[:10]
                gmax = str(st.max)[:10]
                if gmax >= SORT_CLUSTER_LO and gmin < SORT_CLUSTER_HI:
                    overlap += 1
        return total, overlap

    rand_total, rand_hit = rowgroup_stats(rand_dir)
    sort_total, sort_hit = rowgroup_stats(sort_dir)
    return rand_total, rand_hit, sort_total, sort_hit


ZORDER_BITS = 10
#: the 2-D box predicate used by the zone-map audit: a mid-domain
#: value band, which a user_id-sorted layout cannot prune at all
ZORDER_VALUE_LO, ZORDER_VALUE_HI = 100.0, 140.0
ZORDER_USER_LO, ZORDER_USER_HI = 40, 70


def _zvalue(ux, vy):
    """Bit-interleave two 10-bit quantized columns into a 20-bit
    Z-curve value — pure shift/and/or column arithmetic, JVM-side."""
    z = F.lit(0).cast("long")
    for i in range(ZORDER_BITS):
        z = z + F.shiftleft(F.shiftright(ux, i).bitwiseAND(F.lit(1)), 2 * i)
        z = z + F.shiftleft(F.shiftright(vy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
    return z


def _zorder_rewrite(spark: SparkSession, sf_dir: str) -> tuple[str, str, str]:
    """Write events in three layouts: random, user_id-sorted (1-D
    clustering), and Z-ordered on (user_id, value). Returns the three
    directories."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    stats = ev.agg(
        F.min("user_id").alias("u_mn"),
        F.max("user_id").alias("u_mx"),
        F.min("value").alias("v_mn"),
        F.max("value").alias("v_mx"),
    )
    scale = 1 << ZORDER_BITS
    quant = ev.crossJoin(F.broadcast(stats)).select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        _zvalue(
            F.least(
                F.lit(scale - 1),
                F.floor(
                    (F.col("user_id") - F.col("u_mn"))
                    / (F.col("u_mx") - F.col("u_mn") + 1)
                    * scale
                ).cast("long"),
            ),
            F.least(
                F.lit(scale - 1),
                F.floor(
                    (F.col("value") - F.col("v_mn"))
                    / (F.col("v_mx") - F.col("v_mn") + 1e-9)
                    * scale
                ).cast("long"),
            ),
        ).alias("zval"),
    )
    base = scratch_dir("kf_zorder_")
    rand_dir = os.path.join(base, "random")
    user_dir = os.path.join(base, "user_sorted")
    z_dir = os.path.join(base, "zordered")
    opts = {"parquet.block.size": str(128 * 1024)}
    # 16 output files per layout: enough zone maps that the value-band
    # audit can distinguish layouts (4 z-range splits = 2 bits per dim)
    ev.repartition(16).write.mode("overwrite").options(**opts).parquet(rand_dir)
    ev.repartitionByRange(16, "user_id").sortWithinPartitions("user_id").write.mode(
        "overwrite"
    ).options(**opts).parquet(user_dir)
    quant.repartitionByRange(16, "zval").sortWithinPartitions("zval").drop(
        "zval"
    ).write.mode("overwrite").options(**opts).parquet(z_dir)
    return rand_dir, user_dir, z_dir


@register(
    "maintenance_zorder", executes_on_build=True,
    oracle="""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN user_id BETWEEN 40 AND 70
                          AND value >= 100.0 AND value < 140.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_in_box,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    """,
)
def maintenance_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) multi-dimensional clustering rewrite —
    the layout that lets zone maps prune on EITHER of two filter
    columns, where 1-D sort-clustering (maintenance_sort_cluster)
    serves only its lead column. Both dimensions are quantized to 10
    bits against their corpus min/max (one broadcast stats row — no
    second scan), bit-interleaved into a 20-bit Z-value with pure
    shift/and arithmetic, then range-repartitioned + sorted by Z so
    every output file covers a compact square-ish region of
    (user_id, value) space.

    The checked output is the rewritten table's totals plus the 2-D
    box-predicate count — exact against the source fixture, proving
    the rewrite is lossless (layout is pure physics). The pruning
    payoff is asserted from parquet footers in tests/test_weak_ops.py:
    for a value-band predicate the user-sorted layout overlaps ~all
    row groups while the Z-ordered layout skips a multiple of them.
    At 100 TB this is the periodic maintenance job that keeps
    multi-dimension dashboards off full scans."""
    _, _, z_dir = _zorder_rewrite(spark, sf_dir)
    back = spark.read.parquet(z_dir)
    in_box = (
        F.col("user_id").between(ZORDER_USER_LO, ZORDER_USER_HI)
        & (F.col("value") >= ZORDER_VALUE_LO)
        & (F.col("value") < ZORDER_VALUE_HI)
    )
    return back.agg(
        F.count("*").alias("n_rows"),
        F.sum(in_box.cast("long")).alias("n_in_box"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def zorder_rowgroup_stats(spark: SparkSession, sf_dir: str) -> dict[str, tuple[int, int]]:
    """Test-support twin of :func:`maintenance_zorder`: rewrite all
    three layouts and return {layout: (total_rowgroups, overlapping)}
    for the value-band predicate [ZORDER_VALUE_LO, ZORDER_VALUE_HI)."""
    import pyarrow.parquet as pq

    rand_dir, user_dir, z_dir = _zorder_rewrite(spark, sf_dir)

    def stats(d: str) -> tuple[int, int]:
        total = overlap = 0
        for fname in sorted(os.listdir(d)):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, fname)).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            ci = idx["value"]
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                total += 1
                if st.max >= ZORDER_VALUE_LO and st.min < ZORDER_VALUE_HI:
                    overlap += 1
        return total, overlap

    return {"random": stats(rand_dir), "user_sorted": stats(user_dir), "zordered": stats(z_dir)}


@register(
    "kinesis_kpl_deaggregate",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_records,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_keys,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS sum_value
    FROM events GROUP BY event_type
    """,
)
def kinesis_kpl_deaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPL aggregated-record ingestion, end to end and distributed:
    events are packed into KPL blobs (magic + protobuf + md5, the
    public Kinesis Producer Library wire format — see
    sources/kinesis.py) by a producer-simulation stage, then the
    engine's deaggregation kernel unpacks every blob, checksum-verified,
    back into user records whose per-type totals must equal the
    original events exactly.

    Both stages are Arrow-batched (applyInPandas to aggregate ~100
    records per blob within each batch group; mapInPandas to
    deaggregate) — the binary wire codec is the part built-in
    expressions can't express, so it runs as vectorized Python over
    opaque binary columns, one batch at a time, never a driver-side
    loop. At 100 TB the deaggregation is stateless map work that
    parallelizes with the scan, exactly like a production KCL/Spark
    consumer; payload JSON round-trips through to_json/from_json so
    doubles survive bit-exactly."""
    import pandas as pd

    from clj_kinesis_to_firehose_spark.sources.kinesis import (
        kpl_aggregate,
        kpl_deaggregate,
    )

    ev = load_table(spark, sf_dir, "events").select(
        (F.col("event_id") % 64).alias("batch"),
        F.col("user_id").cast("string").alias("pk"),
        F.to_json(
            F.struct("event_id", "user_id", "event_type", "value")
        ).alias("payload"),
    )

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("payload")  # deterministic intra-blob order
        blob = kpl_aggregate(
            [(pk, p.encode()) for pk, p in zip(pdf["pk"], pdf["payload"])]
        )
        return pd.DataFrame({"blob": [blob], "n": [len(pdf)]})

    blobs = ev.groupBy("batch").applyInPandas(encode, "blob binary, n long")

    def decode(batches):
        for pdf in batches:
            rows = []
            for blob in pdf["blob"]:
                rows.extend(
                    (pk, data.decode())
                    for pk, data in kpl_deaggregate(bytes(blob))
                )
            yield pd.DataFrame(rows, columns=["pk", "payload"])

    user_records = blobs.mapInPandas(decode, "pk string, payload string")
    parsed = user_records.select(
        "pk",
        F.from_json(
            "payload",
            "event_id long, user_id long, event_type string, value double",
        ).alias("e"),
    ).select("pk", "e.*")
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.countDistinct("user_id").cast("long").alias("n_keys"),
        F.round(F.sum(F.col("value").cast("decimal(18,4)")), 2)
        .cast("double")
        .alias("sum_value"),
    )


@register(
    "scan_python_datasource",
    # build executes only when the replay-slice memo is cold (the batch
    # DataSource read is lazy) — conditional
    executes_on_build="conditional",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kinesis connector seam made concrete: a PySpark 4 Python
    DataSource (sources/pyds.py) registered as format
    ``kinesis_replay`` — one InputPartition per shard slice, records
    read executor-side via pyarrow, a micro-batch stream face whose
    offsets are slice indexes (the shard-iterator checkpoint shape).
    This op exercises the BATCH face: the full replay read back through
    the connector must equal the events table exactly. The stream face
    is exercised in tests/test_streaming.py (exact row parity through
    a checkpointed streaming query, plus offset-window unit tests)."""
    from clj_kinesis_to_firehose_spark.sources.pyds import (
        register_replay_source,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import (
        write_replay_slices,
    )

    register_replay_source(spark)
    replay = write_replay_slices(spark, sf_dir, n_slices=4)
    return spark.read.format("kinesis_replay").option("path", replay).load()
