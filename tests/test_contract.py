"""Contract-surface guards: every SURVEY.md §2 operator name must stay
registered (a refactor must not silently drop a contract row), and the
Kinesis envelope decode must produce the engine's events schema without
needing the connector jar."""

from __future__ import annotations

import datetime

from clj_kinesis_to_firehose_spark import registry

#: the 77 SURVEY.md §2 contract rows (A1..K5), by registered name
SURVEY_S2_NAMES = [
    # A — sources/sinks/routing
    "scan_parquet", "scan_events_ns", "sink_parquet_roundtrip",
    "stream_source_file", "stream_source_rate", "sink_firehose_batched",
    "route_by_event_type",
    # B — projection/filtering
    "project_select", "filter_basic", "filter_in_between", "filter_like",
    "filter_null_safe", "project_cast",
    # C — joins
    "join_inner", "join_broadcast", "join_left_outer", "join_full_outer",
    "join_semi", "join_anti", "join_theta_range", "join_star_multiway",
    "join_asof", "join_cross",
    # D — aggregation
    "agg_global", "agg_groupby", "agg_count_distinct", "agg_approx_distinct",
    "agg_rollup", "agg_cube", "agg_grouping_sets", "agg_having", "agg_stats",
    "agg_percentile", "agg_collect_sorted",
    # E — window functions
    "win_row_number", "win_rank_dense", "win_lag_lead", "win_running_sum",
    "win_moving_avg", "win_ntile", "win_first_last",
    # F — sorting / top-k
    "sort_limit_topn", "sort_multi_nulls", "topk_per_group",
    # G — set operations
    "set_union_all", "set_union_distinct", "set_intersect", "set_except",
    # H — scalar function families
    "str_funcs", "str_split_explode", "str_regexp", "date_funcs",
    "math_funcs", "cond_funcs", "array_funcs", "json_extract", "map_funcs",
    # I — event-time windows / streaming semantics
    "window_tumbling", "window_sliding", "window_session",
    "stream_tumbling_watermark", "stream_dedup", "stream_stateful_counter",
    "stream_foreachbatch_sink",
    # J — LLM-data operators
    "dedup_exact", "dedup_near_minhash", "sim_topk_exact", "sim_ann_lsh",
    "text_wordcount", "text_lang_stats", "text_tfidf_topterms",
    "multimodal_join",
    # K — UDF surfaces
    "udf_python", "udf_pandas_scalar", "udaf_grouped_agg",
    "udf_grouped_map", "udtf_python",
]


def test_survey_contract_names_registered():
    q = registry.queries()
    missing = [n for n in SURVEY_S2_NAMES if n not in q]
    assert not missing, f"SURVEY §2 rows missing from queries(): {missing}"
    assert len(SURVEY_S2_NAMES) == 77


def test_rotation_puts_unadjudicated_queries_first():
    q = registry.queries()
    seen = registry._adjudicated_names()
    names = list(q)
    n_unseen = sum(1 for n in names if n not in seen)
    window = names[: min(n_unseen, 50)]
    # every slot of the driver's window goes to a query without a
    # driver-green row (until none remain)
    assert all(n not in seen for n in window), [n for n in window if n in seen]


def test_kinesis_envelope_decode_matches_event_stream_schema(spark):
    from clj_kinesis_to_firehose_spark.sources.kinesis import (
        decode_kinesis_envelope,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import EVENTS_RAW_SCHEMA

    # envelope rows built by hand — the shape is fixed by the public
    # AWS Kinesis API, so no connector jar is needed to test the decode
    payload = (
        '{"event_id": 7, "ts": 1704067200123456789, "user_id": 3, '
        '"event_type": "purchase", "value": 9.5, "props": "{\\"k\\": 1}"}'
    )
    arrival = datetime.datetime(2024, 1, 1, 0, 0, 1)
    envelope = spark.createDataFrame(
        [
            (
                bytearray(payload.encode()),
                "events-stream",
                "3",
                "49546986683135544286507457936321625675700192471156785154",
                arrival,
                "shardId-000000000000",
            )
        ],
        "data binary, streamName string, partitionKey string, "
        "sequenceNumber string, approximateArrivalTimestamp timestamp, "
        "shardId string",
    )
    decoded = decode_kinesis_envelope(envelope)

    # same columns/types as the replay double's stream, plus arrival_ts
    stream_fields = dict(
        (f.name, f.dataType.simpleString())
        for f in spark.createDataFrame([], EVENTS_RAW_SCHEMA).schema.fields
    )
    decoded_fields = {
        f.name: f.dataType.simpleString() for f in decoded.schema.fields
    }
    assert decoded_fields.pop("arrival_ts") == "timestamp"
    assert decoded_fields == stream_fields

    row = decoded.collect()[0]
    assert row["event_id"] == 7
    assert row["user_id"] == 3
    assert row["event_type"] == "purchase"
    assert row["value"] == 9.5
    # ns payload truncated to µs, exactly like the loader's nanos path
    assert row["ts"] == datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    assert row["arrival_ts"] == arrival


def test_intervals_and_gaps_tile_the_user_span(spark):
    """Cross-operator invariant: per user, total island duration plus
    total gap duration must equal the span from first event to last
    interval end, and island event counts must sum to the user's event
    count — the islands and gaps PARTITION the timeline. All integer
    microsecond arithmetic (no float time math to drift)."""
    from clj_kinesis_to_firehose_spark import registry
    from tests.conftest import SF_DIR

    registry._load_all()
    q = registry.queries()
    islands = q["intervals_merge_overlapping"](spark, SF_DIR).toPandas()
    gaps = q["intervals_gaps"](spark, SF_DIR).toPandas()

    import pandas as pd

    us = pd.Timedelta(microseconds=1)
    islands["dur_us"] = (
        (islands["island_end"] - islands["island_start"]) // us
    ).astype("int64")
    isl = islands.groupby("user_id").agg(
        dur=("dur_us", "sum"), n=("n_events", "sum"),
        start=("island_start", "min"), end=("island_end", "max"),
    )
    gap = gaps.groupby("user_id")["gap_us"].sum()

    ev = pd.read_parquet(f"{SF_DIR}/events.parquet", columns=["user_id", "ts"])
    counts = ev.groupby("user_id")["ts"].count()

    for uid, row in isl.iterrows():
        # integer µs throughout — total_seconds() would truncate 1 µs low
        span_us = int((row["end"] - row["start"]) // us)
        g = int(gap.get(uid, 0))
        assert row["dur"] + g == span_us, uid
        assert row["n"] == counts[uid], uid
