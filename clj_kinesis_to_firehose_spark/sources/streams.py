"""Streaming sources (SURVEY.md §2 A4/A5): the file-source replay
double for Kinesis, and the rate source for synthetic smoke.

The replay format is defined here once: a directory of ``slice=i``
subdirectories, one parquet file each, stamped so the file source
takes one slice per micro-batch in index order. :func:`write_replay`
writes it and :func:`read_replay` reads it; the fixture replays below
(events, documents, reshard) and every operator's own replay go
through the two.

No Kinesis connector exists offline (SURVEY.md §7.5); in production
the swap is config-level — ``format("aws-kinesis")`` (EFO connector)
with the same downstream plan — because everything after ``load()``
is connector-agnostic DataFrame code.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.session import ensure_configs

#: events schema as the replay slices carry it — the loader's
#: normalized form (ts already a µs timestamp), so the stream source
#: is fixture-revision-agnostic (see sources/loader.py docstring)
EVENTS_RAW_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


#: sentinel event_id for the watermark-flush row (see flush_sentinel)
FLUSH_SENTINEL_ID = -1

#: replay directories already materialized this process, keyed by the
#: replayed table and the full parameter tuple. The slices are
#: deterministic functions of the fixture (global ntile over the
#: table's order), every consumer only READS the directory (each
#: stream brings its own checkpoint, so a re-read replays in full),
#: and the fixture is immutable within a process — so identical
#: rebuilds are pure waste. Before this cache (r13, the r12 verdict's
#: suite-wall-clock item) the ~30 streaming ops each rebuilt an
#: identical slice set at test time, multiplying one global sort
#: across the whole suite. Builders with consumers that MUTATE their
#: directory (write_reshard_replay's held-slice restart test) stay
#: uncached.
_REPLAY_CACHE: dict[tuple, str] = {}

#: slice i's files are stamped with mtime _SLICE_MTIME_BASE + i seconds
#: (an arbitrary fixed epoch; only the order matters)
_SLICE_MTIME_BASE = 1_700_000_000


def write_replay(
    replay_dir: str,
    frames: Iterable[DataFrame] = (),
    sliced: DataFrame | None = None,
    n_slices: int = 0,
) -> str:
    """Write a replay into ``replay_dir`` and return the path: micro-batch
    i is the directory ``slice=i`` holding one parquet file, whose
    files' mtimes are stamped base + i seconds. Spark's file source
    takes discovered files in modification-time order, so
    :func:`read_replay` takes the slices one per micro-batch in index
    order, however fast they were written.

    ``sliced``: a frame whose ``__slice`` column numbers each row's
    micro-batch 0 .. ``n_slices`` - 1. It is cached while those slices
    are cut from it and written — each cut would otherwise re-run its
    whole plan (a global sort, a Python packing UDF) once per slice.
    ``frames``: whole micro-batches, written in order after them."""
    cuts = ()
    if sliced is not None:
        sliced = sliced.persist()
        cuts = (
            sliced.filter(F.col("__slice") == i).drop("__slice")
            for i in range(n_slices)
        )
    try:
        for i, frame in enumerate(itertools.chain(cuts, frames)):
            path = os.path.join(replay_dir, f"slice={i}")
            frame.coalesce(1).write.mode("overwrite").parquet(path)
            stamp = _SLICE_MTIME_BASE + i
            for name in os.listdir(path):
                os.utime(os.path.join(path, name), (stamp, stamp))
    finally:
        if sliced is not None:
            sliced.unpersist()
    return replay_dir


def read_replay(spark: SparkSession, replay_dir: str, schema: str) -> DataFrame:
    """The file-source stream over a :func:`write_replay` directory: one
    slice per micro-batch (``maxFilesPerTrigger=1``) in stamped order.
    ``recursiveFileLookup`` reads the files under the ``slice=i``
    directories without inferring a ``slice`` partition column."""
    ensure_configs(spark)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(replay_dir)
    )


def _ntile_slices(raw: DataFrame, n_slices: int, *order: str) -> DataFrame:
    """``raw`` with ``__slice`` = its row's quantile 0 .. n_slices - 1
    over ``order`` — :func:`write_replay`'s ``sliced`` input."""
    from pyspark.sql.window import Window

    return raw.withColumn(
        "__slice", F.ntile(n_slices).over(Window.orderBy(*order)) - 1
    )


def write_replay_slices(
    spark: SparkSession,
    sf_dir: str,
    n_slices: int = 4,
    dup_event_ids: int = 0,
    flush_sentinel: bool = False,
    late_rows: int = 0,
) -> str:
    """Materialize the events fixture as an N-slice replay — a Kinesis
    shard-drop replay double: the file stream source picks slices up
    as separate micro-batches (see :func:`write_replay`).

    Slices are TIME-ordered (ntile over ts): each micro-batch advances
    event time monotonically, as a replayed Kinesis shard would — if
    slices interleaved the full time range, the first batch would drag
    the watermark to max(ts)-delay and every later slice would be
    dropped as late by stateful operators.

    ``dup_event_ids``: re-append the LAST K rows (latest ts) as a
    trailing slice, emulating Kinesis at-least-once redelivery close to
    the head of the stream — within the watermark, so dedup state (not
    late-row dropping) is what has to remove them.

    ``late_rows``: re-append the EARLIEST K rows as a trailing slice,
    re-sent after the whole stream has been seen — by then the
    watermark sits at max(ts) - delay, so a stateful operator must DROP
    all of them; the watermark-audit op counts exactly this batch's
    drops.

    ``flush_sentinel``: append one synthetic far-future row
    (event_id = FLUSH_SENTINEL_ID, ts = max(ts) + 2 days) as the final
    slice. Its micro-batch advances the watermark past every real
    window, so append-mode windowed aggregations EMIT all real windows
    — their post-replay result then equals the batch aggregate and
    gets an exact oracle — while the sentinel's own window (the only
    one the final watermark never passes) stays withheld, so no
    filtering is needed. Watermark-driven state eviction still runs
    for real.
    """
    if dup_event_ids and late_rows:
        # validate BEFORE the global ntile sort and slice writes run —
        # an invalid call must fail instantly with no side effects
        raise ValueError(
            "dup_event_ids and late_rows both target the slice after the "
            "main replay — request one per replay"
        )
    key = ("events", sf_dir, n_slices, dup_event_ids, flush_sentinel, late_rows)
    cached = _REPLAY_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    from clj_kinesis_to_firehose_spark.sources.loader import load_table, scratch_dir

    ensure_configs(spark)
    raw = load_table(spark, sf_dir, "events")  # ts normalized to timestamp
    tail = []
    if dup_event_ids:
        tail.append(raw.orderBy(F.desc("ts"), F.desc("event_id")).limit(dup_event_ids))
    if late_rows:
        tail.append(raw.orderBy(F.asc("ts"), F.asc("event_id")).limit(late_rows))
    if flush_sentinel:
        tail.append(
            raw.orderBy(F.desc("ts")).limit(1).select(
                F.lit(FLUSH_SENTINEL_ID).cast("long").alias("event_id"),
                F.expr("ts + INTERVAL 2 DAYS").alias("ts"),
                F.lit(FLUSH_SENTINEL_ID).cast("long").alias("user_id"),
                F.lit("__flush__").alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit("{}").alias("props"),
            )
        )
    replay_dir = write_replay(
        scratch_dir("kf_replay_"),
        tail,
        sliced=_ntile_slices(raw, n_slices, "ts", "event_id"),
        n_slices=n_slices,
    )
    _REPLAY_CACHE[key] = replay_dir
    return replay_dir


def read_event_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    """File-source event stream over loader-normalized replay slices —
    the streaming twin of ``sources.loader.load_table('events')``."""
    return read_replay(spark, replay_dir, EVENTS_RAW_SCHEMA)


#: documents replay schema (doc_id-ordered slices)
DOCS_RAW_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def write_doc_replay(spark: SparkSession, sf_dir: str, n_slices: int) -> str:
    """Materialize the documents fixture as an ``n_slices``-slice
    replay, doc_id-ordered — the documents twin of
    :func:`write_replay_slices`; read it with
    ``read_replay(spark, replay_dir, DOCS_RAW_SCHEMA)``."""
    key = ("documents", sf_dir, n_slices)
    cached = _REPLAY_CACHE.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    from clj_kinesis_to_firehose_spark.sources.loader import load_table, scratch_dir

    docs = load_table(spark, sf_dir, "documents")
    replay_dir = write_replay(
        scratch_dir("kf_docs_replay_"),
        sliced=_ntile_slices(docs, n_slices, "doc_id"),
        n_slices=n_slices,
    )
    _REPLAY_CACHE[key] = replay_dir
    return replay_dir


#: replay schema for the RESHARD double: envelope adds the shard id
#: and the per-shard sequence number (continuous across the shard's
#: whole lifetime, as Kinesis sequence numbers are)
RESHARD_RAW_SCHEMA = EVENTS_RAW_SCHEMA + ", shard_id string, seq long"

#: portable shard router (md5 60/32-bit bucket — identical in DuckDB,
#: see llm_dedup.portable_hash60): which of the 2 epoch-1 shards /
#: 4 post-split hash ranges a partition key routes to
_SHARD_BUCKET = "conv(substring(md5(cast(user_id as string)), 1, 8), 16, 10)"


def write_reshard_replay(spark: SparkSession, sf_dir: str) -> str:
    """Kinesis RESHARDING replay double — shard split and merge, the
    reference domain's hardest operational behavior [PK: Kinesis
    UpdateShardCount/SplitShard/MergeShards semantics]. Read it with
    ``read_replay(spark, replay_dir, RESHARD_RAW_SCHEMA)``.

    The events fixture is cut into three time epochs (ntile over ts —
    the stream's lifetime) and each record routes to a shard by a
    portable hash of its partition key (user_id):

    * epoch 1: ``shard-0`` (bucket 0), ``shard-1`` (bucket 1)
    * epoch 2: ``shard-1`` SPLITS → ``shard-1a`` / ``shard-1b``
      (bucket 1 keys re-route by the finer hash range); shard-0
      continues untouched
    * epoch 3: the children MERGE → ``shard-2`` (all bucket-1 keys)

    Kinesis guarantees per-partition-key order WITHIN a shard and
    requires consumers to fully drain a closed parent before reading
    its children (KCL lease ordering) — modeled here by slice
    order: every epoch-1 slice precedes every epoch-2 slice, etc. Each
    (epoch, shard) is one slice; records carry ``shard_id`` and a
    per-shard ``seq`` that is CONTINUOUS across the shard's lifetime
    (shard-0 spans all three epochs), so checkpoint continuity through
    the reshard is observable downstream.

    The shard router is the portable md5 bucket, so per-shard record
    and key counts are exactly reproducible in a DuckDB oracle."""
    from pyspark.sql.window import Window

    from clj_kinesis_to_firehose_spark.sources.loader import load_table, scratch_dir

    ensure_configs(spark)
    raw = load_table(spark, sf_dir, "events")
    b2 = F.expr(_SHARD_BUCKET).cast("long") % 2
    b4 = F.expr(_SHARD_BUCKET).cast("long") % 4
    epoch = F.ntile(3).over(Window.orderBy("ts", "event_id"))
    routed = raw.select(
        "*",
        epoch.alias("__epoch"),
        F.when(b2 == 0, "shard-0")
        .when(epoch == 1, "shard-1")
        .when(epoch == 2, F.when(b4 == 1, "shard-1a").otherwise("shard-1b"))
        .otherwise("shard-2")
        .alias("shard_id"),
    ).withColumn(
        "seq",
        F.row_number().over(
            Window.partitionBy("shard_id").orderBy("ts", "event_id")
        ).cast("long"),
    )
    slices = [
        (1, "shard-0"), (1, "shard-1"),
        (2, "shard-0"), (2, "shard-1a"), (2, "shard-1b"),
        (3, "shard-0"), (3, "shard-2"),
    ]
    slice_of = " ".join(
        f"WHEN __epoch = {ep} AND shard_id = '{shard}' THEN {i}"
        for i, (ep, shard) in enumerate(slices)
    )
    return write_replay(
        scratch_dir("kf_reshard_"),
        sliced=routed.withColumn("__slice", F.expr(f"CASE {slice_of} END")).drop(
            "__epoch"
        ),
        n_slices=len(slices),
    )


def read_rate_stream(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
