"""Streaming-semantics tests (SURVEY.md §5.2): late-data dropping
under watermarks, at-least-once dedup, end-to-end Firehose pipeline
with injected partial failures."""

from __future__ import annotations

import os
import tempfile
import time

import pytest

from pyspark.sql import functions as F

from clj_kinesis_to_firehose_spark.sources.streams import EVENTS_RAW_SCHEMA
from clj_kinesis_to_firehose_spark.operators import streaming_ops
from tests.conftest import SF_DIR


def _write_slice(spark, rows, path):
    df = spark.createDataFrame(rows, schema=EVENTS_RAW_SCHEMA)
    df.coalesce(1).write.mode("overwrite").parquet(path)
    time.sleep(1.05)  # file-source orders slices by modification time


NS = 1_000_000_000
T0 = 1_704_067_200 * NS  # 2024-01-01 00:00:00 UTC in nanos


def _ns_to_dt(ts_ns):
    # naive UTC datetime (session tz is UTC), truncated to µs like the
    # loader's nanos path
    import datetime

    return datetime.datetime(1970, 1, 1) + datetime.timedelta(
        microseconds=ts_ns // 1000
    )


def _ev(i, ts_ns, etype="click", user=1, value=1.0):
    return (i, _ns_to_dt(ts_ns), user, etype, value, '{"k": 1}')


@pytest.fixture(scope="module")
def late_replay_dir(spark):
    """Replay with an event arriving 2h late — far beyond the 15-minute
    watermark by the time its slice is processed."""
    d = tempfile.mkdtemp(prefix="kf_late_")
    # slice 0: hours 0-1 (closes window [0,1h) once watermark passes)
    _write_slice(
        spark,
        [_ev(0, T0 + 10 * 60 * NS), _ev(1, T0 + 70 * 60 * NS)],
        os.path.join(d, "s0"),
    )
    # slice 1: hour 4 → watermark jumps to ~3h55m, hour-0/1 windows emit
    _write_slice(spark, [_ev(2, T0 + 250 * 60 * NS)], os.path.join(d, "s1"))
    # slice 2: advance again — hour-0 state is evicted THIS batch (Spark
    # drops a late row only once its window was evicted in a PRIOR
    # batch: merge happens before eviction within a batch)
    _write_slice(spark, [_ev(4, T0 + 310 * 60 * NS)], os.path.join(d, "s2"))
    # slice 3: the LATE row back in hour 0 — beyond watermark, state
    # gone ⇒ dropped; plus a fresh row keeping the stream moving
    _write_slice(
        spark,
        [_ev(3, T0 + 20 * 60 * NS), _ev(5, T0 + 320 * 60 * NS)],
        os.path.join(d, "s3"),
    )
    return d


def test_watermark_drops_late_rows(spark, late_replay_dir):
    out = streaming_ops.stream_tumbling_watermark(
        spark, SF_DIR, replay_dir=late_replay_dir
    ).collect()
    counts = {(r["wstart"].hour, r["event_type"]): r["n_events"] for r in out}
    # window [00:00,01:00) closed with exactly 1 event: the late event 3
    # (also hour 0, arriving after the watermark passed) must NOT count
    assert counts.get((0, "click")) == 1, counts
    # hour-1 window emitted with its single on-time event
    assert counts.get((1, "click")) == 1, counts


def test_stream_dedup_removes_injected_duplicates(spark, oracle_con):
    res = {
        r["event_type"]: r["n_unique"]
        for r in streaming_ops.stream_dedup(spark, SF_DIR).collect()
    }
    exact = dict(
        oracle_con.execute(
            "SELECT event_type, COUNT(DISTINCT event_id) FROM events GROUP BY event_type"
        ).fetchall()
    )
    assert res == exact


def test_stateful_counter_matches_batch(spark, oracle_con):
    res = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in streaming_ops.stream_stateful_counter(spark, SF_DIR).collect()
    }
    exact = {
        u: (n, s)
        for u, n, s in oracle_con.execute(
            "SELECT user_id, COUNT(*), ROUND(SUM(value), 2) FROM events GROUP BY user_id"
        ).fetchall()
    }
    assert res == exact


def test_firehose_pipeline_with_partial_failures(spark, oracle_con):
    # inject a failure on every 5th record's first attempt; retry must
    # recover every record exactly once (idempotent batch naming)
    out_dir = tempfile.mkdtemp(prefix="kf_e2e_")
    res = streaming_ops.stream_foreachbatch_sink(
        spark, SF_DIR, out_dir=out_dir, fail_first_attempt_every=5
    )
    got = {r["event_type"]: (r["n_delivered"], r["n_unique"]) for r in res.collect()}
    exact = {
        t: (n, n)
        for t, n in oracle_con.execute(
            "SELECT event_type, COUNT(*) FROM events WHERE event_type != 'error' GROUP BY event_type"
        ).fetchall()
    }
    assert got == exact
    assert "error" not in got  # routed/dropped by the bridge filter
    # every delivery file honors the record cap
    for f in os.listdir(out_dir):
        with open(os.path.join(out_dir, f), "rb") as fh:
            lines = fh.read().splitlines()
        assert len(lines) <= 500


def test_checkpoint_restart_delivers_exactly_once(spark):
    """Stop/restart against the same checkpoint: slices delivered before
    the stop must NOT be redelivered after restart (WAL offsets + the
    idempotent sink = exactly-once across restarts — the property the
    reference's at-least-once bridge cannot give). The restart reads
    back the offset, commit and source logs the first run wrote, so it
    also proves the session's checkpoint manager writes logs Spark can
    resume from."""
    from clj_kinesis_to_firehose_spark.sources.streams import read_event_stream
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        firehose_foreach_batch,
    )

    base = tempfile.mkdtemp(prefix="kf_restart_")
    replay = os.path.join(base, "replay")
    delivery = os.path.join(base, "delivery")
    chk = os.path.join(base, "chk")
    os.makedirs(delivery)

    def run_pipeline():
        q = (
            read_event_stream(spark, replay)
            .writeStream.foreachBatch(firehose_foreach_batch(delivery))
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [p["batchId"] for p in q.recentProgress if p["numInputRows"]]

    def logged_batches(log):
        return sorted(int(f) for f in os.listdir(os.path.join(chk, log)) if f.isdigit())

    # phase 1: two slices, first run
    _write_slice(spark, [_ev(i, T0 + i * 60 * NS) for i in range(10)],
                 os.path.join(replay, "s0"))
    _write_slice(spark, [_ev(i, T0 + i * 60 * NS) for i in range(10, 20)],
                 os.path.join(replay, "s1"))
    assert run_pipeline() == [0, 1]
    first = spark.read.json(os.path.join(delivery, "*.jsonl"))
    assert first.count() == 20

    # phase 2: one more slice lands, restart from the same checkpoint
    _write_slice(spark, [_ev(i, T0 + i * 60 * NS) for i in range(20, 30)],
                 os.path.join(replay, "s2"))
    assert run_pipeline() == [2]  # resumes after the committed batches
    assert logged_batches("offsets") == logged_batches("commits") == [0, 1, 2]
    final = spark.read.json(os.path.join(delivery, "*.jsonl"))
    assert final.count() == 30  # 20 old NOT redelivered + 10 new
    assert sorted(r.event_id for r in final.select("event_id").collect()) == list(range(30))


def test_backpressure_bounds_microbatches(spark):
    row = streaming_ops.stream_backpressure_trigger(spark, SF_DIR).collect()[0]
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert row.total_rows == total  # nothing lost draining the backlog
    assert row.n_batches >= 4  # one slice per trigger, never a mega-batch
    # no batch may exceed one time-ordered slice (ntile => ceil split)
    assert row.max_batch_rows <= -(-total // 4)


def test_poison_record_does_not_wedge_stream(spark):
    """Liveness under a permanently-failing record: with the default
    dead-letter mode, the micro-batch COMPLETES (strict mode would
    raise, the checkpoint would replay the same batch, and the stream
    would wedge forever), the poison record lands under errors/, and
    delivered + dead reconciles with the source exactly."""
    from clj_kinesis_to_firehose_spark.sources.streams import read_event_stream
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        LocalDirFirehoseClient,
        firehose_foreach_batch,
    )

    base = tempfile.mkdtemp(prefix="kf_poison_")
    replay = os.path.join(base, "replay")
    delivery = os.path.join(base, "delivery")
    chk = os.path.join(base, "chk")
    os.makedirs(delivery)
    rows = [_ev(i, T0 + i * 60 * NS) for i in range(19)]
    rows.append(_ev(99, T0 + 99 * 60 * NS, etype="poison"))
    _write_slice(spark, rows, os.path.join(replay, "s0"))

    def factory(out_dir, fail_first_attempt_every=0):
        return LocalDirFirehoseClient(
            out_dir, poison_marker=b'"event_type":"poison"'
        )

    q = (
        read_event_stream(spark, replay)
        .writeStream.foreachBatch(
            firehose_foreach_batch(delivery, client_factory=factory)
        )
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # completes — no wedge

    delivered = spark.read.json(os.path.join(delivery, "*.jsonl"))
    assert delivered.count() == 19
    assert delivered.filter(F.col("event_type") == "poison").count() == 0
    dead = spark.read.json(os.path.join(delivery, "errors", "*.jsonl"))
    assert dead.count() == 1
    assert dead.collect()[0]["event_id"] == 99
    # full reconciliation: every source record is accounted for exactly once
    ids = {r["event_id"] for r in delivered.collect()} | {99}
    assert ids == {i for i in range(19)} | {99}


def test_checkpoint_survives_reshard(spark):
    """Checkpoint continuity through a shard split+merge: the consumer
    drains the pre-merge shards, STOPS, the merged child's slices land,
    and a restart from the same checkpoint picks up exactly the new
    shard — nothing redelivered, nothing lost, per-shard sequence
    numbers still contiguous across the boundary."""
    import shutil

    from clj_kinesis_to_firehose_spark.sources.streams import (
        read_reshard_stream,
        write_reshard_replay,
    )

    replay = write_reshard_replay(spark, SF_DIR)
    held = tempfile.mkdtemp(prefix="kf_held_")
    for s in ["slice=5", "slice=6"]:  # epoch-3: post-merge arrivals
        shutil.move(os.path.join(replay, s), os.path.join(held, s))
    cap = os.path.join(tempfile.mkdtemp(prefix="kf_cap_"), "arrivals")
    chk = tempfile.mkdtemp(prefix="kf_chk_")

    def run():
        def capture(bdf, epoch_id):
            bdf.withColumn("batch_id", F.lit(int(epoch_id))).write.mode(
                "append"
            ).parquet(cap)

        q = (
            read_reshard_stream(spark, replay)
            .writeStream.foreachBatch(capture)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    phase1 = spark.read.parquet(cap)
    n1 = phase1.count()
    assert phase1.filter(F.col("shard_id") == "shard-2").count() == 0
    max_batch1 = phase1.agg(F.max("batch_id")).collect()[0][0]

    for s in ["slice=5", "slice=6"]:
        shutil.move(os.path.join(held, s), os.path.join(replay, s))
    run()
    arr = spark.read.parquet(cap)
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert arr.count() == total, "reshard must not lose or redeliver"
    assert arr.select("event_id").distinct().count() == total
    # restart continued, not restarted: new arrivals carry later batches
    new = arr.filter(F.col("batch_id") > max_batch1)
    assert new.count() == total - n1
    assert {r["shard_id"] for r in new.select("shard_id").distinct().collect()} \
        <= {"shard-0", "shard-2"}
    # per-shard sequence numbers are contiguous across the boundary
    for shard in ["shard-0", "shard-2"]:
        seqs = sorted(
            r["seq"] for r in arr.filter(F.col("shard_id") == shard)
            .select("seq").collect()
        )
        assert seqs == list(range(1, len(seqs) + 1)), shard


def test_reshard_double_construction_invariants(spark):
    """The reshard replay's static shape (no streaming needed): the
    slices partition the source exactly, per-shard sequence numbers
    are 1..n contiguous across the shard's whole lifetime, epoch
    boundaries respect event-time order, and the shard-1 lineage's key
    set is exactly the union of its children's."""
    from clj_kinesis_to_firehose_spark.sources.streams import (
        RESHARD_RAW_SCHEMA,
        write_reshard_replay,
    )

    replay = write_reshard_replay(spark, SF_DIR)
    slices = {}
    for i in range(7):
        slices[i] = spark.read.schema(RESHARD_RAW_SCHEMA).parquet(
            os.path.join(replay, f"slice={i}")
        )
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert sum(df.count() for df in slices.values()) == total

    whole = slices[0]
    for i in range(1, 7):
        whole = whole.unionByName(slices[i])
    # seq contiguity per shard across its lifetime
    for shard in ["shard-0", "shard-1", "shard-1a", "shard-1b", "shard-2"]:
        seqs = sorted(
            r["seq"] for r in whole.filter(F.col("shard_id") == shard)
            .select("seq").collect()
        )
        assert seqs == list(range(1, len(seqs) + 1)), shard
    # epoch time ordering: max ts of epoch-1 slices <= min ts of epoch-3
    e1_max = max(
        slices[i].agg(F.max("ts")).collect()[0][0] for i in (0, 1)
    )
    e3_min = min(
        slices[i].agg(F.min("ts")).collect()[0][0] for i in (5, 6)
    )
    assert e1_max <= e3_min
    # routing honors the hash lineage: every key in the shard-1 family
    # (parent, split children, merged child) is a bucket-1 key, every
    # shard-0 key bucket-0, and the split children partition bucket 1
    from clj_kinesis_to_firehose_spark.sources.streams import _SHARD_BUCKET

    buckets = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "user_id", (F.expr(_SHARD_BUCKET).cast("long") % 2).alias("b2")
    ).distinct()
    bucket1 = {r["user_id"] for r in buckets.filter("b2 = 1").collect()}
    bucket0 = {r["user_id"] for r in buckets.filter("b2 = 0").collect()}
    keys = lambda i: {r["user_id"] for r in slices[i].select("user_id").distinct().collect()}  # noqa: E731
    lineage1 = keys(1) | keys(3) | keys(4) | keys(6)
    shard0_keys = keys(0) | keys(2) | keys(5)
    assert lineage1 <= bucket1, "shard-1 lineage must carry only bucket-1 keys"
    assert shard0_keys <= bucket0, "shard-0 must carry only bucket-0 keys"
    assert keys(3).isdisjoint(keys(4)), "split children cover disjoint hash ranges"
    assert shard0_keys.isdisjoint(lineage1)


def test_stateful_aggregation_state_survives_reshard(spark):
    """Streaming aggregation STATE continuity through the reshard: a
    per-user count accumulates over the pre-merge shards, the query
    stops, the merged child's slices land, and the restart resumes
    from checkpointed state — final counts must equal the batch
    answer, proving no state was lost or double-counted when the
    key→shard mapping changed under the aggregation."""
    import shutil
    import uuid

    from clj_kinesis_to_firehose_spark.sources.streams import (
        read_reshard_stream,
        write_reshard_replay,
    )

    replay = write_reshard_replay(spark, SF_DIR)
    held = tempfile.mkdtemp(prefix="kf_held2_")
    for s in ["slice=5", "slice=6"]:
        shutil.move(os.path.join(replay, s), os.path.join(held, s))
    chk = tempfile.mkdtemp(prefix="kf_chk_")

    def run():
        name = f"reshard_counts_{uuid.uuid4().hex[:8]}"
        q = (
            read_reshard_stream(spark, replay)
            .groupBy("user_id")
            .count()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["user_id"]: r["count"] for r in spark.table(name).collect()}

    partial = run()
    for s in ["slice=5", "slice=6"]:
        shutil.move(os.path.join(held, s), os.path.join(replay, s))
    final = run()

    batch = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == batch, "restarted state must converge to the batch answer"
    assert sum(partial.values()) < sum(final.values())


def test_stateful_counter_on_rocksdb_state_store(spark, oracle_con):
    """The 100 TB state backend: HDFSBackedStateStore keeps every key
    in executor heap — at large keyspaces the scalable provider is
    RocksDB (incremental checkpoints, state spills to local disk).
    The engine's stateful ops must run unchanged on it: same pipeline,
    same exact result as the batch aggregate, only the provider conf
    differs."""
    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        res = {
            r["user_id"]: (r["n_events"], r["sum_value"])
            for r in streaming_ops.stream_stateful_counter(spark, SF_DIR).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    exact = {
        u: (n, s)
        for u, n, s in oracle_con.execute(
            "SELECT user_id, COUNT(*), ROUND(SUM(value), 2)"
            " FROM events GROUP BY user_id"
        ).fetchall()
    }
    assert res == exact


def test_python_datasource_stream_face_exact(spark, oracle_con):
    """The kinesis_replay Python DataSource's STREAM face: a
    checkpointed streaming query over the connector must deliver every
    replay record exactly once (count + per-type parity with the
    batch table)."""
    import tempfile
    import uuid

    from clj_kinesis_to_firehose_spark.sources.pyds import register_replay_source
    from clj_kinesis_to_firehose_spark.sources.streams import write_replay_slices

    register_replay_source(spark)
    replay = write_replay_slices(spark, SF_DIR, n_slices=4)
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("kinesis_replay")
        .option("path", replay)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="kf_chk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_type"]: r["n"]
        for r in spark.table(name).groupBy("event_type").count()
        .withColumnRenamed("count", "n").collect()
    }
    exact = dict(
        oracle_con.execute(
            "SELECT event_type, COUNT(*) FROM events GROUP BY event_type"
        ).fetchall()
    )
    assert got == exact


def test_python_datasource_offsets_window_correctly(spark):
    """Offset semantics of the stream reader, unit-level: initial at
    slice 0, latest at the replay head, and partitions(start, end)
    fanning out exactly the uncommitted slice files — the contract a
    checkpoint recovery relies on."""
    from clj_kinesis_to_firehose_spark.sources.pyds import (
        KinesisReplayStreamReader,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import write_replay_slices

    replay = write_replay_slices(spark, SF_DIR, n_slices=4)
    r = KinesisReplayStreamReader({"path": replay})
    assert r.initialOffset() == {"slice": 0}
    assert r.latestOffset() == {"slice": 4}
    all_parts = r.partitions({"slice": 0}, {"slice": 4})
    assert len(all_parts) == 4
    mid = r.partitions({"slice": 1}, {"slice": 3})
    assert len(mid) == 2
    assert [p.path for p in mid] == [p.path for p in all_parts[1:3]]
    assert r.partitions({"slice": 2}, {"slice": 2}) == []
    # every record is reachable through exactly one partition (the
    # happy path yields Arrow RecordBatches — count their rows)
    n = sum(b.num_rows for p in all_parts for b in r.read(p))
    assert n == 10000


@pytest.fixture(scope="module")
def pyds_delivery(spark):
    """ONE full kinesis_replay → firehose_delivery availableNow run,
    shared by the caps/idempotence and byte-format tests (identical
    replay + sink config — r16 scaffold sharing, r15 verdict #8).
    Returns (replay_dir, out_dir, delivered_lines) with the lines
    snapshotted HERE, before any test mutates the out dir."""
    import glob
    import tempfile

    from clj_kinesis_to_firehose_spark.sources.pyds import (
        register_delivery_sink,
        register_replay_source,
    )
    from clj_kinesis_to_firehose_spark.sources.streams import (
        write_replay_slices,
    )

    register_replay_source(spark)
    register_delivery_sink(spark)
    replay = write_replay_slices(spark, SF_DIR, n_slices=4)
    out = tempfile.mkdtemp(prefix="kf_pyds_deliv_")
    q = (
        spark.readStream.format("kinesis_replay")
        .option("path", replay)
        .load()
        .writeStream.format("firehose_delivery")
        .option("path", out)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="kf_chk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    lines = sorted(
        line
        for f in glob.glob(out + "/batch-*.jsonl")
        for line in open(f, "rb").read().splitlines()
    )
    return replay, out, lines


def test_python_datasource_writer_caps_and_idempotence(spark, pyds_delivery):
    """firehose_delivery writer: every delivered file honors the
    PutRecordBatch caps, the stage dir is swept after commit, and a
    REPLAYED micro-batch (same batchId) overwrites its own files
    instead of duplicating records — the exactly-once contract."""
    import glob
    import os

    from clj_kinesis_to_firehose_spark.sources.pyds import (
        FirehoseDeliveryStreamWriter,
    )

    _, out, _ = pyds_delivery
    files = sorted(glob.glob(out + "/batch-*.jsonl"))
    assert files
    total = 0
    for f in files:
        lines = open(f, "rb").readlines()
        assert len(lines) <= 500, f
        assert sum(len(ln) for ln in lines) <= 4 * 1024 * 1024, f
        assert all(ln.endswith(b"\n") for ln in lines), f
        total += len(lines)
    assert total == 10000
    assert os.listdir(out + "/_stage") == [], "stage not swept"

    # replay batch 0: same partition/chunk names → overwrite, not dup
    w = FirehoseDeliveryStreamWriter({"path": out})
    class _Msg:  # what a task would have returned
        pass
    staged = os.path.join(out, "_stage", "p0-c0-replay.jsonl")
    with open(staged, "wb") as fh:
        fh.write(b'{"event_id": 1}\n')
    m = _Msg(); m.partition_id = 0; m.staged = [staged]
    w.commit([m], batchId=0)
    files2 = sorted(glob.glob(out + "/batch-*.jsonl"))
    assert files2 == files, "replayed batch must not create new files"


def test_python_datasource_writer_bytes_are_format_pinned(
    spark, pyds_delivery
):
    """r16 Arrow writer face: the delivered JSON bytes must be
    byte-identical to the committed pickled-row rendering —
    json.dumps(row.asDict(), default=str) over rows whose timestamps
    are naive UTC wall clock. The reference lines are rendered here
    through exactly that expression from the batch reader's collected
    rows (the pickled-Row path), so this test pins the Arrow face to
    the old byte format line for line. (delivered_lines come from the
    shared fixture's snapshot, taken before any test mutates the out
    dir.)"""
    import json

    replay, _, delivered = pyds_delivery
    rows = (
        spark.read.format("kinesis_replay").option("path", replay).load()
    ).collect()
    expected = sorted(
        json.dumps(r.asDict(), default=str).encode() for r in rows
    )
    assert len(delivered) == len(expected)
    assert delivered == expected


# --- the bridge's Arrow delivery kernel, in both placements ----------

#: sha256 over every delivered and dead-lettered file (relative path +
#: bytes, sorted by path) of the bridge runs below, rendered by the
#: pickled-Row ``foreachPartition`` sink this kernel replaced, with the
#: same input, failure injection and poison records
GOLDEN_DRIVER = "de97cb602d5c265646b883e8ddd9597a8813c14705ac41c0d3645fef618858ad"
GOLDEN_DISTRIBUTED = "9e4ba47bb6954da702f3166992066b08b709e75ff73d53d4bd2116ba71030f38"
POISON = b'"event_type":"poison"'


def _fixed_replay(spark, root):
    """A fixed two-slice replay: unicode and escaped props, null
    values, and a poison record every 97th row. Slice mtimes are
    stamped so the file source reads them in order."""
    import glob

    etypes = ["click", "view", "purchase", "search", "signup"]
    for s in range(2):
        rows = []
        for j in range(600):
            i = s * 600 + j
            etype = "poison" if i % 97 == 13 else etypes[(i * 7) % 5]
            value = None if i % 11 == 0 else round(i * 0.37, 2)
            props = '{"k": %d, "q": "café \\"%s\\"", "pad": "%s"}' % (
                i, "x" * (i % 5), "y" * (i % 61)
            )
            rows.append((i, _ns_to_dt(T0 + i * 37 * NS), i % 17, etype, value, props))
        path = os.path.join(root, f"slice={s}")
        spark.createDataFrame(rows, schema=EVENTS_RAW_SCHEMA).coalesce(1).write.parquet(path)
        for f in glob.glob(os.path.join(path, "*.parquet")):
            os.utime(f, (1_700_000_000 + s, 1_700_000_000 + s))
    return root


def _bridge_run(spark, source, delivery, spy):
    """Run ``source`` through the bridge (every 7th record fails its
    first attempt, poison records fail every attempt) to completion,
    calling ``spy`` on each micro-batch; returns the sha256 of the
    delivery directory."""
    import functools
    import hashlib

    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        LocalDirFirehoseClient,
        firehose_foreach_batch,
    )

    handle = firehose_foreach_batch(
        delivery,
        fail_first_attempt_every=7,
        client_factory=functools.partial(LocalDirFirehoseClient, poison_marker=POISON),
    )

    def sink(batch_df, epoch_id):
        spy(batch_df)
        handle(batch_df, epoch_id)

    q = (
        source.writeStream.foreachBatch(sink)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="kf_chk_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()  # completes: poison records do not wedge it
    digest = hashlib.sha256()
    for rel, data in sorted(_snapshot(delivery).items()):
        digest.update(rel.encode() + b"\0" + data)
    return digest.hexdigest()


def _snapshot(root):
    """Every file under ``root``: relative path → bytes."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


def _assert_poison_only_dead_lettered(delivery, expected):
    n_dead = 0
    for rel, data in _snapshot(delivery).items():
        lines = data.splitlines()
        if rel.startswith("errors" + os.sep):
            assert all(POISON in ln for ln in lines), rel
            n_dead += len(lines)
        else:
            assert not any(POISON in ln for ln in lines), rel
    assert n_dead == expected


@pytest.fixture(scope="module")
def fixed_replay(spark):
    return _fixed_replay(spark, tempfile.mkdtemp(prefix="kf_fixed_replay_"))


def test_bridge_driver_placement_is_byte_identical(spark, fixed_replay):
    """File-source micro-batches are sized by Spark (the slice file's
    bytes, far under 4 MiB), so each is delivered in the driver from
    one Arrow collect — byte for byte what the pickled-Row sink wrote,
    file names included."""
    from clj_kinesis_to_firehose_spark.sources.loader import estimated_bytes
    from clj_kinesis_to_firehose_spark.sources.streams import read_event_stream
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import MAX_BATCH_BYTES

    delivery = tempfile.mkdtemp(prefix="kf_golden_drv_")
    sizes = []
    digest = _bridge_run(
        spark,
        read_event_stream(spark, fixed_replay),
        delivery,
        spy=lambda df: sizes.append(estimated_bytes(df)),
    )
    assert len(sizes) == 2 and all(0 < n <= MAX_BATCH_BYTES for n in sizes), sizes
    _assert_poison_only_dead_lettered(delivery, 13)  # i % 97 == 13, i < 1200
    assert digest == GOLDEN_DRIVER


def test_bridge_distributed_placement_is_byte_identical(spark, fixed_replay):
    """The kinesis_replay Python DataSource reports no size, so its
    micro-batch runs the kernel on the executors (mapInArrow), one task
    per slice — byte for byte what the pickled-Row sink wrote."""
    from clj_kinesis_to_firehose_spark.sources.loader import estimated_bytes
    from clj_kinesis_to_firehose_spark.sources.pyds import register_replay_source

    register_replay_source(spark)
    source = spark.readStream.format("kinesis_replay").option("path", fixed_replay).load()
    delivery = tempfile.mkdtemp(prefix="kf_golden_dist_")
    sizes = []
    digest = _bridge_run(
        spark, source, delivery, spy=lambda df: sizes.append(estimated_bytes(df))
    )
    assert sizes and all(n == -1 for n in sizes), sizes
    _assert_poison_only_dead_lettered(delivery, 13)  # i % 97 == 13, i < 1200
    assert digest == GOLDEN_DISTRIBUTED


def test_bridge_files_do_not_depend_on_arrow_batch_size(spark, fixed_replay):
    """With 64-record Arrow batches, the kernel's open chunks carry
    across many batch boundaries; the bridge still writes the golden
    bytes in both placements."""
    from clj_kinesis_to_firehose_spark.sources.pyds import register_replay_source
    from clj_kinesis_to_firehose_spark.sources.streams import read_event_stream

    register_replay_source(spark)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(conf)
    spark.conf.set(conf, "64")
    try:
        n_batches = []
        driver = _bridge_run(
            spark,
            read_event_stream(spark, fixed_replay),
            tempfile.mkdtemp(prefix="kf_arrow64_drv_"),
            spy=lambda df: n_batches.append(len(df.toArrow().to_batches())),
        )
        unsized = spark.readStream.format("kinesis_replay").option("path", fixed_replay).load()
        distributed = _bridge_run(
            spark, unsized, tempfile.mkdtemp(prefix="kf_arrow64_dist_"), spy=lambda df: None
        )
    finally:
        spark.conf.set(conf, default)
    assert n_batches and all(n > 1 for n in n_batches), n_batches
    assert (driver, distributed) == (GOLDEN_DRIVER, GOLDEN_DISTRIBUTED)


def test_bridge_replayed_epoch_creates_no_new_files(spark, fixed_replay):
    """Calling the handle again with the same epoch id — a micro-batch
    replayed after a failure — overwrites its own files, in either
    placement: same file set, same bytes."""
    import functools

    from clj_kinesis_to_firehose_spark.sources.loader import estimated_bytes
    from clj_kinesis_to_firehose_spark.sources.pyds import register_replay_source
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        LocalDirFirehoseClient,
        firehose_foreach_batch,
    )

    register_replay_source(spark)
    small = spark.read.parquet(os.path.join(fixed_replay, "slice=0"))
    unsized = spark.read.format("kinesis_replay").option("path", fixed_replay).load()
    assert estimated_bytes(small) > 0 and estimated_bytes(unsized) == -1
    for df, n_poison in ((small, 7), (unsized, 13)):
        delivery = tempfile.mkdtemp(prefix="kf_replay_epoch_")
        handle = firehose_foreach_batch(
            delivery,
            fail_first_attempt_every=7,
            client_factory=functools.partial(LocalDirFirehoseClient, poison_marker=POISON),
        )
        snapshots = []
        for _ in range(2):
            handle(df, 5)
            snapshots.append(_snapshot(delivery))
        assert snapshots[0] and snapshots[1] == snapshots[0]
        _assert_poison_only_dead_lettered(delivery, n_poison)


def test_estimated_bytes_unknown_for_unsized_sources(spark, fixed_replay):
    """The estimate helper: the file size for a file-source
    micro-batch, -1 ("unknown", treated as large) for the rate source
    and the kinesis_replay Python DataSource."""
    import glob

    from clj_kinesis_to_firehose_spark.sources.loader import estimated_bytes
    from clj_kinesis_to_firehose_spark.sources.pyds import register_replay_source
    from clj_kinesis_to_firehose_spark.sources.streams import read_event_stream

    register_replay_source(spark)
    files = sorted(glob.glob(os.path.join(fixed_replay, "slice=*", "*.parquet")))
    sources = {
        "file": read_event_stream(spark, fixed_replay),
        "kinesis_replay": spark.readStream.format("kinesis_replay")
        .option("path", fixed_replay).load(),
        "rate": spark.readStream.format("rate").option("rowsPerSecond", 50).load(),
    }
    for name, source in sources.items():
        sizes = []

        def spy(batch_df, epoch_id):
            if not batch_df.isEmpty():
                sizes.append(estimated_bytes(batch_df))

        w = source.writeStream.foreachBatch(spy).option(
            "checkpointLocation", tempfile.mkdtemp(prefix="kf_chk_")
        )
        if name == "rate":  # unbounded: stop after the first batch with rows
            q = w.trigger(processingTime="200 milliseconds").start()
            deadline = time.time() + 60
            while not sizes and time.time() < deadline:
                time.sleep(0.2)
            q.stop()
        else:
            w.trigger(availableNow=True).start().awaitTermination()
        if name == "file":
            assert sizes == [os.path.getsize(f) for f in files]
        else:
            assert sizes and set(sizes) == {-1}, (name, sizes)


def test_bridge_placements_write_the_same_files(spark, fixed_replay, monkeypatch):
    """A micro-batch read in several partitions delivers the same file
    names and bytes in either placement: the kernel keys files by the
    input partition, not by where it runs. So a replay whose placement
    differs from the first attempt's still overwrites its files."""
    import functools

    from clj_kinesis_to_firehose_spark.sources import loader
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        LocalDirFirehoseClient,
        firehose_foreach_batch,
    )

    df = spark.read.parquet(fixed_replay)  # one partition per slice file
    assert df.rdd.getNumPartitions() == 2 and 0 < loader.estimated_bytes(df)
    snapshots = []
    for placement in ("driver", "executors"):
        if placement == "executors":
            monkeypatch.setattr(loader, "estimated_bytes", lambda df: -1)
        delivery = tempfile.mkdtemp(prefix=f"kf_placement_{placement}_")
        handle = firehose_foreach_batch(
            delivery,
            fail_first_attempt_every=7,
            client_factory=functools.partial(LocalDirFirehoseClient, poison_marker=POISON),
        )
        handle(df, 3)
        snapshots.append(_snapshot(delivery))
        _assert_poison_only_dead_lettered(delivery, 13)
    assert snapshots[0] == snapshots[1]
    assert {name.split("-e3-")[1][:2] for name in snapshots[0]} == {"p0", "p1"}


def test_compressible_slice_is_placed_by_its_stored_size(spark):
    """The placement reads Spark's estimate, which for a file source is
    the stored size: a slice of one long repeated string stores in a
    few KiB but decodes past 4 MiB, and is still delivered in the
    driver. Spark's own fileCompressionFactor scales the estimate and
    moves such a slice to the executors; the delivered files are the
    same either way."""
    import functools

    from pyspark.sql import functions as F

    from clj_kinesis_to_firehose_spark.sources.loader import estimated_bytes
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        MAX_BATCH_BYTES,
        LocalDirFirehoseClient,
        deliver_frame,
        delivery_kernel,
    )

    path = os.path.join(tempfile.mkdtemp(prefix="kf_compressible_"), "slice")
    spark.range(300).select(
        F.col("id").alias("event_id"),
        F.lit("click").alias("event_type"),
        F.repeat(F.lit("a"), 16 * 1024).alias("props"),
    ).coalesce(1).write.parquet(path)
    decoded = 300 * 16 * 1024
    assert decoded > MAX_BATCH_BYTES
    stored = estimated_bytes(spark.read.parquet(path))
    assert 0 < stored < decoded // 100  # driver placement
    snapshots = []
    # the second pass sets the factor to this slice's decoded/stored ratio
    for factor in (1.0, decoded / stored):
        spark.conf.set("spark.sql.sources.fileCompressionFactor", str(factor))
        try:
            df = spark.read.parquet(path)
            est = estimated_bytes(df)
            delivery = tempfile.mkdtemp(prefix="kf_compressible_out_")
            kernel = delivery_kernel(functools.partial(LocalDirFirehoseClient, delivery), "c")
            counters = deliver_frame(df, "event_type", kernel)
        finally:
            spark.conf.unset("spark.sql.sources.fileCompressionFactor")
        assert (est > MAX_BATCH_BYTES) == (factor > 1.0), (factor, est)
        assert sum(c["n_records"] for c in counters) == 300
        snapshots.append(_snapshot(delivery))
    assert snapshots[0] == snapshots[1]


def test_run_bounded_checkpoints_in_scratch_and_reraises_failures(spark):
    """``run_bounded`` gives every run a fresh checkpoint under the
    process's scratch root (reclaimed at exit), and a micro-batch that
    raises surfaces as ``StreamingQueryException`` instead of a query
    that silently stops."""
    from pyspark.errors import StreamingQueryException

    from clj_kinesis_to_firehose_spark.sources import loader
    from clj_kinesis_to_firehose_spark.sources.streams import (
        read_event_stream,
        write_replay_slices,
    )
    from clj_kinesis_to_firehose_spark.streaming.pipelines import run_bounded

    def checkpoints():
        root = loader._SCRATCH_ROOT
        if root is None:
            return set()
        return {os.path.join(root, d) for d in os.listdir(root) if d.startswith("kf_chk_")}

    replay = write_replay_slices(spark, SF_DIR, n_slices=4)
    before = checkpoints()
    q = run_bounded(read_event_stream(spark, replay).writeStream.format("noop"))
    assert not q.isActive and q.exception() is None
    new = checkpoints() - before
    assert len(new) == 1
    assert os.listdir(os.path.join(new.pop(), "commits"))  # the run committed

    def sink_down(batch_df, epoch_id):
        raise ValueError("sink down")

    before = checkpoints()
    with pytest.raises(StreamingQueryException, match="sink down"):
        run_bounded(
            read_event_stream(spark, replay).writeStream.foreachBatch(sink_down)
        )
    assert len(checkpoints() - before) == 1


def test_transform_sink_dead_letters_original_payloads(spark, monkeypatch):
    """Firehose data transformation: Ok records deliver their
    transformed payload (``value_cents``, no ``value``); ProcessingFailed
    records land under ``errors/`` with their original payload
    (``value``, no ``value_cents``) on the first attempt, never retried."""
    import glob
    import json

    out_dir = tempfile.mkdtemp(prefix="kf_xform_")
    monkeypatch.setattr(streaming_ops, "scratch_dir", lambda prefix: out_dir)
    streaming_ops.sink_firehose_transform(spark, SF_DIR).collect()

    def records(pattern):
        files = glob.glob(os.path.join(out_dir, pattern))
        return files, [json.loads(line) for f in files for line in open(f, "rb")]

    ok_files, delivered = records("*.jsonl")
    dead_files, dead = records(os.path.join("errors", "*.jsonl"))
    assert delivered and dead
    for r in delivered:
        assert r["event_type"] != "error" and "value" not in r
        assert r.keys() == {"event_id", "user_id", "event_type", "value_cents"}
        assert r["value_cents"] >= 100  # sub-1.0 values are Dropped
    for r in dead:
        assert r["event_type"] == "error" and "value_cents" not in r
        assert {"event_id", "ts", "user_id", "value"} <= r.keys()
    assert all(f.endswith("-a0.jsonl") for f in ok_files)
    assert all(f.endswith("-dead.jsonl") for f in dead_files)


def test_bounded_runs_and_scratch_dirs_are_defined_once():
    """Source lint over the package: only ``pipelines.run_bounded``
    sets a checkpoint location or the availableNow trigger, and only
    ``loader.scratch_dir`` calls ``tempfile.mkdtemp`` — so every bounded
    stream gets a fresh checkpoint that is reclaimed at exit."""
    import ast
    import pathlib

    import clj_kinesis_to_firehose_spark as pkg

    def owner(call):
        func = call.func
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
        keywords = {k.arg for k in call.keywords}
        first = call.args[0].value if call.args and isinstance(call.args[0], ast.Constant) else None
        if name == "trigger" and "availableNow" in keywords:
            return "run_bounded"
        if name in ("option", "options") and (
            first == "checkpointLocation" or "checkpointLocation" in keywords
        ):
            return "run_bounded"
        if name == "mkdtemp":
            return "scratch_dir"
        return None

    root = pathlib.Path(pkg.__file__).parent
    offenders = []

    def visit(node, path, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Call) and owner(child) not in (None, fn):
                offenders.append(f"{path}:{child.lineno} ({fn})")
            inner = child.name if isinstance(child, ast.FunctionDef) else fn
            visit(child, path, inner)

    for path in sorted(root.rglob("*.py")):
        visit(ast.parse(path.read_text()), path.relative_to(root), None)
    assert offenders == []


def test_registered_queries_are_built_where_registered():
    """Source lint over the operator modules: no ``@register``ed query
    is a pass-through whose body (docstring aside) is only
    ``return <module>.<fn>(spark, sf_dir)`` — a query is registered
    where its DataFrame is built, not over a layer in another module."""
    import ast
    import pathlib

    import clj_kinesis_to_firehose_spark as pkg

    def registered(fn):
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
            for d in fn.decorator_list
        )

    def pass_through(fn):
        body = fn.body
        if body and isinstance(body[0], ast.Expr) and isinstance(body[0].value, ast.Constant):
            body = body[1:]  # the docstring
        if len(body) != 1 or not isinstance(body[0], ast.Return):
            return False
        call = body[0].value
        params = [a.arg for a in fn.args.args[:2]]
        return (
            isinstance(call, ast.Call)
            and isinstance(call.func, ast.Attribute)
            and isinstance(call.func.value, ast.Name)
            and not call.keywords
            and [getattr(a, "id", None) for a in call.args] == params
        )

    root = pathlib.Path(pkg.__file__).parent
    offenders = [
        f"{path.relative_to(root)}:{node.lineno} {node.name}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.FunctionDef) and registered(node) and pass_through(node)
    ]
    assert offenders == []
