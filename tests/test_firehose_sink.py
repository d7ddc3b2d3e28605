"""Property + behavior tests for the Firehose-batched sink (A6) —
the PutRecordBatch invariants the reference existed to honor."""

from __future__ import annotations

import os
import tempfile

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
    MAX_BATCH_BYTES,
    MAX_RECORDS_PER_BATCH,
    LocalDirFirehoseClient,
    RecordTooLargeError,
    chunk_records,
    deliver_records,
)

records_strategy = st.lists(
    st.binary(min_size=0, max_size=4096), min_size=0, max_size=2000
)


@given(records_strategy)
@settings(max_examples=200, deadline=None)
def test_chunker_invariants(records):
    batches = list(chunk_records(records))
    # every batch under both caps
    for b in batches:
        assert 1 <= len(b) <= MAX_RECORDS_PER_BATCH
        assert sum(len(r) for r in b) <= MAX_BATCH_BYTES
        assert all(r.endswith(b"\n") for r in b)
    # order- and multiset-preserving modulo newline termination
    flat = [r for b in batches for r in b]
    expected = [r if r.endswith(b"\n") else r + b"\n" for r in records]
    assert flat == expected


@given(st.lists(st.integers(min_value=100_000, max_value=900_000), max_size=60))
@settings(max_examples=50, deadline=None)
def test_chunker_byte_cap_drives_batch_splits(sizes):
    # big records built from sizes (hypothesis shouldn't generate MBs of
    # raw bytes itself); the byte cap, not the 500-record cap, splits here
    records = [b"x" * n for n in sizes]
    for b in chunk_records(records):
        assert sum(len(r) for r in b) <= MAX_BATCH_BYTES


def test_chunker_rejects_oversized_record():
    with pytest.raises(RecordTooLargeError):
        list(chunk_records([b"x" * (1000 * 1024 + 1)]))


def test_deliver_retries_failed_subset():
    out = tempfile.mkdtemp(prefix="kf_sink_")
    client = LocalDirFirehoseClient(out, fail_first_attempt_every=3)
    records = [f'{{"i": {i}}}'.encode() for i in range(1000)]
    stats = deliver_records(
        records, client, "teststream", sleep=lambda s: None, idempotency_prefix="t0"
    )
    assert stats["n_records"] == 1000
    assert stats["n_retried"] > 0
    # read back every delivered line; at-least-once + idempotent batch
    # naming ⇒ exactly the input multiset
    delivered = []
    for f in sorted(os.listdir(out)):
        with open(os.path.join(out, f), "rb") as fh:
            delivered.extend(line for line in fh.read().splitlines())
    assert sorted(delivered) == sorted(r.rstrip(b"\n") for r in records)


def test_deliver_raises_after_max_retries():
    class AlwaysFail(LocalDirFirehoseClient):
        def put_record_batch(self, stream_name, batch, idempotency_key=None):
            return list(range(len(batch)))

    client = AlwaysFail(tempfile.mkdtemp(prefix="kf_sink_"))
    with pytest.raises(RuntimeError, match="undeliverable"):
        deliver_records(
            [b"a", b"b"], client, "s", max_retries=2, sleep=lambda s: None
        )


def test_idempotent_redelivery_overwrites():
    out = tempfile.mkdtemp(prefix="kf_sink_")
    client = LocalDirFirehoseClient(out)
    records = [b'{"i": 1}', b'{"i": 2}']
    for _ in range(3):  # same idempotency prefix ⇒ same file, no dup
        deliver_records(
            records, client, "s", sleep=lambda s: None, idempotency_prefix="epoch7-p0"
        )
    files = os.listdir(out)
    assert len(files) == 1
    with open(os.path.join(out, files[0]), "rb") as fh:
        assert len(fh.read().splitlines()) == 2


def test_kpl_codec_roundtrip_property():
    """Property: deaggregate(aggregate(x)) == x for arbitrary record
    lists — arbitrary unicode keys, arbitrary binary payloads,
    repeated keys (table dedup must preserve per-record identity)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from clj_kinesis_to_firehose_spark.sources.kinesis import (
        kpl_aggregate,
        kpl_deaggregate,
    )

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.text(min_size=1, max_size=12),
                st.binary(max_size=128),
            ),
            min_size=1,
            max_size=60,
        )
    )
    def prop(recs):
        assert kpl_deaggregate(kpl_aggregate(recs)) == recs

    prop()


def test_parquet_client_schema_unions_across_batch(tmp_path):
    """to_json omits null fields, so the first record alone can miss
    columns — the converted parquet must carry the union of keys and
    later records' values must survive."""
    import pyarrow.parquet as pq

    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        ParquetConvertingFirehoseClient,
    )

    client = ParquetConvertingFirehoseClient(str(tmp_path))
    batch = [
        b'{"event_id":1,"event_type":"click"}\n',          # value omitted (null)
        b'{"event_id":2,"event_type":"click","value":7.5}\n',
    ]
    assert client.put_record_batch("click", batch, idempotency_key="k1") == []
    [f] = [n for n in os.listdir(tmp_path) if n.endswith(".parquet")]
    table = pq.read_table(os.path.join(tmp_path, f))
    assert set(table.column_names) == {"event_id", "event_type", "value"}
    assert table.column("value").to_pylist() == [None, 7.5]


def test_poison_record_diverts_to_dead_letter_and_delivery_continues():
    """One permanently-failing record must not block the rest of its
    batch: the poison subset diverts to the DLQ after retry exhaustion,
    every other record delivers, and delivered + dead == source."""
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import DeadLetterDir

    out = tempfile.mkdtemp(prefix="kf_dlq_")
    client = LocalDirFirehoseClient(out, poison_marker=b"POISON")
    records = [f'{{"i": {i}}}'.encode() for i in range(100)]
    records[37] = b'{"i": 37, "tag": "POISON"}'
    stats = deliver_records(
        records, client, "s", max_retries=2, sleep=lambda s: None,
        idempotency_prefix="e0-p0", dead_letter=DeadLetterDir(out),
    )
    assert stats["n_dead"] == 1
    assert stats["n_records"] == 99
    delivered = []
    for f in os.listdir(out):
        p = os.path.join(out, f)
        if os.path.isfile(p):
            with open(p, "rb") as fh:
                delivered += fh.read().splitlines()
    assert len(delivered) == 99 and not any(b"POISON" in r for r in delivered)
    err_dir = os.path.join(out, "errors")
    dead = []
    for f in os.listdir(err_dir):
        with open(os.path.join(err_dir, f), "rb") as fh:
            dead += fh.read().splitlines()
    assert dead == [b'{"i": 37, "tag": "POISON"}']


def test_dead_letter_replay_is_idempotent():
    """A micro-batch replay re-dead-letters the same poison records
    under the same idempotency key — the DLQ must not accumulate
    duplicates (same exactly-once contract as the delivery files)."""
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import DeadLetterDir

    out = tempfile.mkdtemp(prefix="kf_dlq_")
    records = [b'{"i": 1}', b'{"i": 2, "tag": "POISON"}']
    for _ in range(3):
        client = LocalDirFirehoseClient(out, poison_marker=b"POISON")
        deliver_records(
            records, client, "s", max_retries=1, sleep=lambda s: None,
            idempotency_prefix="e5-p0", dead_letter=DeadLetterDir(out),
        )
    err_dir = os.path.join(out, "errors")
    assert len(os.listdir(err_dir)) == 1
    with open(os.path.join(err_dir, os.listdir(err_dir)[0]), "rb") as fh:
        assert len(fh.read().splitlines()) == 1


def test_strict_mode_still_raises_on_poison():
    client = LocalDirFirehoseClient(
        tempfile.mkdtemp(prefix="kf_dlq_"), poison_marker=b"POISON"
    )
    with pytest.raises(RuntimeError, match="undeliverable"):
        deliver_records(
            [b'{"tag": "POISON"}'], client, "s", max_retries=1,
            sleep=lambda s: None,
        )


def test_gzip_delivery_roundtrip_and_caps_on_compressed_size():
    """Client-side-gzipped records: the chunker caps apply to the
    compressed bytes (what crosses the API), no newline framing is
    injected into the binary stream, and a delivery file is a valid
    multi-member gzip whose decompression equals the original
    JSON-lines content."""
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        chunk_records,
        deliver_records,
        gunzip_payload,
        gzip_payload,
        newline_terminate,
    )

    out = tempfile.mkdtemp(prefix="kf_gz_")
    client = LocalDirFirehoseClient(out, compression="gzip")
    raw = [newline_terminate(f'{{"i": {i}, "pad": "{"x" * 200}"}}'.encode())
           for i in range(500)]
    recs = [gzip_payload(r) for r in raw]
    for b in chunk_records(recs, terminate=False):
        assert sum(len(r) for r in b) <= MAX_BATCH_BYTES
        assert all(not r.endswith(b"\n") or r == gzip_payload(
            gunzip_payload(r)) for r in b)  # no injected framing bytes
    stats = deliver_records(
        recs, client, "s", sleep=lambda s: None,
        idempotency_prefix="gz-0", binary=True,
    )
    assert stats["n_records"] == 500
    files = [f for f in os.listdir(out) if f.endswith(".jsonl.gz")]
    assert files, "compressed delivery must carry the .jsonl.gz suffix"
    content = b""
    for f in sorted(files):
        with open(os.path.join(out, f), "rb") as fh:
            content += gunzip_payload(fh.read())
    assert sorted(content.splitlines()) == sorted(r.rstrip(b"\n") for r in raw)


def test_gzip_payload_is_deterministic():
    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        gunzip_payload,
        gzip_payload,
    )

    p = b'{"k": 1}\n'
    assert gzip_payload(p) == gzip_payload(p)  # mtime pinned
    assert gunzip_payload(gzip_payload(p)) == p


def test_parquet_client_accepts_gzipped_records(tmp_path):
    """Compression composes with format conversion: gzipped records
    decompress before JSON parsing and the delivered parquet uses the
    gzip codec — compressed on the wire AND at rest."""
    import pyarrow.parquet as pq

    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import (
        ParquetConvertingFirehoseClient,
        gzip_payload,
    )

    client = ParquetConvertingFirehoseClient(str(tmp_path), compression="gzip")
    recs = [gzip_payload(f'{{"i": {i}, "v": {i * 1.5}}}\n'.encode()) for i in range(10)]
    assert client.put_record_batch("s", recs, idempotency_key="k0") == []
    files = [f for f in os.listdir(tmp_path) if f.endswith(".parquet")]
    assert len(files) == 1
    pf = pq.ParquetFile(os.path.join(tmp_path, files[0]))
    assert pf.metadata.row_group(0).column(0).compression == "GZIP"
    got = pf.read().to_pylist()
    assert sorted(r["i"] for r in got) == list(range(10))


@given(st.lists(st.binary(min_size=1, max_size=4096), max_size=300))
@settings(max_examples=100, deadline=None)
def test_binary_chunker_invariants(records):
    """terminate=False (opaque binary records): caps still hold, and
    the concatenation equals the input EXACTLY — no newline injection
    that would corrupt a gzip/avro stream."""
    batches = list(chunk_records(records, terminate=False))
    for b in batches:
        assert 1 <= len(b) <= MAX_RECORDS_PER_BATCH
        assert sum(len(r) for r in b) <= MAX_BATCH_BYTES
    assert [r for b in batches for r in b] == list(records)


def test_kernel_puts_chunks_before_reading_every_batch(tmp_path):
    """The kernel streams: a chunk is put as soon as the next record
    would break its cap, while later Arrow batches are still to come."""
    import functools

    import pyarrow as pa

    from clj_kinesis_to_firehose_spark.streaming.firehose_sink import delivery_kernel

    def frame(start, n):
        return pa.RecordBatch.from_pydict({
            "__pid": pa.array([0] * n, pa.int32()),
            "__stream": ["s"] * n,
            "__payload": pa.array([b'{"i": %d}' % i for i in range(start, start + n)]),
        })

    listed = []

    def batches():
        for start in range(0, 600, 200):  # the 501st record closes chunk 0
            yield frame(start, 200)
        listed.extend(os.listdir(tmp_path))
        yield frame(600, 200)

    kernel = delivery_kernel(functools.partial(LocalDirFirehoseClient, str(tmp_path)), "e0")
    [counters] = [r for b in kernel(batches()) for r in b.to_pylist()]
    assert listed == ["s-e0-p0-0-a0.jsonl"]
    assert counters == {"partition_id": 0, "stream": "s", "n_records": 800,
                        "n_batches": 2, "n_retried": 0, "n_dead": 0}
    assert sorted(os.listdir(tmp_path)) == ["s-e0-p0-0-a0.jsonl", "s-e0-p0-1-a0.jsonl"]
