"""Firehose-batched delivery sink (SURVEY.md §2 A6, §3.4) — the
reference pipeline's core operation re-expressed for Structured
Streaming.

Public AWS Firehose ``PutRecordBatch`` quotas (the invariants the
reference existed to honor, public AWS docs — BASELINE.md):

* ≤ 500 records per call
* ≤ 4 MiB total per call
* ≤ 1000 KiB per record (pre-base64)
* the API returns per-record failures → resubmit only the failed
  subset, with capped backoff
* payloads are newline-terminated so Firehose→S3 output is JSON-lines

The chunk rule (:class:`ChunkAccumulator`) and the put / retry /
dead-letter loop (:class:`StreamDelivery`) are pure Python, each
defined once. :func:`delivery_kernel` streams Arrow batches of record
frames through them and puts each chunk as it closes, while later
batches are still being produced. :func:`deliver_frame` builds those
frames in the JVM and places that kernel by Spark's size estimate of
the input: a micro-batch estimated at most ``MAX_BATCH_BYTES`` (one
PutRecordBatch call) is collected as Arrow and delivered in the
driver, anything larger or of unknown size is delivered by the
executors (``mapInArrow``). Both write the same files. The client is
pluggable — a local directory double here, the real ``boto3`` Firehose
client in production (same interface, config-level swap).
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import time
import uuid
from collections.abc import Callable, Iterable, Iterator

MAX_RECORDS_PER_BATCH = 500
MAX_BATCH_BYTES = 4 * 1024 * 1024
MAX_RECORD_BYTES = 1000 * 1024


class RecordTooLargeError(ValueError):
    pass


def newline_terminate(payload: bytes) -> bytes:
    return payload if payload.endswith(b"\n") else payload + b"\n"


def gzip_payload(payload: bytes) -> bytes:
    """Deterministic client-side gzip of ONE record payload (mtime
    pinned to 0 so re-encoding the same payload yields the same bytes
    — required for idempotent redelivery comparisons). Concatenated
    members form a valid multi-member gzip stream, so a delivery file
    of gzipped records decompresses to the plain JSON-lines file —
    no per-record framing needed [PK: gzip RFC 1952 multi-member]."""
    import gzip
    import io

    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
        gz.write(payload)
    return buf.getvalue()


def gunzip_payload(blob: bytes) -> bytes:
    """Inverse of :func:`gzip_payload`; handles multi-member streams
    (a whole delivery file decompresses in one call)."""
    import gzip

    return gzip.decompress(blob)


class ChunkAccumulator:
    """The PutRecordBatch chunk rule, one record at a time: ≤500 records
    and ≤4 MiB per chunk, each record ≤1000 KiB. :meth:`add` returns the
    chunk that the record would push past a cap, closed, or ``None``;
    :meth:`close` returns the chunk still open, or ``None``.

    ``terminate=False`` skips newline termination for OPAQUE BINARY
    records (e.g. client-side-gzipped payloads, where a trailing byte
    would corrupt the stream); the caps then apply to the bytes as
    submitted — compressed size, matching Firehose's accounting of
    what actually crosses the API.
    """

    def __init__(self, terminate: bool = True) -> None:
        self.terminate = terminate
        self.records: list[bytes] = []
        self.nbytes = 0

    def add(self, rec: bytes) -> list[bytes] | None:
        if self.terminate:
            rec = newline_terminate(rec)
        size = len(rec)
        if size > MAX_RECORD_BYTES:
            raise RecordTooLargeError(f"record of {size} bytes exceeds {MAX_RECORD_BYTES}")
        closed = None
        if len(self.records) >= MAX_RECORDS_PER_BATCH or self.nbytes + size > MAX_BATCH_BYTES:
            closed = self.close()
        self.records.append(rec)
        self.nbytes += size
        return closed

    def close(self) -> list[bytes] | None:
        closed = self.records or None
        self.records, self.nbytes = [], 0
        return closed


def chunk_records(
    records: Iterable[bytes], terminate: bool = True
) -> Iterator[list[bytes]]:
    """Split payloads into PutRecordBatch-legal batches with
    :class:`ChunkAccumulator` (``terminate`` as there).

    Pure generator — property-tested (tests/test_firehose_sink.py):
    every emitted batch satisfies both caps and the concatenation of
    all batches equals the input multiset in order.
    """
    chunks = ChunkAccumulator(terminate)
    for rec in records:
        closed = chunks.add(rec)
        if closed is not None:
            yield closed
    closed = chunks.close()
    if closed is not None:
        yield closed


class FirehoseClient:
    """Interface of the delivery client (mirrors PutRecordBatch).

    ``put_record_batch`` returns the indices of records that FAILED —
    empty list means the whole batch was accepted."""

    def put_record_batch(self, stream_name: str, batch: list[bytes]) -> list[int]:
        raise NotImplementedError


class LocalDirFirehoseClient(FirehoseClient):
    """Test double: a delivery stream backed by a local directory.

    Each accepted batch becomes one file (JSON-lines), named by an
    idempotency key when provided — re-delivery of the same batch id
    overwrites rather than duplicates, which is what makes the
    foreachBatch sink exactly-once under retries.

    ``fail_first_attempt_every``: inject per-record failures — every
    Nth record of a batch fails on its first sighting (succeeds on
    resubmit), emulating Firehose partial failures.
    """

    def __init__(
        self,
        out_dir: str,
        fail_first_attempt_every: int = 0,
        poison_marker: bytes | None = None,
        compression: str | None = None,
    ) -> None:
        if compression not in (None, "gzip"):
            raise ValueError(f"unsupported compression {compression!r}")
        self.out_dir = out_dir
        self.fail_first_attempt_every = fail_first_attempt_every
        #: records containing this byte-substring fail EVERY attempt —
        #: the permanently-undeliverable ("poison") record double
        self.poison_marker = poison_marker
        #: "gzip" = records arrive client-side-gzipped (one member per
        #: record); delivery files get the .jsonl.gz suffix and their
        #: concatenated members ARE a valid gzip file — Spark and S3
        #: readers decompress them transparently
        self.compression = compression
        self._seen: set[bytes] = set()
        os.makedirs(out_dir, exist_ok=True)

    def _injected_failure(self, i: int, rec: bytes) -> bool:
        if self.poison_marker is not None and self.poison_marker in rec:
            return True
        if (
            self.fail_first_attempt_every
            and (i + 1) % self.fail_first_attempt_every == 0
            and rec not in self._seen
        ):
            self._seen.add(rec)
            return True
        return False

    def put_record_batch(
        self, stream_name: str, batch: list[bytes], idempotency_key: str | None = None
    ) -> list[int]:
        failed: list[int] = []
        accepted: list[bytes] = []
        for i, rec in enumerate(batch):
            if self._injected_failure(i, rec):
                failed.append(i)
            else:
                accepted.append(rec)
        if accepted:
            name = idempotency_key or uuid.uuid4().hex
            suffix = ".jsonl.gz" if self.compression == "gzip" else ".jsonl"
            path = os.path.join(self.out_dir, f"{stream_name}-{name}{suffix}")
            # dynamic-partitioning prefixes ("type/yyyy/MM/dd") nest the
            # delivery path — mirror Firehose's S3 prefix layout
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as f:
                f.writelines(accepted)
        return failed


class DeadLetterDir:
    """Dead-letter target modeling Firehose's S3 error-prefix backup
    [PK: undeliverable records land under an ``errors/`` prefix instead
    of failing the stream]: undeliverables are written as JSON-lines
    under ``{out_dir}/errors/``, named by an idempotency key so a
    micro-batch replay overwrites rather than duplicates — the DLQ is
    exactly-once under the same checkpoint contract as the sink."""

    def __init__(self, out_dir: str) -> None:
        self.out_dir = os.path.join(out_dir, "errors")

    def __call__(
        self, stream_name: str, records: list[bytes], idempotency_key: str | None = None
    ) -> None:
        os.makedirs(self.out_dir, exist_ok=True)
        name = idempotency_key or uuid.uuid4().hex
        path = os.path.join(self.out_dir, f"{stream_name}-{name}.jsonl")
        with open(path, "wb") as f:
            f.writelines(records)


#: the delivery counters, of one stream or one kernel output row
COUNTERS = ("n_records", "n_batches", "n_retried", "n_dead")
COUNTERS_SCHEMA = "partition_id int, stream string, " + ", ".join(
    f"{c} long" for c in COUNTERS
)


@dataclasses.dataclass
class StreamDelivery:
    """Delivery to one stream, one record at a time: records go into a
    :class:`ChunkAccumulator` and each chunk is put as soon as it
    closes (:meth:`_put_chunk`); :meth:`close` puts the last one and
    returns the :data:`COUNTERS`. Chunk ``n`` is named
    ``{idempotency_prefix}-{n}-a{attempt}`` (``-dead`` in the dead
    letter), so the same records in the same order rewrite the same
    files."""

    client: FirehoseClient
    stream_name: str
    max_retries: int = 5
    backoff_base_s: float = 0.05
    sleep: Callable[[float], None] = time.sleep
    idempotency_prefix: str | None = None
    dead_letter: Callable[..., None] | None = None
    binary: bool = False

    def __post_init__(self) -> None:
        self.chunks = ChunkAccumulator(terminate=not self.binary)
        self.counters = dict.fromkeys(COUNTERS, 0)

    def add(self, record: bytes) -> None:
        chunk = self.chunks.add(record)
        if chunk is not None:
            self._put_chunk(chunk)

    def close(self) -> dict[str, int]:
        chunk = self.chunks.close()
        if chunk is not None:
            self._put_chunk(chunk)
        return self.counters

    def _put_chunk(self, chunk: list[bytes]) -> None:
        """Put → resubmit the failed subset with capped exponential
        backoff → after ``max_retries`` resubmits, divert what still
        fails to the dead letter, or raise without one."""
        counters = self.counters
        prefix = self.idempotency_prefix
        key = f"{prefix}-{counters['n_batches']}" if prefix else None
        attempt = 0
        pending = chunk
        while pending:
            kwargs = {"idempotency_key": f"{key}-a{attempt}"} if key else {}
            failed = self.client.put_record_batch(self.stream_name, pending, **kwargs)
            counters["n_records"] += len(pending) - len(failed)
            pending = [pending[i] for i in failed]
            if pending and attempt >= self.max_retries:
                if self.dead_letter is None:
                    raise RuntimeError(
                        f"{len(pending)} records undeliverable "
                        f"after {self.max_retries} retries"
                    )
                dl_kwargs = {"idempotency_key": f"{key}-dead"} if key else {}
                self.dead_letter(self.stream_name, pending, **dl_kwargs)
                counters["n_dead"] += len(pending)
                pending = []
            elif pending:
                counters["n_retried"] += len(pending)
                self.sleep(min(self.backoff_base_s * (2**attempt), 2.0))
                attempt += 1
        counters["n_batches"] += 1


def deliver_records(
    records: Iterable[bytes],
    client: FirehoseClient,
    stream_name: str,
    max_retries: int = 5,
    backoff_base_s: float = 0.05,
    sleep: Callable[[float], None] = time.sleep,
    idempotency_prefix: str | None = None,
    dead_letter: Callable[..., None] | None = None,
    binary: bool = False,
) -> dict[str, int]:
    """Chunk → put → resubmit failed subset with capped exponential
    backoff (:class:`StreamDelivery`). Returns delivery counters.
    At-least-once overall; paired with idempotent batch naming it is
    effectively-once.

    On retry exhaustion: with a ``dead_letter`` target, the still-failed
    subset is diverted there and delivery CONTINUES with the next batch
    (counted in ``n_dead``) — a single poison record must not wedge the
    stream (the checkpoint would replay the same micro-batch forever).
    Without one, raises ``RuntimeError``."""
    delivery = StreamDelivery(
        client, stream_name, max_retries, backoff_base_s, sleep,
        idempotency_prefix, dead_letter, binary,
    )
    for rec in records:
        delivery.add(rec)
    return delivery.close()


def delivery_kernel(
    client_factory: Callable[[], FirehoseClient],
    idempotency_tag: str,
    dead_letter: Callable[..., None] | None = None,
    max_retries: int = 5,
    codec: Callable[[bytes], bytes] | None = None,
):
    """THE delivery kernel: a ``mapInArrow`` function over Arrow
    batches of :func:`deliver_frame`'s record frames. It streams: each
    record goes to the open chunk of its (input partition, stream)
    (:class:`StreamDelivery`, idempotency prefix
    ``{idempotency_tag}-p{partition}``, one client per input
    partition), and a chunk is put, with its retries and dead letters,
    as soon as the next record would break a cap — while later Arrow
    batches are still being produced. So it holds only the open chunks
    and the batch at hand. When the batches run out it puts the open
    chunks and yields the counters as :data:`COUNTERS_SCHEMA` rows, one
    per (input partition, stream). Keying by the input partition, not
    the task running the kernel, makes the delivered files the same
    wherever the kernel runs, however the records are cut into Arrow
    batches.

    ``codec`` re-encodes each payload as an opaque binary record (e.g.
    client-side gzip), delivered without newline framing."""

    def kernel(batches):
        import pyarrow as pa

        clients: dict[int, FirehoseClient] = {}
        streams: dict[tuple[int, str], StreamDelivery] = {}
        for batch in batches:
            pids, names, payloads = (
                batch.column(c).to_numpy(zero_copy_only=False)
                for c in ("__pid", "__stream", "__payload")
            )
            for pid, stream, payload in zip(pids.tolist(), names, payloads):
                delivery = streams.get((pid, stream))
                if delivery is None:
                    if pid not in clients:
                        clients[pid] = client_factory()
                    delivery = streams[(pid, stream)] = StreamDelivery(
                        clients[pid],
                        stream,
                        max_retries=max_retries,
                        sleep=lambda s: None,
                        idempotency_prefix=f"{idempotency_tag}-p{pid}",
                        dead_letter=dead_letter,
                        binary=codec is not None,
                    )
                delivery.add(payload if codec is None else codec(payload))
        counters = [
            {"partition_id": pid, "stream": stream, **delivery.close()}
            for (pid, stream), delivery in streams.items()
        ]
        schema = pa.schema(
            [("partition_id", pa.int32()), ("stream", pa.string())]
            + [(c, pa.int64()) for c in COUNTERS]
        )
        yield pa.RecordBatch.from_pylist(counters, schema=schema)

    return kernel


def deliver_frame(df, stream, kernel, payload=None) -> list[dict]:
    """Deliver every record of ``df`` through ``kernel`` and return its
    counter rows. The record frame, built in the JVM, is
    :func:`frame_columns` of ``stream`` and ``payload``: ``__pid`` (the
    input partition the record was read in), ``__stream`` and
    ``__payload`` (by default the JSON rendering of the whole row). It
    builds those columns on each call; a sink that delivers every
    micro-batch builds them once and calls :func:`deliver_columns`.

    Placement by Spark's estimate of ``df`` (``estimated_bytes``). At
    most ``MAX_BATCH_BYTES``, the records are collected as one Arrow
    table and delivered in the driver, so a small micro-batch starts no
    job with a Python stage. Larger or unknown (-1: sources without
    statistics) runs the kernel on the executors with ``mapInArrow``,
    partitioned as ``df``. Both placements write the same files, since
    the kernel keys them by the input partition.

    The 4 MiB limit bounds driver memory; it is not a measured speed
    crossover. It bounds what Spark estimates, which for a file source
    is the bytes on disk × ``spark.sql.sources.fileCompressionFactor``
    (default 1.0). The driver holds the decoded records as one Arrow
    table and, in Python, the Arrow batch at hand and the open chunks
    (at most 4 MiB each, one per input partition and stream). Measured
    as the Arrow table plus the kernel's traced Python peak: 2.9× the
    payload bytes on the compressible slice of
    ``tests/test_streaming.py`` (300 records, one batch, one stream),
    1.9× on a 45.6k-record frame of five batches shaped like
    ``perfbench/``'s slices. So the driver's peak is up to about the
    estimate × the input's decoded/stored ratio × 3. That
    ratio is 1.67 for the event slices of ``perfbench/`` but unbounded
    for repetitive data: a column of one repeated 32 KiB string stores
    2000 rows in 14 KB and decodes to 66 MB. Raise the compression
    factor for such inputs.

    The driver placement is kept beside the executor one because it is
    faster where it applies: with it removed (``mapInArrow`` for every
    frame), ``perfbench/``'s ``bridge_trickle`` read freshness p50
    349 → 386 ms and, in a second set, 335 → 379 ms (medians of six
    alternating pairs each on a 4-core host, worse in all 12 pairs by
    4 to 106 ms), since a small micro-batch then starts a Python task. Each placement has a benchmark workload:
    ``bridge_trickle``'s 1k-record slices stay in the driver,
    ``bridge_bulk``'s 50k-record slices go to the executors."""
    return deliver_columns(df, frame_columns(stream, payload), kernel)


def frame_columns(stream, payload=None) -> tuple:
    """The record frame's three columns, as unresolved expressions bound
    to no DataFrame: ``__pid`` (the input partition the record was
    read in), ``__stream`` (``stream``, a column or column name) and
    ``__payload`` (``payload`` as bytes; by default the JSON rendering
    of the whole row, ``to_json(struct(*))``, so building it needs no
    look at the input's columns). A sink that delivers many inputs
    builds them once, since each column costs py4j round trips."""
    from pyspark.sql import functions as F

    if payload is None:
        payload = F.to_json(F.struct("*"))
    return (
        F.spark_partition_id().alias("__pid"),
        (F.col(stream) if isinstance(stream, str) else stream).alias("__stream"),
        payload.cast("binary").alias("__payload"),
    )


def deliver_columns(df, columns, kernel) -> list[dict]:
    """:func:`deliver_frame` with the frame's :func:`frame_columns`
    already built: one ``select``, then the placement by Spark's
    estimate of ``df``."""
    from clj_kinesis_to_firehose_spark.sources.loader import estimated_bytes

    frame = df.select(*columns)
    if 0 <= estimated_bytes(df) <= MAX_BATCH_BYTES:
        batches = frame.toArrow().to_batches()
        return [r for b in kernel(batches) for r in b.to_pylist()]
    return [r.asDict() for r in frame.mapInArrow(kernel, COUNTERS_SCHEMA).collect()]


def firehose_foreach_batch(
    out_dir: str,
    stream_name_col: str = "event_type",
    fail_first_attempt_every: int = 0,
    client_factory=None,
):
    """Build a ``foreachBatch`` function implementing the full bridge:
    route by ``stream_name_col`` → JSON-lines serialize → chunk under
    the PutRecordBatch caps → deliver with per-record retry.

    Each micro-batch goes through :func:`deliver_frame`: at most 4 MiB
    by Spark's estimate it is delivered in the driver from one Arrow
    collect, larger or of unknown size on the executors; the driver-
    memory bound is stated there. The frame's columns
    (:func:`frame_columns`) are built once, here, so a micro-batch
    costs one ``select`` before its delivery. On ``perfbench/``'s
    1k-record slices (4-core host) that cut the handle's median driver
    time from 77-78 ms to 60-64 ms; most of what is left is the Arrow
    collect's job. Batch files are keyed by (epoch,
    input partition, chunk, attempt) —
    ``{stream}-e{epoch}-p{pid}-{chunk}-a{attempt}.jsonl``, dead letters
    ``errors/{stream}-e{epoch}-p{pid}-{chunk}-dead.jsonl``. A replayed
    micro-batch has the same input partitions and records, so either
    placement rewrites the same files instead of duplicating them:
    exactly-once with the streaming checkpoint WAL (SURVEY.md §3.4).

    Retry-exhausted records divert to ``{out_dir}/errors/``
    (:class:`DeadLetterDir`) and the stream keeps going — Firehose's
    error-prefix behavior, and the only liveness-safe choice: a raise
    here makes the checkpoint replay the same poison micro-batch
    forever. Direct callers of :func:`deliver_records` get
    raise-on-exhaustion with ``dead_letter=None``.
    """
    factory = functools.partial(
        client_factory or LocalDirFirehoseClient,
        out_dir,
        fail_first_attempt_every=fail_first_attempt_every,
    )
    dead_letter = DeadLetterDir(out_dir)

    columns = frame_columns(stream_name_col)

    def handle(batch_df, epoch_id: int) -> None:
        kernel = delivery_kernel(factory, f"e{epoch_id}", dead_letter=dead_letter)
        deliver_columns(batch_df, columns, kernel)

    return handle


class ParquetConvertingFirehoseClient(LocalDirFirehoseClient):
    """Record format conversion (the Firehose JSON→Parquet delivery
    feature): each accepted batch is parsed from JSON-lines and written
    as ONE columnar parquet file under the stream's path — what makes
    delivered data cheap to scan (column pruning + predicate pushdown)
    without a post-delivery conversion job. Executor-local pyarrow;
    column order is fixed (sorted keys) so every delivered file carries
    an identical schema."""

    def put_record_batch(
        self, stream_name: str, batch: list[bytes], idempotency_key: str | None = None
    ) -> list[int]:
        import pyarrow as pa
        import pyarrow.parquet as pq

        failed: list[int] = []
        accepted: list[dict] = []
        for i, rec in enumerate(batch):
            if self._injected_failure(i, rec):
                failed.append(i)
            else:
                # compression="gzip": records arrive client-side-gzipped;
                # decompress before parsing, and the parquet output below
                # uses the gzip codec so delivery stays compressed at rest
                if self.compression == "gzip":
                    rec = gunzip_payload(rec)
                accepted.append(json.loads(rec))
        if accepted:
            # schema = UNION of keys across the batch: Spark's to_json
            # omits null-valued fields, so the first record alone can
            # miss columns later records carry (their values would be
            # silently dropped). A column null in EVERY record of the
            # batch stays omitted — parquet has no untyped-null column;
            # the mergeSchema read nulls it back downstream.
            cols = sorted(set().union(*accepted))
            arrays = {c: [r.get(c) for r in accepted] for c in cols}
            cols = [c for c in cols if any(v is not None for v in arrays[c])]
            table = pa.table({c: arrays[c] for c in cols})
            name = idempotency_key or uuid.uuid4().hex
            path = os.path.join(self.out_dir, f"{stream_name}-{name}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(
                table,
                path,
                compression="gzip" if self.compression == "gzip" else "snappy",
            )
        return failed
