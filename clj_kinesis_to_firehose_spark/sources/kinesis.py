"""Production Kinesis source configuration (SURVEY.md §7.5).

No Kinesis connector jar and no network exist in this environment, so
this module is the documented config-level swap point, not a tested
path: everything downstream of ``load()`` is connector-agnostic, so
moving from the file replay double to real Kinesis changes ONLY the
reader construction below.

Connector options follow the public spark-sql-kinesis /
Amazon-Kinesis-Connector option surface (public docs); pick the
connector artifact that matches the Spark distribution at deploy time.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: envelope columns a Kinesis source delivers (fixed by the AWS API):
#: data (binary payload), streamName, partitionKey, sequenceNumber,
#: approximateArrivalTimestamp, shardId
KINESIS_FORMAT = "aws-kinesis"


class KinesisConnectorUnavailable(RuntimeError):
    pass


#: JSON event payload carried in the envelope's ``data`` blob (ts =
#: epoch nanos, as the producer serializes it on the wire)
EVENT_PAYLOAD_SCHEMA = (
    "event_id long, ts long, user_id long, event_type string, "
    "value double, props string"
)


def decode_kinesis_envelope(
    envelope: DataFrame, payload_format: str = "json"
) -> DataFrame:
    """Decode the Kinesis record envelope (schema fixed by the public
    AWS API: data, streamName, partitionKey, sequenceNumber,
    approximateArrivalTimestamp, shardId) into the engine's events
    schema + arrival_ts. Shared by the production reader below and the
    unit test, which builds the envelope DataFrame by hand — the only
    part of this module that needs no connector jar.

    ``payload_format``: ``"json"`` (JSON-lines payloads, decoded
    JVM-side via ``from_json``) or ``"avro"`` (Avro binary under the
    fixed writer schema below, common in Kinesis ecosystems [PK];
    decoded by the pure-Python codec in an Arrow-batched pandas UDF —
    in a deployment with the spark-avro package loaded, swap this for
    the JVM-side ``from_avro``, same schema)."""
    if payload_format == "json":
        decoded = envelope.select(
            F.from_json(
                F.col("data").cast("string"), EVENT_PAYLOAD_SCHEMA
            ).alias("e"),
            F.col("approximateArrivalTimestamp").alias("arrival_ts"),
        )
    elif payload_format == "avro":
        from pyspark.sql.functions import pandas_udf

        @pandas_udf(EVENT_PAYLOAD_SCHEMA)
        def _decode(blobs: pd.Series) -> pd.DataFrame:
            # PERMISSIVE like the from_json path: a corrupt payload
            # yields an all-null row for dead-letter routing instead
            # of failing the task — one bad record must not poison the
            # batch (micro-batch replay would re-fail it forever).
            # Envelope-level corruption still fails loud upstream (KPL
            # md5); this is payload-level decode only.
            nulls = (None,) * 6
            rows = []
            for b in blobs:
                try:
                    # TypeError covers a NULL data payload (bytes(None))
                    rows.append(avro_decode_event(bytes(b)))
                except (ValueError, TypeError):
                    rows.append(nulls)
            return pd.DataFrame(
                rows,
                columns=[
                    "event_id", "ts", "user_id", "event_type", "value", "props",
                ],
            )

        decoded = envelope.select(
            _decode(F.col("data")).alias("e"),
            F.col("approximateArrivalTimestamp").alias("arrival_ts"),
        )
    else:
        raise ValueError(f"unsupported payload format {payload_format!r}")
    return (
        decoded.select("e.*", "arrival_ts")
        .withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    )


def read_kinesis_stream(
    spark: SparkSession,
    stream_name: str,
    region: str,
    starting_position: str = "LATEST",
    consumer_type: str = "GetRecords",
) -> DataFrame:
    """Build the production event stream: Kinesis envelope → decoded
    JSON events with the same schema the replay double produces, so
    every downstream pipeline registered in
    ``operators/streaming_ops.py`` runs unchanged.

    Raises KinesisConnectorUnavailable offline (no connector jar in
    this container) — see sources/streams.py for the tested double.
    """
    try:
        reader = (
            spark.readStream.format(KINESIS_FORMAT)
            .option("streamName", stream_name)
            .option("region", region)
            .option("startingPosition", starting_position)
            .option("consumerType", consumer_type)
        )
        envelope = reader.load()
    except Exception as exc:  # connector jar absent offline
        raise KinesisConnectorUnavailable(
            "no Kinesis connector available in this environment; use "
            "sources.streams.read_event_stream (file replay double)"
        ) from exc
    return decode_kinesis_envelope(envelope)


# --------------------------------------------------------------- KPL
# KPL record aggregation (public AWS wire format: the Kinesis Producer
# Library packs many user records into one Kinesis record as
#   magic 0xF3899AC2 | protobuf(AggregatedRecord) | md5(protobuf)
# with AggregatedRecord { repeated string partition_key_table = 1;
# repeated Record records = 3 } and Record { uint64 partition_key_index
# = 1; bytes data = 3 }. Both codec halves are implemented here from
# the published spec with a minimal varint coder — no protobuf
# dependency — so the engine can deaggregate real KPL traffic and the
# tests can synthesize it.

KPL_MAGIC = b"\xf3\x89\x9a\xc2"


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = n = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def kpl_aggregate(records: list[tuple[str, bytes]]) -> bytes:
    """Pack (partition_key, data) user records into one KPL aggregated
    blob. Keys are table-deduplicated in first-seen order, exactly as
    the KPL does."""
    import hashlib

    key_index: dict[str, int] = {}
    body = bytearray()
    recs = bytearray()
    for pk, data in records:
        if pk not in key_index:
            key_index[pk] = len(key_index)
            kb = pk.encode()
            body += b"\x0a" + _varint(len(kb)) + kb  # field 1: key table
        rec = bytearray()
        rec += b"\x08" + _varint(key_index[pk])  # field 1: key index
        rec += b"\x1a" + _varint(len(data)) + data  # field 3: data
        recs += b"\x1a" + _varint(len(rec)) + bytes(rec)  # field 3: record
    payload = bytes(body + recs)
    return KPL_MAGIC + payload + hashlib.md5(payload).digest()


def kpl_deaggregate(blob: bytes) -> list[tuple[str, bytes]]:
    """Unpack a KPL aggregated blob into (partition_key, data) user
    records, verifying magic and md5 trailer — a corrupt or foreign
    record fails loudly instead of decoding garbage."""
    import hashlib

    if blob[:4] != KPL_MAGIC:
        raise ValueError("not a KPL aggregated record (bad magic)")
    payload, digest = blob[4:-16], blob[-16:]
    if hashlib.md5(payload).digest() != digest:
        raise ValueError("KPL aggregated record failed md5 checksum")
    keys: list[str] = []
    pending: list[tuple[int, bytes]] = []
    recs: list[tuple[str, bytes]] = []
    pos = 0
    while pos < len(payload):
        tag = payload[pos]
        pos += 1
        ln, pos = _read_varint(payload, pos)
        field = bytes(payload[pos : pos + ln])
        pos += ln
        if tag == 0x0A:  # partition_key_table entry
            keys.append(field.decode())
        elif tag == 0x12:  # explicit_hash_key_table entry — valid KPL,
            pass  # not needed for deaggregation; skip
        elif tag == 0x1A:  # Record submessage
            rpos = 0
            key_idx = 0
            data = b""
            while rpos < len(field):
                rtag = field[rpos]
                rpos += 1
                wire = rtag & 7
                if rtag == 0x08:
                    key_idx, rpos = _read_varint(field, rpos)
                elif wire == 2:  # length-delimited: data (0x1a),
                    # explicit hash key (0x12), repeated Tag tags (0x22)
                    rlen, rpos = _read_varint(field, rpos)
                    if rtag == 0x1A:
                        data = bytes(field[rpos : rpos + rlen])
                    rpos += rlen
                elif wire == 0:  # unknown varint field — skip
                    _, rpos = _read_varint(field, rpos)
                else:
                    raise ValueError(
                        f"unsupported KPL record wire type {wire} (tag {rtag:#x})"
                    )
            # key table entries may legally arrive after the Record in
            # protobuf field order — resolve indices only after the
            # whole payload is walked
            pending.append((key_idx, data))
        else:
            raise ValueError(f"unexpected KPL field tag {tag:#x}")
    for key_idx, data in pending:
        if key_idx >= len(keys):
            raise ValueError(
                f"KPL record references partition key index {key_idx} "
                f"outside key table of size {len(keys)}"
            )
        recs.append((keys[key_idx], data))
    return recs


# -------------------------------------------------------------- Avro
# Minimal Avro BINARY codec for the event payload, from the public
# Avro 1.x spec [PK]: long = zigzag varint, string/bytes = long length
# + content, double = 8-byte little-endian IEEE 754, record = field
# values in writer-schema order with no framing. Implemented here (no
# avro dependency in this container) so Avro-carrying Kinesis traffic
# decodes offline; production with the spark-avro package loaded uses
# from_avro with the same writer schema.

#: the fixed writer schema (ts = epoch nanos, matching the JSON path)
EVENT_AVRO_WRITER_SCHEMA = {
    "type": "record",
    "name": "Event",
    "fields": [
        {"name": "event_id", "type": "long"},
        {"name": "ts", "type": "long"},
        {"name": "user_id", "type": "long"},
        {"name": "event_type", "type": "string"},
        {"name": "value", "type": "double"},
        {"name": "props", "type": "string"},
    ],
}


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def _avro_long(n: int) -> bytes:
    return _varint(_zigzag(n) & 0xFFFFFFFFFFFFFFFF)


def _avro_read_long(buf: bytes, pos: int) -> tuple[int, int]:
    n, pos = _read_varint(buf, pos)
    return _unzigzag(n), pos


def _avro_str(s: str) -> bytes:
    b = s.encode("utf-8")
    return _avro_long(len(b)) + b


def avro_encode_event(
    event_id: int, ts: int, user_id: int, event_type: str, value: float, props: str
) -> bytes:
    import struct

    return (
        _avro_long(event_id)
        + _avro_long(ts)
        + _avro_long(user_id)
        + _avro_str(event_type)
        + struct.pack("<d", value)
        + _avro_str(props)
    )


def avro_decode_event(blob: bytes) -> tuple[int, int, int, str, float, str]:
    """Decode one Avro-binary event; raises ValueError on trailing or
    truncated bytes (a foreign or corrupt payload fails loudly)."""
    import struct

    try:
        pos = 0
        event_id, pos = _avro_read_long(blob, pos)
        ts, pos = _avro_read_long(blob, pos)
        user_id, pos = _avro_read_long(blob, pos)
        ln, pos = _avro_read_long(blob, pos)
        event_type = blob[pos : pos + ln].decode("utf-8")
        pos += ln
        (value,) = struct.unpack_from("<d", blob, pos)
        pos += 8
        ln, pos = _avro_read_long(blob, pos)
        props = blob[pos : pos + ln].decode("utf-8")
        pos += ln
    except (IndexError, struct.error) as e:
        raise ValueError("truncated Avro event payload") from e
    if pos != len(blob):
        raise ValueError(f"{len(blob) - pos} trailing bytes after Avro event")
    return (event_id, ts, user_id, event_type, value, props)
