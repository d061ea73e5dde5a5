"""Kafka data-plane wire protocol: RecordBatch v2 codec + Produce /
Fetch / ListOffsets client RPCs, standard library only.

Extends the control-plane client (``topics.py``) to the data plane the
reference actually exercises — produce (``go/producer/producer.go:
105-115``) and consume (``go/consumer/consumer.go:41-76``) — without
kafka-python or the Spark connector jar, neither of which exists in
this container. Every layout below is the public Apache Kafka protocol
spec (https://kafka.apache.org/protocol):

- **RecordBatch, magic 2** (Kafka ≥0.11, the only format modern
  brokers speak): varint/zigzag field widths, CRC-32C (Castagnoli)
  over the post-crc bytes.
- **Produce v3** (first version carrying RecordBatch; header v1).
- **Fetch v4** (RecordBatch + isolation level; throttle-first layout),
  drained over an offset range by ``fetch_range``.
- **ListOffsets v1** (earliest/latest bounds for incremental reads).

RPCs go through ``topics._rpc`` with a data-sized frame bound. The
unit tests run all of this against an in-process broker stand-in
speaking the same spec frames over real TCP (mirroring the reference's
env-gated integration idiom, ``go/producer/producer_test.go:21-23``);
with ``KAFKA_BROKER`` set, the identical bytes go to a real broker.
"""

from __future__ import annotations

import gzip
import struct
import time
from typing import NamedTuple

from flink_kakfa_spark.streaming.topics import (
    TopicAdminError,
    _addr,
    _enc_str,
    _rpc,
)

API_PRODUCE = 0
API_FETCH = 1
API_LIST_OFFSETS = 2

EARLIEST = -2
LATEST = -1

# Fetch frames carry data; allow more than the control-plane cap but
# still bound allocation against corrupt/hostile length prefixes.
# Produce waits up to its 30 s broker-side timeout (acks=-1).
_MAX_DATA_FRAME = 128 * 1024 * 1024
_DATA_RPC = {"timeout_s": 30.0, "max_frame": _MAX_DATA_FRAME}


# ------------------------------------------------------------- CRC-32C

def _crc32c_table() -> list[int]:
    poly = 0x82F63B78  # Castagnoli, reflected
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ poly if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C = _crc32c_table()


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) — RecordBatch checksums use this, NOT the
    IEEE crc32 in zlib."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# ----------------------------------------------------- varint encoding

def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def enc_varint(n: int) -> bytes:
    """Zigzag varint (Kafka record fields are SIGNED varints)."""
    u = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def dec_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    u = 0
    while True:
        b = buf[pos]
        pos += 1
        u |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(u), pos
        shift += 7
        if shift > 70:
            raise TopicAdminError("malformed varint in record batch")


# ------------------------------------------------- RecordBatch (magic 2)

class Record(NamedTuple):
    offset: int
    timestamp_ms: int
    key: bytes | None
    value: bytes | None
    headers: tuple = ()


_COMPRESSION_GZIP = 1  # attributes bits 0-2 (spec: 0=none, 1=gzip)
_CONTROL_BATCH = 0x20  # attributes bit 5: transaction markers, no data


def encode_record_batch(
    records: list[tuple],
    base_offset: int = 0,
    timestamp_ms: int | None = None,
    compress: bool = False,
) -> bytes:
    """One RecordBatch (magic 2, idempotence off; optional gzip).

    ``records``: (key, value) or (key, value, headers) tuples, headers
    a list of (str, bytes) pairs. Layout per the spec: baseOffset
    int64, batchLength int32, partitionLeaderEpoch int32, magic int8,
    crc uint32 (CRC-32C of everything AFTER the crc field), attributes
    int16 (bits 0-2 = compression codec), lastOffsetDelta int32,
    base/maxTimestamp int64, producerId int64 (-1), producerEpoch
    int16 (-1), baseSequence int32 (-1), record count int32, then
    varint-framed records — gzip-compressed as a unit when the gzip
    codec bit is set (record COUNT stays outside the compressed blob).
    """
    if not records:
        raise ValueError("empty record batch")
    ts = int(time.time() * 1000) if timestamp_ms is None else timestamp_ms
    body = bytearray()
    for i, rec_tuple in enumerate(records):
        key, value = rec_tuple[0], rec_tuple[1]
        headers = rec_tuple[2] if len(rec_tuple) > 2 else ()
        rec = bytearray()
        rec += b"\x00"  # record attributes
        rec += enc_varint(0)  # timestampDelta
        rec += enc_varint(i)  # offsetDelta
        for field in (key, value):
            if field is None:
                rec += enc_varint(-1)
            else:
                rec += enc_varint(len(field)) + field
        rec += enc_varint(len(headers))
        for hk, hv in headers:
            hk_b = hk.encode("utf-8")
            rec += enc_varint(len(hk_b)) + hk_b
            if hv is None:
                rec += enc_varint(-1)
            else:
                rec += enc_varint(len(hv)) + hv
        body += enc_varint(len(rec)) + rec
    n = len(records)
    attrs = 0
    records_blob = bytes(body)
    if compress:
        attrs |= _COMPRESSION_GZIP
        records_blob = gzip.compress(records_blob)
    post_crc = (
        struct.pack(">hiqq", attrs, n - 1, ts, ts)
        + struct.pack(">qhi", -1, -1, -1)  # producerId/Epoch, baseSequence
        + struct.pack(">i", n)
        + records_blob
    )
    crc = crc32c(post_crc)
    after_length = struct.pack(">ibI", 0, 2, crc) + post_crc  # epoch, magic, crc
    return struct.pack(">qi", base_offset, len(after_length)) + after_length


def decode_record_set(buf: bytes) -> tuple[list[Record], int]:
    """All data records from a (possibly multi-batch) record set, plus
    the offset just past its last whole batch (-1 when none is whole);
    verifies each batch's CRC-32C. Tolerates a trailing partial batch
    (brokers may truncate the last batch at max_bytes).

    A control batch (attributes bit 5: a transaction's commit or abort
    marker) holds no data records, so none of its records are returned,
    but it still moves the next offset past the offsets it occupies.
    """
    out: list[Record] = []
    next_offset = -1
    pos = 0
    while pos + 12 <= len(buf):
        base_offset, batch_len = struct.unpack_from(">qi", buf, pos)
        start = pos + 12
        end = start + batch_len
        if batch_len <= 0 or end > len(buf):
            break  # partial trailing batch
        _epoch, magic, crc = struct.unpack_from(">ibI", buf, start)
        if magic != 2:
            raise TopicAdminError(f"unsupported record batch magic {magic}")
        post = buf[start + 9 : end]
        if crc32c(post) != crc:
            raise TopicAdminError("record batch CRC-32C mismatch")
        attrs, last_delta, base_ts, _max_ts = struct.unpack_from(">hiqq", post, 0)
        pos = end
        next_offset = max(next_offset, base_offset + last_delta + 1)
        if attrs & _CONTROL_BATCH:
            continue
        # post-crc fixed fields: attrs(2) lastOffsetDelta(4) baseTs(8)
        # maxTs(8) producerId(8) producerEpoch(2) baseSequence(4) = 36
        (count,) = struct.unpack_from(">i", post, 36)
        codec = attrs & 0x07
        if codec == _COMPRESSION_GZIP:
            recs_buf = gzip.decompress(post[40:])
        elif codec == 0:
            recs_buf = post[40:]
        else:
            raise TopicAdminError(f"unsupported compression codec {codec}")
        rpos = 0
        for _ in range(count):
            rec_len, rpos = dec_varint(recs_buf, rpos)
            rend = rpos + rec_len
            rpos += 1  # record attributes
            ts_delta, rpos = dec_varint(recs_buf, rpos)
            off_delta, rpos = dec_varint(recs_buf, rpos)
            klen, rpos = dec_varint(recs_buf, rpos)
            key = None if klen < 0 else recs_buf[rpos : rpos + klen]
            rpos += max(klen, 0)
            vlen, rpos = dec_varint(recs_buf, rpos)
            value = None if vlen < 0 else recs_buf[rpos : rpos + vlen]
            rpos += max(vlen, 0)
            n_headers, rpos = dec_varint(recs_buf, rpos)
            headers = []
            for _ in range(max(n_headers, 0)):
                hk_len, rpos = dec_varint(recs_buf, rpos)
                hk = recs_buf[rpos : rpos + hk_len].decode("utf-8")
                rpos += hk_len
                hv_len, rpos = dec_varint(recs_buf, rpos)
                hv = None if hv_len < 0 else recs_buf[rpos : rpos + hv_len]
                rpos += max(hv_len, 0)
                headers.append((hk, hv))
            out.append(
                Record(
                    base_offset + off_delta,
                    base_ts + ts_delta,
                    key,
                    value,
                    tuple(headers),
                )
            )
            rpos = rend
    return out, next_offset


def decode_record_batches(buf: bytes) -> list[Record]:
    """The data records of ``decode_record_set``."""
    return decode_record_set(buf)[0]


# ------------------------------------------------------------ Produce v3

def produce(
    bootstrap: str,
    topic: str,
    records: list[tuple[bytes | None, bytes | None]],
    partition: int = 0,
    acks: int = -1,
    timeout_ms: int = 30_000,
) -> int:
    """Produce v3: append one RecordBatch; returns the base offset.

    ``acks=-1`` (all in-sync replicas) matches kafka-go's
    ``RequireAll`` default the reference producer relies on for its
    at-least-once claim.
    """
    batch = encode_record_batch(records)
    body = (
        _enc_str(None)  # transactional_id
        + struct.pack(">hi", acks, timeout_ms)
        + struct.pack(">i", 1)  # one topic
        + _enc_str(topic)
        + struct.pack(">i", 1)  # one partition
        + struct.pack(">i", partition)
        + struct.pack(">i", len(batch))
        + batch
    )
    rd = _rpc(_addr(bootstrap), API_PRODUCE, 3, body, **_DATA_RPC)
    base_offset = -1
    for _ in range(rd.i32()):
        name = rd.string()
        for _ in range(rd.i32()):
            pid = rd.i32()
            err = rd.i16()
            off = rd.i64()
            rd.i64()  # log_append_time
            if name == topic and pid == partition:
                if err != 0:
                    raise TopicAdminError(f"Produce({topic}/{pid}) error {err}")
                base_offset = off
    rd.i32()  # throttle_time_ms
    if base_offset < 0:
        raise TopicAdminError(f"Produce response missing {topic}/{partition}")
    return base_offset


# -------------------------------------------------------------- Fetch v4

def fetch(
    bootstrap: str,
    topic: str,
    partition: int = 0,
    offset: int = 0,
    max_bytes: int = 8 * 1024 * 1024,
    max_wait_ms: int = 500,
) -> tuple[list[Record], int, int]:
    """Fetch v4 from ``offset``: returns (records, next_offset,
    high_watermark), where ``next_offset`` is the offset just past the
    last whole batch served (``decode_record_set``; -1 when there is
    none)."""
    body = (
        struct.pack(">iiii", -1, max_wait_ms, 1, max_bytes)  # replica/wait/min/max
        + struct.pack(">b", 0)  # isolation_level: read_uncommitted
        + struct.pack(">i", 1)
        + _enc_str(topic)
        + struct.pack(">i", 1)
        + struct.pack(">iqi", partition, offset, max_bytes)
    )
    rd = _rpc(_addr(bootstrap), API_FETCH, 4, body, **_DATA_RPC)
    rd.i32()  # throttle_time_ms (first in Fetch v1+)
    records: list[Record] = []
    next_offset = -1
    hwm = 0
    for _ in range(rd.i32()):
        name = rd.string()
        for _ in range(rd.i32()):
            pid = rd.i32()
            err = rd.i16()
            p_hwm = rd.i64()
            rd.i64()  # last_stable_offset
            n_aborted = rd.i32()
            for _ in range(max(n_aborted, 0)):
                rd.i64()  # producer_id
                rd.i64()  # first_offset
            record_set = rd.bytes_()
            if name == topic and pid == partition:
                if err != 0:
                    raise TopicAdminError(f"Fetch({topic}/{pid}) error {err}")
                hwm = p_hwm
                records, next_offset = decode_record_set(record_set)
    return records, next_offset, hwm


def fetch_range(
    bootstrap: str, topic: str, partition: int, lo: int, hi: int
) -> list[Record]:
    """Every record with offset in [lo, hi), in offset order.

    ``hi`` comes from an earlier ListOffsets, so a fetch with no whole
    batch past the current offset is a short read: raise rather than
    let the caller commit ``hi`` over records it never saw. The cursor
    moves batch by batch, so a control batch (which yields no records)
    still advances it, and offsets compacted away inside a batch are
    skipped; a batch reaching past ``hi`` ends the range.
    """
    out: list[Record] = []
    offset = lo
    while offset < hi:
        records, next_offset, _ = fetch(bootstrap, topic, partition, offset)
        if next_offset <= offset:
            raise TopicAdminError(
                f"Fetch({topic}/{partition}) returned nothing at offset "
                f"{offset}, below end offset {hi}"
            )
        out.extend(r for r in records if offset <= r.offset < hi)
        offset = next_offset
    return out


# -------------------------------------------------------- ListOffsets v1

def list_offset(
    bootstrap: str, topic: str, partition: int = 0, at: int = LATEST
) -> int:
    """ListOffsets v1: log start (EARLIEST) / high watermark (LATEST)."""
    body = (
        struct.pack(">i", -1)  # replica_id
        + struct.pack(">i", 1)
        + _enc_str(topic)
        + struct.pack(">i", 1)
        + struct.pack(">iq", partition, at)
    )
    rd = _rpc(_addr(bootstrap), API_LIST_OFFSETS, 1, body, **_DATA_RPC)
    for _ in range(rd.i32()):
        name = rd.string()
        for _ in range(rd.i32()):
            pid = rd.i32()
            err = rd.i16()
            rd.i64()  # timestamp
            off = rd.i64()
            if name == topic and pid == partition:
                if err != 0:
                    raise TopicAdminError(f"ListOffsets({topic}/{pid}) error {err}")
                return off
    raise TopicAdminError(f"ListOffsets response missing {topic}/{partition}")
