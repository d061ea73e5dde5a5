"""Topic administration (SURVEY.md §2.1 S7): controller discovery +
CreateTopics/DeleteTopics, mirroring the reference's test-setup flow
(dial any broker, locate the controller, create the topic on it,
tolerate "already exists" — go/integration/integration_test.go:66-91).

Implemented directly over the Kafka wire protocol with the standard
library only (socket + struct): this container has neither kafka-python
nor the Spark Kafka connector jar, and topic admin is a control-plane
RPC, not a data-plane job — there is nothing for Spark to distribute.
The protocol layouts used (Metadata v1, CreateTopics v0,
DeleteTopics v0) are the public Apache Kafka protocol spec
(https://kafka.apache.org/protocol), fixed since Kafka 0.10.

Like the reference, callers gate on a configured broker
(``KAFKA_BROKER``); the unit tests run the client against an
in-process broker stand-in speaking spec frames, so every
encoder/decoder executes without external infrastructure. ``_rpc``
and ``_Reader`` are shared with the data plane (``wire.py``).
"""

from __future__ import annotations

import socket
import struct
from typing import NamedTuple

CLIENT_ID = "flink-kakfa-spark-admin"

API_METADATA = 3
API_CREATE_TOPICS = 19
API_DELETE_TOPICS = 20

ERR_NONE = 0
ERR_TOPIC_ALREADY_EXISTS = 36
ERR_UNKNOWN_TOPIC = 3


class BrokerInfo(NamedTuple):
    node_id: int
    host: str
    port: int


class TopicAdminError(RuntimeError):
    """A broker returned a non-ignorable error code."""


# ---------------------------------------------------------------- encoding

def _enc_str(s: str | None) -> bytes:
    """Kafka STRING / NULLABLE_STRING: int16 length prefix, -1 = null."""
    if s is None:
        return struct.pack(">h", -1)
    b = s.encode("utf-8")
    return struct.pack(">h", len(b)) + b


def _enc_request(
    api_key: int, api_version: int, correlation_id: int, body: bytes
) -> bytes:
    """Length-prefixed frame: request header v1 + body."""
    header = (
        struct.pack(">hhi", api_key, api_version, correlation_id)
        + _enc_str(CLIENT_ID)
    )
    payload = header + body
    return struct.pack(">i", len(payload)) + payload


class _Reader:
    """Cursor over a response payload."""

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def _take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise TopicAdminError("truncated response from broker")
        self.pos += n
        return b

    def i16(self) -> int:
        return struct.unpack(">h", self._take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self._take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self._take(8))[0]

    def bytes_(self) -> bytes:
        """Kafka BYTES / NULLABLE_BYTES: int32 length prefix, -1 = null."""
        n = self.i32()
        return b"" if n <= 0 else self._take(n)

    def boolean(self) -> bool:
        return self._take(1) != b"\x00"

    def string(self) -> str | None:
        n = self.i16()
        if n == -1:
            return None
        return self._take(n).decode("utf-8")


# ------------------------------------------------------------------- I/O

def _recv_exact(sock: socket.socket, n: int) -> bytes:
    chunks = []
    while n:
        b = sock.recv(n)
        if not b:
            raise TopicAdminError("broker closed the connection mid-response")
        chunks.append(b)
        n -= len(b)
    return b"".join(chunks)


def _addr(bootstrap: str) -> tuple[str, int]:
    host, port = bootstrap.rsplit(":", 1)
    return host, int(port)


def _rpc(
    addr: tuple[str, int],
    api_key: int,
    api_version: int,
    body: bytes,
    timeout_s: float = 10.0,
    max_frame: int = 16 * 1024 * 1024,
    correlation_id: int = 7,
) -> _Reader:
    """One request/response round-trip on a fresh connection."""
    with socket.create_connection(addr, timeout=timeout_s) as sock:
        sock.sendall(_enc_request(api_key, api_version, correlation_id, body))
        (size,) = struct.unpack(">i", _recv_exact(sock, 4))
        # bound the frame before allocating: a corrupt/hostile broker can
        # send a negative or multi-GB size (control-plane responses are
        # KB; the data plane passes its own, data-sized bound)
        if not 4 <= size <= max_frame:
            raise TopicAdminError(f"implausible response frame size: {size}")
        rd = _Reader(_recv_exact(sock, size))
    if rd.i32() != correlation_id:
        raise TopicAdminError("correlation id mismatch")
    return rd


# ------------------------------------------------------------ operations

def cluster_metadata(
    bootstrap: str, topics: list[str] | None = None
) -> tuple[list[BrokerInfo], int, dict[str, tuple[int, list[int]]]]:
    """Metadata v1: (brokers, controller_id, {topic: (error, partition ids)}).

    ``topics=None`` asks for all topics (null array), matching
    kafka-go's ``conn.Controller()`` discovery the reference uses.
    """
    if topics is None:
        body = struct.pack(">i", -1)
    else:
        body = struct.pack(">i", len(topics)) + b"".join(
            _enc_str(t) for t in topics
        )
    rd = _rpc(_addr(bootstrap), API_METADATA, 1, body)
    brokers = []
    for _ in range(rd.i32()):
        node_id = rd.i32()
        bhost = rd.string() or ""
        bport = rd.i32()
        rd.string()  # rack (unused)
        brokers.append(BrokerInfo(node_id, bhost, bport))
    controller_id = rd.i32()
    meta = {}
    for _ in range(rd.i32()):
        err = rd.i16()
        name = rd.string() or ""
        rd.boolean()  # is_internal
        pids = []
        for _ in range(rd.i32()):
            rd.i16()  # partition error
            pids.append(rd.i32())
            rd.i32()  # leader
            for _ in range(rd.i32()):
                rd.i32()  # replica
            for _ in range(rd.i32()):
                rd.i32()  # isr
        meta[name] = (err, sorted(pids))
    return brokers, controller_id, meta


def find_controller(bootstrap: str) -> BrokerInfo:
    """The reference's two-hop discovery: any broker knows the controller."""
    brokers, controller_id, _ = cluster_metadata(bootstrap, topics=[])
    for b in brokers:
        if b.node_id == controller_id:
            return b
    raise TopicAdminError(
        f"controller id {controller_id} not present in broker list {brokers}"
    )


def ensure_topic(
    bootstrap: str,
    topic: str,
    num_partitions: int = 1,
    replication_factor: int = 1,
    timeout_ms: int = 10_000,
) -> str:
    """CreateTopics v0 on the controller; returns "created" or "exists".

    Defaults (1 partition, RF 1) are the reference's own test topology
    (go/integration/integration_test.go:78-82); "already exists" is
    tolerated exactly as the reference tolerates it (:84-87).
    """
    ctrl = find_controller(bootstrap)
    body = (
        struct.pack(">i", 1)  # one topic request
        + _enc_str(topic)
        + struct.pack(">ih", num_partitions, replication_factor)
        + struct.pack(">i", 0)  # no manual replica assignment
        + struct.pack(">i", 0)  # no config entries
        + struct.pack(">i", timeout_ms)
    )
    rd = _rpc((ctrl.host, ctrl.port), API_CREATE_TOPICS, 0, body)
    for _ in range(rd.i32()):
        name = rd.string()
        err = rd.i16()
        if name != topic:
            continue
        if err == ERR_NONE:
            return "created"
        if err == ERR_TOPIC_ALREADY_EXISTS:
            return "exists"
        raise TopicAdminError(f"CreateTopics({topic}) failed: error {err}")
    raise TopicAdminError(f"CreateTopics response missing topic {topic!r}")


def delete_topic(bootstrap: str, topic: str, timeout_ms: int = 10_000) -> str:
    """DeleteTopics v0 on the controller; returns "deleted" or "absent"."""
    ctrl = find_controller(bootstrap)
    body = struct.pack(">i", 1) + _enc_str(topic) + struct.pack(">i", timeout_ms)
    rd = _rpc((ctrl.host, ctrl.port), API_DELETE_TOPICS, 0, body)
    for _ in range(rd.i32()):
        name = rd.string()
        err = rd.i16()
        if name != topic:
            continue
        if err == ERR_NONE:
            return "deleted"
        if err == ERR_UNKNOWN_TOPIC:
            return "absent"
        raise TopicAdminError(f"DeleteTopics({topic}) failed: error {err}")
    raise TopicAdminError(f"DeleteTopics response missing topic {topic!r}")


def topic_exists(bootstrap: str, topic: str) -> bool:
    """Metadata probe for one topic (error 3 = unknown topic/partition)."""
    _, _, meta = cluster_metadata(bootstrap, topics=[topic])
    return meta.get(topic, (ERR_UNKNOWN_TOPIC,))[0] == ERR_NONE
