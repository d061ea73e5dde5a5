from __future__ import annotations

import socketserver
import struct
import threading

import pytest

from flink_kakfa_spark.session import get_spark
from flink_kakfa_spark.streaming.wire import (
    decode_record_batches,
    encode_record_batch,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


# ------------------------------------------------- Kafka broker stand-in
#
# One in-process broker speaking spec frames over real TCP, one request
# per connection (like the client's one-shot RPC): Metadata v1 with
# partitions, CreateTopics v0, DeleteTopics v0, Produce v3, Fetch v4 and
# ListOffsets v1. Requests are parsed with its own cursor, not the
# client's reader, so a decoding bug in the client cannot hide itself.

ERR_NONE, ERR_UNKNOWN_TOPIC, ERR_TOPIC_ALREADY_EXISTS = 0, 3, 36


def _s(s: str) -> bytes:  # Kafka STRING
    b = s.encode()
    return struct.pack(">h", len(b)) + b


class _Cursor:
    def __init__(self, buf: bytes) -> None:
        self.buf, self.pos = buf, 0

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        self.pos += n
        return b

    def i16(self) -> int:
        return struct.unpack(">h", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def string(self) -> str | None:
        n = self.i16()
        return None if n == -1 else self.take(n).decode()

    def bytes_(self) -> bytes:
        n = self.i32()
        return b"" if n <= 0 else self.take(n)


class StubBroker(socketserver.ThreadingTCPServer):
    """Topics map to partitions, each a list of stored record batches.

    Fault hook: with ``short_fetch`` set, Fetch never serves the newest
    stored batch, while ListOffsets and the high watermark still count
    it — a short read, as from a lagging replica.
    """

    allow_reuse_address = True
    daemon_threads = True

    def __init__(self) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.topics: dict[str, dict[int, dict]] = {}
        self.lock = threading.Lock()
        self.short_fetch = False

    @staticmethod
    def _partitions(n_parts: int) -> dict[int, dict]:
        return {p: {"batches": [], "next": 0} for p in range(n_parts)}

    def add_topic(self, name: str, n_parts: int = 1) -> None:
        with self.lock:
            self.topics[name] = self._partitions(n_parts)

    @property
    def addr(self) -> str:
        return f"127.0.0.1:{self.server_address[1]}"


class _Handler(socketserver.BaseRequestHandler):
    def _recv(self, n):
        buf = b""
        while len(buf) < n:
            b = self.request.recv(n - len(buf))
            if not b:
                raise ConnectionError
            buf += b
        return buf

    def handle(self):
        try:
            (size,) = struct.unpack(">i", self._recv(4))
        except ConnectionError:
            return
        payload = self._recv(size)
        api_key, _version, corr = struct.unpack(">hhi", payload[:8])
        (cid_len,) = struct.unpack(">h", payload[8:10])
        body = _Cursor(payload[10 + max(cid_len, 0) :])
        handler = {
            0: self._produce,
            1: self._fetch,
            2: self._list_offsets,
            3: self._metadata,
            19: self._create,
            20: self._delete,
        }[api_key]
        frame = struct.pack(">i", corr) + handler(self.server, body)
        self.request.sendall(struct.pack(">i", len(frame)) + frame)

    def _metadata(self, srv, body):
        n = body.i32()
        names = [body.string() for _ in range(max(n, 0))]
        with srv.lock:
            topics = {t: sorted(ps) for t, ps in srv.topics.items()}
        if n == -1:  # null array: all topics
            names = sorted(topics)
        host, port = srv.server_address
        out = struct.pack(">i", 1)  # one broker: node 1 = this stand-in
        out += struct.pack(">i", 1) + _s(host) + struct.pack(">i", port)
        out += struct.pack(">h", -1)  # null rack
        out += struct.pack(">i", 1)  # controller_id = 1 (ourselves)
        out += struct.pack(">i", len(names))
        for t in names:
            err = ERR_NONE if t in topics else ERR_UNKNOWN_TOPIC
            out += struct.pack(">h", err) + _s(t) + b"\x00"  # not internal
            pids = topics.get(t, [])
            out += struct.pack(">i", len(pids))
            for p in pids:
                out += struct.pack(">hiii", 0, p, 1, 1)  # err, pid, leader, 1 replica
                out += struct.pack(">i", 1)  # replica id
                out += struct.pack(">ii", 1, 1)  # isr: [1]
        return out

    def _create(self, srv, body):
        assert body.i32() == 1
        topic = body.string()
        n_parts = body.i32()
        with srv.lock:
            err = ERR_TOPIC_ALREADY_EXISTS if topic in srv.topics else ERR_NONE
            srv.topics.setdefault(topic, srv._partitions(n_parts))
        return struct.pack(">i", 1) + _s(topic) + struct.pack(">h", err)

    def _delete(self, srv, body):
        assert body.i32() == 1
        topic = body.string()
        with srv.lock:
            err = ERR_UNKNOWN_TOPIC if srv.topics.pop(topic, None) is None else ERR_NONE
        return struct.pack(">i", 1) + _s(topic) + struct.pack(">h", err)

    def _produce(self, srv, body):
        body.string()  # transactional_id
        body.i16()  # acks
        body.i32()  # timeout
        out_parts = []
        for _ in range(body.i32()):
            topic = body.string()
            for _ in range(body.i32()):
                pid = body.i32()
                recs = decode_record_batches(body.bytes_())
                with srv.lock:
                    part = srv.topics.get(topic, {}).get(pid)
                    if part is None:
                        out_parts.append((topic, pid, ERR_UNKNOWN_TOPIC, -1))
                        continue
                    base = part["next"]
                    stored = encode_record_batch(
                        [(r.key, r.value, r.headers) for r in recs],
                        base_offset=base,
                        timestamp_ms=recs[0].timestamp_ms,
                    )
                    part["batches"].append((base + len(recs) - 1, stored))
                    part["next"] = base + len(recs)
                out_parts.append((topic, pid, ERR_NONE, base))
        out = struct.pack(">i", len(out_parts))
        for topic, pid, err, base in out_parts:
            out += _s(topic) + struct.pack(">i", 1)
            out += struct.pack(">ihqq", pid, err, base, -1)
        out += struct.pack(">i", 0)  # throttle
        return out

    def _fetch(self, srv, body):
        body.take(17)  # replica, max_wait, min_bytes, max_bytes, isolation
        out = struct.pack(">i", 0)  # throttle first (v1+)
        n_topics = body.i32()
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic = body.string()
            n_parts = body.i32()
            out += _s(topic) + struct.pack(">i", n_parts)
            for _ in range(n_parts):
                pid = body.i32()
                off = body.i64()
                body.i32()  # partition max bytes
                with srv.lock:
                    part = srv.topics.get(topic, {}).get(pid)
                    if part is None:
                        out += struct.pack(">ihqqi", pid, ERR_UNKNOWN_TOPIC, -1, -1, 0)
                        out += struct.pack(">i", 0)
                        continue
                    batches = part["batches"][:-1] if srv.short_fetch else part["batches"]
                    chunks = [raw for last, raw in batches if last >= off]
                    hwm = part["next"]
                record_set = b"".join(chunks)
                out += struct.pack(">ihqqi", pid, ERR_NONE, hwm, hwm, 0)
                out += struct.pack(">i", len(record_set)) + record_set
        return out

    def _list_offsets(self, srv, body):
        body.i32()  # replica
        out_parts = []
        for _ in range(body.i32()):
            topic = body.string()
            for _ in range(body.i32()):
                pid = body.i32()
                at = body.i64()
                with srv.lock:
                    part = srv.topics.get(topic, {}).get(pid)
                    nxt = -1 if part is None else part["next"]
                err = ERR_UNKNOWN_TOPIC if part is None else ERR_NONE
                off = 0 if at == -2 else nxt  # EARLIEST is always 0 here
                out_parts.append((topic, pid, err, off))
        out = struct.pack(">i", len(out_parts))
        for topic, pid, err, off in out_parts:
            out += _s(topic) + struct.pack(">i", 1)
            out += struct.pack(">ihqq", pid, err, -1, off)
        return out


@pytest.fixture()
def broker():
    srv = StubBroker()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    srv.server_close()
