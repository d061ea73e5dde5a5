"""Kafka broker stand-in for the kafka_pipeline workload.

A single-node broker that speaks the four RPCs the engine's stdlib data
plane sends — Metadata v1, Produce v3, Fetch v4, ListOffsets v1 — over
localhost TCP, in its own process so its CPU does not share the
benchmark's interpreter. Like a real broker it stores each produced
record batch as received (only the base offset is rewritten; the CRC
does not cover it) and serves whole stored batches from the one that
holds the fetch offset, so records served can exceed records wanted.

It keeps request, connection, byte and busy-time counters, read with a
benchmark-only request (API key ``STATS_API``) that returns them as
JSON. Fetch does not long-poll: an empty fetch answers at once.

Run:  python3 perfbench/broker.py --topic input-words:4
It prints ``PORT <n>`` once listening on 127.0.0.1 and serves until
terminated.
"""

from __future__ import annotations

import argparse
import bisect
import json
import socket
import socketserver
import struct
import sys
import threading
import time

API_PRODUCE, API_FETCH, API_LIST_OFFSETS, API_METADATA = 0, 1, 2, 3
STATS_API = 32000
ERR_UNKNOWN_TOPIC = 3
ERR_CORRUPT = 2
_EARLIEST = -2


class _Partition:
    def __init__(self) -> None:
        self.bases: list[int] = []  # base offset of each stored batch
        self.batches: list[tuple[bytes, int]] = []  # (bytes, record count)
        self.next = 0


class _Cursor:
    def __init__(self, buf: bytes) -> None:
        self.buf, self.pos = buf, 0

    def take(self, n: int) -> bytes:
        b = self.buf[self.pos : self.pos + n]
        if len(b) != n:
            raise ValueError("truncated request")
        self.pos += n
        return b

    def i8(self) -> int:
        return struct.unpack(">b", self.take(1))[0]

    def i16(self) -> int:
        return struct.unpack(">h", self.take(2))[0]

    def i32(self) -> int:
        return struct.unpack(">i", self.take(4))[0]

    def i64(self) -> int:
        return struct.unpack(">q", self.take(8))[0]

    def string(self) -> str | None:
        n = self.i16()
        return None if n < 0 else self.take(n).decode()

    def bytes_(self) -> bytes:
        n = self.i32()
        return b"" if n < 0 else self.take(n)


def _s(s: str) -> bytes:
    b = s.encode()
    return struct.pack(">h", len(b)) + b


def _split_batches(record_set: bytes) -> list[tuple[bytes, int]] | None:
    """Record set -> [(batch bytes, record count)]; None if malformed."""
    out, pos = [], 0
    while pos < len(record_set):
        if pos + 27 > len(record_set):
            return None
        (length,) = struct.unpack_from(">i", record_set, pos + 8)
        end = pos + 12 + length
        if length < 15 or end > len(record_set) or record_set[pos + 16] != 2:
            return None
        (last_delta,) = struct.unpack_from(">i", record_set, pos + 23)
        out.append((record_set[pos:end], last_delta + 1))
        pos = end
    return out or None


class Broker(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True

    def __init__(self, topics: dict[str, int]) -> None:
        super().__init__(("127.0.0.1", 0), _Handler)
        self.topics = {t: [_Partition() for _ in range(n)] for t, n in topics.items()}
        self.lock = threading.Lock()
        self.stats = dict.fromkeys(
            ("connections", "produce_requests", "fetch_requests", "metadata_requests",
             "list_offsets_requests", "bytes_in", "bytes_out", "records_in",
             "records_served"), 0)
        self.stats["busy_s"] = 0.0

    def count(self, **deltas) -> None:
        with self.lock:
            for k, v in deltas.items():
                self.stats[k] += v

    # ---------------------------------------------------------- RPCs

    def metadata(self, body: _Cursor) -> bytes:
        n = body.i32()
        names = [body.string() for _ in range(n)] if n >= 0 else sorted(self.topics)
        host, port = self.server_address
        out = struct.pack(">ii", 1, 0) + _s(host) + struct.pack(">ih", port, -1)
        out += struct.pack(">ii", 0, len(names))  # controller id, topics
        for t in names:
            parts = self.topics.get(t, [])
            out += struct.pack(">h", 0 if t in self.topics else ERR_UNKNOWN_TOPIC)
            out += _s(t) + b"\x00" + struct.pack(">i", len(parts))
            for pid in range(len(parts)):
                out += struct.pack(">hiiiiii", 0, pid, 0, 1, 0, 1, 0)
        return out

    def produce(self, body: _Cursor) -> bytes:
        body.string()  # transactional id
        body.i16()  # acks
        body.i32()  # timeout
        results, n_in = [], 0
        for _ in range(body.i32()):
            topic = body.string()
            for _ in range(body.i32()):
                pid = body.i32()
                batches = _split_batches(body.bytes_())
                parts = self.topics.get(topic)
                if parts is None or not 0 <= pid < len(parts):
                    results.append((topic, pid, ERR_UNKNOWN_TOPIC, -1))
                    continue
                if batches is None:
                    results.append((topic, pid, ERR_CORRUPT, -1))
                    continue
                part = parts[pid]
                with self.lock:
                    first = part.next
                    for raw, n in batches:
                        part.bases.append(part.next)
                        part.batches.append((struct.pack(">q", part.next) + raw[8:], n))
                        part.next += n
                        n_in += n
                results.append((topic, pid, 0, first))
        self.count(records_in=n_in)
        out = struct.pack(">i", len(results))
        for topic, pid, err, base in results:
            out += _s(topic) + struct.pack(">iihqq", 1, pid, err, base, -1)
        return out + struct.pack(">i", 0)  # throttle

    def fetch(self, body: _Cursor) -> bytes:
        body.i32()  # replica id
        body.i32()  # max wait
        body.i32()  # min bytes
        body.i32()  # max bytes
        body.i8()  # isolation level
        out, served = struct.pack(">i", 0), 0  # throttle first
        n_topics = body.i32()
        out += struct.pack(">i", n_topics)
        for _ in range(n_topics):
            topic = body.string()
            n_parts = body.i32()
            out += _s(topic) + struct.pack(">i", n_parts)
            for _ in range(n_parts):
                pid, offset, max_bytes = body.i32(), body.i64(), body.i32()
                parts = self.topics.get(topic)
                if parts is None or not 0 <= pid < len(parts):
                    out += struct.pack(">ihqqii", pid, ERR_UNKNOWN_TOPIC, -1, -1, 0, 0)
                    continue
                part = parts[pid]
                with self.lock:
                    hwm = part.next
                    i = max(bisect.bisect_right(part.bases, offset) - 1, 0)
                    chunks, size = [], 0
                    for raw, n in part.batches[i:]:
                        if chunks and size + len(raw) > max_bytes:
                            break
                        chunks.append(raw)
                        size += len(raw)
                        served += n
                record_set = b"".join(chunks)
                out += struct.pack(">ihqqi", pid, 0, hwm, hwm, 0)
                out += struct.pack(">i", len(record_set)) + record_set
        self.count(records_served=served)
        return out

    def list_offsets(self, body: _Cursor) -> bytes:
        body.i32()  # replica id
        results = []
        for _ in range(body.i32()):
            topic = body.string()
            for _ in range(body.i32()):
                pid, at = body.i32(), body.i64()
                parts = self.topics.get(topic)
                if parts is None or not 0 <= pid < len(parts):
                    results.append((topic, pid, ERR_UNKNOWN_TOPIC, -1))
                    continue
                with self.lock:
                    hwm = parts[pid].next
                results.append((topic, pid, 0, 0 if at == _EARLIEST else hwm))
        out = struct.pack(">i", len(results))
        for topic, pid, err, off in results:
            out += _s(topic) + struct.pack(">iihqq", 1, pid, err, -1, off)
        return out


_COUNTERS = {
    API_PRODUCE: "produce_requests",
    API_FETCH: "fetch_requests",
    API_METADATA: "metadata_requests",
    API_LIST_OFFSETS: "list_offsets_requests",
}


class _Handler(socketserver.BaseRequestHandler):
    def _recv(self, n: int) -> bytes | None:
        buf = bytearray()
        while len(buf) < n:
            b = self.request.recv(n - len(buf))
            if not b:
                return None
            buf += b
        return bytes(buf)

    def handle(self) -> None:
        srv: Broker = self.server  # type: ignore[assignment]
        srv.count(connections=1)
        while True:
            head = self._recv(4)
            if head is None:
                return
            (size,) = struct.unpack(">i", head)
            payload = self._recv(size)
            if payload is None:
                return
            t0 = time.perf_counter()
            api_key, _version, corr = struct.unpack_from(">hhi", payload)
            body = _Cursor(payload[8:])
            body.string()  # client id
            if api_key == STATS_API:
                with srv.lock:
                    resp = json.dumps(srv.stats).encode()
            else:
                handler = {
                    API_METADATA: srv.metadata,
                    API_PRODUCE: srv.produce,
                    API_FETCH: srv.fetch,
                    API_LIST_OFFSETS: srv.list_offsets,
                }.get(api_key)
                if handler is None:
                    return  # unsupported API: drop the connection
                resp = handler(body)
            frame = struct.pack(">i", corr) + resp
            self.request.sendall(struct.pack(">i", len(frame)) + frame)
            if api_key != STATS_API:
                srv.count(**{_COUNTERS[api_key]: 1}, bytes_in=4 + size,
                          bytes_out=4 + len(frame),
                          busy_s=time.perf_counter() - t0)


def read_stats(port: int) -> dict:
    """The broker's counters (a benchmark-only request, not counted)."""
    req = struct.pack(">hhih", STATS_API, 0, 1, -1)
    with socket.create_connection(("127.0.0.1", port), timeout=10) as sock:
        sock.sendall(struct.pack(">i", len(req)) + req)
        buf = b""
        while len(buf) < 4 or len(buf) < 4 + struct.unpack(">i", buf[:4])[0]:
            chunk = sock.recv(65536)
            if not chunk:
                raise ConnectionError("broker closed the stats connection")
            buf += chunk
    return json.loads(buf[8:])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--topic", action="append", default=[], help="NAME:PARTITIONS")
    args = p.parse_args()
    topics = {}
    for spec in args.topic:
        name, _, n = spec.rpartition(":")
        topics[name] = int(n)
    with Broker(topics) as srv:
        print(f"PORT {srv.server_address[1]}", flush=True)
        srv.serve_forever()
    return 0


if __name__ == "__main__":
    sys.exit(main())
