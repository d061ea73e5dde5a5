"""Config loading with the reference's precedence: file -> defaults -> env.

Mirrors the behavior (not the code) of the reference's JSON config
loaders — producer config at ``go/producer/config.go:11-16`` (broker,
topic, interval duration-string, word_list) and consumer config at
``go/consumer/config.go:10-14`` (broker, topic; its group_id has no
counterpart here, because Spark's checkpoint holds the offsets a
consumer group would) — including the precedence where defaults fill blanks after the file is read and
env vars win last (``go/producer/config.go:20-30,103-111``).
"""

from __future__ import annotations

import json
import os
import re
from dataclasses import dataclass, field

# The reference's 16-word generator vocabulary
# (``go/producer/producer.go:19-23``).
DEFAULT_WORD_LIST = [
    "hello", "world", "flink", "kafka", "streaming", "processing",
    "data", "pipeline", "real-time", "distributed", "scalable",
    "fault-tolerant", "checkpoint", "recovery", "state", "window",
]

_DURATION_RE = re.compile(r"(\d+(?:\.\d+)?)(ms|s|m|h|us|µs|ns)")
_DURATION_UNITS = {
    "ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
    "m": 60.0, "h": 3600.0,
}


def parse_duration(text: str) -> float:
    """Parse a Go-style duration string ("2s", "500ms", "1m30s") to seconds.

    Behavioral twin of ``time.ParseDuration`` as used at
    ``go/producer/config.go:75``.
    """
    text = text.strip()
    matches = _DURATION_RE.findall(text)
    if not matches or "".join(n + u for n, u in matches) != text:
        raise ValueError(f"invalid duration: {text!r}")
    return sum(float(n) * _DURATION_UNITS[u] for n, u in matches)


@dataclass
class ProducerConfig:
    """Synthetic-generator/sink config (``go/producer/config.go:11-16``)."""

    broker: str = "localhost:9092"
    topic: str = "input-words"
    interval_seconds: float = 2.0  # default 2s (go/producer/producer.go:60-62)
    word_list: list[str] = field(default_factory=lambda: list(DEFAULT_WORD_LIST))


@dataclass
class ConsumerConfig:
    """Stream-read config (``go/consumer/config.go:10-14``)."""

    broker: str = "localhost:9092"
    topic: str = "word-count-output"  # go/consumer/consumer.go:13


def _load_json(path: str | None) -> dict:
    if not path:
        return {}
    with open(path) as f:
        return json.load(f)


def load_producer_config(path: str | None = None) -> ProducerConfig:
    """file -> defaults -> env (env wins), as ``go/producer/config.go:20-30``."""
    raw = _load_json(path)
    cfg = ProducerConfig()
    if raw.get("broker"):
        cfg.broker = raw["broker"]
    if raw.get("topic"):
        cfg.topic = raw["topic"]
    if raw.get("interval"):
        cfg.interval_seconds = parse_duration(raw["interval"])
    if raw.get("word_list"):
        cfg.word_list = list(raw["word_list"])
    # Env overrides win last (go/producer/config.go:103-111).
    cfg.broker = os.environ.get("KAFKA_BROKER", cfg.broker)
    cfg.topic = os.environ.get("KAFKA_TOPIC", cfg.topic)
    return cfg


def load_consumer_config(path: str | None = None) -> ConsumerConfig:
    """file -> defaults -> env (env wins), as ``go/consumer/config.go:88-99``."""
    raw = _load_json(path)
    cfg = ConsumerConfig()
    if raw.get("broker"):
        cfg.broker = raw["broker"]
    if raw.get("topic"):
        cfg.topic = raw["topic"]
    cfg.broker = os.environ.get("KAFKA_BROKER", cfg.broker)
    cfg.topic = os.environ.get("KAFKA_TOPIC", cfg.topic)
    return cfg
