"""Config precedence parity with the reference: file -> defaults -> env
(env wins last), per go/producer/config.go:20-30,103-111.
"""

from __future__ import annotations

import json

import pytest

from flink_kakfa_spark.config import (
    DEFAULT_WORD_LIST,
    load_consumer_config,
    load_producer_config,
    parse_duration,
)


def test_defaults_match_reference():
    cfg = load_producer_config(None)
    assert cfg.topic == "input-words"            # go/producer/producer.go:16
    assert cfg.interval_seconds == 2.0           # go/producer/producer.go:60-62
    assert cfg.word_list == DEFAULT_WORD_LIST    # go/producer/producer.go:19-23
    ccfg = load_consumer_config(None)
    assert ccfg.topic == "word-count-output"     # go/consumer/consumer.go:13


def test_reference_consumer_config_with_group_id_loads(tmp_path):
    """The reference's consumer config carries a group_id; Spark's
    checkpoint owns the offsets instead, so the key is ignored."""
    p = tmp_path / "consumer.json"
    p.write_text(json.dumps({"broker": "b:9092", "group_id": "g"}))
    ccfg = load_consumer_config(str(p))
    assert ccfg.broker == "b:9092"
    assert not hasattr(ccfg, "group_id")


def test_file_overrides_defaults(tmp_path):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"topic": "custom", "interval": "500ms"}))
    cfg = load_producer_config(str(p))
    assert cfg.topic == "custom"
    assert cfg.interval_seconds == 0.5
    assert cfg.broker == "localhost:9092"  # default kept


def test_env_wins_last(tmp_path, monkeypatch):
    p = tmp_path / "cfg.json"
    p.write_text(json.dumps({"topic": "from-file", "broker": "file:9092"}))
    monkeypatch.setenv("KAFKA_TOPIC", "from-env")
    monkeypatch.setenv("KAFKA_BROKER", "env:9092")
    cfg = load_producer_config(str(p))
    assert cfg.topic == "from-env"
    assert cfg.broker == "env:9092"


def test_duration_parsing():
    assert parse_duration("2s") == 2.0
    assert parse_duration("500ms") == 0.5
    assert parse_duration("1m30s") == 90.0
    assert parse_duration("1h") == 3600.0
    with pytest.raises(ValueError):
        parse_duration("nonsense")
