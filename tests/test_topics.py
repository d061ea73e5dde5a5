"""S7 topic-admin tests against the in-process broker stand-in
(``broker`` fixture, tests/conftest.py).

The stand-in speaks Metadata v1, CreateTopics v0 and DeleteTopics v0
(plus the data-plane RPCs), enough for the client's full reference
flow — dial broker → find controller → create topic → tolerate
"already exists" (go/integration/integration_test.go:66-91) — to
execute end-to-end over a real TCP socket, no external broker needed.
"""

from __future__ import annotations

import threading

import pytest

from flink_kakfa_spark.streaming.topics import (
    TopicAdminError,
    delete_topic,
    ensure_topic,
    find_controller,
    topic_exists,
)


def test_controller_discovery(broker):
    ctrl = find_controller(broker.addr)
    assert ctrl.node_id == 1
    assert (ctrl.host, ctrl.port) == broker.server_address


def test_reference_topic_setup_flow(broker):
    """The exact ensureTestTopicExists sequence: create, then tolerate
    re-create (go/integration/integration_test.go:66-91)."""
    assert not topic_exists(broker.addr, "test-topic")
    assert ensure_topic(broker.addr, "test-topic") == "created"
    assert topic_exists(broker.addr, "test-topic")
    assert ensure_topic(broker.addr, "test-topic") == "exists"  # tolerated


def test_created_partitions_are_visible_to_the_data_plane(broker):
    """CreateTopics' partition count comes back through the one
    Metadata parser the data plane also reads."""
    from flink_kakfa_spark.streaming.dataplane import partition_ids

    assert ensure_topic(broker.addr, "wide", num_partitions=3) == "created"
    assert partition_ids(broker.addr, "wide") == [0, 1, 2]
    with pytest.raises(TopicAdminError, match="error 3"):
        partition_ids(broker.addr, "never-created")


def test_delete_roundtrip(broker):
    ensure_topic(broker.addr, "doomed")
    assert delete_topic(broker.addr, "doomed") == "deleted"
    assert delete_topic(broker.addr, "doomed") == "absent"
    assert not topic_exists(broker.addr, "doomed")


def test_unreachable_broker_raises():
    with pytest.raises(OSError):
        find_controller("127.0.0.1:1")  # nothing listens on port 1


def test_unknown_topic_probe_is_false_not_error(broker):
    # Metadata error 3 (unknown topic) maps to False, not an exception
    assert topic_exists(broker.addr, "never-created") is False


def test_truncated_response_raises():
    """A broker that closes mid-frame must surface TopicAdminError,
    not hang or return garbage."""
    import socket
    import struct as st

    lis = socket.socket()
    lis.bind(("127.0.0.1", 0))
    lis.listen(1)

    def _half_reply():
        conn, _ = lis.accept()
        conn.recv(4096)
        # claim an 8-byte frame but send only the 4-byte correlation id
        conn.sendall(st.pack(">i", 8) + st.pack(">i", 7))
        conn.close()

    t = threading.Thread(target=_half_reply, daemon=True)
    t.start()
    addr = f"127.0.0.1:{lis.getsockname()[1]}"
    with pytest.raises(TopicAdminError):
        find_controller(addr)
    lis.close()


def test_cli_topics_roundtrip(broker, capsys):
    """The `topics` subcommand drives the same flow the reference's
    test setup runs, end-to-end through argument parsing."""
    from flink_kakfa_spark.cli import main

    assert main(["topics", "exists", "cli-topic", "--broker", broker.addr]) == 0
    assert main(["topics", "ensure", "cli-topic", "--broker", broker.addr]) == 0
    assert main(["topics", "exists", "cli-topic", "--broker", broker.addr]) == 0
    assert main(["topics", "delete", "cli-topic", "--broker", broker.addr]) == 0
    out = capsys.readouterr().out.splitlines()
    assert out == ["false", "created", "true", "deleted"]
