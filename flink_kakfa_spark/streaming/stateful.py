"""Arbitrary stateful streaming operator (SURVEY.md §2.8 T7).

The reference's generator word list names "state" and "checkpoint"
(``go/producer/producer.go:22``) — the features its missing job would
have exercised. This module is the custom-state path Structured
Streaming offers beyond built-in windowed aggs:
``applyInPandasWithState`` with an explicit per-key state schema.

Scale notes: state lives in the executor state store keyed by group,
checkpointed per batch; each micro-batch shuffles only that batch's
rows on the group key. The pandas function receives Arrow batches per
key — no per-row Python overhead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_kakfa_spark.streaming.wordcount import split_words


def running_word_totals(messages: DataFrame) -> DataFrame:
    """Cumulative all-time count per word, emitted on every change.

    This is the 'word count with durable state' the reference pipeline
    implies: totals survive across micro-batches (and restarts, via the
    checkpoint) rather than resetting per window.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    words = split_words(messages, keep=())

    # closure (not module-level) so cloudpickle ships it by value and
    # workers never need this package importable — see multimodal.py
    def update_totals(key, pdfs, state):
        import pandas as pd

        batch_count = sum(len(pdf) for pdf in pdfs)
        total = (state.get[0] if state.exists else 0) + batch_count
        state.update((total,))
        yield pd.DataFrame({"word": [key[0]], "total": [total]})

    return words.groupBy("word").applyInPandasWithState(
        update_totals,
        outputStructType="word string, total long",
        stateStructType="total long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def expiring_word_sessions(
    messages: DataFrame, gap: str = "60 seconds", watermark: str = "10 seconds"
) -> DataFrame:
    """Per-word session counts with state EXPIRY: a word's state lives
    only while events keep arriving within ``gap`` of each other; once
    the event-time watermark passes last_seen + gap, the state times
    out, the finished session is emitted, and the state is REMOVED.

    This is the eviction half of 'arbitrary stateful' that
    ``running_word_totals`` (NoTimeout, grow-forever) deliberately
    lacks: at 100 TB/day a keyed state store without TTL grows without
    bound, so production stateful operators must prove their state
    dies. Expiry is driven by ``GroupStateTimeout.EventTimeTimeout`` +
    ``setTimeoutTimestamp``, so it is deterministic under replay
    (watermark-driven, not wall-clock) and survives checkpoint
    recovery. A word reappearing after expiry starts a fresh session
    from zero — proving the old state is gone, not merely hidden.

    Emits only CLOSED sessions: (word, n, first_ts, last_ts).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    words = split_words(messages).withWatermark("ts", watermark)
    gap_ms = int(
        {"second": 1000, "seconds": 1000, "minute": 60000, "minutes": 60000}[
            gap.split()[1]
        ]
        * float(gap.split()[0])
    )

    # closure (not module-level) so cloudpickle ships it by value and
    # workers never need this package importable — see multimodal.py
    def update_session(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            n, first_ms, last_ms = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "word": [key[0]],
                    "n": [n],
                    "first_ts": [pd.Timestamp(first_ms, unit="ms")],
                    "last_ts": [pd.Timestamp(last_ms, unit="ms")],
                }
            )
            return
        # a key with fresh input never takes the timeout path (input
        # preempts it), so gap-splits must also be detected here: walk
        # the batch's events in time order and close the open session
        # whenever the next event starts more than `gap` after it ended
        closed = []
        n, first_ms, last_ms = state.get if state.exists else (0, None, None)
        ts_ms = sorted(
            int(t.timestamp() * 1000)
            for pdf in pdfs
            if len(pdf)
            for t in pdf["ts"]
        )
        for t in ts_ms:
            if last_ms is not None and t > last_ms + gap_ms:
                closed.append((n, first_ms, last_ms))
                n, first_ms = 0, None
            n += 1
            first_ms = t if first_ms is None else min(first_ms, t)
            last_ms = t if last_ms is None else max(last_ms, t)
        state.update((n, first_ms, last_ms))
        # idle expiry: state dies when the watermark passes last + gap
        state.setTimeoutTimestamp(last_ms + gap_ms)
        yield pd.DataFrame(
            {
                "word": [key[0]] * len(closed),
                "n": [c[0] for c in closed],
                "first_ts": [pd.Timestamp(c[1], unit="ms") for c in closed],
                "last_ts": [pd.Timestamp(c[2], unit="ms") for c in closed],
            }
        )

    return words.groupBy("word").applyInPandasWithState(
        update_session,
        outputStructType="word string, n long, first_ts timestamp, last_ts timestamp",
        stateStructType="n long, first_ms long, last_ms long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def error_purchase_matches(events: DataFrame, gap_ms: int = 300_000) -> DataFrame:
    """Streaming CEP twin of ``cep_error_then_purchase``: emit an
    (error, purchase) pair when a user's purchase immediately follows
    their error (among the two tracked types) within ``gap_ms``.

    Keyed state holds only the user's LAST tracked event (type,
    timestamp, id) — O(1) per user, no buffering — so a match is
    detected across micro-batch boundaries: the error may arrive in
    batch N and the purchase in batch N+k. Assumes per-key event-time
    order across batches (true for a time-ordered source, e.g. a Kafka
    partition keyed by user); a full out-of-order CEP would buffer
    until the watermark, trading this operator's O(1) state for O(gap)
    state — same trade Flink CEP makes.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    filt = events.filter(
        F.col("event_type").isin("error", "purchase")
    ).select("user_id", "event_id", "event_type", "ts")

    # closure (not module-level) so cloudpickle ships it by value
    def detect(key, pdfs, state):
        import pandas as pd

        frames = [pdf for pdf in pdfs if len(pdf)]
        last_type, last_ts_us, last_id = (
            state.get if state.exists else ("", 0, 0)
        )
        out = []
        if frames:
            rows = pd.concat(frames).sort_values(["ts", "event_id"])
            for r in rows.itertuples():
                ts_us = r.ts.value // 1000  # pandas ns -> microseconds
                # floor EACH timestamp to ms before subtracting — the
                # unix_millis(next_ts) - unix_millis(ts) semantics of
                # the batch twin/oracle, so a pair straddling a ms
                # boundary scores the same gap in both engines
                gap_val = ts_us // 1000 - last_ts_us // 1000
                if (
                    r.event_type == "purchase"
                    and last_type == "error"
                    and gap_val <= gap_ms
                ):
                    out.append((key[0], last_id, int(r.event_id), gap_val))
                last_type, last_ts_us, last_id = (
                    r.event_type,
                    ts_us,
                    int(r.event_id),
                )
        state.update((last_type, int(last_ts_us), int(last_id)))
        if out:
            yield pd.DataFrame(
                out,
                columns=[
                    "user_id",
                    "error_event_id",
                    "purchase_event_id",
                    "gap_ms",
                ],
            )

    return filt.groupBy("user_id").applyInPandasWithState(
        detect,
        outputStructType=(
            "user_id long, error_event_id long, "
            "purchase_event_id long, gap_ms long"
        ),
        stateStructType="last_type string, last_ts_us long, last_id long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def error_without_purchase(events: DataFrame, gap_ms: int = 300_000) -> DataFrame:
    """Negative CEP (Flink's ``notFollowedBy``): alert when an error is
    NOT resolved by a purchase within ``gap_ms``.

    Incident semantics with O(1) state: the first unresolved error per
    user opens an incident; further errors inside the window join that
    incident; a purchase within the window resolves it silently. The
    absence alert fires either when a later event proves the window
    passed, or — crucially — when the event-time WATERMARK passes the
    deadline with no event at all (``EventTimeTimeout``), so silence
    itself triggers the alert, deterministically under replay.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    filt = events.filter(
        F.col("event_type").isin("error", "purchase")
    ).select("user_id", "event_id", "event_type", "ts").withWatermark(
        "ts", "10 seconds"
    )

    # closure (not module-level) so cloudpickle ships it by value
    def detect(key, pdfs, state):
        import pandas as pd

        def absence(eid, ets_us):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "error_event_id": [eid],
                    "error_ts": [pd.Timestamp(ets_us, unit="us")],
                }
            )

        if state.hasTimedOut:
            eid, ets_us = state.get
            state.remove()
            yield absence(eid, ets_us)
            return
        pending = state.get if state.exists else None
        frames = [pdf for pdf in pdfs if len(pdf)]
        if frames:
            rows = pd.concat(frames).sort_values(["ts", "event_id"])
            for r in rows.itertuples():
                ts_us = r.ts.value // 1000
                if pending and ts_us > pending[1] + gap_ms * 1000:
                    yield absence(*pending)
                    pending = None
                if r.event_type == "error":
                    if pending is None:
                        pending = (int(r.event_id), ts_us)
                elif pending is not None:  # purchase inside the window
                    pending = None
        if pending is None:
            if state.exists:
                state.remove()
        else:
            state.update((pending[0], int(pending[1])))
            state.setTimeoutTimestamp(pending[1] // 1000 + gap_ms)

    return filt.groupBy("user_id").applyInPandasWithState(
        detect,
        outputStructType="user_id long, error_event_id long, error_ts timestamp",
        stateStructType="eid long, ets_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_zscore_alerts(
    events: DataFrame, z_threshold: float = 3.0, min_n: int = 30
) -> DataFrame:
    """Online anomaly detection: per event-type running mean/variance
    (Welford's algorithm in keyed state), alerting on values whose
    z-score against the state SO FAR exceeds the threshold.

    The streaming complement of the batch ``anomaly_zscore_events`` /
    ``anomaly_mad_events`` gates: those scan a finished table; this
    maintains O(1) state per key — (n, mean, M2), Chan et al.'s
    parallel-merge form — and scores each micro-batch against the
    statistics accumulated BEFORE it (alerts can't mask themselves:
    a batch's own spike inflates the variance only for later batches).
    State survives restarts via the checkpoint; replay-deterministic
    because the merge is per-batch aggregate, not per-row order.

    Scale: each micro-batch shuffles once on event_type; the pandas
    handler sees one Arrow batch per key and does vectorized numpy —
    no per-row Python.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update_stats(key, pdfs, state):
        import math

        import pandas as pd

        import numpy as np

        n0, mean0, m2 = state.get if state.exists else (0, 0.0, 0.0)
        out_ids, out_vals, out_z = [], [], []
        batches = []
        for pdf in pdfs:
            vals = pdf["value"].to_numpy()
            # score against PRE-batch stats
            if n0 >= min_n and m2 > 0:
                sd = math.sqrt(m2 / (n0 - 1))
                z = (vals - mean0) / sd
                mask = abs(z) > z_threshold
                out_ids.extend(pdf["event_id"].to_numpy()[mask].tolist())
                out_vals.extend(vals[mask].tolist())
                out_z.extend(z[mask].tolist())
            batches.append(vals)
        if batches:
            all_vals = np.concatenate(batches)
            batch_n = len(all_vals)
            # Chan et al. pairwise merge of (n, mean, M2). The
            # within-batch M2 is TWO-PASS (sum of squared deviations
            # from the batch mean), not sumsq - n*mean^2: the one-pass
            # form cancels catastrophically on large-magnitude
            # low-variance values and can go negative, permanently
            # disabling the m2 > 0 alert gate. Clamp the merged M2 at
            # 0 for the same reason (delta-term rounding).
            bmean = float(all_vals.mean())
            bm2 = float(((all_vals - bmean) ** 2).sum())
            if n0 == 0:
                n1, mean1, m2_1 = batch_n, bmean, bm2
            else:
                delta = bmean - mean0
                n1 = n0 + batch_n
                mean1 = mean0 + delta * batch_n / n1
                m2_1 = max(m2 + bm2 + delta * delta * n0 * batch_n / n1, 0.0)
            state.update((n1, mean1, m2_1))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(out_ids),
                "event_id": out_ids,
                "value": out_vals,
                "z": out_z,
            }
        )

    return events.groupBy("event_type").applyInPandasWithState(
        update_stats,
        outputStructType=(
            "event_type string, event_id long, value double, z double"
        ),
        stateStructType="n long, mean double, m2 double",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
