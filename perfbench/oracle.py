"""Result checks. Each returns ``None`` when the result is right and a
one-line reason when it is wrong; the caller counts a wrong result as a
failed operation.

- Batch queries: row count plus an order-independent value digest,
  compared with the query's DuckDB oracle over the same parquet.
- Streaming word count: emitted window counts equal a plain-Python
  count of the same generated messages (batch is the oracle).
- Kafka view: committed word counts equal the count of every sentence
  produced, and committed offsets equal the number produced
  (exactly-once).
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
from collections import Counter

WINDOW_S = 10  # the word-count job's tumbling window
WATERMARK_S = 10  # and its watermark delay


def _cell(v) -> str:
    """Canonical text of one value; Spark and DuckDB agree on it when
    they agree on the value (floats to 9 significant digits)."""
    if v is None:
        return "\0"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if math.isnan(f) else f"{f + 0.0:.9g}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{_cell(k)}:{_cell(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(rows, columns: list[str]) -> tuple:
    """(sorted column names, row count, order-independent value hash)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    for r in rows:
        text = "\x1f".join(_cell(r[i]) for i in order)
        total += int.from_bytes(hashlib.blake2b(text.encode(), digest_size=8).digest(), "big")
    return tuple(sorted(columns)), len(rows), total % (1 << 64)


def check_digest(got: tuple, want: tuple) -> str | None:
    if got[0] != want[0]:
        return f"columns {list(got[0])} != oracle {list(want[0])}"
    if got[1] != want[1]:
        return f"{got[1]} rows != oracle {want[1]}"
    if got[2] != want[2]:
        return "value hash differs from the oracle"
    return None


def word_counts(sentences) -> Counter:
    return Counter(w for s in sentences for w in s.split(" ") if w)


def window_counts(sentences: list[str], ts_us: list[int]) -> Counter:
    """(window start µs, word) -> count for messages stamped ``ts_us``."""
    width = WINDOW_S * 1_000_000
    out: Counter = Counter()
    for s, t in zip(sentences, ts_us):
        start = t - t % width
        for w in s.split(" "):
            if w:
                out[(start, w)] += 1
    return out


def check_windows(emitted: list[tuple[int, str, int]], want: Counter, max_ts_us: int) -> str | None:
    """``emitted``: (window start µs, word, count) rows of an append-mode
    run. Every emitted row must be exact, and every window the final
    watermark (max event time - delay) has closed must be present."""
    got: Counter = Counter()
    for start, word, cnt in emitted:
        if (start, word) in got:
            return f"window {start} word {word!r} emitted twice"
        got[(start, word)] = cnt
    for key, cnt in got.items():
        if want.get(key) != cnt:
            return f"window {key[0]} word {key[1]!r}: {cnt} != oracle {want.get(key)}"
    closed_before = max_ts_us - WATERMARK_S * 1_000_000
    width = WINDOW_S * 1_000_000
    missing = [k for k in want if k[0] + width <= closed_before and k not in got]
    if missing:
        return f"{len(missing)} closed window counts never emitted, e.g. {missing[0]}"
    if not got:
        return "no window was emitted"
    return None


def check_view(view: dict[str, int], want: Counter, committed: int, produced: int) -> str | None:
    if committed != produced:
        return f"committed offsets sum to {committed}, produced {produced}"
    if view != dict(want):
        diff = sorted(set(view.items()) ^ set(want.items()))[:2]
        return f"view differs from the batch count, e.g. {diff}"
    return None
