"""Seeded benchmark inputs.

Every input the benchmark feeds the program is generated here from the
run's ``--seed``: the star-schema parquet tables the batch queries read
(same schemas as the engine's fixture contract, FIXTURES.md §2) and the
reference-shaped sentences (1-5 words from the producer's 16-word list)
the streaming and Kafka workloads consume. Same seed, same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The documents vocabulary of the engine's text fixtures.
DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
PART_ADJ = "blue cold hot large new old red small".split()
PART_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, choices: list[str], n: int) -> np.ndarray:
    return np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)]


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Random texts with 5% near-duplicates (an earlier text plus one
    token) and ~0.5% verbatim copies: what the dedup queries look for."""
    vocab = np.asarray(DOC_VOCAB, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.055:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]))
    return texts


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (lineitem ≈ 6M·sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _EPOCH_1995 + rng.integers(0, 2404, n_ord) * np.timedelta64(1, "D"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _EPOCH_1995 + rng.integers(1, 2500, n_line) * np.timedelta64(1, "D"),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) * np.timedelta64(1, "us"),
            "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev), i64),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }),
    }
    texts = _documents(rng, n_doc)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.normal(size=(n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def sentences(seed: int, n: int, words: list[str]) -> list[str]:
    """n producer-shaped sentences: 1-5 words drawn from ``words``."""
    rng = np.random.default_rng(seed)
    vocab = np.asarray(words, dtype=object)
    lengths = rng.integers(1, 6, n)
    picks = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    return [" ".join(picks[e - k : e]) for e, k in zip(ends, lengths)]
