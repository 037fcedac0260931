"""Seeded input generators.

``write_corpus`` writes the ten-table corpus the operator pack reads
(TPC-H-ish star schema plus ``events``, ``documents`` and
``embeddings``), with the schemas and value distributions of the
repository's fixture corpus (FIXTURES.md) scaled by ``sf``: the row
counts match the fixture's at sf 0.1, and 5% of documents are
near-duplicates (an earlier document with " dup" appended 1-3 times),
which the dedup operators need to find.

``lineitem`` builds only that table, for the streaming workload.

Everything is a pure function of (``sf``, ``seed``): the same seed
gives byte-identical tables.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "bolt", "gear", "plate", "widget", "valve", "nut", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _rows(sf: float, at_sf01: int) -> int:
    return max(1, int(round(at_sf01 * sf / 0.1)))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def lineitem(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 7])
    n = _rows(sf, 600_000)
    n_orders, n_parts, n_supp = _rows(sf, 150_000), _rows(sf, 20_000), _rows(sf, 1_000)
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = 900.0 + rng.integers(0, 1000, n) / 10.0
    return pa.table(
        {
            "l_orderkey": rng.integers(0, n_orders, n),
            "l_partkey": rng.integers(0, n_parts, n),
            "l_suppkey": rng.integers(0, n_supp, n),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * price * rng.uniform(1.0, 2.1, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n) * _US_PER_DAY),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in n_words]
    # Near-duplicates: a later document repeats an earlier one plus
    # 1-3 " dup" suffixes (the fixture corpus's near-dup shape).
    n_dup = n // 20
    dup_at = np.sort(rng.choice(np.arange(n // 10 + 1, n), n_dup, replace=False))
    for i in dup_at:
        texts[i] = texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] * 0.5 + rng.normal(0.0, 1.0, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def corpus_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = _rows(sf, 15_000), _rows(sf, 1_000), _rows(sf, 20_000)
    n_orders, n_events = _rows(sf, 150_000), _rows(sf, 100_000)
    n_users = max(15, _rows(sf, 1_500))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": pa.array(rng.choice(part_names, n_part)),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_orders, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_orders),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_orders) * _US_PER_DAY),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_orders)),
        }
    )
    tables["lineitem"] = lineitem(sf, seed)
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_events))
    tables["events"] = pa.table(
        {
            "event_id": np.arange(n_events, dtype=np.int64),
            "ts": _ts(_EPOCH_2024 + ts),
            "user_id": rng.integers(0, n_users, n_events),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
        }
    )
    tables["documents"] = _documents(rng, max(500, _rows(sf, 5_000)))
    tables["embeddings"] = _embeddings(rng, max(500, _rows(sf, 2_000)))
    return tables


def write_corpus(out_dir: Path, sf: float, seed: int) -> dict[str, pa.Table]:
    """Write every corpus table as ``<out_dir>/<name>.parquet`` (one
    file, one row group — the fixture layout) and return the tables."""
    out_dir.mkdir(parents=True, exist_ok=True)
    tables = corpus_tables(sf, seed)
    for name, table in tables.items():
        pq.write_table(table, out_dir / f"{name}.parquet")
    return tables
