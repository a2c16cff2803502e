"""Seeded generator for the ten input tables the registered queries read.

The tables have the schemas of the project's synthetic test data
(``region nation customer supplier part orders lineitem events documents
embeddings``, one parquet file each, one row group per file) and about
the row counts of its smallest scale. The same seed always writes the
same bytes, so a benchmark run is reproducible from its ``--seed``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts of the generated tables (about the sf0.001 test data)
SIZES = {
    "supplier": 10,
    "customer": 150,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "users": 15,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
#: the 30-word vocabulary of the test corpus; ``dup`` marks a copy
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMB_DIM = 64
EMB_LABELS = 10

_DAY_US = 86_400_000_000


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(f"{start}T00:00:00", "us")
    return base + rng.integers(0, days + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # a copy of an earlier document, marked the way the test
            # corpus marks its planted duplicates
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    langs = rng.choice(LANGS, n, p=LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(langs.tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, EMB_LABELS, n)
    vecs = 0.15 * centroids[labels] + rng.normal(0.0, 0.125, (n, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write the ten tables for ``seed`` into ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = SIZES
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s["supplier"]), pa.int64()),
            "s_name": pa.array(
                [f"Supplier#{i:09d}" for i in range(s["supplier"])], pa.string()
            ),
            "s_nationkey": pa.array(rng.integers(0, 25, s["supplier"]), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s["supplier"])),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(s["customer"]), pa.int64()),
            "c_name": pa.array(
                [f"Customer#{i:09d}" for i in range(s["customer"])], pa.string()
            ),
            "c_nationkey": pa.array(rng.integers(0, 25, s["customer"]), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, s["customer"])),
            "c_mktsegment": pa.array(
                rng.choice(SEGMENTS, s["customer"]).tolist(), pa.string()
            ),
        }
    )
    n_part = s["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part).tolist(), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)
            ),
        }
    )
    n_ord = s["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, s["customer"], n_ord), pa.int64()),
            "o_orderstatus": pa.array(
                rng.choice(["F", "O", "P"], n_ord).tolist(), pa.string()
            ),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(
                _dates(rng, n_ord, "1995-01-01", 2403), pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(
                rng.choice(PRIORITIES, n_ord).tolist(), pa.string()
            ),
        }
    )
    n_li = s["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, s["supplier"], n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(
                rng.choice(["A", "N", "R"], n_li).tolist(), pa.string()
            ),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_li).tolist(), pa.string()),
            "l_shipdate": pa.array(
                _dates(rng, n_li, "1995-01-02", 2498), pa.timestamp("us")
            ),
        }
    )
    n_ev = s["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, s["users"], n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev).tolist(), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
                pa.string(),
            ),
        }
    )
    tables["documents"] = _documents(rng, s["documents"])
    tables["embeddings"] = _embeddings(rng, s["embeddings"])
    for name, table in tables.items():
        _write(out_dir, name, table)
    return {name: t.num_rows for name, t in tables.items()}
