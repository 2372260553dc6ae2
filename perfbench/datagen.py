"""Seeded generator of the engine's ten input tables.

The tables follow the fixture star schema the package is written
against (column names, Parquet physical types and value domains): a
TPC-H-like star (`region` .. `lineitem`), an `events` stream table, and
the `documents` / `embeddings` corpus tables, where about one document
in twenty is a near-duplicate of an earlier one. Row counts scale with
``sf`` as the fixture sets do (lineitem = 6,000,000 x sf); the corpus
tables never shrink below 500 rows.

The same ``(seed, sf)`` always writes byte-identical values.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(datetime(y, m, d, tzinfo=timezone.utc).timestamp()) * 1_000_000


def _days(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    a, b = _epoch_us(*lo) // _US_PER_DAY, _epoch_us(*hi) // _US_PER_DAY
    return pa.array(rng.integers(a, b + 1, n) * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def sizes(sf: float) -> dict[str, int]:
    return {
        "customer": round(150_000 * sf),
        "supplier": round(10_000 * sf),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table as an Arrow table, drawn from one seeded stream."""
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
        "c_acctbal": _money(rng, c, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
        "s_acctbal": _money(rng, s, -999.99, 9999.99),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p), i64),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p), i32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) / 10.0, 1),
    })
    o = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o), i64),
        "o_custkey": pa.array(rng.integers(0, c, o), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, o, 1000.0, 499999.99),
        "o_orderdate": _days(rng, o, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li), i64),
        "l_partkey": pa.array(rng.integers(0, p, li), i64),
        "l_suppkey": pa.array(rng.integers(0, s, li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, li, 900.0, 104999.99),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, li, (1995, 1, 2), (2001, 11, 4)),
    })
    e = n["events"]
    gaps = rng.exponential(30 * _US_PER_DAY / e, e).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(e), i64),
        "ts": pa.array(_epoch_us(2024, 1, 1) + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, e // 66, e), i64),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
    })
    d = n["documents"]
    texts: list[str] = []
    for i in range(d):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(8, 81)))
            texts.append(" ".join(VOCAB[w] for w in words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), i64),
        "text": texts,
        "lang": _pick(rng, LANGS, d, LANG_P),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    m = n["embeddings"]
    vec = rng.standard_normal((m, EMBED_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m), i32),
    })
    return out


def write(seed: int, sf: float, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; return out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
