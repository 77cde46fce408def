"""Seeded table generator for the benchmark's batch inputs.

Writes the ten tables ``beam_scala_examples_spark.tables.TABLES`` reads
(one parquet file each) with the shapes of the repository's fixture data:
a TPC-H-like star schema, an ``events`` click table, a ``documents``
corpus over a 30-word vocabulary where 5% of the documents are copies of
another document with a ``dup`` token appended, and unit-norm 64-dim
``embeddings`` with ten labels.  Every column is drawn from
``numpy.random.default_rng(seed)``: the same (seed, sizes) writes the same
bytes, and different seeds give tables of identical size and distribution,
so run time depends on the sizes alone.
"""

from __future__ import annotations

import os
from dataclasses import asdict, dataclass
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]  # en ~3x each other
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
N_SOURCES = 20
EMB_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000
_EPOCH = datetime(1970, 1, 1)


def _us(ts: str) -> int:
    return int((datetime.fromisoformat(ts) - _EPOCH).total_seconds()) * 1_000_000


ORDER_DAY0, ORDER_DAYS = _us("1995-01-01") // _DAY_US, 2405
SHIP_DAY0, SHIP_DAYS = _us("1995-01-02") // _DAY_US, 2499
EVENTS_T0_US, EVENTS_SPAN_US = _us("2024-01-01"), 30 * _DAY_US


@dataclass(frozen=True)
class Sizes:
    """Row counts; ``Sizes.at(sf)`` follows the fixture data's scaling."""

    lineitem: int
    orders: int
    customer: int
    part: int
    supplier: int
    events: int
    documents: int
    embeddings: int

    @classmethod
    def at(cls, sf: float, documents: int, embeddings: int) -> "Sizes":
        return cls(
            lineitem=int(6_000_000 * sf), orders=int(1_500_000 * sf),
            customer=int(150_000 * sf), part=int(200_000 * sf),
            supplier=max(10, int(10_000 * sf)), events=int(1_000_000 * sf),
            documents=documents, embeddings=embeddings,
        )

    def as_dict(self) -> dict[str, int]:
        return asdict(self)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _tables(rng: np.random.Generator, s: Sizes) -> dict[str, pa.Table]:
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(s.customer, dtype="int64"),
        "c_name": _names("Customer", s.customer),
        "c_nationkey": rng.integers(0, 25, s.customer, dtype="int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, s.customer),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, s.customer)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s.supplier, dtype="int64"),
        "s_name": _names("Supplier", s.supplier),
        "s_nationkey": rng.integers(0, 25, s.supplier, dtype="int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, s.supplier),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, 8, s.part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, s.part)]
    pk = np.arange(s.part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, s.part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, s.part)],
        "p_size": rng.integers(1, 51, s.part, dtype="int32"),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(s.orders, dtype="int64"),
        "o_custkey": rng.integers(0, s.customer, s.orders, dtype="int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, s.orders)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, s.orders),
        "o_orderdate": _ts((ORDER_DAY0 + rng.integers(0, ORDER_DAYS, s.orders))
                           * _DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, s.orders)],
    })
    n = s.lineitem
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, s.orders, n, dtype="int64"),
        "l_partkey": rng.integers(0, s.part, n, dtype="int64"),
        "l_suppkey": rng.integers(0, s.supplier, n, dtype="int64"),
        "l_linenumber": rng.integers(1, 8, n, dtype="int32"),
        "l_quantity": rng.integers(1, 51, n).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts((SHIP_DAY0 + rng.integers(0, SHIP_DAYS, n)) * _DAY_US),
    })
    n = s.events
    t["events"] = pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(EVENTS_T0_US + np.sort(rng.integers(0, EVENTS_SPAN_US, n))),
        "user_id": rng.integers(0, 1500, n, dtype="int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    t["documents"] = _documents(rng, s.documents)
    emb = rng.standard_normal((s.embeddings, EMB_DIM)).astype("float32")
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(s.embeddings, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": rng.integers(0, N_LABELS, s.embeddings, dtype="int32"),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word documents; every 20th draw copies an earlier original
    and appends ``dup`` — the near-duplicate population the dedup
    queries look for (two copies of one original are exact duplicates)."""
    lengths = rng.integers(10, 101, n)
    is_dup = rng.random(n) < 0.05
    is_dup[0] = False
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if is_dup[i]:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), lengths[i])]
            texts.append(" ".join(words))
            originals.append(i)
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64"),
    })


def write_tables(out_dir: str, seed: int, sizes: Sizes) -> str:
    """Write every table of ``sizes`` under ``out_dir``; returns it."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.default_rng(seed), sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
