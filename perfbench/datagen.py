"""Seeded generator for the benchmark's input tables.

Writes the engine's ten-table schema (TPC-H-style star schema, an
`events` stream, a `documents` corpus and an `embeddings` table) as one
parquet file per table, with the column names, Arrow types and value
domains of the engine's test data. The same (seed, sf) always gives the
same bytes; only the generated files reach the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# first day of the order/ship date domain, in days since 1970-01-01
DATE_LO = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENTS_LO = np.datetime64("2024-01-01T00:00:00", "us")
EVENT_SPAN_US = 30 * 86400 * 10**6
DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor `sf` (TPC-H proportions)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(15, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(150, int(1_500_000 * sf)),
        "lineitem": max(600, int(6_000_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array((DATE_LO + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables, deterministic in (seed, sf)."""
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)].tolist(),
    })

    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })

    npart = n["part"]
    names = [f"{a} {b}" for a, b in zip(
        np.array(PART_ADJ)[rng.integers(0, 8, npart)],
        np.array(PART_NOUN)[rng.integers(0, 8, npart)])]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": names,
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, npart)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })

    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)].tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _ts(rng.integers(0, ORDER_DAYS + 1, no)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)].tolist(),
    })

    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist(),
        "l_shipdate": _ts(rng.integers(1, ORDER_DAYS + 96, nl)),
    })

    ne = n["events"]
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, ne))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(EVENTS_LO + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, max(10, int(15_000 * sf)), ne, dtype=np.int64)),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)].tolist(),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })

    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, nd: int) -> pa.Table:
    """Word-salad documents; about 5% are exact copies and 10% are near
    copies (two words replaced) of an earlier document, so the dedup
    operators find real pairs."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.15:
            toks = texts[int(rng.integers(0, i))].split()
            for pos in rng.integers(0, len(toks), 2):
                toks[pos] = words[rng.integers(0, len(words))]
            texts.append(" ".join(toks))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(8, 80))]))
    return pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), nd)].tolist(),
        "source": [f"src{s}" for s in np.arange(nd) % 20],
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, nv: int) -> pa.Table:
    """Unit vectors around ten cluster centres (the label)."""
    centres = rng.normal(0.0, 1.0, (10, DIM))
    labels = rng.integers(0, 10, nv)
    vecs = centres[labels] + rng.normal(0.0, 0.6, (nv, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One `<name>.parquet` per table (snappy, one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
