"""Seeded batch tables for the headline queries.

Writes the ten tables the program's queries read (``region nation
supplier customer part orders lineitem events documents embeddings``),
one ``<name>.parquet`` each, with the column names and physical types
of the program's sf-scaled fixture and its value profile (FIXTURES.md):
TPC-H-style keys and value ranges, a month of events over 15 users per
1,000 events, a 31-word document vocabulary with a few exact and
planted near duplicates, and unit-length 64-dimensional embeddings.
Row counts scale with ``sf`` as the fixture's do (lineitem ~6,000,000
× sf). The same seed gives the same files.

    python3 perfbench/tables.py --out DIR --seed 1 --sf 0.1
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("bolt", "gear", "hot", "large", "nut", "ring", "small", "steel", "washer", "wire")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
LANG_P = (0.14, 0.41, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge order "
    "part query row scan slow small sort spark stream table the value vector window"
).split()
DAY_US = 86_400_000_000
ORDER_T0_US = 788_918_400_000_000  # 1995-01-01
ORDER_DAYS = 2404  # to 2001-08-01
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01
EVENT_SPAN_US = 30 * DAY_US
TS = pa.timestamp("us")


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, 0xB47C])
    n_sup, n_cust, n_part = int(10_000 * sf), int(150_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_sup, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_sup, dtype=np.int32)),
        "s_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_sup)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": _round2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)],
    })
    words = np.array(PART_WORDS, dtype=object)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": words[rng.integers(0, len(words), n_part)] + " " + words[rng.integers(0, len(words), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)], dtype=object)[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES, dtype=object)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": _round2(900.0 + (np.arange(n_part) % 1000) / 10.0),
    })
    order_day = rng.integers(0, ORDER_DAYS, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _round2(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(ORDER_T0_US + order_day * DAY_US, TS),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)],
    })
    # one to seven lines per order, numbered from 1; shipped 1-121 days
    # after the order
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_sup, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber.astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _round2(rng.uniform(900.0, 105_000.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(ORDER_T0_US + (np.repeat(order_day, lines) + rng.integers(1, 122, n_li)) * DAY_US, TS),
    })
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EVENT_T0_US + np.sort(rng.integers(0, EVENT_SPAN_US, n_ev)), TS),
        "user_id": pa.array(rng.integers(0, max(150, int(15_000 * sf)), n_ev, dtype=np.int64)),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": _round2(rng.uniform(0.0, 560.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    t["documents"] = _documents(rng, n_doc)
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random 8-95-word texts; 0.2% are exact copies of an earlier text
    and 2% near copies (a tenth of the words replaced), so both dedup
    queries find something."""
    vocab = np.array(VOCAB, dtype=object)
    texts = [list(vocab[rng.integers(0, len(vocab), rng.integers(8, 96))]) for _ in range(n)]
    roles = rng.permutation(n)
    for i in roles[: max(1, n // 500)]:
        if i:
            texts[i] = list(texts[rng.integers(0, i)])
    for i in roles[max(1, n // 500): max(1, n // 500) + n // 50]:
        if i:
            src = list(texts[rng.integers(0, i)])
            for j in rng.choice(len(src), max(1, len(src) // 10), replace=False):
                src[j] = vocab[rng.integers(0, len(vocab))]
            texts[i] = src
    text = [" ".join(w) for w in texts]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(s) for s in text], dtype=np.int64)),
    })


def write_tables(out: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out``; returns their row counts."""
    os.makedirs(out, exist_ok=True)
    rows = {}
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"), compression="snappy")
        rows[name] = table.num_rows
    return rows


def main(argv: list[str]) -> None:
    ap = argparse.ArgumentParser(description="seeded batch tables for the headline queries")
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args(argv)
    print(json.dumps(write_tables(a.out, a.seed, a.sf)))


if __name__ == "__main__":
    main(sys.argv[1:])
