"""Deterministic inputs for the benchmark.

The base tables are a TPC-H-shaped star schema plus ``events``,
``documents`` and ``embeddings``, with the column names, types and value
ranges the engine's ``workload`` query functions read. They come from a fixed
generator seed, so every run of the benchmark queries the same data and
run-to-run spread is the host's, not the data's. The benchmark seed
drives what varies per run: the order of ops in each pass and the lake
deliveries, corrections and predicates (:func:`lake_plan`).

Each table is written with 32 row groups, the layout ``bench.py``'s
rechunked cache gives the driver's data.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_SEED = 42
ROW_GROUPS = 32
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _us(y: int, m: int, d: int) -> int:
    epoch = dt.datetime(1970, 1, 1)
    return int((dt.datetime(y, m, d) - epoch).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: tuple, hi: tuple) -> pa.Array:
    """n midnight timestamps (micros, no zone) uniform in [lo, hi]."""
    a, b = _us(*lo), _us(*hi)
    day = 86_400_000_000
    v = a + rng.integers(0, (b - a) // day + 1, n) * day
    return pa.array(v, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(scale: float) -> dict[str, pa.Table]:
    """Every base table at ``scale`` (1.0 ≈ TPC-H sf1 row counts)."""
    rng = np.random.default_rng(GENERATOR_SEED)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_line = max(6_000, int(6_000_000 * scale))
    n_evt = max(1_000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, (1995, 1, 2), (2001, 11, 4)),
    })
    month = 30 * 86_400_000_000
    ts = np.sort(_us(2024, 1, 1) + rng.integers(0, month, n_evt))
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            # re-delivered near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), i32),
    })
    return t


def _write(tbl: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(
        tbl, tmp, row_group_size=max(1, math.ceil(len(tbl) / ROW_GROUPS))
    )
    os.replace(tmp, path)


def _content_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def ensure_data(data_dir: str, scale: float) -> str:
    """Write the base tables under ``data_dir`` unless a complete copy
    with a matching content digest is already there. Returns the
    digest."""
    stamp_path = os.path.join(data_dir, "_stamp.json")
    try:
        with open(stamp_path) as fh:
            stamp = json.load(fh)
        if stamp.get("scale") == scale and stamp.get(
            "digest"
        ) == _content_digest(data_dir):
            return stamp["digest"]
    except (OSError, ValueError):
        pass
    os.makedirs(data_dir, exist_ok=True)
    for name, tbl in build_tables(scale).items():
        _write(tbl, os.path.join(data_dir, f"{name}.parquet"))
    digest = _content_digest(data_dir)
    with open(stamp_path, "w") as fh:
        json.dump({"scale": scale, "digest": digest}, fh)
    return digest


# ---------------------------------------------------------------------
# Seeded lake inputs
# ---------------------------------------------------------------------

def lake_plan(seed: int, n_orders: int, cycles: int) -> list[dict]:
    """Per-cycle inputs of the ``lake_ingest`` workload, all drawn from
    ``seed``:

    - ``delivery``: order rows for the landing zone. Most carry new
      keys; ``redelivered`` of them repeat keys already in the table
      (the at-least-once redelivery ``dedup_keys`` must drop).
    - ``correction``: (key, new total price) pairs for ``merge_table``;
      a few keys are new, so the merge also inserts.
    - ``delete_mod``/``delete_rem``: delete rows with
      ``o_orderkey % delete_mod == delete_rem``.
    - ``travel_back``: how many versions back the time-travel read goes.
    - ``since``: the date bound of the LakeSQL SELECT.
    """
    rng = np.random.default_rng([seed, 7])
    n_new = max(30, n_orders // 50)
    n_redeliver = max(3, n_new // 10)
    n_fix = max(10, n_orders // 100)
    plan = []
    next_key = n_orders
    for c in range(cycles):
        new_keys = np.arange(next_key, next_key + n_new, dtype=np.int64)
        next_key += n_new
        redelivered = rng.choice(next_key - n_new, n_redeliver, replace=False)
        keys = np.concatenate([new_keys, np.sort(redelivered)])
        fix_keys = np.sort(rng.choice(next_key, n_fix, replace=False))
        fresh = np.arange(next_key, next_key + 3, dtype=np.int64)
        next_key += 3
        plan.append({
            "cycle": c,
            "delivery": _delivery_table(rng, keys),
            "redelivered": [int(k) for k in redelivered],
            "correction": _delivery_table(
                rng, np.concatenate([fix_keys, fresh])
            ),
            "delete_mod": 97,
            "delete_rem": int(rng.integers(0, 97)),
            "travel_back": int(rng.integers(1, 4)),
            "since": f"{int(rng.integers(1996, 2001))}-01-01",
        })
    return plan


def _delivery_table(rng, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 1_000, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": _money(rng, n, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n),
    })


def delivery_bytes(tbl: pa.Table) -> bytes:
    """The delivery as the parquet bytes that land in the landing zone."""
    sink = pa.BufferOutputStream()
    pq.write_table(tbl, sink)
    return sink.getvalue().to_pybytes()
