"""Seeded tables for the batch queries (traced ``alerts_live_net_disk`` runs).

Writes the TPC-H-like star schema plus the ``events``, ``documents`` and
``embeddings`` tables the engine's query registry reads, one parquet file
per table, with the column names, types and value domains of the engine's
reference test data. ``scale`` is the TPC-H scale factor (lineitem has
about 6,000,000 x scale rows). The seed changes every value but keeps the
selectivities: the same categorical domains, ranges and duplicate shares.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
DAY_US = 86_400 * 1_000_000
EPOCH_1995_US = 788_918_400 * 1_000_000
EPOCH_2024_US = 1_704_067_200 * 1_000_000
# Rows per table at scale 1 (the reference test data's ratios).
ROWS = {"customer": 150_000, "orders": 1_500_000, "lineitem": 6_000_000,
        "events": 1_000_000, "documents": 50_000, "embeddings": 20_000}
TABLES = ("region", "nation", "customer", "orders", "lineitem", "events",
          "documents", "embeddings")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(EPOCH_1995_US + rng.integers(0, 2404, no) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, max(10, int(200_000 * scale)), nl),
        "l_suppkey": rng.integers(0, max(10, int(10_000 * scale)), nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _ts(EPOCH_1995_US + DAY_US + rng.integers(0, 2499, nl) * DAY_US),
    })
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, ne)),
        "user_id": rng.integers(0, max(10, int(15_000 * scale)), ne),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": np.round(rng.exponential(20.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    nv = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, nv)
    vecs = centers[labels] + rng.normal(0.0, 0.6, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def _documents(rng, nd: int) -> pa.Table:
    """Word-salad documents; ~0.2% exact copies and ~5% near-copies (one
    word replaced by ``dup``) so the dedup operators find work."""
    texts: list[str] = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.002:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.052:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, nd).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in make_tables(seed, scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
