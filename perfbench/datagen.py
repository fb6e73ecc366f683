"""Seeded input generator for the benchmark.

Writes the star-schema tables the workloads read (``region`` ...
``documents``) as one parquet file each, with the schemas of the engine's
fixture tables (see FIXTURES.md section B): TPC-H-like keys and value
ranges, a 30-day ``events`` stream stored as TIMESTAMP(NANOS), and keyword
``documents`` with a share of near-duplicates, and 64-dimensional unit
``embeddings`` drawn around eight centres. Row counts depend only on
the scale factor; the seed changes every value, so two seeds give the
program equal-sized but different inputs.
"""

from __future__ import annotations

import os

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
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_DAY_NS = 86_400 * 10**9
_EPOCH_1995 = np.datetime64("1995-01-01", "D").astype(np.int64)
_EPOCH_2024_NS = np.datetime64("2024-01-01T00:00:00", "ns").astype(np.int64)


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (lineitem = 6M x sf)."""
    return {
        "customer": max(20, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "events": max(200, int(1_000_000 * sf)),
        "users": max(10, int(15_000 * sf)),
        "documents": max(200, int(50_000 * sf)),
        "embeddings": max(200, int(50_000 * sf)),
    }


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dates_ms(rng, n, span_days):
    days = _EPOCH_1995 + rng.integers(0, span_days, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[ms]"), pa.timestamp("ms"))


def _docs(rng, n: int) -> pa.Table:
    """Random-word documents, 15 % of them near-duplicates of an earlier
    original. The seed draws the words, the order of a fixed set of
    lengths and which documents are copies of which, but not how many
    copies there are, so every seed gives the dedup operators about the
    same amount of work."""
    lengths = rng.permutation(np.linspace(8, 99, n).round().astype(int))
    dups = set((10 + rng.choice(n - 10, int(0.15 * n), replace=False)).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in dups:
            # a few tokens of an original replaced
            words = texts[originals[int(rng.integers(0, len(originals)))]].split(" ")
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[k] for k in rng.integers(0, len(VOCAB), lengths[i])]
            originals.append(i)
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int, dim: int = 64, labels: int = 8) -> pa.Table:
    """Unit vectors around ``labels`` random centres, so every vector has
    near neighbours and an index's recall is a real measurement. There are
    as many centres as the index has cells, so its KMeans fit converges in
    a few iterations for every seed (ten centres took 4 to 15)."""
    centres = rng.standard_normal((labels, dim))
    label = rng.integers(0, labels, n)
    vecs = centres[label] + 1.5 * rng.standard_normal((n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = row_counts(sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": rng.choice(SEGMENTS, nc).tolist(),
        }
    )
    ns = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    retail = np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": rng.choice(names, np_).tolist(),
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, np_)],
            "p_type": rng.choice(PART_TYPES, np_).tolist(),
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": retail,
        }
    )
    no = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
            "o_orderdate": _dates_ms(rng, no, 2404),
            "o_orderpriority": rng.choice(PRIORITIES, no).tolist(),
        }
    )
    nl = n["lineitem"]
    partkey = rng.integers(0, np_, nl)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(partkey, pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.02, 2.1, nl), 2),
            "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
            "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
            "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
            "l_shipdate": _dates_ms(rng, nl, 2499),
        }
    )
    ne = n["events"]
    ts = _EPOCH_2024_NS + np.sort(rng.integers(0, 30 * _DAY_NS, ne))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("ns")),
            "user_id": pa.array(rng.integers(0, n["users"], ne), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
            "value": np.round(rng.uniform(0.01, 490.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _docs(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
