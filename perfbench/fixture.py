"""Seeded synthetic fixture: the ten tables the engine's queries read.

The schemas follow FIXTURES.md (TPC-H-like star schema plus the
events, documents and embeddings tables); row counts scale with
``sf`` like the reference fixtures (lineitem has 6M x sf rows). Value
domains mirror the reference data closely enough that every query of
the benchmark runs the same plan shapes, but nothing here is copied
from it: the benchmark must run in a checkout that holds only this
repository, so it makes its inputs itself.

Timestamps are written as ``timestamp[us]`` without a time zone, as
in the reference parquet files at every scale (FIXTURES.md lists
``timestamp[ms]`` and ``timestamp[ns]``; the files say otherwise).

The same (sf, seed) always yields the same table contents.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64
N_LABELS = 10

_DAY_US = 86_400_000_000


def _days(start: str, n_days: int, rng: np.random.Generator, n: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, n) * _DAY_US


def _choice(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-token texts; about 3% exact and 5% near duplicates of an
    earlier document, so the dedup operators have work to find."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] < 0.03:
            texts[i] = texts[rng.integers(0, i)]
        elif kind[i] < 0.08:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    lens = np.fromiter((len(t) for t in texts), np.int64, n)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _choice(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)]),
            "n_chars": pa.array(lens),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around one weak direction per label."""
    centers = rng.standard_normal((N_LABELS, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    x = rng.standard_normal((n, EMBED_DIM)) + 0.6 * centers[label]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM, dtype=np.int32)),
        pa.array(x.ravel()),
    )
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": emb,
            "label": pa.array(label),
        }
    )


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_supp = max(10, round(10_000 * sf))
    n_cust = max(150, round(150_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))
    i32, i64 = np.int32, np.int64

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": pa.array(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }
    )
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=i64)),
            "p_name": _choice(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
            "p_type": _choice(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part).astype(i32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": pa.array(
                _days("1995-01-01", 2404, rng, n_ord), pa.timestamp("us")
            ),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["F", "O"], n_line),
            "l_shipdate": pa.array(
                _days("1995-01-02", 2498, rng, n_line), pa.timestamp("us")
            ),
        }
    )
    ev_start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_ev)) + ev_start
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=i64)),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(i64)),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    out["documents"] = _documents(rng, n_docs)
    out["embeddings"] = _embeddings(rng, n_vecs)
    return out


def ensure(root: str, sf: float, seed: int, keep: int = 16) -> str:
    """Return the directory holding the (sf, seed) fixture, writing it
    first if it is not cached under ``root``. At most ``keep`` fixtures
    stay cached; the least recently used go first."""
    path = os.path.join(root, f"sf{sf}-seed{seed}")
    if os.path.isdir(path):
        os.utime(path)
        return path
    os.makedirs(root, exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    os.replace(tmp, path)
    cached = sorted(
        (os.path.join(root, d) for d in os.listdir(root) if ".tmp" not in d),
        key=os.path.getmtime,
    )
    for old in cached[:-keep]:
        shutil.rmtree(old, ignore_errors=True)
    return path
