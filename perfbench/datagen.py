"""Seeded input generators of the benchmark.

Everything the program reads during a run is made here from ``--seed``:
the ten catalog tables, with the same schemas and value distributions
as the TPC-H-ish testdata the operators are written against. The same
seed always gives byte-identical inputs; the program sees only the
written parquet files.

Timestamps are written the way the testdata stores them: naive
TIMESTAMP(MICROS) columns.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC
DAY_US = 86_400_000_000
EVENTS_SPAN_US = 30 * DAY_US  # events cover 2024-01-01 .. 2024-01-30
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
EMBED_DIM = 64
# Row counts that do not scale linearly with sf in the testdata layout.
_DOCS = {0.001: 500, 0.01: 500, 0.1: 5000}
_EMBEDDINGS = {0.001: 500, 0.01: 500, 0.1: 2000}


def _rng(seed: int, name: str) -> np.random.Generator:
    """One independent stream per (seed, table): adding a table or
    resizing one never shifts another table's values."""
    digest = hashlib.sha256(f"{seed}/{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days_us(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype("int64")
    hi = np.datetime64(last, "D").astype("int64")
    return rng.integers(lo, hi + 1, n) * DAY_US


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def catalog_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (0.001, 0.01 or 0.1)."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segments = np.array(
        ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    )
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[r.integers(0, 5, n_cust)],
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjectives = ["small", "red", "hot", "new", "cold", "large", "old", "blue"]
    nouns = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "gizmo"]
    names = np.array([f"{a} {b}" for a in adjectives for b in nouns])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    r = _rng(seed, "part")
    keys = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": types[r.integers(0, len(types), n_part)],
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts(_days_us(r, n_ord, "1995-01-01", "2001-08-01")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[r.integers(0, 5, n_ord)],
    })
    r = _rng(seed, "lineitem")
    flags = np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]
    out["lineitem"] = pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": r.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": r.integers(1, 8, n_line).astype("int32"),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": np.round(r.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": flags,
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days_us(r, n_line, "1995-01-02", "2001-11-04")),
    })
    r = _rng(seed, "events")
    ts = np.sort(EPOCH_2024_US + r.integers(0, EVENTS_SPAN_US, n_ev))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(ts),
        "user_id": r.integers(0, n_users, n_ev).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(seed, _DOCS[sf])
    out["embeddings"] = _embeddings(seed, _EMBEDDINGS[sf])
    return out


def _documents(seed: int, n: int) -> pa.Table:
    """Bag-of-words texts of 10-100 words; 5% are an earlier document's
    text plus the token ``dup`` (the near-duplicates dedup operators
    find)."""
    r = _rng(seed, "documents")
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[r.integers(0, len(words), r.integers(10, 101))]))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(seed: int, n: int) -> pa.Table:
    """Unit vectors in 64 dimensions, weakly clustered around 10 label
    centres."""
    r = _rng(seed, "embeddings")
    centres = r.normal(size=(10, EMBED_DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = r.integers(0, 10, n).astype("int32")
    x = 0.07 * centres[labels] + r.normal(size=(n, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": labels,
    })


def write_catalog(out_dir: str, seed: int, sf: float, tables=TABLES) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for each of ``tables``;
    returns the row count of each."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in catalog_tables(seed, sf).items():
        if name not in tables:
            continue
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
