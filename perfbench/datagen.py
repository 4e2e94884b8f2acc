"""Seeded generator for the benchmark's TPC-H-ish tables.

The shapes mirror the engine's test fixtures (FIXTURES.md F2): the same
column names, types and value domains, so every catalog query and every
warehouse transformation runs unchanged on the output.  Row counts scale
with ``sf`` like TPC-H (sf=1 -> 1.5M orders); the same ``(seed, sf)``
always yields byte-identical tables.

Planted properties the workloads rely on:
- ``lineitem`` draws ``l_linenumber`` independently per row, so
  ``(l_orderkey, l_linenumber)`` is NOT unique -- exactly like the fixture
  data, which is why the warehouse declares no key on it;
- about 5% of ``documents`` are an earlier document plus a ``dup`` suffix,
  so the dedup queries find near-duplicates;
- ``embeddings`` cluster around one centre per label.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SOURCE_TABLES = ("customer", "orders", "lineitem")
ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "red", "green", "small", "large", "steel", "bright", "dark"]
_NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "pipe", "spring", "valve"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
_VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_DIM = 64


def _counts(sf: float) -> dict:
    def n(base: float, floor: int) -> int:
        return max(floor, int(round(base * sf)))

    return {
        "customer": n(150_000, 20),
        "supplier": n(10_000, 5),
        "part": n(200_000, 20),
        "orders": n(1_500_000, 100),
        "events": n(1_000_000, 100),
        "users": n(15_000, 5),
        "documents": n(50_000, 500),
        "embeddings": n(20_000, 500),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _pick(rng, values, n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def generate(seed: int, sf: float) -> dict:
    """Return ``{table: pyarrow.Table}`` for every table in ALL_TABLES."""
    rng = np.random.default_rng(seed)
    c = _counts(sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc = c["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    ns = c["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = c["part"]
    keys = np.arange(npart, dtype=np.int64)
    names = [f"{a} {b}" for a in _COLORS for b in _NOUNS]
    out["part"] = pa.table({
        "p_partkey": keys,
        "p_name": _pick(rng, names, npart),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, _TYPES, npart),
        "p_size": rng.integers(1, 51, npart, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    no = c["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no, dtype=np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    nl = 4 * no
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl, dtype=np.int64),
        "l_partkey": rng.integers(0, npart, nl, dtype=np.int64),
        "l_suppkey": rng.integers(0, ns, nl, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, nl, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, nl),
        "l_discount": _money(rng, 0.0, 0.10, nl),
        "l_tax": _money(rng, 0.0, 0.08, nl),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = c["events"]
    start = np.datetime64("2024-01-01", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, ne))
    out["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(start + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, c["users"], ne, dtype=np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    out["documents"] = _documents(rng, c["documents"])
    out["embeddings"] = _embeddings(rng, c["embeddings"])
    return out


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(len(_VOCAB), int(rng.integers(10, 100)))
            texts.append(" ".join(_VOCAB[w] for w in words))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n, dtype=np.int32)
    centres = rng.normal(0.0, 1.0, (10, _DIM))
    vecs = centres[labels] + rng.normal(0.0, 0.8, (n, _DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * _DIM + 1, _DIM, dtype=np.int32)), flat
        ),
        "label": labels,
    })


def write_parquet(tables: dict, out_dir: str) -> None:
    """One ``<name>.parquet`` per table: the layout ``workload.t`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

