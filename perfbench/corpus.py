"""Seeded generator for fixture-shaped corpora.

Writes the ten tables the operators read (`region nation customer
supplier part orders lineitem events documents embeddings`), one
parquet file each, with the schemas and value domains listed in
FIXTURES.md: money columns carry two decimals, dates are NTZ
timestamp[us], `events.props` is `{"k": <int>}` JSON, 5% of documents
are an earlier document plus the token `dup`, and embeddings are
64-dim unit vectors clustered by label. Row counts follow the fixture
table for the scale factor.

The corpus is a function of (scale factor, seed) and of this file: the
cache stamp includes a hash of this source, so editing the generator
regenerates every cached corpus.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "es", "fr", "de", "zh")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DIM = 64


def _rows(sf: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(d, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, values, n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base if base.endswith(" dup") else base + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_pick(rng, _VOCAB, k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, _DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    v = 0.15 * centers[label] + rng.normal(scale=1 / np.sqrt(_DIM), size=(n, _DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label,
    })


def generate(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten tables for scale factor `sf` under `out_dir`."""
    rng = np.random.default_rng(seed)
    n = _rows(sf)
    users = max(15, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc, ns, npart = n["customer"], n["supplier"], n["part"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": _names("Customer", nc),
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": _pick(rng, _SEGMENTS, nc),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": _names("Supplier", ns),
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    pk = np.arange(npart, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _ADJ, npart), _pick(rng, _NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": _pick(rng, _PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": _pick(rng, _PRIORITIES, no),
    })
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
        "l_linestatus": _pick(rng, ("F", "O"), nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl),
    })
    ne = n["events"]
    t0 = np.datetime64(datetime(2024, 1, 1), "us").astype(np.int64)
    span = 30 * 86_400_000_000
    ts = np.sort(t0 + rng.integers(1_000_000, span - 1_000_000, ne))
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, users, ne).astype(np.int64),
        "event_type": _pick(rng, _EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(t[name], os.path.join(out_dir, f"{name}.parquet"))


def _stamp(sf: float, seed: int) -> dict:
    with open(__file__, "rb") as fh:
        src = hashlib.sha256(fh.read()).hexdigest()[:16]
    return {"sf": sf, "seed": seed, "generator": src}


def ensure(out_dir: str, sf: float, seed: int) -> str:
    """Generate the corpus into `out_dir` unless a matching stamp says
    it is already there; returns `out_dir`."""
    stamp_path = out_dir.rstrip("/") + ".stamp.json"
    want = _stamp(sf, seed)
    try:
        with open(stamp_path) as fh:
            if json.load(fh) == want and all(
                os.path.isfile(os.path.join(out_dir, f"{t}.parquet")) for t in TABLES
            ):
                return out_dir
    except (OSError, ValueError):
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    generate(out_dir, sf, seed)
    with open(stamp_path, "w") as fh:
        json.dump(want, fh)
    return out_dir
