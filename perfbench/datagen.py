"""Deterministic input tables for the benchmark.

The tables mirror the fixture schema the engine is built for
(`plans.schema.tpch_like_schema`): independent uniform columns with the
same domains, key ranges and row counts per scale factor, plus a
document corpus with exact and near duplicates so the dedup operators
have pairs to find. They are generated from a fixed seed, so every run
of every workload sees the same data; the run's ``--seed`` drives only
the query, delta and split streams built on top of them (streams.py).

Files are written once per checkout under ``perfbench/_work/data`` and
reused; a checksum of the generator's own source keys the cache, so an
edit to this file regenerates the data instead of reading stale files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240901
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
# rows per table at scale factor 1; documents/embeddings do not scale
# past their caps (the fixture holds 5,000 / 2,000 at sf0.1)
_ROWS_SF1 = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 50_000,
}
_CAPS = {"documents": 5_000, "embeddings": 2_000}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["red", "blue", "hot", "old", "large", "small", "green", "cold"]
_NOUN = ["plate", "widget", "ring", "rod", "bolt", "anvil", "gear", "pipe"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_WORDS = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()


def _rows(table: str, sf: float) -> int:
    n = max(1, int(round(_ROWS_SF1[table] * sf)))
    return min(n, _CAPS.get(table, n))


def _days(rng, n, start: dt.date, span_days: int) -> np.ndarray:
    base = np.datetime64(start.isoformat(), "us")
    return base + (rng.integers(0, span_days, n) * 86_400_000_000).astype("timedelta64[us]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    """Random-word documents of 10-100 words. About 6% are near
    duplicates of an earlier document (one word changed or a suffix
    added, Jaccard well above 0.8) and 2% are exact copies up to case,
    so pair finding, clustering and exact dedup all have work."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            if rng.random() < 0.5 and len(words) > 20:
                words[int(rng.integers(0, len(words)))] = str(rng.choice(_WORDS))
            else:
                words.append("dup")
            texts.append(" ".join(words))
        elif i >= 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))].upper())
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([DATA_SEED, int(sf * 1000)])
    n = {t: _rows(t, sf) for t in _ROWS_SF1}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25, dtype=np.int32) // 5,
    })
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": np.arange(k, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "c_acctbal": _money(rng, k, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, k),
    })
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(k, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": rng.integers(0, 25, k).astype(np.int32),
        "s_acctbal": _money(rng, k, -999.99, 9999.99),
    })
    k = n["part"]
    out["part"] = pa.table({
        "p_partkey": np.arange(k, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, k), rng.choice(_NOUN, k))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, k)],
        "p_type": rng.choice(_PTYPES, k),
        "p_size": rng.integers(1, 51, k).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, k) / 10, 2),
    })
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": np.arange(k, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], k).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], k),
        "o_totalprice": _money(rng, k, 1000.0, 500000.0),
        "o_orderdate": _days(rng, k, dt.date(1995, 1, 1), 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, k),
    })
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], k).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, k).astype(np.int32),
        "l_quantity": rng.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(rng, k, 900.0, 105000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, k), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, k), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], k),
        "l_linestatus": rng.choice(["F", "O"], k),
        "l_shipdate": _days(rng, k, dt.date(1995, 1, 2), 2500),
    })
    k = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    out["events"] = pa.table({
        "event_id": np.arange(k, dtype=np.int64),
        "ts": ts0 + rng.integers(0, 30 * 86_400_000_000, k).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(150, k // 66), k).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, k),
        "value": _money(rng, k, 0.01, 490.0),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
    })
    out["documents"] = _documents(rng, n["documents"])
    k = n["embeddings"]
    out["embeddings"] = pa.table({
        "vec_id": np.arange(k, dtype=np.int64),
        "embedding": list(rng.standard_normal((k, 64)).astype(np.float32)),
        "label": rng.integers(0, 10, k).astype(np.int32),
    })
    return out


def _generator_digest() -> str:
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def ensure_tables(work_dir: str, sf: float) -> str:
    """Return the directory holding the parquet tables at ``sf``,
    generating them first if this checkout has none yet."""
    target = os.path.join(work_dir, "data", f"sf{sf:g}-{_generator_digest()}")
    if os.path.isdir(target):
        return target
    tmp = f"{target}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    try:
        os.rename(tmp, target)
    except OSError:  # another run generated the same tables first
        shutil.rmtree(tmp, ignore_errors=True)
    return target


def fingerprints(sf_dir: str) -> dict[str, str]:
    """sha256 prefix of every parquet file, so an artifact names the
    exact bytes it measured."""
    out = {}
    for name in TABLES:
        with open(os.path.join(sf_dir, f"{name}.parquet"), "rb") as f:
            out[name] = hashlib.sha256(f.read()).hexdigest()[:16]
    return out
