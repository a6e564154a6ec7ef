"""Deterministic synthetic fixture tables for the benchmark.

The engine's declared queries read ten parquet tables (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``). This
module writes them from a fixed data seed at a given scale factor, one
parquet file per table, with the column names, physical types and value
domains the queries rely on:

- dims ``region``/``nation`` are fixed (5/25 rows at every scale);
- facts scale linearly with ``sf`` (``lineitem`` = 6M x sf rows);
- ``documents`` has a 30-word vocabulary and 5% near-duplicates (an
  earlier doc's text plus `` dup``), ``embeddings`` are random unit
  vectors of width 64 with labels 0-9.

Money-like doubles carry two decimals so the suites' decimal-rounded
sums stay exact. Nothing here depends on the workload seed: the data is
the same for every run, and a fixture directory is written once and
reused (validated by per-table row counts and the generator's version).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMB_DIM = 64


def row_counts(sf: float) -> dict[str, int]:
    """Expected rows per table: fixed dims, facts linear in ``sf``; the
    corpus tables keep a 500-row floor so small scales still have
    near-duplicates and every label."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n).astype("datetime64[D]").astype("datetime64[us]")
    return pa.array(d, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng, choices: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, type=pa.int32()), pa.array(choices)
    ).dictionary_decode()


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), EMB_DIM).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(sf: float, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf``; each table draws from its own
    child generator so one table's size never shifts another's values."""
    n = row_counts(sf)
    rngs = dict(zip(TABLES, np.random.default_rng(seed).spawn(len(TABLES))))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(REGIONS),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
    }
    r, k = rngs["customer"], n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), i64),
        "c_name": pa.array(_names("Customer", k)),
        "c_nationkey": pa.array(r.integers(0, 25, k), i32),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": _pick(r, SEGMENTS, k),
    })
    r, k = rngs["supplier"], n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), i64),
        "s_name": pa.array(_names("Supplier", k)),
        "s_nationkey": pa.array(r.integers(0, 25, k), i32),
        "s_acctbal": _money(r, -999.99, 9999.99, k),
    })
    r, k = rngs["part"], n["part"]
    pnames = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), i64),
        "p_name": _pick(r, pnames, k),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], k),
        "p_type": _pick(r, PART_TYPES, k),
        "p_size": pa.array(r.integers(1, 51, k), i32),
        "p_retailprice": np.round(900.0 + (np.arange(k) % 1000) / 10.0, 1),
    })
    r, k = rngs["orders"], n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), i64),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), i64),
        "o_orderstatus": _pick(r, ["F", "O", "P"], k),
        "o_totalprice": _money(r, 1000.0, 500_000.0, k),
        "o_orderdate": _days(r, "1995-01-01", "2001-08-01", k),
        "o_orderpriority": _pick(r, PRIORITIES, k),
    })
    r, k = rngs["lineitem"], n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(r.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(r.integers(1, 8, k), i32),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105_000.0, k),
        "l_discount": _money(r, 0.0, 0.1, k),
        "l_tax": _money(r, 0.0, 0.08, k),
        "l_returnflag": _pick(r, ["A", "N", "R"], k),
        "l_linestatus": _pick(r, ["F", "O"], k),
        "l_shipdate": _days(r, "1995-01-02", "2001-11-04", k),
    })
    r, k = rngs["events"], n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, k)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, max(1, int(15_000 * sf)), k), i64),
        "event_type": _pick(r, EVENT_TYPES, k),
        "value": np.round(r.exponential(50.0, k), 2),
        "props": pa.array([f'{{"k": {v}}}' for v in r.integers(0, 100, k)]),
    })
    out["documents"] = _documents(rngs["documents"], n["documents"])
    out["embeddings"] = _embeddings(rngs["embeddings"], n["embeddings"])
    return out


def _generator_id() -> str:
    """Changes whenever this generator's code does, so a stale fixture
    (and the oracle results cached beside it) is rebuilt."""
    with open(__file__, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()[:16]


def valid(path: str, sf: float) -> bool:
    try:
        with open(os.path.join(path, "_MANIFEST.json")) as fh:
            manifest = json.load(fh)
    except (OSError, ValueError):
        return False
    want = row_counts(sf)
    if manifest.get("rows") != want or manifest.get("generator") != _generator_id():
        return False
    return all(
        pq.read_metadata(os.path.join(path, f"{t}.parquet")).num_rows == want[t]
        for t in TABLES
    )


def path_for(root: str, sf: float) -> str:
    return os.path.join(root, f"sf{sf:g}")


def ensure(root: str, sf: float) -> tuple[str, float]:
    """Fixture directory for ``sf`` under ``root``, written if missing or
    invalid. Returns ``(path, seconds spent writing)``; 0.0 on a hit."""
    path = path_for(root, sf)
    if valid(path, sf):
        return path, 0.0
    t0 = time.perf_counter()
    stage = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    tables = build_tables(sf)
    for name, tbl in tables.items():
        # one file per table (the streaming suites link `<t>.parquet` as a
        # file), with row groups small enough that scans still split
        pq.write_table(tbl, os.path.join(stage, f"{name}.parquet"),
                       row_group_size=1 << 20, compression="snappy")
    with open(os.path.join(stage, "_MANIFEST.json"), "w") as fh:
        json.dump({"sf": sf, "seed": DATA_SEED, "generator": _generator_id(),
                   "rows": {t: tables[t].num_rows for t in TABLES}}, fh)
    shutil.rmtree(path, ignore_errors=True)
    os.replace(stage, path)
    if not valid(path, sf):
        raise RuntimeError(f"fixture at {path} failed its row-count check")
    return path, time.perf_counter() - t0
