"""Deterministic synthetic fixture for the benchmark.

Writes the ten tables the engine's queries read (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) with the schemas and value distributions of the repository's
test fixtures. ``sf`` scales every table except the fixed dimensions
(region, nation): ``sf=0.1`` gives 600,000 lineitem rows, ``sf=1`` gives
6,000,000.

Text and near-duplicate structure follow the test corpus: documents are
10-100 words drawn from one 30-word vocabulary, and about 5% of them are
another document's text plus the word ``dup``. The near-duplicate
families and the shared vocabulary are what the dedup and graph
operators converge over.

The generator seed is fixed, so every benchmark run reads the same bytes;
the workload seed only orders operations and draws script parameters.
"""

from __future__ import annotations

import datetime as dt
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated bytes change, so cached fixtures are rebuilt
VERSION = 1
DATA_SEED = 20240101

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PART_ADJ = ["large", "hot", "blue", "cold", "red", "small", "new", "old"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "gizmo"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]

#: rows per table at sf=0.1
BASE_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "event_users": 1_500,
    "documents": 5_000,
    "embeddings": 2_000,
}
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def rows_at(sf: float) -> dict[str, int]:
    return {k: max(1, round(n * sf / 0.1)) for k, n in BASE_ROWS.items()}


def expected_rows(sf: float) -> dict[str, int]:
    """Row count of every table at ``sf``."""
    n = rows_at(sf)
    return {"region": 5, "nation": 25, **{t: n[t] for t in TABLES if t in n}}


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, start: dt.date, span: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]")
    return pa.array((base + offs).astype("datetime64[us]"))


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]
    dup = np.flatnonzero(rng.random(n) < 0.05)
    originals = rng.integers(0, n, dup.size)
    for d, o in zip(dup, originals):
        if d != o:
            texts[d] = texts[o] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), 64)
            .cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def tables(sf: float) -> dict[str, pa.Table]:
    """Build every table in memory; deterministic for a given ``sf``."""
    n = rows_at(sf)
    rng = np.random.default_rng(DATA_SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _names("Customer", nc),
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _names("Supplier", ns),
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype=np.int64)
    adj = rng.integers(0, len(PART_ADJ), npart)
    noun = rng.integers(0, len(PART_NOUN), npart)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": pa.array(
                [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], no),
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), 2404, no),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), 2498, nl),
        }
    )
    ne = n["events"]
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": np.arange(ne, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": rng.integers(0, n["event_users"], ne).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def ensure(root: Path, sf: float) -> Path:
    """Return the fixture directory for ``sf`` under ``root``, generating it
    on first use. A manifest of row counts marks a complete fixture; it is
    written last, and on every call it and the files are checked against
    the row counts ``sf`` calls for."""
    d = root / f"sf{sf:g}-v{VERSION}"
    manifest = d / "_rows.json"
    expected = expected_rows(sf)
    if manifest.exists() and json.loads(manifest.read_text()) == expected:
        if all(
            pq.ParquetFile(d / f"{t}.parquet").metadata.num_rows == n
            for t, n in expected.items()
        ):
            return d
    d.mkdir(parents=True, exist_ok=True)
    rows = {}
    for name, table in tables(sf).items():
        pq.write_table(table, d / f"{name}.parquet")
        rows[name] = table.num_rows
    if rows != expected:
        raise RuntimeError(f"generated row counts {rows} differ from {expected}")
    manifest.write_text(json.dumps(rows, indent=1, sort_keys=True))
    return d
