"""Seeded synthetic corpus for the benchmark.

The tables have the names, column types and value distributions of the
engine's TPC-H-ish test corpus (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings), so every
registry query the benchmark runs finds the shapes it expects. The
corpus is generated from a fixed seed: the benchmark's stored output
fingerprints (``expected.json``) are only meaningful on fixed data, and
``--seed`` varies the query order instead.

Two layouts:

- ``base``: one parquet file per table at scale factor ``BASE_SF``.
- ``replica(k)``: ``k`` copies of the base with shifted primary keys,
  one file per copy under ``<table>.parquet/`` (the shifted-key layout
  of ``scale_smoke.py``: foreign keys into dimension tables stay
  unshifted, so joins keep their fan-in).

Both are built once into the cache directory and reused. A build writes
into a temporary directory and renames it into place, so an interrupted
build is never mistaken for a complete one.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the generator's output changes, so cached corpora rebuild.
GENERATOR_VERSION = 1
CORPUS_SEED = 20240101
BASE_SF = 0.01
SMOKE_SF = 0.001

# table -> primary-key columns shifted per replica copy
SHIFT_KEYS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "customer": [],
    "supplier": [],
    "part": [],
    "nation": [],
    "region": [],
}

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_EMBED_DIM = 64


def _days(start: str, n: int, span_days: int, rng) -> np.ndarray:
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(_VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    x = rng.standard_normal((n, _EMBED_DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), _EMBED_DIM)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def base_tables(sf: float = BASE_SF, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """Every table of one scale factor, generated from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_orders = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_events = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = rng.choice(_PART_ADJ, n_part)
    noun = rng.choice(_PART_NOUN, n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _days("1995-01-01", n_orders, 2404, rng),
            "o_orderpriority": rng.choice(_PRIORITIES, n_orders),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _days("1995-01-02", n_line, 2498, rng),
        }
    )
    gaps = rng.exponential(30 * 86_400e6 / n_events, n_events).astype(np.int64)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, max(150, n_cust // 10), n_events), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, n_events),
            "value": np.round(rng.exponential(50.0, n_events), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def generation(corpus_dir: str) -> str:
    """Fingerprint of a corpus on disk: md5 over the sorted relative
    path and size of every parquet file (the convention of
    ``bench._testdata_generation``, extended to multi-file tables)."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(corpus_dir):
        dirs.sort()
        for name in sorted(files):
            if name.endswith(".parquet"):
                p = os.path.join(root, name)
                h.update(f"{os.path.relpath(p, corpus_dir)}:{os.path.getsize(p)};".encode())
    return h.hexdigest()[:16]


_MARKER = "_corpus.json"


def _read_marker(path: str) -> dict | None:
    try:
        with open(os.path.join(path, _MARKER)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def _fresh_tmp(dst: str) -> str:
    tmp = f"{dst}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def _publish(tmp: str, dst: str, marker: dict) -> dict:
    marker = dict(marker, generation=generation(tmp))
    with open(os.path.join(tmp, _MARKER), "w") as fh:
        json.dump(marker, fh)
    shutil.rmtree(dst, ignore_errors=True)
    os.rename(tmp, dst)
    return dict(marker, built=True)


def ensure_base(cache_dir: str, sf: float = BASE_SF) -> tuple[str, dict]:
    """Path and marker of the cached base corpus at scale ``sf``,
    building it if absent or made by another generator version. The
    marker carries ``built: True`` when this call built it."""
    dst = os.path.join(cache_dir, f"base-sf{sf}")
    want = {"generator": GENERATOR_VERSION, "seed": CORPUS_SEED, "sf": sf}
    marker = _read_marker(dst)
    if marker and all(marker.get(k) == v for k, v in want.items()):
        return dst, marker
    tmp = _fresh_tmp(dst)
    for name, table in base_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    return dst, _publish(tmp, dst, want)


def ensure_replica(cache_dir: str, copies: int, sf: float = BASE_SF) -> tuple[str, dict]:
    """Path and marker of the ``copies``× replica of the base corpus,
    rebuilt when the base generation it was made from is stale."""
    base_dir, base_marker = ensure_base(cache_dir, sf)
    dst = os.path.join(cache_dir, f"sf{sf}-x{copies}")
    want = {"copies": copies, "base_generation": base_marker["generation"]}
    marker = _read_marker(dst)
    if marker and all(marker.get(k) == v for k, v in want.items()):
        return dst, dict(marker, built=base_marker.get("built", False))
    tmp = _fresh_tmp(dst)
    for name, keys in SHIFT_KEYS.items():
        table = pq.read_table(os.path.join(base_dir, f"{name}.parquet"))
        if not keys:
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
            continue
        out = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(out)
        offsets = {k: int(pc.max(table[k]).as_py()) + 1 for k in keys}
        for c in range(copies):
            cp = table
            for k in keys:
                shifted = pc.add(table[k], c * offsets[k])
                cp = cp.set_column(cp.schema.get_field_index(k), k, shifted)
            pq.write_table(cp, os.path.join(out, f"part-{c:05d}.parquet"))
    return dst, _publish(tmp, dst, want)
