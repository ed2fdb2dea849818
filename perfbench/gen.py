"""Seeded input generator for the benchmark.

Synthesizes one sf0.1-shaped base copy of the TPC-H-like star schema
plus the curation tables (``documents``, ``embeddings``) from the seed,
then replicates it ``copies`` times the way ``tools/gen_scaled.py``
replicates the shared testdata:

- every PK/FK column is offset by ``copy * OFF``, so joins behave like
  independent instances over the same dimension tables;
- document text in copy ``i > 0`` has every token suffixed ``c<i>``, so
  each copy carries its own vocabulary and near-dup candidate counts
  grow linearly, not quadratically;
- embeddings in copy ``i > 0`` get a seeded Gaussian perturbation of
  ~7% relative magnitude, so vector copies are not exact clones.

``nation`` is reference data and is written once. Files are cached
under ``<cache_root>/s<seed>_x<scale>/``; the same seed and scale
always give byte-identical tables.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFF = 10_000_000  # per-copy key stride, larger than any base key

# Base-copy row counts (the sf0.1 shape).
BASE_ROWS = {
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EMB_DIM = 64
KEEP_CACHED = 3  # newest generated sets kept on disk


def _ts(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    day = np.timedelta64(86_400_000_000, "us")
    return pa.array(base + rng.integers(0, days, n) * day, type=pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _base(seed: int, fraction: float) -> dict[str, pa.Table]:
    """One sf0.1-shaped copy shrunk to ``fraction`` of its rows (nation
    keeps all 25), every column drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    r = {t: n if t == "nation" else max(1, round(n * fraction)) for t, n in BASE_ROWS.items()}
    out: dict[str, pa.Table] = {}
    nk = np.arange(r["nation"], dtype=np.int32)
    out["nation"] = pa.table({
        "n_nationkey": nk,
        "n_name": [f"NATION_{k}" for k in nk],
        "n_regionkey": (nk % 5).astype(np.int32),
    })
    ck = np.arange(r["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, r["nation"], ck.size).astype(np.int32),
        "c_acctbal": _money(rng, ck.size, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, ck.size)],
    })
    sk = np.arange(r["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, r["nation"], sk.size).astype(np.int32),
        "s_acctbal": _money(rng, sk.size, -999.99, 9999.99),
    })
    ok = np.arange(r["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, r["customer"], ok.size).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, ok.size)],
        "o_totalprice": _money(rng, ok.size, 1000.0, 500_000.0),
        "o_orderdate": _ts(rng, ok.size, "1995-01-01", 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ok.size)],
    })
    n = r["lineitem"]
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, r["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, max(1, round(20_000 * fraction)), n).astype(np.int64),
        "l_suppkey": rng.integers(0, r["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(rng, n, "1995-01-02", 2498),
    })
    nd = r["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in rng.integers(10, 100, nd)]
    # 5% near-duplicates: another document's text plus a marker token.
    for d in rng.choice(nd, nd // 20, replace=False):
        texts[d] = texts[int(rng.integers(0, nd))] + " dup"
    did = np.arange(nd, dtype=np.int64)
    out["documents"] = pa.table({
        "doc_id": did,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), nd, p=LANG_P)],
        "source": [f"src{k % 20}" for k in did],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    ne = r["embeddings"]
    v = rng.normal(0.0, 1.0, (ne, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    out["embeddings"] = _emb_table(
        np.arange(ne, dtype=np.int64), v.astype(np.float32),
        rng.integers(0, 10, ne).astype(np.int32),
    )
    return out


def _emb_table(vec_id: np.ndarray, emb: np.ndarray, label: np.ndarray) -> pa.Table:
    flat = pa.array(emb.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, emb.size + 1, emb.shape[1], dtype=np.int32))
    return pa.table({
        "vec_id": vec_id,
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": label,
    })


KEY_COLS: dict[str, tuple[str, ...]] = {
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "orders": ("o_orderkey", "o_custkey"),
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def _copy(table: str, t: pa.Table, i: int, seed: int) -> pa.Table:
    """Copy ``i`` of a base table: keys offset, vocabulary or vectors
    made copy-specific."""
    if i == 0:
        return t
    cols = {}
    for name in t.column_names:
        col = t.column(name)
        if name in KEY_COLS.get(table, ()):
            col = pa.array(col.to_numpy() + i * OFF, type=pa.int64())
        elif table == "documents" and name == "text":
            col = pa.array([" ".join(f"{w}c{i}" for w in s.split(" ")) for s in col.to_pylist()])
        elif table == "documents" and name == "n_chars":
            continue  # recomputed from the suffixed text below
        cols[name] = col
    if table == "documents":
        cols["n_chars"] = pa.array([len(s) for s in cols["text"].to_pylist()], type=pa.int64())
        return pa.table(cols).select(t.column_names)
    if table == "embeddings":
        emb = np.asarray(t.column("embedding").combine_chunks().values).reshape(t.num_rows, EMB_DIM)
        rng = np.random.default_rng([seed, i])
        scale = 0.07 * float(np.linalg.norm(emb.astype(np.float64), axis=1).mean())
        moved = (emb + rng.normal(0.0, scale, emb.shape)).astype(np.float32)
        return _emb_table(cols["vec_id"].to_numpy(), moved, t.column("label").to_numpy())
    return pa.table(cols)


def generate(cache_root: str, seed: int, scale: float, tables: tuple[str, ...]) -> tuple[str, float, dict[str, int]]:
    """Write ``tables`` at ``scale`` times the sf0.1 shape for ``seed``
    under ``cache_root`` unless already cached. A scale of 1 or more is
    ``int(scale)`` replicated copies; below 1 it is one shrunk copy.
    Returns (directory, generation seconds, row counts)."""
    copies, fraction = max(1, int(scale)), min(1.0, scale)
    out_dir = os.path.join(cache_root, f"s{seed}_x{scale:g}")
    done = os.path.join(out_dir, "_DONE")
    t0 = time.perf_counter()
    missing = [t for t in tables if not os.path.exists(os.path.join(out_dir, f"{t}.parquet"))]
    if missing or not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        base = _base(seed, fraction)
        for t in missing:
            n = 1 if t == "nation" else copies
            pq.write_table(
                pa.concat_tables([_copy(t, base[t], i, seed) for i in range(n)]),
                os.path.join(out_dir, f"{t}.parquet"),
            )
        with open(done, "w"):
            pass
    os.utime(done)
    _prune(cache_root)
    rows = {t: pq.ParquetFile(os.path.join(out_dir, f"{t}.parquet")).metadata.num_rows for t in tables}
    return out_dir, time.perf_counter() - t0, rows


def _prune(cache_root: str) -> None:
    sets = [os.path.join(cache_root, d) for d in os.listdir(cache_root)]
    sets = [d for d in sets if os.path.exists(os.path.join(d, "_DONE"))]
    sets.sort(key=lambda d: os.path.getmtime(os.path.join(d, "_DONE")), reverse=True)
    for d in sets[KEEP_CACHED:]:
        shutil.rmtree(d, ignore_errors=True)
