"""Seeded input generator for the benchmark.

Writes the ten tables of ``hdfs_mr_spark.io.TABLES`` into one directory,
in the layout of the reference testdata: one snappy parquet file per
table, one row group per file, the same column names and arrow types
(timestamps are ``timestamp[us]``, as in the testdata files), and the same
value domains. The TPC-H-like dimension and fact tables have uniform
foreign keys, as in the testdata. The other three tables take the shapes
of the stress tools:

- ``documents`` draws its tokens from a Zipf vocabulary of ``vocab``
  types, with injected near-duplicates and per-source boilerplate
  (``tools/zipf_stress.py``);
- ``embeddings`` are 64-dimensional unit vectors drawn around
  ``CLUSTERS`` random centres;
- ``events.user_id`` is Zipf-skewed over ``users`` users and the
  timestamps have exponential gaps (``tools/ts_stress.py``).

The same seed and parameters give byte-identical files. Each seed and
parameter set gets its own directory name, and an existing directory is
never rewritten: the engine's fixture cache is keyed on the directory name
plus file size and mtime, so rewriting would miss that cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

DEFAULTS = {
    "sf": 0.001,        # TPC-H tables: supplier 10k*sf ... lineitem ~4/order
    "events": 1000,     # events rows
    "users": 15,        # distinct events.user_id
    "docs": 500,        # documents rows
    "vocab": 2000,      # Zipf vocabulary of the documents
}
ZIPF_S = 1.1            # exponent of the document vocabulary
USER_ZIPF = 1.3         # exponent of events.user_id
VECS = 500              # embeddings rows
CLUSTERS = 24           # centres the embeddings are drawn around

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00Z
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z
ORDER_DAYS = 2404                     # 1995-01-01 .. 2001-08-01
SHIP_DAYS = 2498                      # 1995-01-02 .. 2001-11-04


def params_for(overrides: dict | None) -> dict:
    p = dict(DEFAULTS)
    for k, v in (overrides or {}).items():
        if k not in DEFAULTS:
            raise KeyError(f"unknown generator parameter {k!r}")
        p[k] = type(DEFAULTS[k])(v)
    return p


def dir_name(seed: int, params: dict) -> str:
    """Distinct per seed and parameter set."""
    blob = json.dumps(params, sort_keys=True).encode()
    return f"gen-s{seed}-{hashlib.sha256(blob).hexdigest()[:10]}"


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _tpch(rng, sf: float) -> dict[str, pa.Table]:
    n_supp = max(1, round(10_000 * sf))
    n_cust = max(1, round(150_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = 4 * n_ord
    nk = np.arange(25, dtype=np.int32)
    t = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(nk),
            "n_name": pa.array([f"NATION_{i}" for i in nk], pa.string()),
            "n_regionkey": pa.array(nk % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJ, n_part), rng.choice(NOUN, n_part))], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PTYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(
            EPOCH_1995 + rng.integers(0, ORDER_DAYS, n_ord) * DAY_US,
            pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": pa.array(
            EPOCH_1995 + (1 + rng.integers(0, SHIP_DAYS, n_line)) * DAY_US,
            pa.timestamp("us")),
    })
    return t


def _zipf_draws(rng, n_types: int, s: float, n: int) -> np.ndarray:
    w = 1.0 / np.arange(1, n_types + 1, dtype=np.float64) ** s
    return np.searchsorted(np.cumsum(w / w.sum()), rng.random(n))


def _events(rng, p: dict) -> pa.Table:
    n = p["events"]
    gaps = rng.exponential(30 * DAY_US / n, n).astype(np.int64) + 1
    gaps[rng.random(n) < 0.02] *= 20
    ts = EPOCH_2024 + np.cumsum(gaps)
    users = _zipf_draws(rng, p["users"], USER_ZIPF, n)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users.astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(np.maximum(rng.exponential(50.0, n), 0.01), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def _documents(rng, p: dict) -> tuple[pa.Table, int]:
    n, vocab = p["docs"], p["vocab"]
    lens = rng.integers(10, 100, n)
    draws = _zipf_draws(rng, vocab, ZIPF_S, int(lens.sum()))
    words = np.array([f"w{i}" for i in range(vocab)])
    boiler = [[f"w{(s * 977 + j * 131) % vocab}" for j in range(6)]
              for s in range(20)]
    texts, pos = [], 0
    for d in range(n):
        toks = list(words[draws[pos:pos + lens[d]]])
        pos += lens[d]
        if d % 13 == 12 and d >= 7:   # near-duplicate of doc d-7
            toks = texts[d - 7].split(" ")
            for j in range(0, len(toks), 20):
                toks[j] = f"w{(d * 331 + j) % vocab}"
        if d % 5 < 2:
            toks = boiler[d % 20] + toks
        texts.append(" ".join(toks))
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    drawn = len({w for x in texts for w in x.split(" ")})
    return table, drawn


def _embeddings(rng) -> pa.Table:
    n = VECS
    centres = rng.normal(size=(CLUSTERS, 64))
    cid = rng.integers(0, CLUSTERS, n)
    v = centres[cid] + rng.normal(size=(n, 64)) * 0.15
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def _degrees(keys: np.ndarray, n_nodes: int) -> dict:
    deg = np.bincount(keys, minlength=n_nodes)
    return {"nodes": int(n_nodes), "max": int(deg.max()),
            "mean": round(float(deg.mean()), 4), "zero": int((deg == 0).sum())}


def generate(root: Path, seed: int, overrides: dict | None = None) -> Path:
    """Write the tables for ``seed`` under ``root``; return their directory.

    An existing complete directory is returned untouched."""
    p = params_for(overrides)
    out = Path(root) / dir_name(seed, p)
    if (out / "manifest.json").exists():
        return out
    rng = np.random.default_rng([seed, 0x5EED])
    tables = _tpch(rng, p["sf"])
    tables["events"] = _events(rng, p)
    tables["documents"], vocab_drawn = _documents(rng, p)
    tables["embeddings"] = _embeddings(rng)

    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    manifest = {"seed": seed, "params": p, "tables": {}}
    for name in TABLES:
        t = tables[name]
        path = tmp / f"{name}.parquet"
        pq.write_table(t, path, compression="snappy",
                       row_group_size=max(1, t.num_rows))
        manifest["tables"][name] = {"rows": t.num_rows,
                                    "bytes": path.stat().st_size}
    li = tables["lineitem"]
    manifest["vocab_drawn"] = vocab_drawn
    manifest["degrees"] = {
        "orders_lineitems": _degrees(li["l_orderkey"].to_numpy(),
                                     tables["orders"].num_rows),
        "part_lineitems": _degrees(li["l_partkey"].to_numpy(),
                                   tables["part"].num_rows),
        "supplier_lineitems": _degrees(li["l_suppkey"].to_numpy(),
                                       tables["supplier"].num_rows),
        "user_events": _degrees(tables["events"]["user_id"].to_numpy(),
                                p["users"]),
    }
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1) + "\n")
    try:
        tmp.rename(out)
    except OSError:   # a concurrent writer finished first
        shutil.rmtree(tmp, ignore_errors=True)
    return out

