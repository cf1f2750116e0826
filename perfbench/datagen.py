"""Seeded fixture tables for the benchmark.

Writes the ten tables the engine's fixture loader knows
(``nutdb_spark.sources.tables.TABLES``) as one parquet file each, with
the column names and types of the repository's fixture schema
(FIXTURES.md) and value domains chosen so the suite statements the
benchmark runs select, join and group non-trivially:

- TPC-H-like keys with referential integrity (every ``l_orderkey`` is an
  order, every ``o_custkey`` a customer);
- ``documents.text`` drawn from a 30-word vocabulary, with a share of
  near-duplicate and exact-duplicate texts so the dedup operators find
  pairs;
- unit-norm 64-dim ``embeddings`` clustered around one centroid per label.

The same ``(scale, seed)`` always gives byte-identical tables: every
column comes from one ``numpy.random.Generator`` in a fixed order.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "black", "white", "small", "large",
          "shiny", "steel", "brass", "copper", "plain", "polished"]
NOUNS = ["anvil", "bolt", "gear", "ring", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    codes = rng.choice(len(values), size=n, p=p).astype(np.int32)
    return pa.DictionaryArray.from_arrays(codes, pa.array(values)).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i >= 20 and roll < 0.06:
            # near-duplicate: an earlier text with a few words replaced
            base = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(base), max(1, len(base) // 25)):
                base[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(base))
        elif i >= 20 and roll < 0.075:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            idx = rng.integers(0, len(WORDS), int(n_words[i]))
            texts.append(" ".join(WORDS[j] for j in idx))
    text = pa.array(texts, pa.string())
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def tables(scale: float, seed: int) -> dict[str, pa.Table]:
    """All fixture tables at ``scale`` (1.0 ≈ 6M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(100, int(150_000 * scale))
    n_supp = max(20, int(10_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_ord = max(1000, int(1_500_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(150, int(15_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_vec = max(500, int(20_000 * scale))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1)),
    })
    odate = _EPOCH_1995 + rng.integers(0, 2404, n_ord) * _DAY_US
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array((np.arange(n_li) - starts + 1).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY_US),
    })
    ts = np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


MANIFEST = "row_counts.json"


def build(dest: str, scale: float, seed: int) -> None:
    """Write the tables under ``dest`` unless a complete copy is there,
    with the row count of each in ``row_counts.json``.

    The tables are written to a sibling staging directory and renamed
    into place, so an interrupted build never leaves a partial ``dest``."""
    if os.path.isdir(dest):
        return
    stage = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    counts = {}
    for name, table in tables(scale, seed).items():
        pq.write_table(table, os.path.join(stage, f"{name}.parquet"))
        counts[name] = table.num_rows
    with open(os.path.join(stage, MANIFEST), "w") as f:
        json.dump(counts, f)
    os.replace(stage, dest)


def verify(path: str) -> None:
    """Raise unless every table under ``path`` has the row count it was
    built with."""
    with open(os.path.join(path, MANIFEST)) as f:
        expected = json.load(f)
    found = {
        name: pq.ParquetFile(os.path.join(path, f"{name}.parquet")).metadata.num_rows
        for name in expected
    }
    if found != expected:
        raise ValueError(f"{path}: row counts {found}, expected {expected}")
