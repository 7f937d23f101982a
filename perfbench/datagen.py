"""Seeded generator for the engine's input tables.

Writes the ten parquet tables the queries read (``region`` ... ``embeddings``)
with the schema, sizes and value ranges of the TPC-H-like test tables
the engine is developed against: independent uniform columns, a 30-word
vocabulary for document text, 5 % planted near-duplicate documents (an
earlier text plus `` dup``), a few exact copies, and unit-norm 64-d
embeddings.  The same ``(seed, sf)`` always gives byte-identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

VOCAB = (
    "a the spark window merge table column vector stream value data small"
    " join filter big group hash customer sort order slow line part fast row"
    " agg key query scan batch"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
SEGMENTS = ("MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
P_TYPES = ("MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY")
P_ADJ = ("small", "red", "blue", "hot", "cold", "new", "old", "large")
P_NOUN = ("ring", "widget", "bolt", "gizmo", "rod", "plate", "gear", "anvil")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def sizes(sf: float) -> dict[str, int]:
    """Row counts at scale factor ``sf`` (documents/embeddings floor at 500)."""
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _days(rng, start, span_days: int, n: int) -> np.ndarray:
    return start + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _documents(rng, n: int) -> pa.Table:
    words = np.asarray(VOCAB, dtype=object)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # 5 % near-duplicates and 0.2 % exact copies of other documents, so
    # the dedup, similarity and curation operators have real work.
    picked = rng.permutation(n)
    near, exact = picked[: n // 20], picked[n // 20 : n // 20 + n // 500]
    originals = picked[n // 20 + n // 500 :]
    for i in near:
        texts[i] = texts[rng.choice(originals)] + " dup"
    for i in exact:
        texts[i] = texts[rng.choice(originals)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBED_DIM + 1, EMBED_DIM), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; one RNG stream per table."""
    n = sizes(sf)
    rngs = dict(zip(TABLES, (np.random.default_rng(s) for s in np.random.SeedSequence(seed).spawn(len(TABLES)))))
    i32 = pa.int32()
    r = rngs["customer"]
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(r.integers(0, 25, n["customer"]), i32),
            "c_acctbal": _money(r, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": _pick(r, SEGMENTS, n["customer"]),
        }
    )
    r = rngs["supplier"]
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(r.integers(0, 25, n["supplier"]), i32),
            "s_acctbal": _money(r, -999.99, 9999.99, n["supplier"]),
        }
    )
    r = rngs["part"]
    keys = np.arange(n["part"])
    part = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(
                [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in r.integers(0, 8, (n["part"], 2))],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n["part"])], pa.string()),
            "p_type": _pick(r, P_TYPES, n["part"]),
            "p_size": pa.array(r.integers(1, 51, n["part"]), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    r = rngs["orders"]
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n["customer"], n["orders"]), pa.int64()),
            "o_orderstatus": _pick(r, ("P", "O", "F"), n["orders"]),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n["orders"]),
            "o_orderdate": pa.array(_days(r, _EPOCH_1995, 2400, n["orders"]), pa.timestamp("us")),
            "o_orderpriority": _pick(r, PRIORITIES, n["orders"]),
        }
    )
    r = rngs["lineitem"]
    m = n["lineitem"]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n["orders"], m), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n["part"], m), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n["supplier"], m), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, m), i32),
            "l_quantity": r.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": _money(r, 900.0, 105_000.0, m),
            "l_discount": r.integers(0, 11, m) / 100.0,
            "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": _pick(r, ("A", "N", "R"), m),
            "l_linestatus": _pick(r, ("O", "F"), m),
            "l_shipdate": pa.array(
                _days(r, _EPOCH_1995 + np.timedelta64(1, "D"), 2500, m), pa.timestamp("us")
            ),
        }
    )
    r = rngs["events"]
    m = n["events"]
    offsets = np.sort(r.integers(0, 30 * _US_PER_DAY, m))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(m), pa.int64()),
            "ts": pa.array(_EPOCH_2024 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n["users"], m), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, m),
            "value": np.maximum(np.round(r.exponential(50.0, m), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, m)], pa.string()),
        }
    )
    return {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, pa.string())}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": _documents(rngs["documents"], n["documents"]),
        "embeddings": _embeddings(rngs["embeddings"], n["embeddings"]),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``{out_dir}/{table}.parquet`` for every table; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in build_tables(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
