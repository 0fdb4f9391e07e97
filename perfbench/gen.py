"""Seeded input generator.

Writes the ten base tables (``region`` ... ``embeddings``) as one
``<table>.parquet`` file each, the layout every registry callable and
DuckDB oracle reads. Schemas, categorical domains, the 64-d unit-norm
embeddings, the ``{"k": N}`` event props, the ``src<doc_id % 20>``
document sources, the ~5 % ``" dup"``-suffixed near-duplicate documents
and the key/foreign-key structure follow the engine's reference test
corpus; every numeric value, key draw, text and vector is drawn from the
seed. The same seed and sizes give byte-identical files.

The timestamp columns (``orders.o_orderdate``, ``lineitem.l_shipdate``,
``events.ts``) are written as parquet TIMESTAMP(NANOS), as in the
engine's reference inputs, so every scan of them takes the catalog's
nano-long to ``timestamp_ntz`` conversion. Their values stay whole
microseconds, the precision both the engine and DuckDB keep.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_US_PER_DAY = 86_400_000_000


def sizes_for_sf(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.01 = 60k lineitem);
    ``documents``/``embeddings`` keep the corpus' floors of 500 rows."""
    return {
        "customer": round(150_000 * sf),
        "supplier": max(10, round(10_000 * sf)),
        "part": round(200_000 * sf),
        "orders": round(1_500_000 * sf),
        "lineitem": round(6_000_000 * sf),
        "events": round(1_000_000 * sf),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _ts_us(days_from: dt.date, us: np.ndarray) -> pa.Array:
    """Microsecond offsets from ``days_from`` as a nanosecond timestamp."""
    base = int(
        (dt.datetime.combine(days_from, dt.time()) - dt.datetime(1970, 1, 1))
        / dt.timedelta(microseconds=1)
    )
    return pa.array((us.astype(np.int64) + base) * 1000, pa.timestamp("ns"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _pick(rng: np.random.Generator, domain: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(domain), size=n, p=p)
    return pa.array(np.asarray(domain, dtype=object)[idx], pa.string())


def build_tables(seed: int, sizes: dict[str, int]) -> dict[str, pa.Table]:
    """All ten tables for ``seed``; each table draws from its own stream
    so a size change in one table does not reshuffle the others."""

    def rng(i: int) -> np.random.Generator:
        return np.random.default_rng([seed, i])

    n_c, n_s, n_p = sizes["customer"], sizes["supplier"], sizes["part"]
    n_o, n_l, n_e = sizes["orders"], sizes["lineitem"], sizes["events"]
    n_u, n_d, n_v = sizes["users"], sizes["documents"], sizes["embeddings"]
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = rng(1)
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": pa.array(_names("Customer", n_c)),
        "c_nationkey": pa.array(r.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_c)),
        "c_mktsegment": _pick(r, SEGMENTS, n_c),
    })

    r = rng(2)
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": pa.array(_names("Supplier", n_s)),
        "s_nationkey": pa.array(r.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_s)),
    })

    r = rng(3)
    pk = np.arange(n_p)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": _pick(r, names, n_p),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_p)]),
        "p_type": _pick(r, PART_TYPES, n_p),
        "p_size": pa.array(r.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1)),
    })

    r = rng(4)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": _pick(r, ORDER_STATUS, n_o),
        "o_totalprice": pa.array(_money(r, 1000.0, 500000.0, n_o)),
        "o_orderdate": _ts_us(dt.date(1995, 1, 1), r.integers(0, 2404, n_o) * _US_PER_DAY),
        "o_orderpriority": _pick(r, PRIORITIES, n_o),
    })

    r = rng(5)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_l), pa.int32()),
        "l_quantity": pa.array(r.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105000.0, n_l)),
        "l_discount": pa.array(r.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_l) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_l),
        "l_linestatus": _pick(r, ["F", "O"], n_l),
        "l_shipdate": _ts_us(dt.date(1995, 1, 2), r.integers(0, 2499, n_l) * _US_PER_DAY),
    })

    r = rng(6)
    # arrival times over 30 days with exponential gaps; the 1e-3 floor on
    # a gap keeps every gap above 2.5 ms at 1M events, so flooring to
    # microseconds leaves the times strictly increasing
    gaps = r.exponential(1.0, n_e) + 1e-3
    ts = np.floor(np.cumsum(gaps) / gaps.sum() * (30 * _US_PER_DAY - 1)).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": _ts_us(dt.date(2024, 1, 1), ts),
        "user_id": pa.array(r.integers(0, n_u, n_e), pa.int64()),
        "event_type": _pick(r, EVENT_TYPES, n_e),
        "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, n_e), 2))),
        "props": pa.array([json.dumps({"k": int(k)}) for k in r.integers(0, 100, n_e)]),
    })

    r = rng(7)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[r.integers(0, len(VOCAB), int(n))])
        for n in r.integers(10, 100, n_d)
    ]
    for i in np.flatnonzero(r.random(n_d) < 0.05):
        texts[i] = texts[int(r.integers(0, n_d))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_d), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(r, LANGS, n_d, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_d)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    r = rng(8)
    labels = r.integers(0, 10, n_v)
    centers = r.normal(0.0, 0.02, (10, EMBED_DIM))
    vecs = r.normal(0.0, 1.0 / np.sqrt(EMBED_DIM), (n_v, EMBED_DIM)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_v), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.ravel()), EMBED_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def generate(out_dir: str, seed: int, sizes: dict[str, int]) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(seed, sizes).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows

