"""Registry input tables for the ``registry_olap`` workload.

The registry queries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` tables (``sources.tables.TPCH_TABLES``).
This module generates them with numpy from a fixed seed, at the row
counts of the project's sf0.1 test tables, so the benchmark needs no
data outside its own directory.  The tables never change with the run
seed: the DuckDB oracle hashes are cached per table fingerprint, and
the run seed only permutes the order in which the queries run.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
EMBED_DIM = 64
EMBED_LABELS = 10

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_DOC_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_EPOCH = dt.datetime(1995, 1, 1)


def _ts(seconds: np.ndarray) -> pa.Array:
    """Microsecond timestamps ``seconds`` after 1995-01-01."""
    base = int(_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(base + seconds.astype(np.int64) * 1_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Two-decimal amounts, as money columns are in the test tables."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    n_c, n_s, n_p = ROWS["customer"], ROWS["supplier"], ROWS["part"]
    n_o, n_l = ROWS["orders"], ROWS["lineitem"]
    day = 86_400
    out = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": _names("Customer", n_c),
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_c)),
            "c_mktsegment": pa.array(
                np.array(_SEGMENTS)[rng.integers(0, 5, n_c)], pa.string()
            ),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
            "s_name": _names("Supplier", n_s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_s)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_p), pa.int64()),
            "p_name": pa.array(
                [f"{_WORDS[i % len(_WORDS)]} {_WORDS[i * 7 % len(_WORDS)]}"
                 for i in range(n_p)]
            ),
            "p_brand": pa.array([f"Brand#{i % 25 + 1}" for i in range(n_p)]),
            "p_type": pa.array(
                np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                          "STANDARD"])[rng.integers(0, 6, n_p)], pa.string()
            ),
            "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
            "p_retailprice": pa.array(900.0 + (np.arange(n_p) % 1000) / 10.0),
        }),
    }
    o_date = rng.integers(0, 6 * 365 + 212, n_o) * day
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)], pa.string()
        ),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_o)),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": pa.array(
            np.array(_PRIORITIES)[rng.integers(0, 5, n_o)], pa.string()
        ),
    })
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * _money(rng, 900.0, 2100.0, n_l), 2)
        ),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)], pa.string()
        ),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[rng.integers(0, 2, n_l)], pa.string()
        ),
        "l_shipdate": _ts(rng.integers(1, 6 * 365 + 307, n_l) * day),
    })
    return out


def _events(rng: np.random.Generator) -> pa.Table:
    n = ROWS["events"]
    # 30 days of events from 2024-01-01, sorted by time
    secs = np.sort(rng.integers(0, 30 * 86_400, n)) + int(
        (dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()
    )
    micros = rng.integers(0, 1_000_000, n)
    base = int(_EPOCH.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(base + secs * 1_000_000 + micros, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": pa.array(
            np.array(_EVENT_TYPES)[rng.integers(0, 5, n)], pa.string()
        ),
        "value": pa.array(_money(rng, 0.0, 200.0, n)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    n = ROWS["documents"]
    words = np.array(_WORDS)
    texts = []
    for i in range(n):
        if i and i % 600 == 0:  # a few exact duplicates
            texts.append(texts[i // 2])
        elif i and i % 50 == 0:  # near duplicates: one word changed
            w = texts[i - 1].split()
            w[len(w) // 2] = str(rng.choice(words))
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(8, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            np.array(_DOC_LANGS)[rng.integers(0, len(_DOC_LANGS), n)], pa.string()
        ),
        "source": pa.array([f"src{i % 5}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    n = ROWS["embeddings"]
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    label = rng.integers(0, EMBED_LABELS, n)
    vecs = (centers[label] + rng.normal(0.0, 0.35, (n, EMBED_DIM))).astype(
        np.float32
    )
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_tables(out_dir: str) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns a
    fingerprint (md5 of the file bytes) that keys the oracle cache."""
    rng = np.random.default_rng(TABLE_SEED)
    tables = _tpch(rng)
    tables["events"] = _events(rng)
    tables["documents"] = _documents(rng)
    tables["embeddings"] = _embeddings(rng)
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.md5()
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        with open(path, "rb") as f:
            h.update(name.encode() + f.read())
    return h.hexdigest()
