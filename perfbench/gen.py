"""Deterministic synthetic tables for the benchmark.

The engine's queries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings``.  This module writes those tables as
parquet with the schemas, value domains and distributions of the
engine's reference test data (generated with seed 42 at scale factors
0.001, 0.01 and 0.1), measured column by column:

* TPC-H tables: row counts linear in the scale factor (lineitem 6M x sf),
  uniform foreign keys, dates 1995-01-01 .. 2001-11-04, ``NATION_<n>``,
  ``Brand#<n>``, colour/noun part names.
* ``events``: 10M x sf rows over 30 days of event time with exponential
  inter-arrival gaps (coefficient of variation 1.0), 15k x sf users
  (~67 events per user, so a key's own gaps average ~38k s and 4.6 %
  are within the 1800 s session gap), uniform user ids and event types,
  ``value`` exponential with mean 50, ``event_id`` increasing with ``ts``.
* ``documents``: 50k x sf docs of 10..100 words drawn uniformly from a
  30-word vocabulary; 5 % are another doc's text plus the word ``dup``;
  ``lang`` 43 % ``en`` and 14 % each of four others; ``source`` is
  ``src<doc_id % 20>``.
* ``embeddings``: 64-dim random unit vectors with a uniform label 0..9.

Two data sets are written, each only with the tables a workload reads:
``sf0.01`` (every table; ``tpch_batch`` and the traced corpus pass) and
``sf0.1`` (``events`` only; the stream ``session_stream`` replays).  The
bytes depend only on :data:`TABLE_SEED`; a run's ``--seed`` picks query
order and the replayed event slice instead.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
DATA_VERSION = "2"  # bump when the tables change, so stale copies are rebuilt

#: Rows per table at scale factor 1; the reference data scales every
#: table linearly except ``embeddings`` (500 at sf0.01, 2000 at sf0.1).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
}
EMBEDDINGS = {"sf0.01": 500, "sf0.1": 2_000}
USERS_PER_SF = 15_000
EVENT_DAYS = 30
EMBED_DIMS = 64

#: data set -> (scale factor, tables written)
DATASETS = {
    "sf0.01": (0.01, ("region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings")),
    "sf0.1": (0.1, ("events",)),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.43, 0.1425, 0.1425, 0.1425, 0.1425]
DUP_SHARE = 0.05

_DATE_LO = np.datetime64("1995-01-01", "us")
_ORDER_DAYS = 2404  # through 2001-08-01
_SHIP_DAYS = 2499   # through 2001-11-04
_EVENT_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return _DATE_LO + rng.integers(0, span, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tpch(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n = {k: round(v * sf) for k, v in ROWS_PER_SF.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)],
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": np.array(names)[rng.integers(0, len(names), p)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(_days(rng, o, _ORDER_DAYS), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)],
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li),
        "l_partkey": rng.integers(0, p, li),
        "l_suppkey": rng.integers(0, s, li),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": pa.array(_days(rng, li, _SHIP_DAYS), pa.timestamp("us")),
    })
    return t


def _events(rng: np.random.Generator, sf: float) -> pa.Table:
    """One time-ordered stream, as a producer appending to a log writes it."""
    e = round(ROWS_PER_SF["events"] * sf)
    gaps = rng.exponential(1.0, e + 1)
    offs_us = np.cumsum(gaps)[:-1] / gaps.sum() * (EVENT_DAYS * 86400e6)
    return pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(_EVENT_T0 + offs_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, round(USERS_PER_SF * sf), e),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })


def _documents(rng: np.random.Generator, sf: float) -> pa.Table:
    d = round(ROWS_PER_SF["documents"] * sf)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(10, 101, d)]
    for i in np.flatnonzero(rng.random(d) < DUP_SHARE):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    ids = np.arange(d, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, EMBED_DIMS))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def build_tables(dataset: str, seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    """The data set's tables as Arrow tables; identical for an identical seed."""
    sf, names = DATASETS[dataset]
    rng = np.random.default_rng([seed, round(sf * 1000)])
    t: dict[str, pa.Table] = {}
    if "lineitem" in names:
        t.update(_tpch(rng, sf))
    t["events"] = _events(rng, sf)
    if "documents" in names:
        t["documents"] = _documents(rng, sf)
        t["embeddings"] = _embeddings(rng, EMBEDDINGS[dataset])
    return t


def ensure_tables(root: str) -> dict[str, str]:
    """Write every data set under ``root`` unless a complete copy of this
    version is there; return data set -> directory.

    The copy is written to a sibling directory and renamed into place, so
    an interrupted build never leaves a partial table set behind.
    """
    marker = os.path.join(root, "_COMPLETE")
    dirs = {name: os.path.join(root, name) for name in DATASETS}
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == DATA_VERSION:
                return dirs
    tmp = f"{root}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name in DATASETS:
        os.makedirs(os.path.join(tmp, name))
        for table, data in build_tables(name).items():
            pq.write_table(data, os.path.join(tmp, name, f"{table}.parquet"))
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write(DATA_VERSION)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.dirname(root) or ".", exist_ok=True)
    os.rename(tmp, root)
    return dirs
