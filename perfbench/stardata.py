"""Seeded sf0.1 star schema for the query workloads.

Writes the ten tables the registry reads (``tables.TABLE_NAMES``) as
one parquet file each, with the column names, physical types and value
domains of the project's sf0.1 test data (TESTDATA.md): contiguous
0-based keys, ``Customer#%09d`` names, 25 nations in 5 regions, order
dates 1995-01-01..2001-08-01 with ship date = order date + 1..95 days,
duplicate ``(l_orderkey, l_linenumber)`` pairs, a 31-word document
vocabulary with 5 % near-duplicate documents (another document's text
plus ``" dup"``), unit-norm 64-d float32 embeddings and a time-ordered
month of events.

Every query is checked against its DuckDB oracle on these same files,
so parity does not depend on matching the project's own generator row
for row; only the domains matter. Pure numpy + pyarrow: no Spark job,
about 3 s on one core.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_DOCS = 5_000
N_VECS = 2_000
DIM = 64

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_ADJ = ["large", "hot", "blue", "old", "cold", "red", "new", "small"]
_NOUN = ["ring", "bolt", "plate", "anvil", "gear", "pin", "tube", "cap"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def _pick(rng: np.random.Generator, options: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(options), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(options)
    ).cast(pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    day0 = np.datetime64(base, "us")
    return pa.array(day0 + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
            "c_mktsegment": _pick(rng, _SEGMENTS, N_CUSTOMER),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
        }
    )
    adj = rng.integers(0, len(_ADJ), N_PART)
    noun = rng.integers(0, len(_NOUN), N_PART)
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
            "p_type": _pick(rng, _TYPES, N_PART),
            "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(N_PART) % 1000) / 10.0,
        }
    )
    order_day = rng.integers(0, 2404, N_ORDERS)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days("1995-01-01", order_day),
            "o_orderpriority": _pick(rng, _PRIORITIES, N_ORDERS),
        }
    )
    l_order = rng.integers(0, N_ORDERS, N_LINEITEM)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, N_PART, N_LINEITEM),
            "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _days(
                "1995-01-01", order_day[l_order] + rng.integers(1, 96, N_LINEITEM)
            ),
        }
    )
    ts0 = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, N_EVENTS))
    out["events"] = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pa.array(ts0 + offs.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, N_CUSTOMER // 10, N_EVENTS),
            "event_type": _pick(rng, _EVENT_TYPES, N_EVENTS),
            "value": np.minimum(np.round(rng.exponential(50.0, N_EVENTS), 2), 560.21),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    n_words = rng.integers(10, 101, N_DOCS)
    texts = [
        " ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), n)) for n in n_words
    ]
    # 5 % near-duplicates: another document's text with " dup" appended.
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, N_DOCS, p=_LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(N_VECS, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), DIM
            ).cast(pa.list_(pa.float32())),
            "label": rng.integers(0, 10, N_VECS).astype(np.int32),
        }
    )
    return out


def ensure(root: str, seed: int) -> str:
    """The sf0.1 directory for ``seed`` under ``root``, generated once.

    The directory is named by the seed and a hash of this generator's
    source, so a changed generator makes new data; directories of older
    generators are removed. Written to a temporary sibling and renamed
    into place, so a run that dies half-way never leaves a partial
    directory behind.
    """
    with open(__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    name = f"sf0.1-seed{seed}-{version}"
    target = os.path.join(root, name)
    if os.path.isdir(target):
        return target
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith("sf0.1-") and old != name:
                shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    tmp = target + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, tbl in tables(seed).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), compression="snappy")
    os.rename(tmp, target)
    return target
