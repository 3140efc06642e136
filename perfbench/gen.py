"""Seeded input generators. Pure numpy/pyarrow: no Spark.

``write_tables`` writes the engine's TPC-H-ish fixture schema (the ten
tables every registered operator reads) at a scale factor, with value
domains matching the repository's fixtures, so each registered query's
DuckDB oracle applies unchanged. The same seed always gives the same
bytes; another seed gives other rows of the same shape and size.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["large", "hot", "blue", "small", "red", "green", "cold", "dark"]
_PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "fr", "zh", "de", "es"]
_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def table_rows(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf0.1: 600k lineitem)."""
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng, n: int) -> pa.Table:
    """Random texts over a small vocabulary, with ~3% near-duplicates
    (one word swapped) and a few exact copies, so dedup operators find
    clusters."""
    texts: list[str] = []
    vocab = np.asarray(_VOCAB, dtype=object)
    for i in range(n):
        if i > 10 and rng.random() < 0.03:
            words = texts[int(rng.integers(0, i))].split()
            if rng.random() < 0.7:
                words[int(rng.integers(0, len(words)))] = vocab[rng.integers(0, len(vocab))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _choice(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def _region(rng, sf, r) -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )


def _nation(rng, sf, r) -> pa.Table:
    return pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )


def _customer(rng, sf, r) -> pa.Table:
    n = r["customer"]
    return pa.table(
        {
            "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
            "c_name": _names("Customer", n),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": _choice(rng, _SEGMENTS, n),
        }
    )


def _supplier(rng, sf, r) -> pa.Table:
    n = r["supplier"]
    return pa.table(
        {
            "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
            "s_name": _names("Supplier", n),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )


def _part(rng, sf, r) -> pa.Table:
    n = r["part"]
    keys = np.arange(n, dtype=np.int64)
    adj = np.asarray(_PART_ADJ, dtype=object)[rng.integers(0, len(_PART_ADJ), n)]
    noun = np.asarray(_PART_NOUN, dtype=object)[rng.integers(0, len(_PART_NOUN), n)]
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _choice(rng, _PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10, 1)),
        }
    )


def orders_rows(rng, keys: np.ndarray, customers: int) -> pa.Table:
    """``orders`` rows for the given keys (also the cdc change feed's rows)."""
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(np.asarray(keys, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, n).astype(np.int64)),
            "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
            "o_orderdate": pa.array(_days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n)),
            "o_orderpriority": _choice(rng, _PRIORITIES, n),
        }
    )


def _orders(rng, sf, r) -> pa.Table:
    return orders_rows(rng, np.arange(r["orders"]), r["customer"])


def _lineitem(rng, sf, r) -> pa.Table:
    n = r["lineitem"]
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, r["orders"], n).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, r["part"], n).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, r["supplier"], n).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n),
            "l_linestatus": _choice(rng, ["F", "O"], n),
            "l_shipdate": pa.array(_days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n)),
        }
    )


def _events(rng, sf, r) -> pa.Table:
    n = r["events"]
    month_us = 30 * 86_400 * 1_000_000
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, month_us, n)) + start
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, max(15, int(15_000 * sf)), n).astype(np.int64)),
            "event_type": _choice(rng, _EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


_BUILDERS = {
    "region": _region,
    "nation": _nation,
    "customer": _customer,
    "supplier": _supplier,
    "part": _part,
    "orders": _orders,
    "lineitem": _lineitem,
    "events": _events,
    "documents": lambda rng, sf, r: _documents(rng, r["documents"]),
    "embeddings": lambda rng, sf, r: _embeddings(rng, r["embeddings"]),
}


def make_tables(sf: float, seed: int, only: tuple[str, ...] = TABLES) -> dict[str, pa.Table]:
    """Fixture tables at ``sf``. Each table draws from its own stream of
    ``seed``, so a subset (``only``) equals the same tables of the full set."""
    return {
        name: _BUILDERS[name](np.random.default_rng([seed, TABLES.index(name)]), sf, table_rows(sf))
        for name in only
    }


def write_tables(out_dir: str, sf: float, seed: int, only: tuple[str, ...] = TABLES) -> None:
    """Write fixture tables as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in make_tables(sf, seed, only).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def write_csv(path: str, tbl: pa.Table) -> None:
    """Write ``tbl`` as a header CSV (fields with quotes or newlines quoted)."""
    pacsv.write_csv(tbl, path)
