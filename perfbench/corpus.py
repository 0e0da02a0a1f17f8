"""Seeded synthetic corpus in the shape of the engine's ten-table schema.

The engine's queries read a TPC-H-like star schema plus ``events``,
``documents`` and ``embeddings`` tables (one parquet file each, see
``orca_spark.tables.TABLES``). This module builds those tables from a
seed alone, with the column types and value ranges of the reference
test corpora, so the benchmark needs no input from outside its
checkout.

``Corpus.write_copy`` writes a seeded row permutation of every table
into a new directory, once per run, and ``link_copy`` gives each
benchmark pass its own directory of hard links to it: the engine's
memos are keyed on the corpus path, so no pass can reuse a model built
by an earlier one, while every pass reads the same rows and so yields
the same query results.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "rod", "plate", "gear", "anvil"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "fr", "es", "zh", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_DIM = 64


def _days(start: str, stop: str) -> tuple[np.datetime64, int]:
    lo = np.datetime64(start, "D")
    return lo, int((np.datetime64(stop, "D") - lo).astype(int))


def _dates(rng: np.random.Generator, n: int, start: str, stop: str) -> np.ndarray:
    lo, span = _days(start, stop)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (lineitem has 6e6*sf rows)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_user = max(int(15_000 * sf), 15)
    n_doc = max(int(50_000 * sf), 500)
    n_vec = max(int(20_000 * sf), 500)
    i32, i64 = pa.int32(), pa.int64()

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 7, n_part))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": np.array(_PART_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _dates(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt))
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), i64),
            "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_evt)],
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_vec)
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts; one in twenty is a near-duplicate of another
    document (its text plus the token ``dup``)."""
    texts: list[str] = []
    for i in range(n):
        if i % 20 == 11 and i > 0 and rng.random() < 0.95:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 101))
            texts.append(" ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors drawn around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, _DIM))
    vecs = centroids[labels] * 0.3 + rng.normal(0.0, 1.0, (n, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


@dataclass
class Corpus:
    """The seed's tables held in memory, written out on demand."""

    seed: int
    sf: float
    tables: dict[str, pa.Table]

    @classmethod
    def generate(cls, seed: int, sf: float) -> "Corpus":
        return cls(seed, sf, build_tables(seed, sf))

    def parquet_bytes(self, name: str) -> int:
        """Size of one table written as parquet in its generated order."""
        buf = pa.BufferOutputStream()
        pq.write_table(self.tables[name], buf)
        return buf.getvalue().size

    def write_copy(self, path: str, perm_seed: int) -> str:
        """Write every table to ``path``, its rows in a seeded random order."""
        os.makedirs(path, exist_ok=False)
        rng = np.random.default_rng(perm_seed)
        for name, tbl in self.tables.items():
            pq.write_table(tbl.take(rng.permutation(tbl.num_rows)), os.path.join(path, f"{name}.parquet"))
        return path


def link_copy(src: str, path: str) -> str:
    """A new directory ``path`` of hard links to the files of ``src``:
    the same bytes under a new path, at no cost of writing them."""
    os.makedirs(path, exist_ok=False)
    for name in os.listdir(src):
        os.link(os.path.join(src, name), os.path.join(path, name))
    return path
