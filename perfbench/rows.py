"""Seeded row batches in the shapes the ORC layer is built for.

Each batch is a list of dict rows with typed Python values: integers of
every magnitude (one bit to 63 bits), decimals, dates, timestamps,
nulls, and nested array, struct and map-like (varying-key dict) values.
The batches drift: the second adds columns, widens the integer column
and adds a field to the nested struct, so inference has real merging
to do.

``stringify`` turns rows into the string rows a lenient writer
receives, with about one cell in a hundred made uncastable; it returns
which cells were spoiled, so a check can demand a null exactly there.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import numpy as np
from pyspark.sql import types as T

# bit width of the integer column's widest value per batch: integers of
# every magnitude up to it, so the inferred type widens int -> bigint
_INT_BITS = (31, 63)
_TAGS = ["red", "green", "blue", "orc", "spark", "hive", "zstd", "zlib"]
_ATTR_KEYS = ["k1", "k2", "k3", "k4"]
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_BAD = ["n/a", "12x", "--", "2024-13-45", "NaN?"]

def _row(rng: np.random.Generator, rid: int, batch: int) -> dict:
    bits = int(rng.integers(1, _INT_BITS[batch] + 1))
    n = int(rng.integers(-(2**bits), 2**bits))
    cents = int(rng.integers(-10_000_000, 10_000_000))
    row = {
        "id": rid,
        "n": n,
        "amount": Decimal(cents).scaleb(-2),
        "day": dt.date(2020, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2000))),
        "at": _EPOCH + dt.timedelta(seconds=int(rng.integers(0, 10**8))),
        "note": None if rng.random() < 0.05 else f"note-{int(rng.integers(0, 10**6))}",
        "tags": [_TAGS[i] for i in rng.integers(0, len(_TAGS), int(rng.integers(0, 4)))],
        "point": {"x": int(rng.integers(-100, 100)), "y": float(rng.normal())},
        "attrs": {
            k: int(rng.integers(0, 1000))
            for k in _ATTR_KEYS
            if rng.random() < 0.5
        },
    }
    if not row["attrs"]:
        row["attrs"] = None
    if batch >= 1:
        row["flag"] = bool(rng.random() < 0.5)
        row["scores"] = [float(x) for x in rng.normal(size=int(rng.integers(1, 4)))]
        row["point"]["z"] = int(rng.integers(0, 10))
        row["origin"] = None if rng.random() < 0.1 else f"src{int(rng.integers(0, 20))}"
    return row


def _pin_extremes(row: dict, batch: int) -> None:
    """Give a batch's first row the widest value of every inferred
    column, so the batch's inferred schema does not depend on the seed."""
    row["n"] = -(2 ** _INT_BITS[batch])
    row["amount"] = Decimal(-9_999_999).scaleb(-2)
    row["attrs"] = {k: 999 for k in _ATTR_KEYS}


def make_batches(seed: int, n_batches: int, rows_per_batch: int) -> list[list[dict]]:
    """``n_batches`` batches of ``rows_per_batch`` rows (at least 128, so
    the ``id`` column infers as smallint in every batch)."""
    rng = np.random.default_rng(seed)
    batches = []
    rid = 0
    for b in range(n_batches):
        batch = []
        level = min(b, len(_INT_BITS) - 1)
        for i in range(rows_per_batch):
            batch.append(_row(rng, rid, level))
            if i == 0:
                _pin_extremes(batch[0], level)
            rid += 1
        batches.append(batch)
    return batches


def _cell_text(v) -> str | None:
    if v is None:
        return None
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%SZ")
    return str(v)


def stringify(
    seed: int,
    rows: list[dict],
    columns: tuple[str, ...],
    spoil: tuple[str, ...],
    bad_frac: float = 0.01,
    keep_lists: bool = False,
) -> tuple[list[dict], set[tuple[int, str]]]:
    """String form of ``rows`` restricted to ``columns``; a non-null cell
    of a ``spoil`` column is replaced by uncastable text with probability
    ``bad_frac``. With ``keep_lists``, list cells stay lists (the writer
    stringifies them itself). Returns the rows and the set of spoiled
    (row index, column) cells."""
    rng = np.random.default_rng(seed)
    out, spoiled = [], set()
    for i, row in enumerate(rows):
        srow = {}
        for c in columns:
            v = row.get(c)
            if c in spoil and v is not None and rng.random() < bad_frac:
                srow[c] = _BAD[int(rng.integers(0, len(_BAD)))]
                spoiled.add((i, c))
            elif keep_lists and isinstance(v, list):
                srow[c] = v
            else:
                srow[c] = _cell_text(v)
        out.append(srow)
    return out, spoiled


def expected_schema(batch: int) -> T.StructType:
    """What inference over one batch must produce."""
    int_type = (T.IntegerType(), T.LongType())[min(batch, 1)]
    point = [
        T.StructField("x", T.ByteType()),
        T.StructField("y", T.DoubleType()),
    ]
    if batch >= 1:
        point.append(T.StructField("z", T.ByteType()))
    fields = [
        T.StructField("id", T.ShortType()),
        T.StructField("n", int_type),
        T.StructField("amount", T.DecimalType(7, 2)),
        T.StructField("day", T.DateType()),
        T.StructField("at", T.TimestampType()),
        T.StructField("note", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("point", T.StructType(point)),
        T.StructField("attrs", T.StructType([T.StructField(k, T.ShortType()) for k in _ATTR_KEYS])),
    ]
    if batch >= 1:
        fields += [
            T.StructField("flag", T.BooleanType()),
            T.StructField("scores", T.ArrayType(T.DoubleType())),
            T.StructField("origin", T.StringType()),
        ]
    return T.StructType(fields)
