"""One memo for what the engine builds from a corpus dir, keyed on
``(sf_dir, key)`` and rebuilt when the fingerprint of ``sf_dir`` changes:
the sorted (relative path, size, mtime_ns) of every file under it, from
a stat walk that runs no Spark job and reads no file. Hard-linked copies
of a corpus have equal fingerprints but, under new paths, new entries."""

from __future__ import annotations

import os
from typing import Callable, Hashable, TypeVar

V = TypeVar("V")
_MEMO: dict[tuple[str, Hashable], tuple[list, object]] = {}


def _fingerprint(sf_dir: str) -> list[tuple[str, int, int]]:
    out = []
    for root, _, names in os.walk(sf_dir):
        for path in (os.path.join(root, n) for n in names):
            st = os.stat(path)
            out.append((os.path.relpath(path, sf_dir), st.st_size, st.st_mtime_ns))
    return sorted(out)


def cached(sf_dir: str, key: Hashable, build: Callable[[], V]) -> V:
    """``build()``, reused while the files under ``sf_dir`` are unchanged."""
    fp = _fingerprint(sf_dir)
    hit = _MEMO.get((sf_dir, key))
    if hit is None or hit[0] != fp:
        hit = _MEMO[(sf_dir, key)] = (fp, build())
    return hit[1]


def clear() -> None:
    """Drop every entry."""
    _MEMO.clear()
