"""Small shared utilities.

parquet_files / read_int32: the data files of a Spark-written parquet
directory (a query task's or a merge task's segment read), and a driver-side
pyarrow read of its int32 columns (norms, tombstones).

LRUCache: a bounded least-recently-used map for the engine's long-lived
caches (term stats, proxy match sets, cached engines). The reference keeps
analogous bounded structures per open reader (e.g. the columnstore block
cache); an unbounded dict in a long-lived reader service grows
monotonically — the r3 review flagged the crude "clear at 100k" bound.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from typing import Any, Callable

import pyarrow as pa
import pyarrow.parquet as pq


def parquet_files(path: str) -> list[str]:
    """Data files of a Spark-written parquet directory (none if absent),
    skipping its hidden ``.crc`` and ``_SUCCESS`` side files."""
    if not os.path.isdir(path):
        return []
    return sorted(
        os.path.join(path, n)
        for n in os.listdir(path)
        if not n.startswith((".", "_"))
    )


def read_int32(path: str, cols: list[str]) -> pa.Table | None:
    """Driver-side pyarrow read of int32 columns from a Spark-written
    parquet directory (None if absent). The explicit schema null-fills a
    missing column the way a Spark read with a schema does, and reads a
    directory without data files as zero rows."""
    if not os.path.isdir(path):
        return None
    return pq.read_table(path, schema=pa.schema([(c, pa.int32()) for c in cols]))


class LRUCache:
    """Least-recently-used cache with a hard ``maxsize`` and an optional
    ``on_evict(key, value)`` callback (used to unpersist cached DataFrames
    and close cached engines when they fall out)."""

    __slots__ = ("maxsize", "_d", "_on_evict", "hits", "misses", "evictions")

    def __init__(
        self,
        maxsize: int,
        on_evict: Callable[[Any, Any], None] | None = None,
    ):
        if maxsize < 1:
            raise ValueError("maxsize must be >= 1")
        self.maxsize = maxsize
        self._d: OrderedDict = OrderedDict()
        self._on_evict = on_evict
        self.hits = 0
        self.misses = 0
        self.evictions = 0

    def get(self, key, default=None):
        try:
            val = self._d[key]
        except KeyError:
            self.misses += 1
            return default
        self._d.move_to_end(key)
        self.hits += 1
        return val

    def __getitem__(self, key):
        val = self._d[key]  # KeyError propagates
        self._d.move_to_end(key)
        self.hits += 1
        return val

    def __setitem__(self, key, value) -> None:
        if key in self._d:
            # replacing an existing key must release the displaced value
            # (two threads double-building the same proxy match set would
            # otherwise leak the first persisted DataFrame)
            old = self._d.pop(key)
            if old is not value and self._on_evict is not None:
                self._on_evict(key, old)
        self._d[key] = value
        while len(self._d) > self.maxsize:
            k, v = self._d.popitem(last=False)
            self.evictions += 1
            if self._on_evict is not None:
                self._on_evict(k, v)

    def __contains__(self, key) -> bool:
        return key in self._d

    def __len__(self) -> int:
        return len(self._d)

    def pop(self, key, default=None):
        """Remove and return ``key``, firing on_evict like every other
        removal path — a pop that skipped the callback would silently leak
        whatever the callback releases (persisted DataFrames, engines)."""
        sentinel = object()
        val = self._d.pop(key, sentinel)
        if val is sentinel:
            return default
        if self._on_evict is not None:
            self._on_evict(key, val)
        return val

    def keys(self):
        return self._d.keys()

    def values(self):
        return self._d.values()

    def items(self):
        return self._d.items()

    def clear(self) -> None:
        """Drop everything, firing on_evict for each entry (resources such
        as persisted DataFrames must be released on invalidation too)."""
        if self._on_evict is not None:
            for k, v in list(self._d.items()):
                self._on_evict(k, v)
        self._d.clear()
