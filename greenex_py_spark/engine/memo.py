"""Session-scoped memo of per-dataset derivations.

The exposure api is called many times over one city: one tile set, one
street network, one greenspace layer, many metrics.  What a call derives
from a dataset alone — its grid spec, its bounding box, whether it fits
the driver, its broadcast CSR graph — is the same on every call, so
:func:`memo` builds it once and hands it to every later call over a
semantically equal frame.

A value is keyed by the live SparkContext, a name (which carries any
parameter the value depends on) and each input frame's
``semanticHash()``; a hit is confirmed with ``sameSemantics()``, so a
hash collision never returns another dataset's value.  Frames are equal
when their canonical plans are — the rule Spark's CacheManager matches
cached data by — and the memo shares that rule's blind spot: a file
scan is canonicalised by its path, not by what the file holds.  After
rewriting a file that a frame reads, call ``spark.catalog.clearCache()``
(as for cached data): the memo is dropped with the cache.

Lifetime:

- at most ``_MAX_ENTRIES`` values, least recently used evicted first;
- a clearCache drops them all.  The memo notices through a sentinel
  relation it registers with the CacheManager (never materialized, so
  it holds no data): once the sentinel is gone, so is the memo;
- a memo built under another SparkContext (the session was stopped) is
  dropped on the next call;
- a dropped value that holds cluster resources is released: a
  Broadcast is ``unpersist``ed (its driver copy stays, so a frame built
  earlier still runs) and a persisted DataFrame is unpersisted.  The
  values of a stopped context are only forgotten: broadcast ids restart
  at 0 in a new context, so unpersisting a dead context's broadcast
  would remove the live context's broadcast of the same id.

The memo holds a reference to each entry's input frames (for the
``sameSemantics`` check), which keeps their checkpointed blocks alive
while the entry lives.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from typing import Callable, Sequence, TypeVar

from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

T = TypeVar("T")

# Values held at once.  A python_kernels pass of the benchmark holds 7
# (two grid specs, two size decisions, the CSR broadcast, the greens
# bbox and one snap tier), the api guard test's ten calls 8.
_MAX_ENTRIES = 16


class _Memo:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sentinel = spark.range(0).select(
            F.lit("greenex_py_spark.engine.memo").alias("memo")
        ).persist()
        self.entries: OrderedDict = OrderedDict()

    def cache_cleared(self) -> bool:
        level = self.sentinel.storageLevel
        return not (level.useMemory or level.useDisk)

    def release(self) -> None:
        for _, value in self.entries.values():
            _release(value)
        self.entries.clear()
        self.sentinel.unpersist()


_state: _Memo | None = None
_lock = threading.RLock()


def _release(value) -> None:
    if isinstance(value, (Broadcast, DataFrame)):
        value.unpersist()


def memo(name: str, frames: Sequence[DataFrame], build: Callable[[], T]) -> T:
    """``build()``, or the value it returned before for the same
    ``name`` over semantically equal ``frames`` in this SparkContext."""
    global _state
    spark = frames[0].sparkSession
    with _lock:
        if _state is None or _state.sc is not spark.sparkContext:
            _state = _Memo(spark)
        elif _state.cache_cleared():
            _state.release()
            _state = _Memo(spark)
        key = (name, *(f.semanticHash() for f in frames))
        hit = _state.entries.get(key)
        if hit is not None and all(a.sameSemantics(b) for a, b in zip(hit[0], frames)):
            _state.entries.move_to_end(key)
            return hit[1]
        value = build()
        if hit is not None:
            _release(hit[1])
        _state.entries[key] = (tuple(frames), value)
        _state.entries.move_to_end(key)
        while len(_state.entries) > _MAX_ENTRIES:
            _release(_state.entries.popitem(last=False)[1][1])
        return value
