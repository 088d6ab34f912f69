"""The one rule for cache lifetime: this module decides when a cached
frame is released.

Operators persist an intermediate frame when it feeds several branches of
a plan (signature indexes, inverted indexes, a micro-batch read by every
sink). Leaving it persisted leaks executor storage memory in a long-lived
session (the CacheManager "already cached" accumulation), so every
``.persist()`` outside this module is released by exactly one of three
forms:

- **registry** — ``INDEX_CACHE.get_or_build`` for build-once/probe-many
  indexes. The builder returns a lazy plan; the registry persists and
  materializes it, and releases it on LRU eviction or ``clear()``.
- **``persist_for(cached, result)``** — the action runs in the CALLER of
  an operator that returns a lazy plan, so the operator cannot release in
  a ``finally``. A ``weakref.finalize`` on the result unpersists the
  intermediate as soon as the caller drops its last reference (CPython
  refcounting makes that prompt). While the result is alive every action
  it runs still hits the cache; a re-invocation builds its own cache, so
  release is always safe.
- **``with persisted(df)``** — the actions run inside one scope (a
  ``foreachBatch`` epoch, a build step): the frame is released when the
  block exits, including when it raises. This is per-epoch state scoped
  to the batch call, as in Structured Streaming (SIGMOD 2018).

``localCheckpoint`` is exempt: it truncates lineage, so releasing its
blocks early would break the frame, and Spark's ContextCleaner drops them
once the frame is unreachable. ``tests/test_quality_metrics.py`` pins the
rule: ``.unpersist(`` appears only here, and a function that calls
``.persist()`` names ``persist_for``.
"""

from __future__ import annotations

import threading
import weakref
from collections import OrderedDict
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


def _safe_unpersist(cached: DataFrame) -> None:
    try:
        cached.unpersist()
    except Exception:
        # session already stopped / JVM gone — nothing left to release
        pass


def persist_for(cached: DataFrame, result: DataFrame) -> DataFrame:
    """Unpersist ``cached`` when ``result`` is garbage-collected.

    Returns ``result`` for chaining. ``cached`` must already be persisted
    (or checkpointed); double-release is harmless (unpersist is idempotent).
    """
    weakref.finalize(result, _safe_unpersist, cached)
    return result


@contextmanager
def persisted(df: DataFrame) -> Iterator[DataFrame]:
    """Persist ``df`` for the ``with`` block and release it on exit,
    including when the block raises."""
    try:
        yield df.persist()
    finally:
        _safe_unpersist(df)


class MaterializedIndexCache:
    """Bounded LRU registry of materialized (persisted + computed) index
    frames, keyed by (application id, index name, dataset).

    Index-building operators (MinHash signatures, LSH band tables,
    centroid sets) are exactly the frames a serving engine would build
    once and probe many times — rebuilding them per query throws away the
    index's whole point, while per-query persists either leak (never
    released) or thrash (released with the result, so the next identical
    query rebuilds). This registry is the middle: repeat invocations in a
    long-lived session reuse the materialized frame, the LRU bound caps
    executor storage, and eviction unpersists immediately — the
    accumulation the round-2 review flagged cannot recur.

    Builders return a lazy plan; the registry persists it and runs a
    cheap action before storing it. Materializing eagerly matters:
    multi-referenced lazy caches get re-planned per reference by AQE as
    independent query-stage trees, recomputing the subtree before the
    cache fills. Entries are keyed by applicationId so frames from a
    stopped session are never returned (their eviction unpersist is a
    safe no-op). Invalidation on dataset mutation is out of scope — the
    engine's sources are immutable snapshots (TESTDATA parquet)."""

    def __init__(self, max_entries: int = 16) -> None:
        # 16, not 8: dedup_quality_report alone holds 8 live entries
        # (shingle_sets, minhash_sig/cand/verified, simhash{,64}_sig/
        # pairs); at 8, any 9th index in the same session (the
        # incremental miner's band index, a second sf_dir) evicted and
        # unpersisted a frame the report still referenced — correctness
        # survived via lineage recompute, but the build-once/probe-many
        # materialization guarantee silently degraded (r10 advice).
        # 16 fits one full quality-report pass + the incremental miner +
        # a second dataset's hot indexes. Each entry is a sampled/
        # signature-sized frame (MEMORY_AND_DISK), so the bound is about
        # predictable storage, not memory safety.
        self.max_entries = max_entries
        self._lru: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._lock = threading.Lock()

    def get_or_build(self, spark, name: str, dataset: str, build) -> DataFrame:
        key = (spark.sparkContext.applicationId, name, dataset)
        with self._lock:
            if key in self._lru:
                self._lru.move_to_end(key)
                return self._lru[key]
        # outside the lock: builds run Spark jobs
        df = build().persist()
        try:
            df.count()
        except BaseException:
            _safe_unpersist(df)  # a failed build leaves no cache behind
            raise
        with self._lock:
            kept = self._lru.setdefault(key, df)
            if kept is not df:
                # another build registered the key meanwhile; drop ours
                _safe_unpersist(df)
            self._lru.move_to_end(key)
            while len(self._lru) > self.max_entries:
                _, old = self._lru.popitem(last=False)
                _safe_unpersist(old)
            return kept

    def clear(self) -> None:
        with self._lock:
            for df in self._lru.values():
                _safe_unpersist(df)
            self._lru.clear()


#: Process-wide registry used by the index-building operators.
INDEX_CACHE = MaterializedIndexCache()
