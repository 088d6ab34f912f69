"""The two lifetime rules for derived state: this module decides when a
cached frame is released, and how a derived warehouse table is named,
built, reused and swept.

**Cached frames.**

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

**Warehouse tables.** A derived table that an operator writes once per
session with ``saveAsTable`` (the bucketed band and mm indexes, the
partitioned and clustered lake layouts) goes through
``warehouse_table(spark, family, sf_dir, build)``. It names the table
``<family>_<dataset tag>_<application id>``, builds it on first use,
refreshes its liveness on every later use, and on first use sweeps the
family's directories that dead applications left behind. The same test
module pins this rule too: ``tableExists(`` and the warehouse-dir conf
key appear only here, and a function that calls ``.saveAsTable(`` names
``warehouse_table``.
"""

from __future__ import annotations

import logging
import os
import re
import shutil
import threading
import time
import weakref
from collections import OrderedDict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


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


# -- derived warehouse tables ---------------------------------------------

#: First-use sweep age gate for dead apps' warehouse dirs: generous enough
#: that no live app (pytest session, oracle sweep, bench run — all well
#: under an hour of table lifetime) can be swept mid-scan, tight enough
#: that the warehouse never accumulates more than a few hours of app litter.
WAREHOUSE_SWEEP_AGE_SEC = 6 * 3600

# Sidecar dirs that ride beside a warehouse table and share its lifetime:
# the trained centering model (mm_bucket_index_table) and the
# replica-group members map. Liveness touches and the sweep's age
# deferral treat each `<table><suffix>` dir as live iff its base table is.
_SIDECAR_SUFFIXES = ("__model", "__members")

_TOUCH_WARNED: set = set()


def _warehouse_dir(spark: SparkSession) -> str:
    return urlparse(spark.conf.get("spark.sql.warehouse.dir")).path


def touch_app_table_liveness(spark: SparkSession, table: str) -> None:
    """Refresh the warehouse-dir mtime of an app-scoped table.

    The first-use sweep's age gate treats a RECENT mtime as "a live app
    owns this" — but reads never update mtime, so a >gate-lived READ-ONLY
    consumer (a streaming probe running for hours against an index built
    at startup) would look dead to a newly starting app. Called on EVERY
    warehouse_table resolution (the fast path every batch consumer goes
    through) and once per streaming probe invocation (probes receive the
    table NAME, not the resolver). One utime syscall on the local FS the
    warehouse mechanism targets; a failure falls back to the age gate
    alone — and is WARNED once per table, because a silently absent
    liveness signal would re-open the sweep race for >gate-lived readers.

    Also refreshes the table's sidecar dirs when present: they match the
    same sweep prefix, so a >gate-lived probe that only touched the
    posting dir would keep the postings alive while a newly starting
    app's sweep removed the model out from under it — the exact race
    this function exists to prevent."""
    try:
        warehouse = _warehouse_dir(spark)
        os.utime(os.path.join(warehouse, table), None)
        for suffix in _SIDECAR_SUFFIXES:
            side_dir = os.path.join(warehouse, table + suffix)
            if os.path.isdir(side_dir):
                os.utime(side_dir, None)
    except OSError as exc:
        if table not in _TOUCH_WARNED:
            _TOUCH_WARNED.add(table)
            logging.getLogger(__name__).warning(
                "liveness touch failed for warehouse table %s (%s): "
                "only the %ss age gate protects it from litter sweeps",
                table,
                exc,
                WAREHOUSE_SWEEP_AGE_SEC,
            )


def _sweep_family(warehouse: str, family: str, app: str) -> None:
    """Remove ``<family>_*`` dirs of other apps older than the age gate,
    for any dataset tag. ``ignore_errors`` so two sweepers racing on the
    same corpse is benign."""
    now = time.time()

    def aged(d: str) -> bool:
        return now - os.path.getmtime(d) > WAREHOUSE_SWEEP_AGE_SEC

    for n in os.listdir(warehouse):
        d = os.path.join(warehouse, n)
        if not n.startswith(f"{family}_") or app in n or not os.path.isdir(d):
            continue
        try:
            old = aged(d)
            # a sidecar dir (X__model / X__members) is live iff its base
            # table X is live: defer to the base's age when it exists
            base = next(
                (d[: -len(x)] for x in _SIDECAR_SUFFIXES if n.endswith(x)), None
            )
            if old and base and os.path.isdir(base):
                old = aged(base)
        except OSError:
            continue
        if old:
            shutil.rmtree(d, ignore_errors=True)


def warehouse_table(
    spark: SparkSession, family: str, sf_dir: str, build: Callable[[str], None]
) -> str:
    """Name, build once and return the derived warehouse table ``family``
    of the dataset at ``sf_dir``. ``build(table)`` must ``saveAsTable``
    the content, plus any ``__model``/``__members`` sidecars; the content
    is deterministic, so any app's rebuild is equivalent.

    The default in-memory catalog scopes table metadata to the session,
    but the files land in the shared warehouse dir. The table name is
    therefore APPLICATION-scoped: two concurrent apps sharing one
    warehouse dir under a single name DID share files — app B, seeing no
    catalog entry, would rmtree-and-rewrite the directory app A was
    actively scanning (observed twice as FAILED_READ_FILE.FILE_NOT_EXIST
    when pytest and an oracle sweep ran concurrently). Per-app names make
    the rebuild safe. Since names never collide across apps, dirs of
    FINISHED apps would pile up one per app per dataset forever, so the
    first use in an app sweeps every ``<family>_*`` dir (any dataset tag)
    that does not carry this app's id and is older than
    ``WAREHOUSE_SWEEP_AGE_SEC``. The age gate keeps the sweep safe under
    exactly the concurrency that motivated per-app names: a live writer's
    dir is younger than the gate by construction, and long-lived READ-ONLY
    consumers keep their dir young via touch_app_table_liveness (refreshed
    here on every reuse, and once per invocation by the streaming probes,
    which receive the table name rather than resolving it). Growth is
    bounded by apps-per-window instead of apps-ever."""
    tag = re.sub(r"\W+", "_", sf_dir.strip("/"))
    app = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
    table = f"{family}_{tag}_{app}"
    if spark.catalog.tableExists(table):
        touch_app_table_liveness(spark, table)
        return table
    # a failed earlier build can leave files without a catalog entry —
    # clear them so the rebuild can write
    warehouse = _warehouse_dir(spark)
    stale = os.path.join(warehouse, table)
    if os.path.exists(stale):
        shutil.rmtree(stale)
    if os.path.isdir(warehouse):
        _sweep_family(warehouse, family, app)
    build(table)
    return table
