"""The streaming Kafka reader and the parquet lake's maintenance.

Scans and writes of parquet/CSV/JSON/JDBC are plain ``spark.read.*`` and
``df.write.*`` (SURVEY §2.8); lake tables are read through
``sources.tables.load_table``. This module keeps what adds to them:

- ``read_kafka_stream``: the streaming Kafka source with the reference's
  config checks (S4 parity, source/kafka/kafka.go:68-133);
- ``compact_parquet``: small-files compaction of append-mode sink output,
  per partition leaf, crash-recovering;
- ``expire_partitions``: partition-level retention of a ``col=value/``
  lake dir.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def read_kafka_stream(
    spark: SparkSession,
    hosts: list[str],
    topics: list[str],
    group_id: str | None = None,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
    **options: str,
):
    """Streaming Kafka reader — S4 parity (source/kafka/kafka.go:68-133):
    `hosts` -> bootstrap servers, `topics` -> subscribe list, `group_id` ->
    consumer group prefix. The reference's per-topic reader goroutines and
    whole-batch commit-after-sink-ACK (kafka.go:104-108,199-221) are
    subsumed by one-task-per-topic-partition parallelism and the
    checkpoint's offset-commit-after-epoch contract.

    `starting_offsets` doubles as the F3/walRetain rewind lever: restart
    with a fresh checkpoint and `earliest` (or a JSON offset map) to replay
    from the broker's retention window.

    Returns an unbound streaming reader's DataFrame; `.load()` requires the
    spark-sql-kafka connector jar on the classpath.
    """
    if not hosts:
        raise ValueError("hosts not specified (source/kafka/kafka.go:78-80)")
    if not topics:
        raise ValueError("topics not specified (source/kafka/kafka.go:86-89)")
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", ",".join(hosts))
        .option("subscribe", ",".join(topics))
        .option("startingOffsets", starting_offsets)
    )
    if group_id is not None:
        reader = reader.option("kafka.group.id", group_id)
    if max_offsets_per_trigger is not None:  # B1 size-capped batches
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_by: tuple[str, ...] = (),
) -> int:
    """Small-files compaction for append-mode sink output.

    A micro-batch parquet sink writes one file set per epoch; at a 1 s
    trigger that is ~86k file sets/day — scan planning and footer reads
    dominate long before data volume does. Compaction rewrites the
    dataset into ceil(bytes / target) files and swaps directories
    (write to `<path>.__compact__`, two renames). Returns the new file
    count.

    The swap is two renames, NOT one atomic operation: a reader in the
    instant between them sees the path briefly absent, and a crash there
    strands data at `<path>.__old__` — which the next invocation detects
    and restores before proceeding. Run from maintenance with readers
    quiesced (the table-format OPTIMIZE has the same requirement for
    non-snapshot readers).

    PARTITIONED layouts (``col=value/`` directories — what ParquetSink
    writes under partition_cols and events_date_partitioned_table
    builds) are compacted PER LEAF DIRECTORY, recursively: each leaf is
    a plain parquet dir whose partition values live in the dirname, so
    per-leaf rewrite preserves the layout (and pruning) exactly, bounds
    each rewrite to one partition's bytes, and shrinks the non-atomic
    swap window to a single partition — the same unit the table-format
    OPTIMIZE compacts. (Pre-r11 this function read the partitioned root
    whole and rewrote WITHOUT partitionBy — flattening the layout: the
    partition column materialized into the files, every ``col=value``
    path-read downstream broke, and PartitionFilters pruning was lost.
    The streaming-lake composition made that a real path; regression
    pinned in tests/test_io_and_ticker.py.)

    ``sort_by`` (r12): a CLUSTERED dataset (lineitem_clustered_table —
    files covering narrow contiguous key ranges via repartitionByRange
    + sort) must be compacted with its cluster keys, or the default
    hash repartition silently DESTROYS the clustering: rows rehash
    across output files, every file's min/max widens to the full key
    domain, and the measured 11%-of-files stat-skip (LAKE_r12
    clustered_lookup) quietly becomes a full scan while rows and
    results stay identical — the same silent-performance-loss class as
    the pre-r11 layout flattening. With ``sort_by`` the rewrite is
    repartitionByRange(n, *keys) + sortWithinPartitions(*keys): file
    count still hits the size target and the ranges stay narrow (the
    table-format OPTIMIZE preserves ZORDER the same way)."""
    import math
    import os
    import shutil

    old = path.rstrip("/") + ".__old__"
    tmp = path.rstrip("/") + ".__compact__"
    # Root-level crash recovery FIRST — before the partitioned-layout probe.
    # A partitioned root restored from `<path>.__old__` must be re-seen as
    # partitioned; probing before restoring would find no `col=value` dirs
    # and fall through to the flat rewrite, flattening the layout.
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)
    for stale in (old, tmp):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    def _is_swap_artifact(name: str) -> bool:
        return name.endswith((".__old__", ".__compact__", ".__expired__"))

    # Per-leaf crash recovery: a crash between a leaf's two renames leaves
    # `col=v.__old__` (the data) and possibly a completed `col=v.__compact__`
    # stray. Both contain '=' — left alone they'd be recursed as partition
    # leaves, compacting the real data in place under the bogus partition
    # value "v.__old__" and turning the stray into a duplicate partition.
    # Restore `X.__old__` -> `X` when `X` is missing; remove remaining strays.
    for name in sorted(os.listdir(path) if os.path.isdir(path) else []):
        if not _is_swap_artifact(name):
            continue
        full = os.path.join(path, name)
        if not os.path.isdir(full):
            continue
        if name.endswith(".__old__"):
            restored = os.path.join(path, name[: -len(".__old__")])
            if not os.path.exists(restored):
                os.rename(full, restored)
                continue
        # `.__expired__` tombstones (expire_partitions crashed mid-removal)
        # are always strays: the rename away from `col=v` IS the commit
        # point of an expiry, so the tombstone is never restored
        shutil.rmtree(full)

    part_dirs = [
        d
        for d in (os.listdir(path) if os.path.isdir(path) else [])
        if "=" in d
        and not _is_swap_artifact(d)
        and os.path.isdir(os.path.join(path, d))
    ]
    if part_dirs:
        return sum(
            compact_parquet(spark, os.path.join(path, d), target_file_mb, sort_by)
            for d in sorted(part_dirs)
        )

    total_bytes = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    df = spark.read.parquet(path)
    if sort_by:
        from pyspark.sql import functions as F

        df = df.repartitionByRange(
            n_files, *(F.col(c) for c in sort_by)
        ).sortWithinPartitions(*sort_by)
    else:
        df = df.repartition(n_files)
    df.write.mode("overwrite").parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return n_files


def expire_partitions(
    path: str,
    column: str,
    *,
    cutoff: str | None = None,
    keep_latest: int | None = None,
) -> list[str]:
    """Retention for a single-level partitioned lake dir (``col=value/``
    leaves — what ParquetSink's partition_cols and the *_partitioned_table
    builders write): remove whole expired partitions, never rows.

    Exactly one of ``cutoff`` / ``keep_latest`` selects the doomed set:
    ``cutoff`` removes leaves whose value sorts strictly below it (ISO
    dates and zero-padded months compare correctly as strings — the same
    property the PartitionFilters range predicates rely on), and
    ``keep_latest`` keeps the N largest values. Returns the removed leaf
    names.

    This is the fourth leg of the lake lifecycle (ingest -> compact ->
    pruned reads -> EXPIRE): partition-level retention is O(removed dirs)
    of filesystem metadata — no scan, no rewrite — which is exactly why
    the daily layout exists (row-level deletes on flat parquet would
    rewrite the dataset).

    Safety discipline, mirroring compact_parquet's:
    - refuses to touch a dir with no ``column=`` leaves (never deletes a
      flat dataset) and refuses a dir whose partition column differs
      (a typo must not expire the wrong axis);
    - each removal commits via rename to ``col=v.__expired__`` first —
      after the rename the partition is gone from every reader's
      discovery, and a crash mid-rmtree leaves only a tombstone that the
      next expire_partitions or compact_parquet run sweeps (both treat
      ``.__expired__`` as a stray to remove, never restore);
    - like compact/OPTIMIZE, run from maintenance with readers quiesced:
      partition discovery during the instant of the rename sees the
      table without that partition, which is the POST-state anyway.
    """
    import os
    import shutil

    if (cutoff is None) == (keep_latest is None):
        raise ValueError("exactly one of cutoff= / keep_latest= is required")
    if keep_latest is not None and keep_latest < 0:
        raise ValueError(f"keep_latest must be >= 0, got {keep_latest}")
    if not os.path.isdir(path):
        raise ValueError(f"not a directory: {path}")

    prefix = f"{column}="
    names = sorted(os.listdir(path))
    # sweep stale tombstones from a prior crashed run first
    for n in names:
        if n.endswith(".__expired__"):
            shutil.rmtree(os.path.join(path, n))
    names = sorted(os.listdir(path))

    def _artifact(n: str) -> bool:
        return n.endswith((".__old__", ".__compact__", ".__expired__"))

    leaves = [
        n
        for n in names
        if n.startswith(prefix)
        and not _artifact(n)
        and os.path.isdir(os.path.join(path, n))
    ]
    strangers = [
        n
        for n in names
        if "=" in n
        and not n.startswith(prefix)
        and not _artifact(n)
        and os.path.isdir(os.path.join(path, n))
    ]
    marker = os.path.join(path, "._expired_layout")
    if not leaves:
        # Idempotency at full expiry: a prior run that removed the LAST
        # leaf left a marker recording the partition axis. A retention
        # cron re-running after full expiry (keep_latest=0, or a cutoff
        # above every value) must succeed with [] — it already converged —
        # not fail as if pointed at a flat dataset. But a dir that was
        # fully expired under this axis and then re-populated under a
        # DIFFERENT one is a mixed layout, not convergence: the stale
        # marker must not mask the refusal.
        if os.path.isfile(marker):
            with open(marker) as f:
                prior = f.read().strip()
            if prior == column and not strangers:
                return []
            if strangers:
                raise ValueError(
                    f"partition leaves with a different column under "
                    f"{path}: {strangers[:3]}; refusing to expire across "
                    "a mixed layout"
                )
            raise ValueError(
                f"dir {path} previously held {prior}=* leaves, not "
                f"{prefix}*; refusing to expire across a mixed layout"
            )
        raise ValueError(
            f"no {prefix}* partition leaves under {path}; refusing to "
            "expire a non-partitioned (or differently-partitioned) dataset"
        )
    # Live leaves exist: any marker from a prior full expiry is stale —
    # clear it so it can never mask a future mixed-layout refusal. (If
    # this very run removes the last leaf again, it re-writes the marker
    # below, before the removal loop.)
    if os.path.isfile(marker):
        os.remove(marker)
    if strangers:
        raise ValueError(
            f"partition leaves with a different column under {path}: "
            f"{strangers[:3]}; refusing to expire across a mixed layout"
        )

    ordered = sorted(leaves, key=lambda n: n.split("=", 1)[1])
    if keep_latest is not None:
        doomed = ordered[: max(0, len(ordered) - keep_latest)]
    else:
        doomed = [n for n in ordered if n.split("=", 1)[1] < cutoff]

    removed: list[str] = []
    if doomed and len(doomed) == len(leaves):
        # This run will remove the LAST leaf: record the axis BEFORE the
        # removals, so a crash anywhere in the removal loop (including
        # after the final rename — the commit point — but before its
        # rmtree) still leaves the marker behind and the retry converges
        # to [] instead of raising "no partition leaves". A marker beside
        # still-live leaves is harmless: it is only consulted when
        # discovery finds none. Hidden (dot-prefixed) => invisible to
        # Spark/parquet discovery.
        with open(marker, "w") as f:
            f.write(column)
    for n in doomed:
        src = os.path.join(path, n)
        tomb = src + ".__expired__"
        os.rename(src, tomb)  # commit point: leaf leaves discovery here
        shutil.rmtree(tomb)
        removed.append(n)
    return removed
