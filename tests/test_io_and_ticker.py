"""The Kafka stream reader's config checks, the parquet lake's
maintenance (compaction and partition expiry) and the periodic stats
ticker (O4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from psql_streamer_spark.observe import StatsTicker
from psql_streamer_spark.sources import io


def test_stats_ticker_ticks_and_stops():
    calls: list[int] = []

    def stats_fn():
        calls.append(1)
        return {"obj": f"line {len(calls)}"}

    t = StatsTicker(stats_fn, interval_s=0.05)
    t.start()
    import time

    time.sleep(0.3)
    t.stop()
    n = len(calls)
    assert n >= 2  # ticked repeatedly
    time.sleep(0.15)
    assert len(calls) == n  # stopped cleanly

    # tickerInterval=0 disables the ticker (config.go:46-48 semantics)
    t0 = StatsTicker(stats_fn, interval_s=0)
    t0.start()
    assert t0._thread is None


def test_kafka_stream_reader_validates_and_builds(spark):
    # S4 config parity: required hosts/topics (source/kafka/kafka.go:78-89)
    with pytest.raises(ValueError, match="hosts"):
        io.read_kafka_stream(spark, [], ["t"])
    with pytest.raises(ValueError, match="topics"):
        io.read_kafka_stream(spark, ["b:9092"], [])
    reader = io.read_kafka_stream(
        spark, ["b1:9092", "b2:9092"], ["t1", "t2"],
        group_id="g1", max_offsets_per_trigger=400,
    )
    # reader builds without the connector jar; .load() would need it
    assert reader is not None


def test_compact_parquet_preserves_rows_and_reduces_files(spark, tmp_path):
    """Many per-epoch file sets -> few compacted files, same data."""
    import os

    from psql_streamer_spark.sources.io import compact_parquet

    out = str(tmp_path / "sinkout")
    # simulate 10 micro-batch appends (10 file sets)
    for b in range(10):
        spark.range(b * 100, (b + 1) * 100).write.mode("append").parquet(out)
    files_before = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
    )
    assert files_before >= 10

    n = compact_parquet(spark, out, target_file_mb=128)
    files_after = sum(
        f.endswith(".parquet") for _, _, fs in os.walk(out) for f in fs
    )
    assert files_after == n == 1  # tiny data -> one file
    df = spark.read.parquet(out)
    assert df.count() == 1000
    assert df.selectExpr("sum(id)").first()[0] == sum(range(1000))


def test_compact_parquet_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two renames strands data at <path>.__old__; the
    next invocation must restore it and complete normally."""
    import os
    import shutil

    from psql_streamer_spark.sources.io import compact_parquet

    out = str(tmp_path / "sinkout")
    for b in range(3):
        spark.range(b * 10, (b + 1) * 10).write.mode("append").parquet(out)
    # simulate the crash window: dataset renamed away, nothing at path
    os.rename(out, out + ".__old__")
    assert not os.path.exists(out)
    # plus a stale partial compact dir from the dead run
    os.makedirs(out + ".__compact__")

    n = compact_parquet(spark, out, target_file_mb=128)
    assert n == 1
    assert spark.read.parquet(out).count() == 30
    assert not os.path.exists(out + ".__old__")
    assert not os.path.exists(out + ".__compact__")
    shutil.rmtree(out)


def test_compact_parquet_preserves_partitioned_layout(spark, tmp_path):
    """r11 regression: compacting a PARTITIONED dataset (the layout the
    streaming ParquetSink now writes under partition_cols) must compact
    each col=value leaf in place — pre-fix the root-level rewrite
    flattened the layout (partition column materialized into the files,
    per-partition path reads broke, pruning lost). Pin: dirs survive,
    rows identical, per-leaf file count drops to 1, a partition filter
    still plans as PartitionFilters."""
    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import compact_parquet

    out = str(tmp_path / "lake")
    # 3 partitions x 4 append epochs = 4 small files per leaf
    for epoch in range(4):
        spark.range(30).select(
            (F.col("id") + epoch * 100).alias("v"),
            (F.col("id") % 3).cast("string").alias("day"),
        ).repartition(1).write.mode("append").partitionBy("day").parquet(out)

    import os

    def leaf_files(day):
        d = os.path.join(out, f"day={day}")
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert all(len(leaf_files(d)) == 4 for d in "012")
    before = sorted(r.v for r in spark.read.parquet(out).collect())

    n = compact_parquet(spark, out, target_file_mb=128)
    assert n == 3  # one compacted file per leaf
    assert {"day=0", "day=1", "day=2"} <= set(os.listdir(out))
    assert all(len(leaf_files(d)) == 1 for d in "012")
    after_df = spark.read.parquet(out)
    assert sorted(r.v for r in after_df.collect()) == before
    plan = (
        after_df.filter(F.col("day") == "1")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_compact_parquet_recovers_crashed_leaf_swap_in_partitioned_layout(
    spark, tmp_path
):
    """r12 (ADVICE): a crash between a LEAF's two renames leaves
    `day=1.__old__` (the data) and possibly a completed `day=1.__compact__`
    stray — both contain '=' and pre-fix were recursed as partition leaves:
    the real data got compacted in place under bogus partition value
    '1.__old__' and the stray became a duplicate partition. The next
    invocation must restore the leaf, drop the stray, and compact normally."""
    import os

    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import compact_parquet

    out = str(tmp_path / "lake")
    for epoch in range(3):
        spark.range(30).select(
            (F.col("id") + epoch * 100).alias("v"),
            (F.col("id") % 3).cast("string").alias("day"),
        ).repartition(1).write.mode("append").partitionBy("day").parquet(out)
    before = sorted(r.v for r in spark.read.parquet(out).collect())

    # simulate the dead run's crash window on leaf day=1: data renamed away,
    # plus a COMPLETED __compact__ stray (would duplicate the partition)
    leaf = os.path.join(out, "day=1")
    os.rename(leaf, leaf + ".__old__")
    spark.read.parquet(leaf + ".__old__").repartition(1).write.parquet(
        leaf + ".__compact__"
    )
    assert not os.path.exists(leaf)

    n = compact_parquet(spark, out, target_file_mb=128)
    assert n == 3  # one compacted file per REAL leaf — no .__old__ leaf
    assert sorted(d for d in os.listdir(out) if d.startswith("day=")) == [
        "day=0",
        "day=1",
        "day=2",
    ]
    after_df = spark.read.parquet(out)
    assert sorted(r.v for r in after_df.collect()) == before


def test_compact_parquet_sort_by_preserves_clustering(spark, tmp_path):
    """r12: compacting a CLUSTERED dataset (files covering narrow
    contiguous key ranges) with the default hash repartition silently
    destroys the clustering — rows rehash across files and every file's
    min/max widens to the full key domain, turning measured stat-skips
    back into full scans with no correctness signal. sort_by must keep
    per-file sortedness and narrow, non-overlapping key ranges while
    still hitting the size target."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import compact_parquet

    out = str(tmp_path / "clustered")
    # ~3 MB of key-range-clustered data in 4 fragmented appends (the
    # post-ingest state a clustered table reaches after micro-batches)
    pad = "x" * 64
    for epoch in range(4):
        (
            spark.range(40_000)
            .select(
                (F.col("id") % 10_000).alias("k"),
                F.concat(F.lit(pad), F.col("id").cast("string")).alias("payload"),
            )
            .repartitionByRange(4, F.col("k"))
            .sortWithinPartitions("k")
            .write.mode("append")
            .parquet(out)
        )
    # collect truth BEFORE the swap — the lazy plan's source files are
    # gone after compaction (the measure_compaction lesson)
    truth = sorted(
        (r.k, r["count"])
        for r in spark.read.parquet(out).groupBy("k").count().collect()
    )

    n = compact_parquet(spark, out, target_file_mb=1, sort_by=("k",))
    assert n >= 2, n  # size target still produces multiple files

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(out)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert len(files) == n
    ranges = []
    for f in files:
        col = pq.read_table(f, columns=["k"])["k"].to_pylist()
        assert col == sorted(col), f  # within-file sort preserved
        ranges.append((col[0], col[-1]))
    # narrow, non-overlapping ranges: sorted by min, each file's max
    # stays below the next file's min (range partitioning = disjoint)
    ranges.sort()
    for (_, hi), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi <= lo2, ranges
    after = sorted(
        (r.k, r["count"])
        for r in spark.read.parquet(out).groupBy("k").count().collect()
    )
    assert after == truth


import pytest as _pytest


@_pytest.mark.parametrize(
    "states",
    [
        # one leaf per crash point of the swap sequence
        # (write tmp -> rename path->old -> rename tmp->path -> rm old):
        # a = crashed after tmp write (X + X.__compact__)
        # b = crashed between renames (X.__old__ + X.__compact__, X gone)
        # c = crashed before old cleanup (X=compacted + X.__old__=original)
        ("a", "b", "c"),
        ("b", "b", "b"),
        ("a", "intact", "b"),
        ("c", "a", "intact"),
        ("intact", "c", "b"),
    ],
)
def test_compact_parquet_recovers_any_leaf_crash_state(spark, tmp_path, states):
    """r12 hardening of the ADVICE crash-recovery fix: whatever mix of
    per-leaf crash states a dead compaction run left behind — a stale
    completed tmp beside live data, a leaf stranded at __old__, or both
    dirs present after the second rename — ONE compact_parquet call must
    restore/clean every leaf, keep the exact data multiset, and leave no
    swap artifacts."""
    import os

    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import compact_parquet

    out = str(tmp_path / "lake")
    for epoch in range(2):
        spark.range(30).select(
            (F.col("id") + epoch * 100).alias("v"),
            (F.col("id") % 3).cast("string").alias("day"),
        ).repartition(1).write.mode("append").partitionBy("day").parquet(out)
    truth = sorted(r.v for r in spark.read.parquet(out).collect())

    for day, state in enumerate(states):
        leaf = os.path.join(out, f"day={day}")
        if state == "intact":
            continue
        # the dead run's completed compacted copy of this leaf
        spark.read.parquet(leaf).repartition(1).write.parquet(
            leaf + ".__compact__"
        )
        if state == "b":
            os.rename(leaf, leaf + ".__old__")
        elif state == "c":
            os.rename(leaf, leaf + ".__old__")
            os.rename(leaf + ".__compact__", leaf)

    n = compact_parquet(spark, out, target_file_mb=128)
    assert n == 3
    assert sorted(r.v for r in spark.read.parquet(out).collect()) == truth
    leftovers = [
        os.path.join(dp, d)
        for dp, ds, _ in os.walk(out)
        for d in ds
        if d.endswith(".__old__") or d.endswith(".__compact__")
    ]
    assert not leftovers, leftovers
    for day in range(3):
        files = [
            f
            for f in os.listdir(os.path.join(out, f"day={day}"))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (day, files)


def test_compact_parquet_recovers_crashed_root_swap_of_partitioned_layout(
    spark, tmp_path
):
    """r12 (ADVICE): restoring a PARTITIONED root from `<path>.__old__` must
    happen before the layout probe — pre-fix part_dirs was computed first,
    found nothing, and the restored root fell through to the flat rewrite,
    re-introducing the layout-flattening bug."""
    import os

    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import compact_parquet

    out = str(tmp_path / "lake")
    for epoch in range(2):
        spark.range(30).select(
            (F.col("id") + epoch * 100).alias("v"),
            (F.col("id") % 3).cast("string").alias("day"),
        ).repartition(1).write.mode("append").partitionBy("day").parquet(out)
    before = sorted(r.v for r in spark.read.parquet(out).collect())
    os.rename(out, out + ".__old__")

    n = compact_parquet(spark, out, target_file_mb=128)
    assert n == 3  # per-leaf compaction, NOT one flat file
    assert {"day=0", "day=1", "day=2"} <= set(os.listdir(out))
    after_df = spark.read.parquet(out)
    assert sorted(r.v for r in after_df.collect()) == before
    assert "day" in after_df.columns  # layout (partition column) survived


def _write_daily_lake(spark, out, days=6, rows=20):
    from pyspark.sql import functions as F

    for epoch in range(2):
        spark.range(rows).select(
            (F.col("id") + epoch * 100).alias("v"),
            F.concat(
                F.lit("2026-01-0"), ((F.col("id") % days) + 1).cast("string")
            ).alias("day"),
        ).repartition(1).write.mode("append").partitionBy("day").parquet(out)


def test_expire_partitions_by_cutoff_removes_only_old_leaves(spark, tmp_path):
    """Retention leg of the lake lifecycle: cutoff expiry removes exactly
    the leaves below the cutoff (string order == date order on ISO
    values), retained rows are untouched, and the post-expiry read
    equals the retained-window filter of the pre-expiry data."""
    import os

    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import expire_partitions

    out = str(tmp_path / "lake")
    _write_daily_lake(spark, out)
    before = spark.read.parquet(out)
    want = sorted(
        (r.day, r.v) for r in before.filter(F.col("day") >= "2026-01-03").collect()
    )

    removed = expire_partitions(out, "day", cutoff="2026-01-03")
    assert removed == ["day=2026-01-01", "day=2026-01-02"]
    assert not any(n.startswith("day=2026-01-0") and n[-1] in "12"
                   for n in os.listdir(out) if not n.endswith("__"))
    got = sorted((r.day, r.v) for r in spark.read.parquet(out).collect())
    assert got == want
    # idempotent: nothing left below the cutoff
    assert expire_partitions(out, "day", cutoff="2026-01-03") == []


def test_expire_partitions_keep_latest(spark, tmp_path):
    import os

    from psql_streamer_spark.sources.io import expire_partitions

    out = str(tmp_path / "lake")
    _write_daily_lake(spark, out)
    removed = expire_partitions(out, "day", keep_latest=2)
    assert len(removed) == 4
    leaves = sorted(n for n in os.listdir(out) if n.startswith("day="))
    assert leaves == ["day=2026-01-05", "day=2026-01-06"]
    # keep_latest larger than the leaf count is a no-op, not an error
    assert expire_partitions(out, "day", keep_latest=10) == []


def test_expire_partitions_full_expiry_is_idempotent(spark, tmp_path):
    """A retention cron that fully expires a table (keep_latest=0, or a
    cutoff above every leaf) must succeed with [] on re-run — the dir
    converged — while a wrong-column retry still refuses."""
    import os

    import pytest

    from psql_streamer_spark.sources.io import expire_partitions

    out = str(tmp_path / "lake")
    _write_daily_lake(spark, out)
    removed = expire_partitions(out, "day", keep_latest=0)
    assert len(removed) == 6
    assert not any(n.startswith("day=") for n in os.listdir(out))
    # re-run: already converged, not an error
    assert expire_partitions(out, "day", keep_latest=0) == []
    assert expire_partitions(out, "day", cutoff="2027-01-01") == []
    # but the swept dir still knows its axis — a typo'd column refuses
    with pytest.raises(ValueError, match="previously held day="):
        expire_partitions(out, "hour", keep_latest=0)
    # and a flat dataset (never partitioned) still refuses as before
    flat = tmp_path / "flat"
    spark.range(3).write.parquet(str(flat))
    with pytest.raises(ValueError, match="no day=.* partition leaves"):
        expire_partitions(str(flat), "day", keep_latest=0)


def test_expire_partitions_marker_cleared_when_leaves_reappear(
    spark, tmp_path
):
    """A dir fully expired under column A then RE-POPULATED must not let
    the stale `._expired_layout` marker mask anything: new A=* leaves
    clear the marker (the dir is live again), and new B=* leaves make
    expire(column=A) raise the mixed-layout refusal instead of silently
    returning [] (a misconfigured retention cron must surface)."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import expire_partitions

    # case 1: repopulated under a DIFFERENT axis -> refusal, not []
    out = str(tmp_path / "lake_b")
    _write_daily_lake(spark, out)
    assert len(expire_partitions(out, "day", keep_latest=0)) == 6
    spark.range(4).withColumn("hour", F.col("id") % 2).write.mode(
        "append"
    ).partitionBy("hour").parquet(out)
    with pytest.raises(ValueError, match="different column"):
        expire_partitions(out, "day", keep_latest=0)

    # case 2: repopulated under the SAME axis -> marker cleared on the
    # next run, so a later wrong-column call gets the live-dir refusal
    out2 = str(tmp_path / "lake_a")
    _write_daily_lake(spark, out2)
    assert len(expire_partitions(out2, "day", keep_latest=0)) == 6
    assert os.path.isfile(os.path.join(out2, "._expired_layout"))
    _write_daily_lake(spark, out2)
    assert expire_partitions(out2, "day", keep_latest=10) == []
    assert not os.path.isfile(os.path.join(out2, "._expired_layout"))
    with pytest.raises(ValueError, match="refusing to expire"):
        expire_partitions(out2, "hour", keep_latest=0)


def test_expire_partitions_refuses_flat_and_mixed_layouts(spark, tmp_path):
    import pytest
    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import expire_partitions

    flat = str(tmp_path / "flat")
    spark.range(10).write.parquet(flat)
    with pytest.raises(ValueError, match="refusing to expire"):
        expire_partitions(flat, "day", cutoff="z")

    lake = str(tmp_path / "lake")
    _write_daily_lake(spark, lake)
    # wrong column name must refuse, not silently expire nothing
    with pytest.raises(ValueError, match="refusing to expire"):
        expire_partitions(lake, "hour", cutoff="z")
    # exactly-one-selector contract
    with pytest.raises(ValueError, match="exactly one"):
        expire_partitions(lake, "day")
    with pytest.raises(ValueError, match="exactly one"):
        expire_partitions(lake, "day", cutoff="x", keep_latest=1)


def test_expire_partitions_crash_tombstone_is_swept_never_restored(
    spark, tmp_path
):
    """A crash between the expiry rename and the rmtree leaves a
    `day=v.__expired__` tombstone. Both maintenance entry points must
    sweep it: the next expire_partitions run, and compact_parquet (whose
    recovery loop must NOT recurse into it as a partition leaf or
    restore it like a `.__old__` swap)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import compact_parquet, expire_partitions

    out = str(tmp_path / "lake")
    _write_daily_lake(spark, out)
    # partition-value inference types ISO dirnames as DATE; key by string
    day_counts = {
        r.day: r.n
        for r in spark.read.parquet(out)
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.count("*").alias("n"))
        .collect()
    }
    rows_before = sum(day_counts.values())

    # simulate the crash: rename done (commit point), rmtree never ran
    os.rename(
        os.path.join(out, "day=2026-01-01"),
        os.path.join(out, "day=2026-01-01.__expired__"),
    )
    # next expire run sweeps the tombstone and proceeds with its own work
    removed = expire_partitions(out, "day", cutoff="2026-01-03")
    assert removed == ["day=2026-01-02"]
    assert not any(n.endswith(".__expired__") for n in os.listdir(out))
    gone = day_counts["2026-01-01"] + day_counts["2026-01-02"]
    assert spark.read.parquet(out).count() == rows_before - gone

    # same for compact_parquet: tombstone swept, not restored/compacted
    os.rename(
        os.path.join(out, "day=2026-01-03"),
        os.path.join(out, "day=2026-01-03.__expired__"),
    )
    compact_parquet(spark, out, target_file_mb=128)
    names = set(os.listdir(out))
    assert "day=2026-01-03" not in names
    assert not any(n.endswith(".__expired__") for n in names)
    gone += day_counts["2026-01-03"]
    assert spark.read.parquet(out).count() == rows_before - gone
    shutil.rmtree(out)


def test_expire_then_compact_preserves_pruning(spark, tmp_path):
    """Lifecycle composition: expire -> compact on the survivor leaves;
    the layout (and PartitionFilters pruning) must survive both."""
    import os

    from pyspark.sql import functions as F

    from psql_streamer_spark.sources.io import compact_parquet, expire_partitions

    out = str(tmp_path / "lake")
    _write_daily_lake(spark, out)
    expire_partitions(out, "day", keep_latest=3)
    compact_parquet(spark, out, target_file_mb=128)
    leaves = sorted(n for n in os.listdir(out) if n.startswith("day="))
    assert leaves == ["day=2026-01-04", "day=2026-01-05", "day=2026-01-06"]
    for leaf in leaves:
        files = [
            f
            for f in os.listdir(os.path.join(out, leaf))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1
    df = spark.read.parquet(out).filter(F.col("day") == "2026-01-05")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert df.count() > 0


def test_expire_partitions_full_expiry_survives_crash_mid_removal(
    spark, tmp_path, monkeypatch
):
    """The axis marker is written BEFORE the removal loop: a crash after
    the final rename (the commit point) but before its rmtree must leave
    a dir the retry converges on, not one that raises 'no leaves'."""
    import os
    import shutil as _shutil

    from psql_streamer_spark.sources.io import expire_partitions

    out = str(tmp_path / "lake")
    _write_daily_lake(spark, out)

    real_rmtree = _shutil.rmtree
    state = {"n": 0}

    def crashing_rmtree(p, *a, **kw):
        state["n"] += 1
        if state["n"] == 6:  # die on the LAST leaf's tombstone sweep
            raise OSError("injected crash mid-rmtree")
        return real_rmtree(p, *a, **kw)

    # expire_partitions imports shutil inside the function body, so patch
    # the shared module object itself
    monkeypatch.setattr(_shutil, "rmtree", crashing_rmtree)
    import pytest

    with pytest.raises(OSError, match="injected crash"):
        expire_partitions(out, "day", keep_latest=0)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)
    # post-crash state: no live leaves (last one renamed to tombstone),
    # marker present from the pre-loop write
    assert not any(
        n.startswith("day=") and not n.endswith("__")
        for n in os.listdir(out)
    )
    # the retry sweeps the tombstone and converges
    assert expire_partitions(out, "day", keep_latest=0) == []
    assert not any(n.startswith("day=") for n in os.listdir(out))
