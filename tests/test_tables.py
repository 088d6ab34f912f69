"""`sources.tables.load_table` infers each lake file's schema once per
application: a warm load launches no Spark job, a rewritten file is
inferred again, and every load is still a fresh relation."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from psql_streamer_spark.sources.tables import load_table
from tests.conftest import SF_SMALL
from tests.test_epoch_files import _jobs


def _lake(tmp_path, *tables) -> str:
    for t in tables:
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    return str(tmp_path)


def test_warm_load_runs_no_spark_job(spark, tmp_path):
    lake = _lake(tmp_path, "nation")
    cold = _jobs(spark, lambda: load_table(spark, "nation", lake))
    warm = _jobs(spark, lambda: load_table(spark, "nation", lake))
    assert (cold, warm) == (1, 0)
    assert load_table(spark, "nation", lake).count() == 25


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pq.write_table(pa.table({"r_regionkey": [0, 1]}), path)
    assert load_table(spark, "region", str(tmp_path)).columns == ["r_regionkey"]
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    jobs = _jobs(spark, lambda: load_table(spark, "region", str(tmp_path)).collect())
    assert jobs == 2  # the inference, then the collect
    assert load_table(spark, "region", str(tmp_path)).collect()[1].r_name == "b"


def test_a_directory_is_inferred_on_every_load(spark, tmp_path):
    spark.read.parquet(os.path.join(SF_SMALL, "region.parquet")).write.parquet(
        str(tmp_path / "region.parquet"))
    load_table(spark, "region", str(tmp_path))
    assert _jobs(spark, lambda: load_table(spark, "region", str(tmp_path))) == 1


def test_events_ts_is_a_timestamp_cold_and_warm(spark, tmp_path):
    """Both the lake's `timestamp[us]` file and an older generation's
    TIMESTAMP(NANOS) one, which the memo holds with `ts` as a long."""
    nanos = pa.table({
        "event_id": [1, 2],
        "ts": pa.array([1_700_000_000_123_456_000, 1_700_000_001_000_000_000],
                       pa.timestamp("ns")),
    })
    pq.write_table(nanos, tmp_path / "events.parquet", version="2.6")
    for lake in (SF_SMALL, str(tmp_path)):
        loads = [load_table(spark, "events", lake) for _ in range(2)]
        assert [dict(e.dtypes)["ts"] for e in loads] == ["timestamp", "timestamp"]
        assert loads[0].collect() == loads[1].collect()
    assert str(loads[1].collect()[0].ts.microsecond) == "123456"


def test_one_table_loaded_twice_keeps_distinct_columns(spark, tmp_path):
    """A self-join of two loads: a shared frame would give both sides one
    set of attribute ids."""
    lake = _lake(tmp_path, "nation")
    load_table(spark, "nation", lake)
    n1, n2 = load_table(spark, "nation", lake), load_table(spark, "nation", lake)
    got = n1.join(n2, n1.n_nationkey == n2.n_regionkey).select(
        n1.n_nationkey.alias("a"), n2.n_nationkey.alias("b"))
    nation = pq.read_table(tmp_path / "nation.parquet").to_pandas()
    want = nation.merge(nation, left_on="n_nationkey", right_on="n_regionkey")
    assert sorted(map(tuple, got.collect())) == sorted(
        zip(want.n_nationkey_x, want.n_nationkey_y))
    assert len(want) == 25 and (want.n_nationkey_x != want.n_nationkey_y).any()


def test_events_load_leaves_nanos_as_long_set(spark, tmp_path):
    """`load_table`'s session-wide contract: after an `events` load the
    session keeps `nanosAsLong` on, so a direct read of a
    TIMESTAMP(NANOS) file returns the column as a long."""
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf)
    pq.write_table(
        pa.table({"ts": pa.array([1_700_000_000_123_456_000], pa.timestamp("ns"))}),
        tmp_path / "nanos.parquet", version="2.6")
    load_table(spark, "events", SF_SMALL)
    assert spark.conf.get(conf) == "true"
    assert spark.read.parquet(str(tmp_path / "nanos.parquet")).dtypes == [("ts", "bigint")]
