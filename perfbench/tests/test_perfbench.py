"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench/tests -q

The smoke tests start Spark and take a few minutes; ``-k "not smoke"``
keeps to the fast ones.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import measure  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# -- latency math ----------------------------------------------------------------
def test_commit_latency_from_mtimes(tmp_path):
    commits = tmp_path / "commits"
    commits.mkdir()
    for epoch, t in ((0, 1000.5), (1, 1002.0)):
        f = commits / str(epoch)
        f.write_text("v1\n{}")
        os.utime(f, (t, t))
    (commits / ".0.crc").write_text("")
    times = measure.commit_times(str(tmp_path))
    assert times == {0: 1000.5, 1: 1002.0}
    lat = measure.commit_latencies({0: [1000.0, 1000.25], 1: [1001.0]}, times)
    assert sorted(lat) == [0.25, 0.5, 1.0]
    assert measure.quantile(lat, 0.5) == 0.5
    assert measure.quantile(lat, 0.95) == pytest.approx(0.95)


def test_uncommitted_epoch_is_an_error():
    with pytest.raises(ValueError, match="never committed"):
        measure.commit_latencies({3: [1.0]}, {0: 2.0})


def test_backlog_counts_published_but_uncommitted_files(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    (src / "0").write_text(
        'v1\n{"path":"a","batchId":0}\n{"path":"b","batchId":0}\n')
    # a compacted log repeats earlier entries: counted once, by batchId
    (src / "1.compact").write_text(
        'v1\n{"path":"a","batchId":0}\n{"path":"b","batchId":0}\n'
        '{"path":"c","batchId":1}\n')
    files = [{"written": t} for t in (1.0, 1.5, 2.5, 2.6)]
    # epoch 0 commits at 2.0 with 2 of 2 published files; epoch 1 commits
    # at 3.0 with 1 of the 2 files published since: one file left behind
    n = workloads._backlog_events(str(tmp_path), files, {0: 2.0, 1: 3.0})
    assert n == 1 * workloads.TRICKLE_PER_FILE


def test_delivery_check_counts_loss_and_duplicates():
    import pandas as pd

    pdf = pd.DataFrame({"uuid": ["a", "b", "b"], "topic": ["t0", "t1", "t1"]})
    assert workloads._check_delivery(pdf.iloc[:2], {"a", "b"}, {"t0": 1, "t1": 1}) == 0
    assert workloads._check_delivery(pdf, {"a", "b"}, {"t0": 1, "t1": 1}) == 1
    assert workloads._check_delivery(pdf.iloc[:1], {"a", "b"}, {"t0": 1, "t1": 1}) == 1
    # right events, wrong topics
    bad = pd.DataFrame({"uuid": ["a", "b"], "topic": ["t1", "t1"]})
    assert workloads._check_delivery(bad, {"a", "b"}, {"t0": 1, "t1": 1}) == 2


def test_epoch_phases_skip_idle_triggers():
    epochs = [
        {"rows": 0, "durations": {"triggerExecution": 5.0}},
        {"rows": 10, "durations": {"triggerExecution": 100.0, "addBatch": 80.0}},
        {"rows": 30, "durations": {"triggerExecution": 300.0, "addBatch": 200.0}},
    ]
    ph = measure.epoch_phases(epochs, [0.05, 0.05])
    assert ph["epochs"] == 2
    assert ph["trigger_ms_p50"] == 200.0
    assert ph["add_batch_ms_p50"] == 140.0
    assert ph["overhead_ms_p50"] == pytest.approx(90.0)
    assert ph["rows_per_epoch_p50"] == 20


def test_spans_nest_and_free_when_disabled(tmp_path):
    t = measure.Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None), ("inner", 0)]
    off = measure.Tracer(False)
    with off.span("x"):
        off.add("y", 0.0, 1.0)
    assert off.spans == []


def test_generators_are_seeded(tmp_path):
    a = gen_truth(tmp_path / "a", 5)
    b = gen_truth(tmp_path / "b", 5)
    assert a == b
    assert gen_truth(tmp_path / "c", 6) != a


def gen_truth(path, seed):
    import gen

    truth = gen.write_backlog(str(path), seed, 2, 50)
    return [r["uuid"] for r in truth], sorted(os.listdir(path))


# -- event-log fold ----------------------------------------------------------------
def test_event_log_fold_on_a_tiny_query(tmp_path):
    import time

    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    try:
        t0 = time.time()
        spark.sparkContext.setJobDescription("tiny_groupby")
        spark.range(20_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
        spark.sparkContext.setJobDescription(None)
        t1 = time.time()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()
    folded = measure.fold_event_log(
        measure.event_log_file(str(log_dir), app_id), t0 * 1000, t1 * 1000
    )
    q = folded["by_desc"]["tiny_groupby"]
    assert q["tasks"] >= 2 and q["stages"] >= 2
    assert q["shuffle_write_bytes"] > 0 and q["shuffle_read_bytes"] > 0
    assert q["executor_cpu_ms"] > 0
    sp = folded["spark"]
    assert 0 <= sp["driver_ms"] <= (t1 - t0) * 1000
    # a window that excludes every job folds to nothing
    empty = measure.fold_event_log(
        measure.event_log_file(str(log_dir), app_id), 0, 1
    )
    assert empty["by_desc"] == {}


# -- names and smoke runs ------------------------------------------------------------
def test_spec_names_are_unique_and_within_limits():
    names = [m["name"] for k in ("end_to_end", "per_layer") for m in SPEC[k]]
    assert len(names) == len(set(names))
    assert "setup_s" in names
    for m in SPEC["end_to_end"]:
        assert 0 < m["bound"] <= 0.25


def _run(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_every_workload_prints_every_metric(workload):
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        res = _run(workload, trace)
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        assert list(res["metrics"]) == [m["name"] for m in SPEC[key]]
        for m in SPEC[key]:
            assert res["metrics"][m["name"]]["unit"] == m["unit"]
        if trace == 0:
            assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_engine(tmp_path):
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_drain",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert out.returncode != 0 and out.stdout == ""
