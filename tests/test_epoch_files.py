"""The CDC epoch's one file write (`CdcPipeline._write_files`,
`psql_streamer_spark/jvm/EpochFiles.java`): an epoch's EpochParquetSink,
ParquetSink and parquet DLQ outputs land from one Spark job, staged under
`_stage-<pipeline>-<epoch>-<uuid>` and moved into each sink's layout. Each check runs
against the per-sink path, which the same sinks take behind a wrapper that
only forwards `write`."""

from __future__ import annotations

import collections
import json
import os
import re
import uuid

import pyarrow.parquet as pq
import pytest

import psql_streamer_spark.streaming.pipeline as pipeline
from psql_streamer_spark.streaming import CdcPipeline, ParquetSink, SinkRoute
from psql_streamer_spark.streaming.sinks import EpochParquetSink
from tests.test_streaming import _event, _write_batch, dirs  # noqa: F401

ROW_SCHEMA = b"org.apache.spark.sql.parquet.row.metadata"


class PassThrough:
    """Forwards `write`; a wrapped sink takes the per-sink path."""

    def __init__(self, inner):
        self.inner, self.name = inner, inner.name

    def write(self, batch_df, batch_id: int) -> None:
        self.inner.write(batch_df, batch_id)


def _no_uuid(i: int) -> str:
    row = json.loads(_event(i, table="t0"))
    row["UUID"] = ""
    return json.dumps(row)


def _pipeline(spark, src, root, routes, dlq=True, wrap=lambda s: s):
    return CdcPipeline(
        spark, str(src), os.path.join(root, "ckpt"),
        routes=[SinkRoute(wrap(sink), *rules) for sink, *rules in routes],
        dlq_sink=wrap(EpochParquetSink(os.path.join(root, "dlq"), "dlq")) if dlq else None,
        max_files_per_trigger=1,
    )


def _cdc_sinks(root):
    """Every route kind: a mapped EpochParquetSink, a `table`-partitioned
    ParquetSink with a fallback topic, and a passthrough ParquetSink."""
    return [
        (EpochParquetSink(os.path.join(root, "primary"), "primary"), {"t0": "a", "t1": "b"}),
        (ParquetSink(os.path.join(root, "by_table"), "by_table", ["table"]),
         {"t0": "hot"}, "cold"),
        (ParquetSink(os.path.join(root, "every"), "every"),),
    ]


def _layout(root) -> collections.Counter:
    """Every file and directory under ``root``, with the unique part of a
    part-file name cut out, and outside the checkpoint."""
    out = collections.Counter()
    for d, dirs, files in os.walk(root):
        rel = os.path.relpath(d, root)
        if rel.split(os.sep)[0] == "ckpt":
            continue
        for name in dirs + files:
            out[os.path.join(rel, re.sub(r"part-[^/]*\.parquet", "part.parquet", name))] += 1
    return out


def _contents(spark, path):
    """A sink's read schema and rows, and the distinct schemas of its
    parquet footers (Spark's row schema included)."""
    df = spark.read.parquet(path)
    footers = set()
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                md = pq.read_metadata(os.path.join(d, f))
                footers.add((str(md.schema.to_arrow_schema()), md.metadata[ROW_SCHEMA]))
    return df.schema, sorted(df.toJSON().collect()), footers


def _stages(root) -> list[str]:
    return [os.path.join(d, n) for d, dirs, _ in os.walk(root) for n in dirs
            if n.startswith("_stage-")]


def test_one_write_matches_the_per_sink_path(spark, tmp_path):
    """Malformed, UUID-less, non-DML, unroutable, fallback and passthrough
    rows land in the same files, with the same rows, footers and read
    schema, on either path; so do the pipeline's counters."""
    src = tmp_path / "src"
    src.mkdir()
    for f in range(2):
        n = 100 * f
        _write_batch(src, f"b{f}.json", [
            *(_event(n + i, table=f"t{i % 4}", action=("insert", "update", "delete")[i % 3])
              for i in range(12)),
            _event(n + 50, table="ghost"),
            _event(n + 51, action="begin"),
            "not json",
            _no_uuid(n + 52),
        ])
    one = _pipeline(spark, src, str(tmp_path / "one"), _cdc_sinks(str(tmp_path / "one")))
    per = _pipeline(spark, src, str(tmp_path / "per"), _cdc_sinks(str(tmp_path / "per")),
                    wrap=PassThrough)
    one.run_to_completion()
    per.run_to_completion()

    assert len(one._plan.file_routes) == 3 and one._plan.dlq_file
    assert not per._plan.file_routes and per._plan.dlq_apart
    assert one.stats.as_line() == per.stats.as_line()
    assert (one.stats.events_in, one.stats.events_dlq, one.stats.events_discarded) == (32, 4, 0)
    for sink in ("primary", "by_table", "every", "dlq"):
        mine = _contents(spark, str(tmp_path / "one" / sink))
        assert mine == _contents(spark, str(tmp_path / "per" / sink)), sink
        assert mine[1], sink
    assert _layout(tmp_path / "one") == _layout(tmp_path / "per")
    assert not _stages(tmp_path)


def _jobs(spark, body) -> int:
    """Spark jobs that ``body()`` ran, from Spark's status listener."""
    sc = spark.sparkContext
    group = f"epoch-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one CDC epoch")
    try:
        body()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_file_sink_epoch_runs_one_spark_job(spark, tmp_path):
    """Two parquet routes and a parquet DLQ: one write job per epoch, where
    the per-sink path runs one per sink."""
    lines = [_event(i, table=f"t{i % 5}") for i in range(99)] + ["not json"]
    batch = spark.createDataFrame([(ln,) for ln in lines], "value string")
    jobs = {}
    for tag, wrap in (("one", lambda s: s), ("per", PassThrough)):
        root = str(tmp_path / tag)
        pipe = _pipeline(spark, "unused", root, _cdc_sinks(root)[:2], wrap=wrap)
        pipe._process_batch(batch, 0)
        jobs[tag] = _jobs(spark, lambda: pipe._process_batch(batch, 1))
        assert pipe.stats.events_dlq == 2
    assert jobs == {"one": 1, "per": 3}


def test_one_write_replay_replaces_epochs_and_only_appends_partitions(spark, dirs):
    """A replay under a fresh checkpoint restarts the batch ids: each
    EpochParquetSink epoch is replaced, the partitioned ParquetSink gets
    the rows a second time, as on the per-sink path."""
    src, ckpt, tmp = dirs
    _write_batch(src, "b1.json", [_event(i, table=f"t{i % 3}") for i in range(5)] + ["not json"])
    _write_batch(src, "b2.json", [_event(10 + i, table="t1") for i in range(3)])
    root = str(tmp / "out")
    pipe = _pipeline(spark, src, root, _cdc_sinks(root)[:2])
    pipe.run_to_completion()
    primary, by_table = EpochParquetSink(os.path.join(root, "primary")), os.path.join(root, "by_table")
    dlq = EpochParquetSink(os.path.join(root, "dlq"))
    assert pipe._plan.file_routes and pipe._plan.dlq_file
    assert (primary.read(spark).count(), spark.read.parquet(by_table).count()) == (7, 8)

    pipe.rewind(str(tmp / "ckpt2"), available_now=True).awaitTermination()
    pipe.query = None
    replayed = primary.read(spark)
    assert replayed.count() == 7
    assert {r.epoch for r in replayed.select("epoch").distinct().collect()} == {0, 1}
    assert spark.read.parquet(by_table).count() == 16
    assert dlq.read(spark).count() == 1
    assert not _stages(tmp)


def test_crash_before_the_moves_leaves_no_partial_epoch(spark, dirs, monkeypatch):
    """An epoch that fails after its staged write and before its moves
    shows none of its rows: readers skip the `_stage-*` directory, and the
    next run sweeps it on its first epoch and replays the epoch."""
    src, ckpt, tmp = dirs
    root = str(tmp / "out")
    _write_batch(src, "b1.json", [_event(i, table=f"t{i % 3}") for i in range(4)] + ["not json"])
    _pipeline(spark, src, root, _cdc_sinks(root)).run_to_completion()

    write, publish = pipeline._epoch_files()

    def crash(*args):
        raise RuntimeError("crash between the staged write and the moves")

    monkeypatch.setattr(pipeline, "_epoch_files", lambda: (write, crash))
    _write_batch(src, "b2.json", [_event(10 + i, table="t1") for i in range(3)] + ["not json"])
    crashed = _pipeline(spark, src, root, _cdc_sinks(root))
    with pytest.raises(Exception, match="crash between"):
        crashed.run_to_completion()
    assert crashed.stats.sink_errors == 1

    (stage,) = _stages(tmp)
    assert re.fullmatch(r"_stage-[0-9a-f]{16}-1-[0-9a-f]{32}", os.path.basename(stage))
    assert any(f.endswith(".parquet") for _, _, fs in os.walk(stage) for f in fs)
    primary = EpochParquetSink(os.path.join(root, "primary"))
    counts = lambda: (  # noqa: E731
        primary.read(spark).count(),
        spark.read.parquet(os.path.join(root, "by_table")).count(),
        spark.read.parquet(os.path.join(root, "every")).count(),
        EpochParquetSink(os.path.join(root, "dlq")).read(spark).count(),
    )
    assert counts() == (3, 4, 4, 1)
    assert not os.path.exists(os.path.join(root, "primary", "epoch=000000000001"))

    monkeypatch.undo()
    _pipeline(spark, src, root, _cdc_sinks(root)).run_to_completion()
    assert counts() == (6, 7, 7, 2)
    assert not _stages(tmp)


def test_empty_output_leaves_what_the_sinks_own_write_leaves(spark, dirs):
    """A route that gets no rows in an epoch is written by its sink's own
    `write` of the empty frame: an EpochParquetSink epoch holds one
    schema-only file, an unpartitioned append adds one, a partitioned
    append adds none. A clean epoch writes no DLQ directory."""
    src, ckpt, tmp = dirs
    _write_batch(src, "b1.json", [_event(i) for i in range(3)] + ["not json"])
    _write_batch(src, "b2.json", [_event(10 + i, table="t5") for i in range(3)])
    roots = {}
    for tag, wrap in (("one", lambda s: s), ("per", PassThrough)):
        root = roots[tag] = str(tmp / tag)
        pipe = _pipeline(spark, src, root, [
            (EpochParquetSink(os.path.join(root, "primary"), "primary"), {"test": "a"}),
            (ParquetSink(os.path.join(root, "flat"), "flat"), {"test": "a"}),
            (ParquetSink(os.path.join(root, "by_table"), "by_table", ["table"]),
             {"test": "a"}),
        ], wrap=wrap)
        pipe.run_to_completion()
        assert len(pipe._plan.file_routes) == (3 if tag == "one" else 0)
        assert pipe.stats.events_routed == 3

    assert _layout(roots["one"]) == _layout(roots["per"])
    layout = _layout(roots["one"])
    empty_epoch = os.path.join(roots["one"], "primary", "epoch=000000000001")
    (part,) = [f for f in os.listdir(empty_epoch) if f.endswith(".parquet")]
    assert pq.read_metadata(os.path.join(empty_epoch, part)).num_rows == 0
    assert layout[os.path.join("primary", "epoch=000000000001", "_SUCCESS")] == 1
    assert layout[os.path.join("flat", "part.parquet")] == 2
    assert layout[os.path.join("by_table", "table=test", "part.parquet")] == 1
    assert [d for d in layout if d.startswith(os.path.join("by_table", "table="))
            and d.count(os.sep) == 1] == [os.path.join("by_table", "table=test")]
    assert os.listdir(os.path.join(roots["one"], "dlq")) == ["epoch=000000000000"]
    for sink in ("primary", "flat", "by_table"):
        assert _contents(spark, os.path.join(roots["one"], sink)) == _contents(
            spark, os.path.join(roots["per"], sink)), sink


def test_epoch_sink_read_matches_the_epoch_glob(spark, tmp_path):
    """`EpochParquetSink.read` discovers the `epoch=` partitions instead of
    globbing them; the rows and the merged schema are the same, and
    neither read sees a `_stage-*` directory."""
    sink = EpochParquetSink(str(tmp_path / "sink"))
    sink.write(spark.createDataFrame([(1, "a")], "id long, v string"), 0)
    sink.write(spark.createDataFrame([(2, "b", 3.0)], "id long, v string, extra double"), 1)
    spark.createDataFrame([(9, "staged")], "id long, v string").write.parquet(
        str(tmp_path / "sink" / "_stage-2-x" / "_out=0"))
    globbed = (
        spark.read.option("basePath", sink.path).option("mergeSchema", "true")
        .parquet(sink.path + "/epoch=*")
    )
    read = sink.read(spark)
    assert read.schema == globbed.schema
    assert [f.name for f in read.schema] == ["id", "v", "extra", "epoch"]
    assert sorted(read.collect()) == sorted(globbed.collect())
    assert sorted(r.id for r in read.collect()) == [1, 2]


def test_rewound_pipeline_sweeps_the_old_checkpoints_stage(spark, dirs):
    """A stage the run under the old checkpoint left is swept by the
    first epoch after the rewind, which names the pipeline differently."""
    src, ckpt, tmp = dirs
    root = str(tmp / "out")
    _write_batch(src, "b1.json", [_event(i, table="t0") for i in range(3)])
    pipe = _pipeline(spark, src, root, _cdc_sinks(root)[:1])
    pipe.run_to_completion()
    old = os.path.join(root, "primary", f"_stage-{pipeline._pipeline_hash(pipe.checkpoint_dir)}-1-x")
    other = os.path.join(root, "primary", f"_stage-{pipeline._pipeline_hash('elsewhere')}-1-x")
    for stage in (old, other):
        os.makedirs(os.path.join(stage, "_out=0"))
    pipe.rewind(str(tmp / "ckpt2"), available_now=True).awaitTermination()
    pipe.query = None
    assert _stages(tmp) == [other]
    assert EpochParquetSink(os.path.join(root, "primary")).read(spark).count() == 3


def test_pipelines_sharing_a_sink_keep_each_others_stages(spark, tmp_path, monkeypatch):
    """Two pipelines stage in the ParquetSink they share. The first epoch
    of one runs, sweep included, while the other's epoch sits between its
    staged write and its moves: the sweep takes only its own pipeline's
    stages, so both epochs' rows land."""
    shared = ParquetSink(str(tmp_path / "shared"), "shared", ["table"])
    pipes = [
        CdcPipeline(spark, "unused", str(tmp_path / f"ckpt-{tag}"),
                    routes=[SinkRoute(shared, {}, tag)],
                    dlq_sink=EpochParquetSink(str(tmp_path / f"dlq-{tag}"), "dlq"))
        for tag in ("a", "b")
    ]
    batches = [
        spark.createDataFrame([(_event(n + i, table=f"t{i % 2}"),) for i in range(5)]
                              + [("not json",)], "value string")
        for n in (0, 100)
    ]
    write, publish = pipeline._epoch_files()
    waiting = []

    def publish_after_a(*args):
        if not waiting:
            waiting.append(_stages(tmp_path))
            pipes[0]._process_batch(batches[0], 0)
        return publish(*args)

    monkeypatch.setattr(pipeline, "_epoch_files", lambda: (write, publish_after_a))
    pipes[1]._process_batch(batches[1], 0)

    assert len(waiting[0]) == 1 and waiting[0][0].startswith(shared.path)
    assert [p._plan.file_routes for p in pipes] == [(p.routes[0],) for p in pipes]
    rows = spark.read.parquet(shared.path)
    assert sorted(r.topic for r in rows.collect()) == ["a"] * 5 + ["b"] * 5
    assert [EpochParquetSink(str(tmp_path / f"dlq-{t}")).read(spark).count()
            for t in "ab"] == [1, 1]
    assert not _stages(tmp_path)


def test_a_stage_gone_before_the_moves_fails_the_epoch(spark, tmp_path, monkeypatch):
    """A stage that vanished between the write and the moves fails the
    epoch instead of publishing every output as empty."""
    import shutil

    write, publish = pipeline._epoch_files()

    def lose_stage(spark_, stage, outputs):
        shutil.rmtree(stage)
        return publish(spark_, stage, outputs)

    monkeypatch.setattr(pipeline, "_epoch_files", lambda: (write, lose_stage))
    root = str(tmp_path / "out")
    pipe = _pipeline(spark, "unused", root, _cdc_sinks(root)[:1])
    batch = spark.createDataFrame([(_event(i),) for i in range(3)], "value string")
    with pytest.raises(Exception, match="no committed write in"):
        pipe._process_batch(batch, 0)
    assert pipe.stats.sink_errors == 1 and pipe.stats.batches == 0
    assert os.listdir(os.path.join(root, "primary")) == []
