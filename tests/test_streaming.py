"""Streaming pipeline tests: file-source CDC → fan-out, mirroring the
reference's mux tests (mux/mux_test.go): flush semantics, callback/offset
ordering, retry behavior, and the DLQ path — expressed as checkpointed
Structured Streaming runs with no external broker."""

from __future__ import annotations

import functools
import json

import pytest
from pyspark.sql import functions as F

from psql_streamer_spark.streaming import (
    CdcPipeline,
    MemorySink,
    NoopSink,
    ParquetSink,
    SinkRoute,
)
from psql_streamer_spark.streaming.sinks import KafkaSink


class FailNTimesSink(NoopSink):
    """Test double for the retry path (common/retry.go:41-76): fail the
    first N epochs, then succeed — proves no events are lost or
    double-committed across sink failures."""

    def __init__(self, fail_times: int, name: str = "flaky"):
        super().__init__(name)
        self.fail_times = fail_times
        self.failures = 0

    def write(self, batch_df, batch_id: int) -> None:
        with self._lock:
            if self.failures < self.fail_times:
                self.failures += 1
                raise RuntimeError(
                    f"{self.name}: injected temporary failure "
                    f"{self.failures}/{self.fail_times}"
                )
        super().write(batch_df, batch_id)


def _event(i: int, table: str = "test", action: str = "insert") -> str:
    return json.dumps(
        {
            "Host": "db1",
            "Database": "test",
            "Table": table,
            "Action": action,
            "WALPosition": i,
            "Timestamp": "2018-07-03T16:04:27Z",
            "UUID": f"0000-{i:06d}",
            "Columns": {"a": str(i)},
        }
    )


def _write_batch(src_dir, fname: str, lines: list[str]) -> None:
    (src_dir / fname).write_text("\n".join(lines) + "\n")


@pytest.fixture()
def dirs(tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    return src, str(tmp_path / "ckpt"), tmp_path


def test_end_to_end_routing_and_fanout(spark, dirs):
    src, ckpt, _ = dirs
    lines = [_event(i) for i in range(5)]
    lines.append(_event(99, table="ghost"))  # unmapped -> discarded
    lines.append("not json")  # -> DLQ
    lines.append(_event(100, action="begin"))  # non-DML -> DLQ'less drop? no: filtered
    _write_batch(src, "b1.json", lines)

    s1, s2, dlq = MemorySink("s1"), MemorySink("s2"), MemorySink("dlq")
    pipe = CdcPipeline(
        spark,
        str(src),
        ckpt,
        routes=[
            SinkRoute(s1, {"test": "topic_test"}),
            SinkRoute(s2, {"test": "topic_test"}),
        ],
        dlq_sink=dlq,
    )
    pipe.run_to_completion()

    # both sinks saw the same 5 routed events (fan-out, R4)
    assert s1.events == s2.events == 5
    topics = {r.topic for r in s1.rows}
    assert topics == {"topic_test"}
    # wire format round-trip intact
    payload = json.loads(s1.rows[0].value)
    assert payload["Host"] == "db1" and payload["Action"] == "insert"
    # malformed json -> DLQ; ghost table discarded (not DLQ), begin filtered
    assert dlq.events == 1
    assert pipe.stats.events_discarded == 1
    assert pipe.stats.events_in == 8
    assert pipe.stats.events_routed == 5


def test_checkpoint_resume_no_reprocessing(spark, dirs):
    """F1/F2: offsets persist; a restarted pipeline continues where the
    previous one stopped (BoltDB WAL-position semantics)."""
    src, ckpt, tmp = dirs
    out = tmp / "out"
    _write_batch(src, "b1.json", [_event(i) for i in range(3)])

    mk = lambda: CdcPipeline(  # noqa: E731
        spark, str(src), ckpt, routes=[SinkRoute(ParquetSink(str(out)), {"test": "t"})],
    )
    mk().run_to_completion()
    first = spark.read.parquet(str(out)).count()
    assert first == 3

    # new files arrive; a NEW pipeline on the same checkpoint resumes
    _write_batch(src, "b2.json", [_event(i) for i in range(3, 8)])
    mk().run_to_completion()
    df = spark.read.parquet(str(out))
    assert df.count() == 8  # 3 + 5, nothing reprocessed
    assert df.select("uuid").distinct().count() == 8


def test_batch_size_cap_maps_to_max_files(spark, dirs):
    """B1: size-capped batches — maxFilesPerTrigger bounds each epoch."""
    src, ckpt, _ = dirs
    for b in range(4):
        _write_batch(src, f"b{b}.json", [_event(b * 10 + i) for i in range(2)])
    sink = NoopSink()
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(sink, {"test": "t"})], max_files_per_trigger=1,
    )
    pipe.run_to_completion()
    assert sink.events == 8
    assert sink.batches == 4  # one file per epoch
    assert pipe.stats.batches == 4


def test_sink_failure_blocks_offset_commit_then_retry_succeeds(spark, dirs):
    """The all-sinks-or-nothing ACK: a failing sink fails the epoch, the
    offset never commits, and a restart redelivers the SAME batch
    (at-least-once; mux/mux.go:173-189 + common/retry.go)."""
    src, ckpt, _ = dirs
    _write_batch(src, "b1.json", [_event(i) for i in range(4)])

    good = MemorySink("good")
    flaky = FailNTimesSink(fail_times=1)
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[
            SinkRoute(flaky, {"test": "t"}),
            SinkRoute(good, {"test": "t"}),
        ],
    )
    with pytest.raises(Exception, match="injected temporary failure"):
        pipe.run_to_completion()
    assert good.events == 0  # flaky failed first -> epoch aborted

    # "retry forever": restart the query; same batch redelivered
    pipe2 = CdcPipeline(
        spark, str(src), ckpt,
        routes=[
            SinkRoute(flaky, {"test": "t"}),
            SinkRoute(good, {"test": "t"}),
        ],
    )
    pipe2.run_to_completion()
    assert flaky.events == 4  # delivered after its failure budget
    assert good.events == 4  # exactly the one redelivered batch
    assert flaky.failures == 1


def test_fallback_topic_and_stats(spark, dirs):
    src, ckpt, _ = dirs
    _write_batch(
        src, "b1.json",
        [_event(1), _event(2, table="other"), _event(3, table="misc")],
    )
    sink = MemorySink()
    pipe = CdcPipeline(
        spark, str(src), ckpt, routes=[SinkRoute(sink, {"test": "topic_test"}, "fb")],
    )
    pipe.run_to_completion()
    by_topic = {}
    for r in sink.rows:
        by_topic[r.topic] = by_topic.get(r.topic, 0) + 1
    assert by_topic == {"topic_test": 1, "fb": 2}
    assert pipe.stats.events_discarded == 0
    assert "routed 3" in pipe.stats.as_line()


def test_per_sink_routing_rules_do_not_leak(spark, dirs):
    """R1 per-sink: two sinks subscribed to one source route the SAME
    batch by their OWN mapping/fallback (kafka.go:116-135) — one sink's
    rules must not apply to the other."""
    src, ckpt, _ = dirs
    _write_batch(
        src, "b1.json",
        [_event(1), _event(2, table="users"), _event(3, table="ghost")],
    )
    s1, s2 = MemorySink("s1"), MemorySink("s2")
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[
            # s1 maps only `test`, no fallback -> users/ghost discarded
            SinkRoute(s1, {"test": "s1_test"}),
            # s2 maps only `users`, with fallback -> test/ghost go to fb
            SinkRoute(s2, {"users": "s2_users"}, "s2_fb"),
        ],
    )
    pipe.run_to_completion()

    assert [(r.table, r.topic) for r in sorted(s1.rows, key=lambda r: r.uuid)] == [
        ("test", "s1_test")
    ]
    assert [(r.table, r.topic) for r in sorted(s2.rows, key=lambda r: r.uuid)] == [
        ("test", "s2_fb"), ("users", "s2_users"), ("ghost", "s2_fb")
    ]
    # union semantics: every event found a topic on at least one sink
    assert pipe.stats.events_routed == 3
    assert pipe.stats.events_discarded == 0


def test_snapshot_sink_materializes_current_state(spark, dirs, tmp_path):
    """Replicate-to-table: insert/update/delete stream -> current rows,
    latest WAL wins, deletes remove; a full replay converges to the SAME
    state (idempotent merge = exactly-once state over at-least-once)."""
    from psql_streamer_spark.streaming.sinks import SnapshotSink

    src, ckpt, tmp = dirs
    ev = lambda i, key, action: json.dumps(  # noqa: E731
        {
            "Host": "db1", "Database": "test", "Table": "users",
            "Action": action, "WALPosition": i,
            "Timestamp": "2018-07-03T16:04:27Z", "UUID": f"u-{i:04d}",
            "Columns": {"a": key, "payload": f"p{i}"},
        }
    )
    _write_batch(src, "b1.json", [ev(1, "k1", "insert"), ev(2, "k2", "insert")])
    _write_batch(src, "b2.json", [
        ev(3, "k1", "update"), ev(4, "k2", "delete"), ev(5, "k3", "insert"),
    ])

    snap = SnapshotSink(str(tmp_path / "snap"), key_field="a")
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(snap, {"users": "t"})], max_files_per_trigger=1,
    )
    pipe.run_to_completion()

    state = {
        r.row_key: (r.action, r.wal_position, r.columns["payload"])
        for r in snap.current(spark).collect()
    }
    assert state == {"k1": ("update", 3, "p3"), "k3": ("insert", 5, "p5")}

    # full replay from a fresh checkpoint (rewind) converges, not duplicates
    pipe.rewind(str(tmp / "ckpt2"), available_now=True).awaitTermination()
    state2 = {
        r.row_key: (r.action, r.wal_position, r.columns["payload"])
        for r in snap.current(spark).collect()
    }
    assert state2 == state


def test_pipeline_with_wal2json_decoder(spark, dirs):
    """The decoder is pluggable per source: a wal2json feed runs through
    the same validate/route/fan-out path as the native wire format."""
    import json as _json

    from psql_streamer_spark.sources.cdc_formats import decode_dialect

    src, ckpt, _ = dirs
    lines = [
        _json.dumps(
            {
                "action": "I",
                "schema": "public",
                "table": "test",
                "columns": [{"name": "id", "type": "integer", "value": i}],
                "timestamp": "2024-03-01 10:15:30.1+00",
                "lsn": f"0/{i:X}",
            }
        )
        for i in range(3)
    ]
    lines.append(_json.dumps({"action": "B", "lsn": "0/FF"}))  # dropped by T1
    lines.append("garbage")  # -> DLQ
    _write_batch(src, "b1.json", lines)

    sink, dlq = MemorySink("m"), MemorySink("dlq")
    pipe = CdcPipeline(
        spark, str(src), ckpt, routes=[SinkRoute(sink, {"test": "t"})],
        dlq_sink=dlq,
        decoder=functools.partial(decode_dialect, dialect="wal2json"),
    )
    pipe.run_to_completion()
    assert sink.events == 3 and dlq.events == 1
    payload = json.loads(sink.rows[0].value)
    assert payload["Table"] == "test" and payload["Action"] == "insert"
    assert payload["Columns"]["id"] in {"0", "1", "2"}


def test_rewind_reprocesses_from_override(spark, dirs):
    """F2 executable override: rewind() abandons committed offsets under a
    fresh checkpoint and replays the source (walPositionOverride,
    postgres.go:131-140); the UUIDs show the same events delivered twice."""
    src, ckpt, tmp = dirs
    _write_batch(src, "b1.json", [_event(i) for i in range(4)])
    sink = MemorySink("m")
    pipe = CdcPipeline(
        spark, str(src), ckpt, routes=[SinkRoute(sink, {"test": "t"})]
    )
    pipe.run_to_completion()
    assert sink.events == 4

    q = pipe.rewind(str(tmp / "ckpt2"), available_now=True)
    q.awaitTermination()
    assert sink.events == 8  # full replay (at-least-once, F5 dedups downstream)
    uuids = [r.uuid for r in sink.rows]
    assert len(set(uuids)) == 4 and len(uuids) == 8


def test_kafka_sink_fails_descriptively_without_jar(spark, dirs):
    src, ckpt, _ = dirs
    _write_batch(src, "b1.json", [_event(1)])
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(KafkaSink("localhost:9092"), {"test": "t"})],
    )
    with pytest.raises(Exception, match="spark-sql-kafka|kafka"):
        pipe.run_to_completion()


def test_terminated_error_blames_only_the_failed_query():
    """F6 is a per-source threshold: one crash-looping query must not flip
    other healthy queries unhealthy (reference: per-source consecutive-error
    counter, source/kafka/kafka.go:22-24)."""
    from types import SimpleNamespace as NS

    from psql_streamer_spark.observe import ERROR_HEALTH_THRESHOLD, EngineListener

    listener = EngineListener()
    listener.onQueryStarted(NS(name="good", id="id-good"))
    listener.onQueryStarted(NS(name="bad", id="id-bad"))
    for _ in range(ERROR_HEALTH_THRESHOLD):
        listener.onQueryTerminated(NS(id="id-bad", exception="boom"))
    st = listener.stats()
    assert not st["bad"].healthy
    assert st["bad"].errors == ERROR_HEALTH_THRESHOLD
    assert st["good"].healthy and st["good"].errors == 0
    healthy, text = listener.status()
    assert not healthy and "bad" in text and "good" not in text


def test_metrics_histogram_exposition():
    """O2 parity: per-query batch-duration histogram with cumulative
    buckets, _sum and _count (source/prom/prometheus.go:10-39)."""
    from types import SimpleNamespace as NS

    from psql_streamer_spark.observe import EngineListener

    listener = EngineListener()
    for ms in (3, 40, 700):
        listener.onQueryProgress(
            NS(progress=NS(name="q", id="id-q", numInputRows=1,
                           durationMs={"triggerExecution": ms}))
        )
    m = listener.metrics_text()
    assert 'engine_batch_duration_ms_bucket{query="q",le="5"} 1' in m
    assert 'engine_batch_duration_ms_bucket{query="q",le="50"} 2' in m
    assert 'engine_batch_duration_ms_bucket{query="q",le="1000"} 3' in m
    assert 'engine_batch_duration_ms_bucket{query="q",le="+Inf"} 3' in m
    assert 'engine_batch_duration_ms_sum{query="q"} 743.0' in m
    assert 'engine_batch_duration_ms_count{query="q"} 3' in m


def test_observability_listener_and_http(spark, dirs):
    """O1-O4: listener collects progress; HTTP plane serves health/stats/
    Prometheus metrics."""
    import urllib.request

    from psql_streamer_spark.observe import EngineListener, StatusServer

    src, ckpt, _ = dirs
    _write_batch(src, "b1.json", [_event(i) for i in range(3)])

    listener = EngineListener()
    spark.streams.addListener(listener)
    try:
        pipe = CdcPipeline(
            spark, str(src), ckpt, routes=[SinkRoute(NoopSink(), {"test": "t"})]
        )
        pipe.run_to_completion()

        server = StatusServer(
            listener,
            stats_fn=lambda: {"pipeline": pipe.stats.as_line()},
            pipeline_stats_fn=lambda: {"src": pipe.stats},
        )
        port = server.start()
        try:
            get = lambda p: urllib.request.urlopen(  # noqa: E731
                f"http://127.0.0.1:{port}{p}"
            )
            assert get("/health").read() == b"OK\n"
            assert get("/status").status == 200
            stats = json.loads(get("/stats").read())
            assert "pipeline" in stats
            metrics = get("/metrics").read().decode()
            assert "engine_input_rows_total" in metrics
            # the drained file's PipelineStats, exported per source
            for kind, n in (("in", 3), ("valid", 3), ("dlq", 0),
                            ("routed", 3), ("discarded", 0)):
                line = f'engine_pipeline_events_total{{source="src",kind="{kind}"}} {n}'
                assert line in metrics.splitlines(), (line, metrics)
            assert 'engine_pipeline_sink_errors_total{source="src"} 0' in metrics
            assert get("/metrics").status == 200
        finally:
            server.stop()
    finally:
        spark.streams.removeListener(listener)


def test_snapshot_sink_tombstone_blocks_stale_resurrection(spark, dirs, tmp_path):
    """A delete must leave a tombstone: an out-of-order OLDER event for the
    deleted key arriving in a later batch must NOT resurrect the row."""
    from psql_streamer_spark.streaming.sinks import SnapshotSink

    src, ckpt, _ = dirs
    ev = lambda i, key, action: json.dumps(  # noqa: E731
        {
            "Host": "db1", "Database": "test", "Table": "users",
            "Action": action, "WALPosition": i,
            "Timestamp": "2018-07-03T16:04:27Z", "UUID": f"u-{i:04d}",
            "Columns": {"a": key, "payload": f"p{i}"},
        }
    )
    _write_batch(src, "b1.json", [ev(10, "k1", "insert"), ev(20, "k1", "delete")])
    # later batch delivers a STALE event (WAL 15 < the delete's 20) — e.g.
    # a multi-partition source without global order, or a partial replay
    _write_batch(src, "b2.json", [ev(15, "k1", "update")])

    snap = SnapshotSink(str(tmp_path / "snap"), key_field="a")
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(snap, {"users": "t"})], max_files_per_trigger=1,
    )
    pipe.run_to_completion()
    assert snap.current(spark).count() == 0  # still deleted
    # the tombstone is retained internally with the winning WAL
    stored = {(r.row_key, r.action, r.wal_position)
              for r in snap._stored(spark).collect()}
    assert stored == {("k1", "delete", 20)}


def test_snapshot_sink_prunes_old_versions(spark, dirs, tmp_path):
    import os

    from psql_streamer_spark.streaming.sinks import SnapshotSink

    src, ckpt, _ = dirs
    for b in range(4):
        _write_batch(src, f"b{b}.json", [_event(b * 10 + i) for i in range(2)])
    snap = SnapshotSink(str(tmp_path / "snap"), key_field="a", keep_versions=2)
    CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(snap, {"test": "t"})], max_files_per_trigger=1,
    ).run_to_completion()
    versions = [d for d in os.listdir(str(tmp_path / "snap")) if d.startswith("v")]
    assert len(versions) == 2  # 4 epochs, retention 2
    assert snap.current(spark).count() == 8


def test_topic_requiring_sink_without_rules_discards(spark):
    """A Kafka-style sink with no mapping/fallback must DISCARD (reference
    noTopic path) — never passthrough NULL topics into the producer."""
    assert SinkRoute(MemorySink("m")).passthrough  # stub: takes everything
    assert not SinkRoute(KafkaSink("b:9092")).passthrough  # kafka: discards
    assert not SinkRoute(MemorySink("m"), {"t": "x"}).passthrough


def test_passthrough_route_end_to_end(spark, dirs):
    """A rule-less route on a stub-style sink takes every valid DML event
    with a string-typed NULL topic, beside a mapped route and a DLQ. An
    event counts as routed if any route takes it (union semantics)."""
    from psql_streamer_spark.streaming.sinks import EpochParquetSink

    src, ckpt, tmp = dirs
    no_uuid = json.loads(_event(5))
    no_uuid["UUID"] = ""
    lines = [
        _event(1),
        _event(2, table="users"),
        _event(3, table="ghost"),  # unmapped: passthrough only
        _event(4, action="begin"),  # non-DML: dropped, not dead-lettered
        "not json",  # -> DLQ
        json.dumps(no_uuid),  # -> DLQ
    ]
    _write_batch(src, "b1.json", lines)
    everything = EpochParquetSink(str(tmp / "all"), name="all")
    users, dlq = MemorySink("users"), MemorySink("dlq")
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(everything), SinkRoute(users, {"users": "t_users"})],
        dlq_sink=dlq,
    )
    pipe.run_to_completion()

    out = everything.read(spark)
    assert dict(out.dtypes)["topic"] == "string"
    assert sorted((r.table, r.topic) for r in out.collect()) == [
        ("ghost", None), ("test", None), ("users", None)
    ]
    assert [(r.table, r.topic) for r in users.rows] == [("users", "t_users")]
    assert dlq.events == 2
    st = pipe.stats
    assert (st.events_in, st.events_valid, st.events_dlq) == (6, 3, 2)
    assert st.events_routed == st.events_valid
    assert st.events_discarded == 0


_SNAP_SCHEMA = "table string, action string, wal_position long, columns map<string,string>"


def test_snapshot_sink_delete_wins_wal_position_tie(spark, tmp_path):
    """At EQUAL wal_position a delete tombstone must outrank an update —
    otherwise colliding positions (multi-source feeds, synthetic walPos)
    resurrect deleted rows despite the anti-resurrection guarantee."""
    from psql_streamer_spark.streaming.sinks import SnapshotSink

    snap = SnapshotSink(str(tmp_path / "snap"), key_field="a")
    batch = spark.createDataFrame(
        [
            ("users", "update", 7, {"a": "k1", "p": "resurrected"}),
            ("users", "delete", 7, {"a": "k1", "p": "gone"}),
        ],
        _SNAP_SCHEMA,
    )
    snap.write(batch, 0)
    assert snap.current(spark).count() == 0
    stored = [(r.action, r.wal_position) for r in snap._stored(spark).collect()]
    assert stored == [("delete", 7)]


def test_snapshot_prune_survives_rewind_batch_id_reset(spark, tmp_path):
    """rewind() restarts batch ids at 0 under a fresh checkpoint: pruning
    must follow the pointer LINEAGE, not version-name order — otherwise the
    previous generation's high-numbered dirs are retained forever and the
    keep window never contains the newest writes."""
    import os

    from psql_streamer_spark.streaming.sinks import SnapshotSink

    snap = SnapshotSink(str(tmp_path / "snap"), key_field="a", keep_versions=2)
    mk = lambda i: spark.createDataFrame(  # noqa: E731
        [("users", "insert", i, {"a": f"k{i}"})], _SNAP_SCHEMA
    )
    # generation 1: high batch ids
    snap.write(mk(1), 40)
    snap.write(mk(2), 41)
    # rewind: batch ids restart at 0; the merge carries prior state forward
    snap.write(mk(3), 0)
    snap.write(mk(4), 1)
    versions = sorted(
        d for d in os.listdir(str(tmp_path / "snap")) if d.startswith("v")
    )
    # the two NEWEST writes by lineage (v0, v1), not by name (v40, v41)
    assert versions == ["v000000000000", "v000000000001"]
    assert snap._current_version() == "v000000000001"
    assert {r.row_key for r in snap.current(spark).collect()} == {
        "k1", "k2", "k3", "k4"
    }


def test_rewind_retention_audit_blocks_partial_replay(spark, dirs, tmp_path):
    """F3 to full: rewind() must verify the replay target is still inside
    the retained source window. A source file the checkpoint committed but
    retention has since deleted means the replay would be PARTIAL — the
    audit fails descriptively; force=True accepts the gap (mirrors the
    reference confirming walPos-walRetain before jumping,
    postgres.go:212,451-466)."""
    import os

    src, ckpt, tmp = dirs
    _write_batch(src, "early.json", [_event(1), _event(2)])
    _write_batch(src, "late.json", [_event(3), _event(4)])
    sink = MemorySink("m")
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(sink, {"test": "t"})], max_files_per_trigger=1,
    )
    pipe.run_to_completion()
    assert sink.events == 4

    # inside the window: replay reproduces everything
    pipe.rewind(str(tmp / "ckpt2"), available_now=True).awaitTermination()
    pipe.query = None
    assert sink.events == 8

    # retention deletes the early file -> the NEXT rewind would be partial
    os.remove(os.path.join(str(src), "early.json"))
    with pytest.raises(RuntimeError, match="retained source window"):
        pipe.rewind(str(tmp / "ckpt3"), available_now=True)
    # explicit acceptance of the gap
    q = pipe.rewind(str(tmp / "ckpt3"), available_now=True, force=True)
    q.awaitTermination()
    pipe.query = None
    assert sink.events == 10  # only late.json replayed


def test_epoch_parquet_sink_idempotent_under_replay(spark, dirs, tmp_path):
    """EpochParquetSink: a replayed epoch REPLACES itself (overwrite into
    epoch=<batch_id>), so sink-failure retries and checkpoint-loss rewinds
    produce zero duplicate rows — effectively-once for file consumers,
    no UUID-dedup stage needed."""
    from psql_streamer_spark.streaming.sinks import EpochParquetSink

    src, ckpt, tmp = dirs
    _write_batch(src, "b1.json", [_event(1), _event(2)])
    _write_batch(src, "b2.json", [_event(3)])

    out = EpochParquetSink(str(tmp_path / "epochs"))
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(out, {"test": "t"})], max_files_per_trigger=1,
    )
    pipe.run_to_completion()
    first = out.read(spark)
    assert first.count() == 3
    assert {r.epoch for r in first.select("epoch").distinct().collect()} == {0, 1}

    # full replay under a fresh checkpoint: batch ids restart at 0 and
    # overwrite the same epoch dirs -> still exactly 3 rows, never 6
    pipe.rewind(str(tmp / "ckpt2"), available_now=True).awaitTermination()
    pipe.query = None
    replayed = out.read(spark)
    assert replayed.count() == 3
    walpos = sorted(
        json.loads(r.value)["WALPosition"] for r in replayed.collect()
    )
    assert walpos == [1, 2, 3]

    # direct same-epoch rewrite replaces, never appends
    df = spark.createDataFrame([("x",)], "value string")
    out.write(df, 7)
    out.write(df, 7)
    assert out.read(spark).filter("epoch = 7").count() == 1


def test_streaming_near_dup_alerts(spark, tmp_path):
    """Ingest-time dedup: documents streamed in micro-batches probe the
    materialized band index; verified alerts must equal the batch
    incremental miner's pairs for the same delta (same signatures, same
    index, same verify threshold)."""
    from psql_streamer_spark.operators.dedup import (
        DELTA_BUCKET,
        DELTA_BUCKETS,
        band_index_table,
        dedup_incremental_lsh_pairs,
    )
    from psql_streamer_spark.operators.mlprep import md5_bucket
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.dedup_stream import start_near_dup_stream
    from tests.conftest import SF_SMALL

    d = load_table(spark, "documents", SF_SMALL)
    delta_rows = (
        d.filter(md5_bucket(F.col("doc_id"), DELTA_BUCKETS) == DELTA_BUCKET)
        .select("doc_id", "text")
        .collect()  # test fixture setup, not an operator path
    )
    assert delta_rows, "delta slice empty at this sf"
    src = tmp_path / "incoming"
    src.mkdir()
    half = max(1, len(delta_rows) // 2)
    for i, chunk in enumerate([delta_rows[:half], delta_rows[half:]]):
        if not chunk:
            continue
        (src / f"batch{i}.json").write_text(
            "\n".join(
                json.dumps({"doc_id": r.doc_id, "text": r.text}) for r in chunk
            )
            + "\n"
        )

    table = band_index_table(spark, SF_SMALL)
    q = start_near_dup_stream(
        spark,
        str(src),
        table,
        d,
        str(tmp_path / "alerts"),
        str(tmp_path / "ckpt_dedup"),
    )
    assert q.awaitTermination(180), "stream did not drain"

    alerts = spark.read.parquet(str(tmp_path / "alerts"))
    got = {
        (min(r.new_doc_id, r.corpus_doc_id), max(r.new_doc_id, r.corpus_doc_id))
        for r in alerts.collect()
    }
    want = {
        (r.doc_a, r.doc_b)
        for r in dedup_incremental_lsh_pairs(spark, SF_SMALL)
        .select("doc_a", "doc_b")
        .collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "family, module, builder",
    [
        ("band_index", "dedup", "band_index_table"),
        (
            "lineitem_by_shipmonth",
            "tpch_suite",
            "lineitem_shipmonth_partitioned_table",
        ),
        (
            "orders_by_ordermonth",
            "tpch_suite",
            "orders_ordermonth_partitioned_table",
        ),
        ("lineitem_clustered", "tpch_suite", "lineitem_clustered_table"),
        ("lineitem_zorder", "tpch_suite", "lineitem_zorder_table"),
        ("events_by_date", "event_time", "events_date_partitioned_table"),
    ],
    ids=["band_index", "shipmonth", "ordermonth", "clustered", "zorder", "events"],
)
def test_band_index_first_use_sweep_removes_only_dead_app_litter(
    spark, family, module, builder
):
    """Per-app warehouse-table names never collide, so without a sweep
    the warehouse grows one dir per app per dataset forever. First use
    must remove the family's dirs older than the age gate (dead apps),
    under this dataset's tag or any other, and keep younger ones (a
    possibly-live concurrent app)."""
    import importlib
    import os
    import re
    import shutil
    import time as _time
    from urllib.parse import urlparse

    from psql_streamer_spark.caching import WAREHOUSE_SWEEP_AGE_SEC
    from tests.conftest import SF_SMALL

    build = getattr(
        importlib.import_module(f"psql_streamer_spark.operators.{module}"),
        builder,
    )
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    os.makedirs(warehouse, exist_ok=True)
    tag = re.sub(r"\W+", "_", SF_SMALL.strip("/"))
    dead = os.path.join(warehouse, f"{family}_{tag}_local_0000_dead")
    other = os.path.join(warehouse, f"{family}_othertag_local_0000_dead")
    young = os.path.join(warehouse, f"{family}_{tag}_local_0000_live")
    for d in (dead, other, young):
        os.makedirs(d, exist_ok=True)
    old = _time.time() - WAREHOUSE_SWEEP_AGE_SEC - 120
    os.utime(dead, (old, old))
    os.utime(other, (old, old))

    # force the build (=sweep) path even if an earlier test already built
    # this app's table in the shared session
    app = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
    mine = f"{family}_{tag}_{app}"
    spark.sql(f"DROP TABLE IF EXISTS {mine}")
    try:
        assert build(spark, SF_SMALL) == mine
        assert not os.path.exists(dead), "dead app litter must be swept"
        assert not os.path.exists(other), "other datasets' litter swept too"
        assert os.path.exists(young), "young sibling (possibly live) kept"
    finally:
        for d in (dead, other, young):
            shutil.rmtree(d, ignore_errors=True)


def test_app_scoped_fast_path_refreshes_liveness(spark):
    """Every batch consumer resolves its index through
    warehouse_table's tableExists fast path — that resolution
    must refresh the dir mtime, or a >sweep-gate-lived batch session
    becomes sweepable by a newly starting app (the review-found hole the
    r14 liveness protocol closes)."""
    import os
    import time as _time
    from urllib.parse import urlparse

    from psql_streamer_spark.caching import WAREHOUSE_SWEEP_AGE_SEC
    from psql_streamer_spark.operators.dedup import band_index_table
    from tests.conftest import SF_SMALL

    table = band_index_table(spark, SF_SMALL)  # build (or reuse)
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    d = os.path.join(warehouse, table)
    old = _time.time() - WAREHOUSE_SWEEP_AGE_SEC - 120
    os.utime(d, (old, old))
    assert band_index_table(spark, SF_SMALL) == table  # fast path
    assert _time.time() - os.path.getmtime(d) < 60, (
        "fast-path resolution must refresh liveness"
    )


def test_liveness_touch_refreshes_model_sibling(spark, tmp_path):
    """A liveness touch on an index table must also refresh its
    ``<table>__model`` sidecar dir (mm_bucket_index_table's centering
    model): the sidecar matches the same sweep prefix, so a >gate-lived
    probe that kept only the posting dir young would let a newly
    starting app's sweep rmtree the live model (advice item, r15). Also
    pins the sweep-side backstop: an aged ``X__model`` whose sibling X
    is YOUNG is skipped by the first-use sweep."""
    import os
    import re
    import shutil
    import time as _time
    from urllib.parse import urlparse

    from psql_streamer_spark.caching import (
        WAREHOUSE_SWEEP_AGE_SEC,
        touch_app_table_liveness,
        warehouse_table,
    )

    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    app = re.sub(r"\W+", "_", spark.sparkContext.applicationId)
    table = f"livenessmodel_test_{app}"
    d = os.path.join(warehouse, table)
    model = d + "__model"
    os.makedirs(d, exist_ok=True)
    os.makedirs(model, exist_ok=True)
    old = _time.time() - WAREHOUSE_SWEEP_AGE_SEC - 120
    try:
        os.utime(d, (old, old))
        os.utime(model, (old, old))
        touch_app_table_liveness(spark, table)
        assert _time.time() - os.path.getmtime(d) < 60
        assert _time.time() - os.path.getmtime(model) < 60, (
            "liveness touch must refresh the __model sidecar too"
        )

        # sweep backstop: another (concurrent, live) app's posting dir is
        # YOUNG but its __model sidecar aged out (e.g. liveness touched
        # through an old code path) — a first-use sweep must keep the
        # model because the sibling is young; an orphan old model with NO
        # sibling is still reaped
        live_base = os.path.join(warehouse, "livenessmodel_test_liveapp")
        live_model = live_base + "__model"
        orphan_model = os.path.join(
            warehouse, "livenessmodel_test_deadapp__model"
        )
        os.makedirs(live_base, exist_ok=True)
        os.makedirs(live_model, exist_ok=True)
        os.makedirs(orphan_model, exist_ok=True)
        os.utime(live_model, (old, old))
        os.utime(orphan_model, (old, old))
        spark.sql(f"DROP TABLE IF EXISTS livenessmodel_test_{app}")

        def _build(name):
            spark.range(1).write.saveAsTable(name)

        try:
            warehouse_table(spark, "livenessmodel", "test", _build)
            assert os.path.isdir(live_model), (
                "sweep must not reap an aged __model whose base is live"
            )
            assert not os.path.isdir(orphan_model), (
                "orphan aged __model (no sibling) must still be swept"
            )
        finally:
            shutil.rmtree(live_base, ignore_errors=True)
            shutil.rmtree(live_model, ignore_errors=True)
            shutil.rmtree(orphan_model, ignore_errors=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(model, ignore_errors=True)
        spark.sql(f"DROP TABLE IF EXISTS livenessmodel_test_{app}")


def test_engine_stop_ordering_and_drain(spark, dirs):
    """Ordered shutdown (main.go:59-96): killing an Engine mid-stream must
    stop sources first, close sinks second, control plane last; no epoch
    may be half-committed (every commit-log entry had a completed sink
    delivery); and a restart drains the remainder with nothing lost."""
    import os
    import time

    from psql_streamer_spark.config import Engine
    from psql_streamer_spark.observe import EngineListener

    src, ckpt, tmp = dirs
    order: list[str] = []

    class OrderedSink(MemorySink):
        def close(self):
            order.append(f"sink:{self.name}")
            super().close()

    n_files = 12
    for b in range(n_files):
        _write_batch(src, f"b{b:03d}.json", [_event(b * 10 + i) for i in range(3)])

    sink = OrderedSink("s1")
    pipe = CdcPipeline(
        spark, str(src), ckpt, routes=[SinkRoute(sink, {"test": "t"})],
        max_files_per_trigger=1,  # 12 slow epochs -> stop lands mid-stream
        processing_interval="50 milliseconds",
    )
    eng = Engine(
        spark, pipelines={"cdc": pipe}, sinks={"s1": sink},
        listener=EngineListener(), server=None, ticker_interval_s=0.05,
    )
    eng.start()
    try:
        assert eng.ticker is not None
        orig_ticker_stop = eng.ticker.stop
        eng.ticker.stop = lambda: (order.append("ticker"), orig_ticker_stop())[1]
        for q in eng._started:
            orig_q_stop = q.stop
            q.stop = (lambda orig: lambda: (order.append("source"), orig())[1])(
                orig_q_stop
            )
        deadline = time.time() + 60
        while sink.batches < 2 and time.time() < deadline:
            time.sleep(0.05)
        assert sink.batches >= 2, "stream never delivered a batch"
    finally:
        eng.stop()

    # 1. ordering: sources -> sinks -> control plane
    assert order[0] == "source" and order[-1] == "ticker"
    assert order.index("sink:s1") > order.index("source")
    assert sink.closed

    # 2. no half-committed epoch: every commit-log entry corresponds to a
    # completed foreachBatch delivery; at most ONE in-flight epoch had its
    # offsets written without a commit (that one replays on restart)
    commits = {f for f in os.listdir(os.path.join(ckpt, "commits")) if f.isdigit()}
    offsets = {f for f in os.listdir(os.path.join(ckpt, "offsets")) if f.isdigit()}
    assert len(commits) <= sink.batches, "commit without a sink delivery"
    assert len(offsets) - len(commits) <= 1
    assert sink.batches == pipe.stats.batches
    assert sink.batches < n_files, "stop was not mid-stream; weaken the test"

    # 3. restart on the same checkpoint drains the rest: nothing lost,
    # the one uncommitted epoch may replay (at-least-once)
    sink2 = MemorySink("s2")
    pipe2 = CdcPipeline(
        spark, str(src), ckpt,
        routes=[SinkRoute(sink2, {"test": "t"})], max_files_per_trigger=1,
    )
    pipe2.run_to_completion()
    uuids = {
        json.loads(r.value)["UUID"] for r in sink.rows + sink2.rows
    }
    assert len(uuids) == n_files * 3, "events lost across stop/restart"


def test_parquet_sink_partitioned_lake_layout(spark, dirs):
    """r11: the streaming ingest half of partition pruning. A parquet
    sink with partition_cols=["table"] lands each micro-batch into
    table=<name>/ directories (the per-table CDC lake layout; TOML
    partitionBy). A batch read of one table then (a) prunes to that
    directory at the file-listing level and (b) plans the predicate as
    PartitionFilters — so the lake written BY the stream is the same
    prunable layout operators/event_time.py builds for batch."""
    src, ckpt, tmp = dirs
    out = tmp / "lake"
    _write_batch(
        src,
        "b1.json",
        [_event(i, table="users") for i in range(4)]
        + [_event(i, table="orders") for i in range(4, 10)],
    )
    CdcPipeline(
        spark,
        str(src),
        ckpt,
        routes=[
            SinkRoute(
                ParquetSink(str(out), partition_cols=["table"]),
                {"users": "t.users", "orders": "t.orders"},
            ),
        ],
    ).run_to_completion()

    lake = spark.read.parquet(str(out))
    assert lake.count() == 10
    users = lake.filter(F.col("table") == "users")
    assert users.count() == 4
    # the directory layout IS the partitioning: one dir per table, and
    # the per-table slice is readable directly (what a per-table
    # downstream job does)
    assert spark.read.parquet(str(out / "table=users")).count() == 4
    assert spark.read.parquet(str(out / "table=orders")).count() == 6
    # and the filtered read plans the predicate as a PARTITION filter
    # (path-read inputFiles() lists the unpruned FileIndex, so the plan
    # node is the observable here; the catalog-table variant of this
    # assertion — file-listing level — is the evt_pruned_date_range
    # guard in test_plan_quality.py)
    plan = users._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "table" in plan


def test_streaming_lake_cluster_on_compact(spark, dirs):
    """r12: the production OPTIMIZE pattern — micro-batches land
    UNSORTED (a stream cannot globally range-partition), and the
    maintenance pass clusters: compact_parquet(sort_by=("wal_position",))
    leaves each table leaf's file wal-ordered, so a WAL-range replay
    query (the CDC lake's needle query) skips row groups by min/max
    stats. Asserts per-leaf sortedness via pyarrow and exact row
    parity across the swap."""
    import os

    import pyarrow.parquet as pq

    from psql_streamer_spark.sources.io import compact_parquet

    src, ckpt, tmp = dirs
    out = tmp / "lake"
    # 3 epochs with INTERLEAVED wal positions so the landed files are
    # genuinely unsorted within each leaf
    for b in range(3):
        _write_batch(
            src,
            f"b{b}.json",
            [_event(i * 3 + b, table="users") for i in range(3)]
            + [_event(100 + i * 3 + b, table="orders") for i in range(3)],
        )
    CdcPipeline(
        spark,
        str(src),
        ckpt,
        routes=[
            SinkRoute(
                ParquetSink(str(out), partition_cols=["table"]),
                {"users": "t.users", "orders": "t.orders"},
            ),
        ],
        max_files_per_trigger=1,
    ).run_to_completion()
    before = sorted(
        (r.table, r.wal_position) for r in spark.read.parquet(str(out)).collect()
    )
    assert len(before) == 18

    n = compact_parquet(spark, str(out), target_file_mb=128,
                        sort_by=("wal_position",))
    assert n == 2
    for table in ("users", "orders"):
        leaf = out / f"table={table}"
        files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
        assert len(files) == 1
        col = pq.read_table(str(leaf / files[0]), columns=["wal_position"])[
            "wal_position"
        ].to_pylist()
        assert col == sorted(col), (table, col)
    after = sorted(
        (r.table, r.wal_position) for r in spark.read.parquet(str(out)).collect()
    )
    assert after == before


def test_streaming_lake_lifecycle_ingest_compact_pruned_read(spark, dirs):
    """r12: the full lake lifecycle in one composition — the path that
    exposed the r11 layout-flattening bug and the r12 crash-recovery
    holes, now exercised end-to-end on the fixed code. Multi-epoch
    streamed ingest accumulates several file sets per table leaf;
    per-leaf compact_parquet pays the small-files toll down to one file
    per leaf; the compacted lake must keep the layout (dirs, per-table
    path reads, PartitionFilters) and every row/value."""
    import os

    from psql_streamer_spark.sources.io import compact_parquet

    src, ckpt, tmp = dirs
    out = tmp / "lake"
    # 3 micro-batches (maxFilesPerTrigger=1), each touching both tables
    for b in range(3):
        _write_batch(
            src,
            f"b{b}.json",
            [_event(b * 10 + i, table="users") for i in range(2)]
            + [_event(b * 10 + i, table="orders") for i in range(2, 5)],
        )
    CdcPipeline(
        spark,
        str(src),
        ckpt,
        routes=[
            SinkRoute(
                ParquetSink(str(out), partition_cols=["table"]),
                {"users": "t.users", "orders": "t.orders"},
            ),
        ],
        max_files_per_trigger=1,
    ).run_to_completion()

    def leaf_files(table):
        d = out / f"table={table}"
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    # ingest leg: one file set per epoch per touched leaf
    assert len(leaf_files("users")) >= 3 and len(leaf_files("orders")) >= 3
    before = sorted(
        (r.table, r.uuid) for r in spark.read.parquet(str(out)).collect()
    )
    assert len(before) == 15

    # maintenance leg: per-leaf compaction -> one file per leaf
    n = compact_parquet(spark, str(out), target_file_mb=128)
    assert n == 2
    assert len(leaf_files("users")) == 1 and len(leaf_files("orders")) == 1

    # read leg: layout, rows, per-table path reads, and pruning survive
    lake = spark.read.parquet(str(out))
    assert sorted((r.table, r.uuid) for r in lake.collect()) == before
    assert spark.read.parquet(str(out / "table=users")).count() == 6
    plan = (
        lake.filter(F.col("table") == "orders")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "table" in plan


def test_streaming_contamination_gate(spark, tmp_path):
    """Ingest-time decontamination: documents streamed in micro-batches
    probe the broadcast battery bitmap, bloom hits feed the exact verify
    join, and the per-doc verdicts must equal the batch operator's for
    the same documents (the bloom pre-filter is lossless by the
    no-false-negative guarantee)."""
    import json as _json

    from psql_streamer_spark.functions.text_hash import shingles_expr, with_words
    from psql_streamer_spark.operators.mlprep import (
        DECONTAM_EVAL_SOURCE,
        DECONTAM_K,
        _eval_bloom_positions,
        build_bloom_words,
        decontaminate_bloom_ngrams,
        md5_bucket,
    )
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.decontam_stream import (
        start_contamination_stream,
    )
    from tests.conftest import SF_SMALL

    d = load_table(spark, "documents", SF_SMALL)
    incoming = (
        d.filter(F.col("source") != DECONTAM_EVAL_SOURCE)
        .filter(md5_bucket(F.col("doc_id"), 4) == 0)
        .select("doc_id", "text")
        .collect()  # test fixture setup, not an operator path
    )
    assert incoming, "incoming slice empty at this sf"
    src = tmp_path / "incoming_docs"
    src.mkdir()
    half = max(1, len(incoming) // 2)
    for i, chunk in enumerate([incoming[:half], incoming[half:]]):
        if not chunk:
            continue
        (src / f"batch{i}.json").write_text(
            "\n".join(
                _json.dumps({"doc_id": r.doc_id, "text": r.text}) for r in chunk
            )
            + "\n"
        )
    # a doc shorter than DECONTAM_K words: yields zero shingles, but an
    # ingest gate must still record it as evaluated-clean (n_grams=0),
    # not silently absent from the verdict sink
    short_id = -77
    (src / "batch_short.json").write_text(
        _json.dumps({"doc_id": short_id, "text": "too short"}) + "\n"
    )

    words = build_bloom_words(_eval_bloom_positions(spark, SF_SMALL))
    bench_grams = (
        with_words(d.filter(F.col("source") == DECONTAM_EVAL_SOURCE))
        .select(
            F.explode(shingles_expr(F.col("__words"), k=DECONTAM_K)).alias("g")
        )
        .distinct()
    )
    q = start_contamination_stream(
        spark,
        str(src),
        words,
        bench_grams,
        str(tmp_path / "verdicts"),
        str(tmp_path / "ckpt_decontam"),
    )
    assert q.awaitTermination(180), "stream did not drain"

    got = {
        r.doc_id: (r.n_grams, r.n_bloom_hits, r.n_exact_hits, r.contaminated)
        for r in spark.read.parquet(str(tmp_path / "verdicts")).collect()
    }
    streamed_ids = {r.doc_id for r in incoming}
    want = {
        r.doc_id: (
            r.n_grams,
            r.n_bloom_hits,
            r.n_exact_hits,
            r.n_exact_hits > 0,
        )
        for r in decontaminate_bloom_ngrams(spark, SF_SMALL).collect()
        if r.doc_id in streamed_ids
    }
    # the batch operator only reports gram-bearing docs; the ingest gate
    # additionally reports gram-less docs as evaluated-clean (n_grams=0)
    want[short_id] = (0, 0, 0, False)
    for sid in streamed_ids - set(want):
        want[sid] = (0, 0, 0, False)
    assert set(got) == set(want)
    assert got == want


def test_streaming_fused_gate(spark, tmp_path):
    """The fused ingest gate (one tokenize pass feeding near-dup probe +
    bloom contamination probe + quality model) must be verdict-identical
    to each standalone gate on the same documents, and its streaming face
    must land one admission row per doc with the composite admit bit."""
    import json as _json

    from psql_streamer_spark.operators.dedup import band_index_table
    from psql_streamer_spark.operators.mlprep import (
        DECONTAM_EVAL_SOURCE,
        DECONTAM_K,
        _eval_bloom_positions,
        build_bloom_words,
        md5_bucket,
    )
    from psql_streamer_spark.operators.text import _qm_train
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.decontam_stream import (
        probe_contamination,
    )
    from psql_streamer_spark.streaming.dedup_stream import probe_band_index
    from psql_streamer_spark.streaming.fused_gate import (
        fused_gate_verdicts,
        start_fused_gate_stream,
    )
    from psql_streamer_spark.streaming.quality_stream import (
        score_quality_batch,
    )
    from tests.conftest import SF_SMALL

    from psql_streamer_spark.functions.text_hash import shingles_expr, with_words

    d = load_table(spark, "documents", SF_SMALL)
    batch = d.filter(md5_bucket(F.col("doc_id"), 4) == 2).select(
        "doc_id", "text"
    )
    assert batch.count() > 0

    table = band_index_table(spark, SF_SMALL)
    bloom_words = build_bloom_words(_eval_bloom_positions(spark, SF_SMALL))
    bench_grams = (
        with_words(d.filter(F.col("source") == DECONTAM_EVAL_SOURCE))
        .select(
            F.explode(shingles_expr(F.col("__words"), k=DECONTAM_K)).alias("g")
        )
        .distinct()
    )
    w, _ = _qm_train(spark, SF_SMALL)

    fused = {
        r.doc_id: r
        for r in fused_gate_verdicts(
            spark, batch, table, d, bloom_words, bench_grams, w
        ).collect()
    }
    assert fused

    # leg 1: quality triple == standalone model gate
    q_want = {
        r.doc_id: (r.label, r.score, r.predicted)
        for r in score_quality_batch(spark, batch, w).collect()
    }
    assert {k: (v.label, v.score, v.predicted) for k, v in fused.items()} == q_want

    # leg 2: contamination quad == standalone bloom gate
    c_want = {
        r.doc_id: (r.n_grams, r.n_bloom_hits, r.n_exact_hits, r.contaminated)
        for r in probe_contamination(
            spark, batch, bloom_words, bench_grams
        ).collect()
    }
    assert {
        k: (v.n_grams, v.n_bloom_hits, v.n_exact_hits, v.contaminated)
        for k, v in fused.items()
    } == c_want

    # leg 3: near-dup aggregate == standalone band-index probe
    alerts = probe_band_index(spark, batch, table, d).collect()
    n_want: dict = {}
    for a in alerts:
        n, j = n_want.get(a.new_doc_id, (0, None))
        n_want[a.new_doc_id] = (
            n + 1,
            a.jaccard if j is None else max(j, a.jaccard),
        )
    got_near = {
        k: (v.n_near_dup, v.max_jaccard)
        for k, v in fused.items()
        if v.n_near_dup > 0
    }
    assert got_near == n_want
    # composite admit: pass quality, clean, and no verified near-dup
    for k, v in fused.items():
        assert v.admit == (
            v.predicted == 1 and not v.contaminated and v.n_near_dup == 0
        )

    # streaming face: drain two micro-batches, one row per doc, and the
    # per-epoch overwrite sink survives a fresh-checkpoint replay
    rows = batch.collect()
    src = tmp_path / "incoming_fused"
    src.mkdir()
    half = max(1, len(rows) // 2)
    for i, chunk in enumerate([rows[:half], rows[half:]]):
        if not chunk:
            continue
        (src / f"batch{i}.json").write_text(
            "\n".join(
                _json.dumps({"doc_id": r.doc_id, "text": r.text})
                for r in chunk
            )
            + "\n"
        )
    sink = str(tmp_path / "fused_verdicts")
    q = start_fused_gate_stream(
        spark,
        str(src),
        table,
        d,
        bloom_words,
        bench_grams,
        w,
        sink,
        str(tmp_path / "ckpt_fused"),
    )
    assert q.awaitTermination(240), "fused stream did not drain"
    streamed = {
        r.doc_id: (r.admit, r.score, r.contaminated, r.n_near_dup)
        for r in spark.read.parquet(sink).collect()
    }
    assert streamed == {
        k: (v.admit, v.score, v.contaminated, v.n_near_dup)
        for k, v in fused.items()
    }


def test_fused_gate_langid_fourth_signal(spark, tmp_path):
    """The trained langid as the fused gate's FOURTH signal: with a
    langid_model passed, every verdict carries (predicted_lang,
    lang_admit), predicted_lang is per-doc identical to the registered
    text_langid_model_scores (same corpus-trained model, same tokenize
    pass), lang_admit == predicted_lang IN allowed_langs, the composite
    admit gains the AND, and tag-only mode (allowed_langs=None) never
    gates. Without a model the 3-signal verdict is schema- and
    value-unchanged."""
    from psql_streamer_spark.operators.dedup import band_index_table
    from psql_streamer_spark.operators.mlprep import (
        DECONTAM_EVAL_SOURCE,
        DECONTAM_K,
        _eval_bloom_positions,
        build_bloom_words,
        md5_bucket,
    )
    from psql_streamer_spark.operators.text import (
        _qm_train,
        langid_nb_train,
        text_langid_model_scores,
    )
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.fused_gate import fused_gate_verdicts
    from tests.conftest import SF_SMALL

    from psql_streamer_spark.functions.text_hash import (
        shingles_expr,
        with_words,
    )

    d = load_table(spark, "documents", SF_SMALL)
    batch = d.filter(md5_bucket(F.col("doc_id"), 4) == 2).select(
        "doc_id", "text"
    )
    table = band_index_table(spark, SF_SMALL)
    bloom_words = build_bloom_words(_eval_bloom_positions(spark, SF_SMALL))
    bench_grams = (
        with_words(d.filter(F.col("source") == DECONTAM_EVAL_SOURCE))
        .select(
            F.explode(shingles_expr(F.col("__words"), k=DECONTAM_K)).alias("g")
        )
        .distinct()
    )
    w, _ = _qm_train(spark, SF_SMALL)
    model, prior = langid_nb_train(with_words(d))

    base = {
        r.doc_id: r
        for r in fused_gate_verdicts(
            spark, batch, table, d, bloom_words, bench_grams, w
        ).collect()
    }
    assert base and "predicted_lang" not in next(iter(base.values())).asDict()

    # per-doc parity with the REGISTERED trained-langid query
    want_lang = {
        r.doc_id: r.predicted_lang
        for r in text_langid_model_scores(spark, SF_SMALL).collect()
        if r.doc_id in base
    }
    langs = sorted(set(want_lang.values()))
    allowed = langs[:1]  # gate on one language: both bit values exercised
    fused4 = {
        r.doc_id: r
        for r in fused_gate_verdicts(
            spark,
            batch,
            table,
            d,
            bloom_words,
            bench_grams,
            w,
            langid_model=(model, prior),
            allowed_langs=allowed,
        ).collect()
    }
    assert {k: v.predicted_lang for k, v in fused4.items()} == want_lang
    for k, v in fused4.items():
        assert v.lang_admit == (v.predicted_lang in allowed)
        assert v.admit == (base[k].admit and v.lang_admit)

    # tag-only mode: the language rides the verdict but never gates
    tagged = {
        r.doc_id: r
        for r in fused_gate_verdicts(
            spark,
            batch,
            table,
            d,
            bloom_words,
            bench_grams,
            w,
            langid_model=(model, prior),
        ).collect()
    }
    for k, v in tagged.items():
        assert v.lang_admit is True
        assert v.admit == base[k].admit


def test_streaming_mm_near_dup_alerts(spark, tmp_path):
    """Ingest-time MEDIA near-dup: brand-new payloads streamed in
    micro-batches probe the materialized posting table under its stored
    centering model. A streamed byte-copy of corpus doc X must alert on
    exactly {X} ∪ {y : (X, y) is a batch-miner pair} — the exact-dup
    guarantee plus neighborhood parity with mm_dedup_embedding."""
    import json as _json

    from psql_streamer_spark.operators.dedup import (
        DELTA_BUCKET,
        DELTA_BUCKETS,
    )
    from psql_streamer_spark.operators.mlprep import md5_bucket
    from psql_streamer_spark.operators.multimodal import (
        mm_bucket_index_table,
        mm_dedup_embedding,
    )
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.mm_dedup_stream import (
        start_mm_near_dup_stream,
    )

    sf = "/root/testdata/sf0.01"  # smallest SF with near-dup pairs
    d = load_table(spark, "documents", sf)
    # stream byte-copies of the delta-bucket docs under OFFSET ids
    OFFSET = 10_000_000
    incoming = (
        d.filter(md5_bucket(F.col("doc_id"), DELTA_BUCKETS) == DELTA_BUCKET)
        .select("doc_id", "text")
        .collect()
    )
    assert incoming
    src = tmp_path / "mm_incoming"
    src.mkdir()
    half = max(1, len(incoming) // 2)
    for i, chunk in enumerate([incoming[:half], incoming[half:]]):
        if not chunk:
            continue
        (src / f"b{i}.json").write_text(
            "\n".join(
                _json.dumps({"doc_id": r.doc_id + OFFSET, "text": r.text})
                for r in chunk
            )
            + "\n"
        )

    table = mm_bucket_index_table(spark, sf)
    q = start_mm_near_dup_stream(
        spark,
        str(src),
        table,
        str(tmp_path / "mm_alerts"),
        str(tmp_path / "ckpt_mm"),
    )
    assert q.awaitTermination(240), "mm stream did not drain"

    alerts: dict = {}
    for r in spark.read.parquet(str(tmp_path / "mm_alerts")).collect():
        alerts.setdefault(r.new_doc_id - OFFSET, set()).add(r.corpus_doc_id)

    full = mm_dedup_embedding(spark, sf).collect()
    want: dict = {}
    for r in incoming:
        # the byte-copy must at minimum find its own original ...
        want[r.doc_id] = {r.doc_id}
    for p in full:
        # ... plus every batch-miner neighbor of the original
        if p.doc_a in want:
            want[p.doc_a].add(p.doc_b)
        if p.doc_b in want:
            want[p.doc_b].add(p.doc_a)
    assert alerts == want


def test_fused_ingest_loop_admissions_become_dedup_state(spark, tmp_path):
    """The closed ingest loop: a document ADMITTED at epoch N must reject
    its near-copy at epoch N+1 (admission appends band postings + the
    text store), while a REJECTED document leaves no trace (its later
    near-copy is judged on its own merits)."""
    import json as _json

    from psql_streamer_spark.functions.text_hash import shingles_expr, with_words
    from psql_streamer_spark.operators.dedup import (
        BAND_INDEX_BUCKETS,
        band_index_table,
    )
    from psql_streamer_spark.operators.mlprep import (
        DECONTAM_EVAL_SOURCE,
        DECONTAM_K,
        _eval_bloom_positions,
        build_bloom_words,
    )
    from psql_streamer_spark.operators.text import _qm_train
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.fused_gate import (
        start_fused_ingest_loop,
    )
    from tests.conftest import SF_SMALL

    d = load_table(spark, "documents", SF_SMALL)
    # a PRIVATE index copy the loop may mutate (the shared app-scoped
    # band index must stay pristine for other tests in this session)
    base = band_index_table(spark, SF_SMALL)
    loop_tbl = "fused_loop_index_test"
    spark.sql(f"DROP TABLE IF EXISTS {loop_tbl}")
    (
        spark.table(base)
        .write.bucketBy(BAND_INDEX_BUCKETS, "bkey")
        .sortBy("bkey")
        .mode("overwrite")
        .saveAsTable(loop_tbl)
    )
    base_rows = spark.table(loop_tbl).count()

    bloom_words = build_bloom_words(_eval_bloom_positions(spark, SF_SMALL))
    bench_grams = (
        with_words(d.filter(F.col("source") == DECONTAM_EVAL_SOURCE))
        .select(
            F.explode(shingles_expr(F.col("__words"), k=DECONTAM_K)).alias("g")
        )
        .distinct()
    )
    w, _ = _qm_train(spark, SF_SMALL)

    # fixture texts from the corpus vocabulary: A passes the gate and is
    # near nothing in the corpus (scrambled word order kills 3-gram
    # overlap); B is A with the LAST word changed (near-dup of A);
    # C quality-passes but leaks a battery 5-gram (contaminated);
    # D is C's near-copy.
    vocab = sorted(
        r.word
        for r in with_words(d)
        .select(F.explode("__words").alias("word"))
        .distinct()
        .collect()
    )
    a_words = [vocab[(7 * i + 3) % len(vocab)] for i in range(40)]
    b_words = a_words[:-1] + [vocab[(len(a_words) * 9) % len(vocab)]]
    eval_doc = (
        d.filter(F.col("source") == DECONTAM_EVAL_SOURCE)
        .select("text")
        .first()
        .text
    )
    leak = " ".join(eval_doc.lower().split()[:DECONTAM_K])
    c_words = a_words[::-1][:20] + leak.split() + a_words[5:15]
    d_words = c_words[:-1] + [vocab[1]]

    src = tmp_path / "loop_src"
    src.mkdir()
    (src / "e0.json").write_text(
        _json.dumps({"doc_id": 9001, "text": " ".join(a_words)})
        + "\n"
        + _json.dumps({"doc_id": 9003, "text": " ".join(c_words)})
        + "\n"
    )
    (src / "e1.json").write_text(
        _json.dumps({"doc_id": 9002, "text": " ".join(b_words)})
        + "\n"
        + _json.dumps({"doc_id": 9004, "text": " ".join(d_words)})
        + "\n"
    )
    # FileStreamSource orders by modification time: pin e0 before e1
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(src / "e0.json", (now - 120, now - 120))
    _os.utime(src / "e1.json", (now - 60, now - 60))

    verdict_dir = str(tmp_path / "loop_verdicts")
    admitted_dir = str(tmp_path / "loop_admitted")
    try:
        q = start_fused_ingest_loop(
            spark,
            str(src),
            loop_tbl,
            d,
            bloom_words,
            bench_grams,
            w,
            verdict_dir,
            admitted_dir,
            str(tmp_path / "ckpt_loop"),
        )
        assert q.awaitTermination(240), "loop did not drain"

        v = {
            r.doc_id: r
            for r in spark.read.parquet(verdict_dir).collect()
        }
        assert set(v) == {9001, 9002, 9003, 9004}
        # epochs are processed in file order; whichever of A/B landed
        # first was admitted and must reject the other as ITS near-dup
        first, second = (9001, 9002) if v[9001].admit else (9002, 9001)
        assert v[first].admit and v[first].n_near_dup == 0
        assert not v[second].admit
        assert v[second].n_near_dup > 0
        assert v[second].max_jaccard >= 0.8
        # C rejected for contamination (not near-dup), leaves NO trace:
        # D shares C's leak (also contaminated) but is near-dup of NOTHING
        assert v[9003].contaminated and not v[9003].admit
        assert v[9004].contaminated and v[9004].n_near_dup == 0
        # state artifacts: admitted store holds exactly the admitted doc,
        # and the index grew by its postings only
        admitted = spark.read.parquet(admitted_dir)
        assert {r.doc_id for r in admitted.collect()} == {first}
        grown = spark.table(loop_tbl).count()
        assert grown > base_rows
        assert (
            spark.table(loop_tbl)
            .filter(F.col("doc_id") == second)
            .count()
            == 0
        ), "a rejected doc's postings must never enter the index"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {loop_tbl}")


def test_fused_ingest_loop_replay_reproduces_verdicts(spark, tmp_path):
    """The loop's retry/rewind contract: a FULL replay (fresh checkpoint,
    same sinks, index already holding the first run's appended postings)
    must reproduce the first run's verdicts exactly. The trap this pins:
    epoch N's own prior admissions are ghosts during its replay — two
    same-epoch near-copies admitted together must BOTH stay admitted on
    replay (the batch-id exclusion makes ghost collisions unverifiable),
    not flip to mutual rejection."""
    import json as _json
    import shutil

    from psql_streamer_spark.functions.text_hash import shingles_expr, with_words
    from psql_streamer_spark.operators.dedup import (
        BAND_INDEX_BUCKETS,
        band_index_table,
    )
    from psql_streamer_spark.operators.mlprep import (
        DECONTAM_EVAL_SOURCE,
        DECONTAM_K,
        _eval_bloom_positions,
        build_bloom_words,
    )
    from psql_streamer_spark.operators.text import _qm_train
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.fused_gate import (
        start_fused_ingest_loop,
    )
    from tests.conftest import SF_SMALL

    d = load_table(spark, "documents", SF_SMALL)
    base = band_index_table(spark, SF_SMALL)
    loop_tbl = "fused_loop_replay_test"
    spark.sql(f"DROP TABLE IF EXISTS {loop_tbl}")
    (
        spark.table(base)
        .write.bucketBy(BAND_INDEX_BUCKETS, "bkey")
        .sortBy("bkey")
        .mode("overwrite")
        .saveAsTable(loop_tbl)
    )
    bloom_words = build_bloom_words(_eval_bloom_positions(spark, SF_SMALL))
    bench_grams = (
        with_words(d.filter(F.col("source") == DECONTAM_EVAL_SOURCE))
        .select(
            F.explode(shingles_expr(F.col("__words"), k=DECONTAM_K)).alias("g")
        )
        .distinct()
    )
    w, _ = _qm_train(spark, SF_SMALL)

    vocab = sorted(
        r.word
        for r in with_words(d)
        .select(F.explode("__words").alias("word"))
        .distinct()
        .collect()
    )
    x_words = [vocab[(11 * i + 5) % len(vocab)] for i in range(40)]
    y_words = x_words[:-1] + [vocab[2]]  # same-epoch near-copy of X
    z_words = x_words[:-2] + [vocab[3], vocab[4]]  # next-epoch near-copy

    src = tmp_path / "replay_src"
    src.mkdir()
    (src / "e0.json").write_text(
        _json.dumps({"doc_id": 9101, "text": " ".join(x_words)})
        + "\n"
        + _json.dumps({"doc_id": 9102, "text": " ".join(y_words)})
        + "\n"
    )
    (src / "e1.json").write_text(
        _json.dumps({"doc_id": 9103, "text": " ".join(z_words)}) + "\n"
    )
    # FileStreamSource orders by modification time: pin e0 strictly
    # before e1 so "same-epoch" / "next-epoch" mean what the test says
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(src / "e0.json", (now - 120, now - 120))
    _os.utime(src / "e1.json", (now - 60, now - 60))
    verdict_dir = str(tmp_path / "replay_verdicts")
    admitted_dir = str(tmp_path / "replay_admitted")

    def run(ckpt: str) -> dict:
        q = start_fused_ingest_loop(
            spark,
            str(src),
            loop_tbl,
            d,
            bloom_words,
            bench_grams,
            w,
            verdict_dir,
            admitted_dir,
            ckpt,
        )
        assert q.awaitTermination(240), "loop did not drain"
        return {
            r.doc_id: (r.admit, r.n_near_dup, r.contaminated)
            for r in spark.read.parquet(verdict_dir).collect()
        }

    try:
        first = run(str(tmp_path / "ckpt_a"))
        # same-epoch near-copies: both admitted (epoch granularity);
        # the next-epoch copy rejects against the indexed admissions
        assert first[9101][0] and first[9102][0], first
        assert not first[9103][0] and first[9103][1] > 0, first
        rows_after_first = spark.table(loop_tbl).count()

        # full replay: fresh checkpoint, same sinks, ghost postings live
        shutil.rmtree(str(tmp_path / "ckpt_a"))
        second = run(str(tmp_path / "ckpt_b"))
        assert second == first  # verdict-identical, ghosts inert
        # admitted store converged (overwrite), index grew only by the
        # replay's re-appended postings of the SAME admitted docs
        admitted = spark.read.parquet(admitted_dir)
        assert {r.doc_id for r in admitted.collect()} == {9101, 9102}
        assert (
            spark.table(loop_tbl)
            .filter(F.col("doc_id").isin(9101, 9102))
            .select("doc_id", "bkey")
            .distinct()
            .count()
            == spark.table(loop_tbl)
            .filter(F.col("doc_id").isin(9101, 9102))
            .count()
            // 2
        ), "replay re-appends duplicates of the same postings, nothing new"
        assert spark.table(loop_tbl).count() > rows_after_first
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {loop_tbl}")


def test_fused_ingest_loop_compaction(spark, tmp_path):
    """The loop's wired compaction cadence (compact_every=K): at epoch K
    the admitted store's per-epoch partitions fold into ONE base
    generation (pointer advanced atomically, folded partitions swept)
    and the posting table is rewritten DISTINCT — while verdicts stay
    IDENTICAL to an uncompacted run: pre-fold admissions still reject
    their post-fold near-copies (the base is in the verify corpus), a
    FULL rewind reproduces all verdicts (base rows carry per-epoch
    provenance, so epoch N still excludes epoch >= N admissions), and a
    post-replay compact_loop_index reclaims the ghost-duplicate
    postings the replay re-appended."""
    import json as _json
    import os as _os
    import shutil
    import time as _time

    from psql_streamer_spark.functions.text_hash import (
        shingles_expr,
        with_words,
    )
    from psql_streamer_spark.operators.dedup import (
        BAND_INDEX_BUCKETS,
        band_index_table,
    )
    from psql_streamer_spark.operators.mlprep import (
        DECONTAM_EVAL_SOURCE,
        DECONTAM_K,
        _eval_bloom_positions,
        build_bloom_words,
    )
    from psql_streamer_spark.operators.text import _qm_train
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.fused_gate import (
        _admitted_base_bound,
        compact_loop_index,
        start_fused_ingest_loop,
    )
    from tests.conftest import SF_SMALL

    d = load_table(spark, "documents", SF_SMALL)
    base = band_index_table(spark, SF_SMALL)
    loop_tbl = "fused_loop_compact_test"
    spark.sql(f"DROP TABLE IF EXISTS {loop_tbl}")
    (
        spark.table(base)
        .write.bucketBy(BAND_INDEX_BUCKETS, "bkey")
        .sortBy("bkey")
        .mode("overwrite")
        .saveAsTable(loop_tbl)
    )
    bloom_words = build_bloom_words(_eval_bloom_positions(spark, SF_SMALL))
    bench_grams = (
        with_words(d.filter(F.col("source") == DECONTAM_EVAL_SOURCE))
        .select(
            F.explode(shingles_expr(F.col("__words"), k=DECONTAM_K)).alias("g")
        )
        .distinct()
    )
    w, _ = _qm_train(spark, SF_SMALL)

    vocab = sorted(
        r.word
        for r in with_words(d)
        .select(F.explode("__words").alias("word"))
        .distinct()
        .collect()
    )
    x_words = [vocab[(13 * i + 7) % len(vocab)] for i in range(40)]
    z_words = x_words[:-1] + [vocab[6]]  # epoch-1 near-copy of X
    w_words = [vocab[(17 * i + 2) % len(vocab)] for i in range(40)]
    v_words = w_words[:-1] + [vocab[8]]  # epoch-3 near-copy of W
    u_words = x_words[:-2] + [vocab[9], vocab[10]]  # epoch-3 copy of X
    #                                                 (X is FOLDED by then)
    src = tmp_path / "compact_src"
    src.mkdir()
    epochs = [
        [(9201, x_words)],
        [(9202, z_words)],
        [(9203, w_words)],
        [(9204, v_words), (9205, u_words)],
    ]
    now = _time.time()
    for i, docs in enumerate(epochs):
        p = src / f"e{i}.json"
        p.write_text(
            "\n".join(
                _json.dumps({"doc_id": did, "text": " ".join(ws)})
                for did, ws in docs
            )
            + "\n"
        )
        _os.utime(p, (now - 240 + 60 * i, now - 240 + 60 * i))

    verdict_dir = str(tmp_path / "compact_verdicts")
    admitted_dir = str(tmp_path / "compact_admitted")

    def run(ckpt: str) -> dict:
        q = start_fused_ingest_loop(
            spark,
            str(src),
            loop_tbl,
            d,
            bloom_words,
            bench_grams,
            w,
            verdict_dir,
            admitted_dir,
            ckpt,
            compact_every=2,
        )
        assert q.awaitTermination(240), "loop did not drain"
        return {
            r.doc_id: (r.admit, r.n_near_dup)
            for r in spark.read.parquet(verdict_dir).collect()
        }

    try:
        first = run(str(tmp_path / "ckpt_c1"))
        # X, W admitted; Z rejects against live X; V rejects against
        # post-fold admission W; U rejects against the FOLDED X (the
        # base is in the verify corpus)
        assert first[9201][0] and first[9203][0], first
        for rejected in (9202, 9204, 9205):
            assert not first[rejected][0], (rejected, first)
            assert first[rejected][1] > 0, (rejected, first)

        # the fold ran at epoch 2: pointer advanced, folded partitions
        # swept, base generation holds the pre-fold admissions
        assert _admitted_base_bound(admitted_dir) == 2
        names = set(_os.listdir(admitted_dir))
        assert "epoch=000000000000" not in names
        assert "epoch=000000000001" not in names
        assert {"epoch=000000000002", "epoch=000000000003"} <= names
        base_df = spark.read.parquet(
            _os.path.join(admitted_dir, "_base", "v=000000000002")
        )
        assert {(r.doc_id, r.epoch) for r in base_df.collect()} == {(9201, 0)}
        rows_after_first = spark.table(loop_tbl).count()
        distinct_after_first = spark.table(loop_tbl).distinct().count()
        assert rows_after_first == distinct_after_first  # clean first run

        # FULL rewind under the compacted store: fresh checkpoint must
        # reproduce every verdict (base provenance keeps epoch N from
        # seeing epoch >= N admissions)
        second = run(str(tmp_path / "ckpt_c2"))
        assert second == first
        # the replay's re-appended ghost postings persist until the next
        # fold; compact_loop_index reclaims them and probes still serve
        assert spark.table(loop_tbl).count() > rows_after_first
        compact_loop_index(spark, loop_tbl)
        assert spark.table(loop_tbl).count() == distinct_after_first
        third = run(str(tmp_path / "ckpt_c3"))
        assert third == first
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {loop_tbl}")
        shutil.rmtree(admitted_dir, ignore_errors=True)


def test_streaming_lake_retention_leg(spark, dirs):
    """The lake lifecycle's retention leg on the STREAMING-written layout:
    expire_partitions must operate on what ParquetSink actually produces
    (col=value leaves plus root-level _SUCCESS marker files from the
    per-epoch batch writes), removing whole partitions while the
    survivors keep their rows and their pruned-read plan."""
    from psql_streamer_spark.sources.io import compact_parquet, expire_partitions

    src, ckpt, tmp = dirs
    out = tmp / "lake"
    for b in range(2):
        _write_batch(
            src,
            f"b{b}.json",
            [_event(b * 10 + i, table="users") for i in range(2)]
            + [_event(b * 10 + i, table="orders") for i in range(2, 4)],
        )
    CdcPipeline(
        spark,
        str(src),
        ckpt,
        routes=[
            SinkRoute(
                ParquetSink(str(out), partition_cols=["table"]),
                {"users": "t.users", "orders": "t.orders"},
            ),
        ],
        max_files_per_trigger=1,
    ).run_to_completion()
    compact_parquet(spark, str(out), target_file_mb=128)
    users_rows = spark.read.parquet(str(out / "table=users")).count()
    assert users_rows == 4

    removed = expire_partitions(str(out), "table", keep_latest=1)
    assert removed == ["table=orders"]  # 'users' sorts last -> survives
    lake = spark.read.parquet(str(out))
    assert lake.count() == users_rows
    assert {r.table for r in lake.select("table").distinct().collect()} == {
        "users"
    }
    plan = (
        lake.filter(F.col("table") == "users")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan


def test_streaming_quality_gate(spark, tmp_path):
    """Ingest-time model quality gate: documents streamed in micro-batches
    score under the frozen trained weights, and every verdict must equal
    the batch text_quality_model_scores row for the same document (the
    featurization is per-doc, so streaming == batch exactly)."""
    import json as _json

    from psql_streamer_spark.operators.mlprep import md5_bucket
    from psql_streamer_spark.operators.text import (
        _qm_train,
        text_quality_model_scores,
    )
    from psql_streamer_spark.sources.tables import load_table
    from psql_streamer_spark.streaming.quality_stream import (
        start_quality_stream,
    )
    from tests.conftest import SF_SMALL

    d = load_table(spark, "documents", SF_SMALL)
    incoming = (
        d.filter(md5_bucket(F.col("doc_id"), 4) == 1)
        .select("doc_id", "text")
        .collect()  # test fixture setup, not an operator path
    )
    assert incoming, "incoming slice empty at this sf"
    src = tmp_path / "incoming_q"
    src.mkdir()
    half = max(1, len(incoming) // 2)
    for i, chunk in enumerate([incoming[:half], incoming[half:]]):
        if not chunk:
            continue
        (src / f"batch{i}.json").write_text(
            "\n".join(
                _json.dumps({"doc_id": r.doc_id, "text": r.text})
                for r in chunk
            )
            + "\n"
        )

    w, _ = _qm_train(spark, SF_SMALL)  # frozen model from the corpus
    q = start_quality_stream(
        spark,
        str(src),
        w,
        str(tmp_path / "q_verdicts"),
        str(tmp_path / "ckpt_quality"),
    )
    assert q.awaitTermination(180), "stream did not drain"

    got = {
        r.doc_id: (r.label, r.score, r.predicted, r.correct)
        for r in spark.read.parquet(str(tmp_path / "q_verdicts")).collect()
    }
    streamed_ids = {r.doc_id for r in incoming}
    want = {
        r.doc_id: (r.label, r.score, r.predicted, r.correct)
        for r in text_quality_model_scores(spark, SF_SMALL).collect()
        if r.doc_id in streamed_ids
    }
    assert set(got) == set(want)
    assert got == want  # scores bit-equal, not approximately

    # rewind-replay idempotence for the per-epoch overwrite sink idiom all
    # three ingest gates share: a FRESH checkpoint replays every epoch
    # (same batch ids from 0), and each must REPLACE its prior output —
    # the verdict set converges instead of doubling (foreachBatch is
    # at-least-once; a plain append sink fails this exact assertion)
    q2 = start_quality_stream(
        spark,
        str(src),
        w,
        str(tmp_path / "q_verdicts"),
        str(tmp_path / "ckpt_quality_replay"),
    )
    assert q2.awaitTermination(180), "replay stream did not drain"
    replayed = spark.read.parquet(str(tmp_path / "q_verdicts"))
    assert replayed.count() == len(got)  # no duplicates from the replay


def test_fused_gate_rejects_empty_langid_prior(spark):
    """r16 (r15 advice #1): wiring a degenerate langid model (empty
    prior) must fail fast at stream start, not silently inner-join every
    epoch down to zero verdicts."""
    import pytest

    from psql_streamer_spark.streaming.fused_gate import (
        _validate_langid_model,
    )

    model = spark.createDataFrame(
        [("en", "ab", 1)], "lang string, bigram string, cnt long"
    )
    empty_prior = spark.createDataFrame([], "lang string, n_docs long")
    with pytest.raises(ValueError, match="prior is EMPTY"):
        _validate_langid_model((model, empty_prior))
    # a populated prior passes
    prior = spark.createDataFrame([("en", 3)], "lang string, n_docs long")
    _validate_langid_model((model, prior))
    _validate_langid_model(None)


def test_only_two_places_build_a_stream():
    """One way to start a stream: every document gate goes through
    sinks.run_gate_stream, and the configurable CDC pipeline through
    CdcPipeline.start. A `readStream` or `.trigger` attribute anywhere
    else under streaming/ is a hand-written copy of the gate shape."""
    import ast
    from pathlib import Path

    import psql_streamer_spark.streaming as streaming

    allowed = {"run_gate_stream", "CdcPipeline.start"}
    found = []

    def walk(node, scope, fname):
        for child in ast.iter_child_nodes(node):
            if isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                walk(child, scope + (child.name,), fname)
                continue
            if isinstance(child, ast.Attribute) and child.attr in (
                "readStream",
                "trigger",
            ):
                found.append((fname, ".".join(scope), child.attr))
            walk(child, scope, fname)

    for path in sorted(Path(streaming.__file__).parent.glob("*.py")):
        walk(ast.parse(path.read_text()), (), path.name)

    stray = [f for f in found if f[1] not in allowed]
    assert not stray, f"stream built outside {sorted(allowed)}: {stray}"
    readers = sorted((f, s) for f, s, a in found if a == "readStream")
    assert readers == [
        ("pipeline.py", "CdcPipeline.start"),
        ("sinks.py", "run_gate_stream"),
    ]


def test_one_cdc_epoch_path():
    """One CDC epoch path: the streaming epoch runs the batch transforms
    the oracle checks (validate_split, filter_dml, routing.route). A
    `.filter(`/`.isin(` call or the ACTIONS list in streaming/pipeline.py
    is a second copy of the DML filter, the topic filter or the DLQ
    split."""
    import ast
    from pathlib import Path

    import psql_streamer_spark.streaming.pipeline as pipeline

    tree = ast.parse(Path(pipeline.__file__).read_text())
    epoch = next(
        n for n in ast.walk(tree)
        if isinstance(n, ast.FunctionDef) and n.name == "_process_batch"
    )
    called = {
        n.func.id for n in ast.walk(epoch)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    assert {"validate_split", "filter_dml", "route"} <= called, called
    copies = [
        (f".{n.func.attr}(", n.lineno) for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute)
        and n.func.attr in ("filter", "isin")
    ] + [
        ("ACTIONS", n.lineno) for n in ast.walk(tree)
        if (isinstance(n, ast.Name) and n.id == "ACTIONS")
        or (isinstance(n, ast.alias) and n.name == "ACTIONS")
    ]
    assert not copies, f"epoch logic written outside the batch transforms: {copies}"


def _spawned_commands(spark, tmp_path, body) -> list[str]:
    """Command lines of every process the JVM started while ``body()`` ran,
    from a Java Flight Recorder recording of ``jdk.ProcessStart``."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    try:
        rec.enable("jdk.ProcessStart")
        rec.start()
        body()
        rec.stop()
        dump = jvm.java.io.File(str(tmp_path / "spawns.jfr")).toPath()
        rec.dump(dump)
    finally:
        rec.close()
    events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
    return [str(e.getString("command")) for e in events]


def test_cdc_epochs_spawn_no_chmod_or_readlink(spark, dirs):
    """The local file system applies modes and answers link probes without
    forking (session.py, jvm/NoForkLocalFs.java). Stock Hadoop without its
    native library spawns `chmod` for every file and directory a sink or
    the checkpoint creates and `readlink` on every checkpoint rename: 156
    of them over these two epochs (two parquet routes, one partitioned by
    table, plus a parquet DLQ)."""
    from psql_streamer_spark.streaming.sinks import EpochParquetSink

    src, ckpt, tmp = dirs
    tables = [f"t{i}" for i in range(5)]
    for f in range(2):
        lines = [_event(f * 100 + i, table=tables[i % 5]) for i in range(99)]
        _write_batch(src, f"b{f}.json", lines + ["not json"])
    pipe = CdcPipeline(
        spark, str(src), ckpt,
        routes=[
            SinkRoute(EpochParquetSink(str(tmp / "primary"), name="primary"),
                      {t: f"topic_{t}" for t in tables}),
            SinkRoute(ParquetSink(str(tmp / "by_table"), name="by_table",
                                  partition_cols=["table"]),
                      {"t0": "hot"}, "cold"),
        ],
        dlq_sink=EpochParquetSink(str(tmp / "dlq"), name="dlq"),
        max_files_per_trigger=1,
    )
    commands = _spawned_commands(spark, tmp, pipe.run_to_completion)

    assert pipe.stats.events_in == 200 and pipe.stats.events_dlq == 2
    assert spark.read.parquet(str(tmp / "by_table")).count() == 198
    forks = [c for c in commands if c.split(" ")[0].rsplit("/", 1)[-1]
             in ("chmod", "readlink")]
    assert not forks, f"{len(forks)} chmod/readlink spawns, e.g. {forks[:3]}"


def test_metrics_carry_epoch_phases(spark, dirs):
    """/metrics splits each query's epochs into the durationMs phases of
    StreamingQueryProgress, as a per-phase sum and count."""
    import time
    import urllib.request

    from psql_streamer_spark.observe import EPOCH_PHASES, EngineListener, StatusServer

    src, ckpt, _ = dirs
    _write_batch(src, "b1.json", [_event(i) for i in range(3)])
    listener = EngineListener()
    spark.streams.addListener(listener)
    try:
        CdcPipeline(
            spark, str(src), ckpt, routes=[SinkRoute(NoopSink(), {"test": "t"})]
        ).run_to_completion()
        # progress events reach a Python listener asynchronously
        def seen() -> bool:
            stats = listener.stats().values()
            return bool(stats) and all(
                ph in st.phase_count for st in stats for ph in EPOCH_PHASES
            )

        deadline = time.time() + 60
        while time.time() < deadline and not seen():
            time.sleep(0.2)
        server = StatusServer(listener)
        port = server.start()
        try:
            metrics = urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics").read().decode()
        finally:
            server.stop()
    finally:
        spark.streams.removeListener(listener)

    (name,) = listener.stats()
    for ph in EPOCH_PHASES:
        labels = f'{{query="{name}",phase="{ph}"}}'
        assert f"engine_epoch_phase_ms_sum{labels} " in metrics, ph
        count = [ln for ln in metrics.splitlines()
                 if ln.startswith(f"engine_epoch_phase_ms_count{labels} ")]
        assert count and int(count[0].split()[-1]) >= 1, ph


def _epoch_round_trips(
    spark, mapping: dict, lines: list[str], decoder=None, sinks=None
) -> int:
    """py4j round trips from Python in one warm `_process_batch`: two
    routes (``mapping``, and a fallback-only one) plus a DLQ, on a static
    frame decoded by ``decoder`` (the pipeline default when None). The
    three sinks are NoopSinks unless ``sinks`` gives them. Two epochs warm
    the pipeline up first."""
    import threading

    from py4j.clientserver import ClientServerConnection

    mapped, fallback, dlq = sinks or (
        NoopSink("mapped"), NoopSink("fallback"), NoopSink("dlq"))
    pipe = CdcPipeline(
        spark, "unused", "unused",
        routes=[SinkRoute(mapped, mapping), SinkRoute(fallback, {}, "fb")],
        dlq_sink=dlq, decoder=decoder,
    )
    batch = spark.createDataFrame([(ln,) for ln in lines], "value string")
    for epoch in range(2):
        pipe._process_batch(batch, epoch)

    calls = 0
    me = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command):
        nonlocal calls
        if threading.get_ident() == me:  # not the listener's threads
            calls += 1
        return send(self, command)

    ClientServerConnection.send_command = counting
    try:
        pipe._process_batch(batch, 2)
    finally:
        ClientServerConnection.send_command = send
    assert pipe.stats.batches == 3 and pipe.stats.events_dlq == 3 * 5
    return calls


def test_epoch_builds_no_columns(spark):
    """A warm CDC epoch rebuilds none of its Column expressions: they are
    built once per JVM (transforms.once_per_jvm), so what is left is the
    DataFrame operations, the cache and the writes. Each Column call costs
    about ten py4j round trips (PySpark captures its call site), so the
    rebuilt topic when-chains, predicates, projections and counters came
    to 1,295 round trips per epoch with a 2-table mapping and 15,155 with
    200 tables."""
    lines = [_event(i, table=f"t{i % 7}") for i in range(95)] + ["not json"] * 5
    wide = {f"t{i}": f"topic_{i}" for i in range(200)}
    calls = _epoch_round_trips(spark, wide, lines)
    # measured 45 on a 4-CPU box (15,155 before the memo); the bound
    # leaves about 3x headroom
    assert calls < 150, calls
    assert _epoch_round_trips(spark, {"t0": "a", "t1": "b"}, lines) == calls

    # the four-dialect auto decode is built once per JVM too
    from psql_streamer_spark.sources.cdc_formats import decode_dialect

    auto = functools.partial(decode_dialect, dialect="auto")
    mixed = [_dialect_line(i, f"t{i % 7}") for i in range(95)] + ["not json"] * 5
    calls = _epoch_round_trips(spark, wide, mixed, auto)
    # measured 47 on a 4-CPU box (3,034 before the dialect memo)
    assert calls < 150, calls


def test_file_sink_epoch_builds_no_columns(spark, tmp_path):
    """The twin of test_epoch_builds_no_columns for an epoch whose sinks
    all land from its one file write: the fan-out projection is built
    once per JVM too, so a warm epoch's round trips do not grow with the
    route map."""
    from psql_streamer_spark.streaming.sinks import EpochParquetSink

    def sinks(tag: str):
        return (
            EpochParquetSink(str(tmp_path / tag / "mapped"), "mapped"),
            ParquetSink(str(tmp_path / tag / "fallback"), "fallback", ["table"]),
            EpochParquetSink(str(tmp_path / tag / "dlq"), "dlq"),
        )

    lines = [_event(i, table=f"t{i % 7}") for i in range(95)] + ["not json"] * 5
    wide = {f"t{i}": f"topic_{i}" for i in range(200)}
    calls = _epoch_round_trips(spark, wide, lines, sinks=sinks("wide"))
    assert calls < 150, calls
    assert _epoch_round_trips(
        spark, {"t0": "a", "t1": "b"}, lines, sinks=sinks("narrow")) == calls


def _dialect_line(i: int, table: str) -> str:
    """An insert in one of the four JSON dialects, by ``i % 4``."""
    return json.dumps([
        {"action": "I", "table": table, "lsn": f"0/{i:X}",
         "columns": [{"name": "a", "value": str(i)}]},
        {"payload": {"op": "c", "after": {"a": str(i)},
                     "source": {"table": table, "lsn": i}}},
        {"data": [{"a": str(i)}], "id": i, "isDdl": False, "table": table,
         "type": "INSERT"},
        {"table": table, "type": "insert", "position": f"master.000001:{i}",
         "data": {"a": str(i)}},
    ][i % 4])
