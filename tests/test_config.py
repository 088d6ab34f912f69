"""Config-compiler tests — parity with the reference's configLoad
(config.go:34-120): TOML → source/sink graph, validation failures, and an
end-to-end compiled run matching psql-streamer.toml's shape."""

from __future__ import annotations

import json
import urllib.request

import pytest

from psql_streamer_spark.config import (
    ConfigError,
    compile_config,
    parse_duration_ms,
)
from psql_streamer_spark.sources.cdc_formats import DIALECTS
from psql_streamer_spark.streaming.sinks import KafkaSink, MemorySink, NoopSink


def _event(i: int, table: str = "users", host: str = "db1") -> str:
    return json.dumps(
        {
            "Host": host,
            "Database": "test",
            "Table": table,
            "Action": "insert",
            "WALPosition": i,
            "Timestamp": "2018-07-03T16:04:27Z",
            "UUID": f"0000-{i:06d}",
            "Columns": {"a": str(i)},
        }
    )


def _base_conf(tmp_path) -> dict:
    src = tmp_path / "cdc"
    src.mkdir(exist_ok=True)
    return {
        "tickerInterval": 30,
        "http": "127.0.0.1:0",
        "boltdb": str(tmp_path / "ckpt"),
        "source": {
            "pg1": {"type": "file_cdc", "path": str(src), "batchSize": 10}
        },
        "sink": {
            "logger": {"type": "stub_log", "sources": ["pg1"]},
            "sink2": {"type": "stub_discard", "sources": ["pg1"]},
        },
    }


# -- duration parsing (viper GetDuration) -----------------------------------
@pytest.mark.parametrize(
    "raw,ms",
    [("5ms", 5), ("1s", 1000), ("2m", 120000), (1, 1000), (0.25, 250)],
)
def test_parse_go_durations(raw, ms):
    assert parse_duration_ms(raw) == ms


@pytest.mark.parametrize(
    "raw", ["fast", "²s", float("nan")], ids=["fast", "superscript_two", "nan"]
)
def test_parse_duration_rejects_garbage(raw):
    # "²" passes str.isdigit() but int() rejects it; round(nan) raises
    with pytest.raises(ConfigError):
        parse_duration_ms(raw)


# -- validation parity (config.go) ------------------------------------------
def test_no_sources_is_fatal(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["source"] = {}
    with pytest.raises(ConfigError, match="No sources defined"):
        compile_config(spark, conf)


def test_no_sinks_is_fatal(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["sink"] = {}
    with pytest.raises(ConfigError, match="No sinks defined"):
        compile_config(spark, conf)


def test_sink_without_sources_is_fatal(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["sink"]["logger"]["sources"] = []
    with pytest.raises(ConfigError, match="no sources defined"):
        compile_config(spark, conf)


def test_sink_with_undefined_source_is_fatal(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["sink"]["logger"]["sources"] = ["ghost"]
    with pytest.raises(ConfigError, match="source 'ghost' undefined"):
        compile_config(spark, conf)


def test_duplicate_subscription_is_fatal(spark, tmp_path):
    # the reference panics on duplicate Subscribe (mux/mux.go:119-126)
    conf = _base_conf(tmp_path)
    conf["sink"]["logger"]["sources"] = ["pg1", "pg1"]
    with pytest.raises(ConfigError, match="already subscribed"):
        compile_config(spark, conf)


def test_unknown_types_are_fatal(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["sink"]["logger"]["type"] = "rabbitmq"
    with pytest.raises(ConfigError, match="Unable to init sink"):
        compile_config(spark, conf)
    conf = _base_conf(tmp_path)
    conf["source"]["pg1"]["type"] = "mysql"
    with pytest.raises(ConfigError, match="Unable to init source"):
        compile_config(spark, conf)


def test_negative_ticker_is_fatal(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["tickerInterval"] = -1
    with pytest.raises(ConfigError, match="tickerInterval"):
        compile_config(spark, conf)


_KAFKA = {"type": "kafka", "hosts": ["b1:9092"], "topicFallback": "fb"}


@pytest.mark.parametrize(
    "edit,match",
    [
        (lambda c: c["sink"].update(k={**_KAFKA, "requiredAcks": "all"}),
         "Unable to init sink 'k': requiredAcks"),
        (lambda c: c["sink"].update(k={**_KAFKA, "requiredAcks": None}),
         "Unable to init sink 'k': requiredAcks"),
        (lambda c: c["sink"].update(k={**_KAFKA, "maxAttempts": "3x"}),
         "Unable to init sink 'k': maxAttempts"),
        (lambda c: c["sink"].update(k={"type": "parquet"}),
         "Unable to init sink 'k': path"),
        (lambda c: c["sink"].update(k={"type": "parquet_epoch"}),
         "Unable to init sink 'k': path"),
        (lambda c: c["sink"].update(k={"type": "snapshot"}),
         "Unable to init sink 'k': path"),
        (lambda c: c.update(tickerInterval="abc"), "tickerInterval"),
        (lambda c: c.update(tickerInterval=float("nan")), "tickerInterval"),
        (lambda c: c.update(tickerInterval=float("inf")), "tickerInterval"),
        # a bare string would be split into characters
        (lambda c: c["sink"].update(k={**_KAFKA, "hosts": "broker:9092"}),
         "Unable to init sink 'k': hosts should be a list of strings"),
        (lambda c: c["sink"].update(
            k={"type": "parquet", "path": "/x", "partitionBy": "table"}),
         "Unable to init sink 'k': partitionBy should be a list of strings"),
        (lambda c: c["sink"].update(k={"type": "stub_log", "sources": "pg1"}),
         "Unable to init sink 'k': sources should be a list of strings"),
        (lambda c: c.update(http="localhost"), "http should be ip:port"),
        (lambda c: c.update(http="127.0.0.1:http"), "http should be ip:port"),
        (lambda c: c.update(http="127.0.0.1:70000"), "http should be ip:port"),
        # route maps become a string `topic` column and memo keys
        (lambda c: c["sink"].update(k={**_KAFKA, "tableTopicMapping": "users"}),
         "Unable to init sink 'k': tableTopicMapping should be a table of string"),
        (lambda c: c["sink"].update(
            k={"type": "stub_log", "tableTopicMapping": "users"}),
         "Unable to init sink 'k': tableTopicMapping should be a table of string"),
        (lambda c: c["sink"].update(
            k={"type": "stub_log", "tableTopicMapping": {"users": 7}}),
         "Unable to init sink 'k': tableTopicMapping should be a table of string"),
        (lambda c: c["sink"].update(k={**_KAFKA, "topicFallback": 5}),
         "Unable to init sink 'k': topicFallback should be a string"),
        # a list is unhashable and no dialect name
        (lambda c: c["source"]["pg1"].update(dialect=["maxwell"]),
         "Unable to init source 'pg1': unknown dialect"),
        # host/database become string envelope columns
        (lambda c: c["source"]["pg1"].update(dialect="wal2json", host=5),
         "Unable to init source 'pg1': host should be a string"),
        (lambda c: c["source"]["pg1"].update(dialect="auto", database=["d"]),
         "Unable to init source 'pg1': database should be a string"),
        (lambda c: c["source"]["pg1"].update(type="file_pgoutput", host=1.5),
         "Unable to init source 'pg1': host should be a string"),
    ],
    ids=["acks_all", "acks_none", "attempts_3x", "parquet_no_path",
         "parquet_epoch_no_path", "snapshot_no_path", "ticker_abc",
         "ticker_nan", "ticker_inf", "hosts_str", "partition_by_str",
         "sources_str", "http_no_port", "http_named_port", "http_port_range",
         "mapping_str", "mapping_str_stub", "mapping_int_topic", "fallback_int",
         "dialect_list", "dialect_host_int", "auto_database_list",
         "pgoutput_host_float"],
)
def test_bad_values_raise_config_error(spark, tmp_path, edit, match):
    """A bad value is a ConfigError naming what it was for, never a raw
    ValueError, TypeError or KeyError from the conversion."""
    conf = _base_conf(tmp_path)
    edit(conf)
    for sc in conf["sink"].values():
        sc.setdefault("sources", ["pg1"])
    with pytest.raises(ConfigError, match=match):
        compile_config(spark, conf)


def test_file_source_requires_checkpoint_root(spark, tmp_path):
    # sources that need Bolt complain if boltdb is nil (config.go:55-61)
    conf = _base_conf(tmp_path)
    del conf["boltdb"]
    with pytest.raises(ConfigError, match="boltdb"):
        compile_config(spark, conf)


# -- kafka sink option mapping (B4) -----------------------------------------
def test_kafka_sink_producer_option_mapping(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["sink"]["kfk"] = {
        "type": "kafka",
        "hosts": ["b1:9092", "b2:9092"],
        "batchTimeout": "10ms",
        "requiredAcks": -1,
        "maxAttempts": 3,
        "sources": ["pg1"],
        "tableTopicMapping": {"users": "topic_users"},
        "topicFallback": "fb",
    }
    engine = compile_config(spark, conf)
    k = engine.sinks["kfk"]
    assert isinstance(k, KafkaSink)
    assert k.bootstrap_servers == "b1:9092,b2:9092"
    assert k.producer_conf == {
        "kafka.linger.ms": "10",
        "kafka.acks": "all",
        "kafka.retries": "3",
    }
    # routing config flows from the sink into ITS route on the source's
    # pipeline (per-sink rules, kafka.go:116-135 — never merged globally)
    pipe = engine.pipelines["pg1"]
    kfk_route = next(r for r in pipe.routes if r.sink is k)
    assert kfk_route.topic_mapping == {"users": "topic_users"}
    assert kfk_route.topic_fallback == "fb"
    # the other subscribed sink keeps its own (empty) rules
    for r in pipe.routes:
        if r.sink is not k:
            assert r.topic_mapping == {} and r.topic_fallback is None


def test_kafka_sink_without_hosts_is_fatal(spark, tmp_path):
    conf = _base_conf(tmp_path)
    conf["sink"]["kfk"] = {"type": "kafka", "hosts": [], "sources": ["pg1"]}
    with pytest.raises(ConfigError, match="hosts"):
        compile_config(spark, conf)


# -- end-to-end: TOML file → engine → drained run → control plane -----------
def test_toml_roundtrip_end_to_end(spark, tmp_path):
    src = tmp_path / "cdc"
    src.mkdir()
    (src / "b1.json").write_text("\n".join(_event(i) for i in range(6)) + "\n")

    toml_text = f'''
tickerInterval = 30
http = "127.0.0.1:0"
boltdb = "{tmp_path / "ckpt"}"

[source.pg1]
type = "file_cdc"
path = "{src}"
batchSize = 400

[sink.logger]
type = "stub_log"
sources = ["pg1"]
topicFallback = "events"
[sink.logger.tableTopicMapping]
users = "topic_users"

[sink.counter]
type = "stub_discard"
sources = ["pg1"]
'''
    cfg_path = tmp_path / "engine.toml"
    cfg_path.write_text(toml_text)

    engine = compile_config(spark, cfg_path)
    assert set(engine.pipelines) == {"pg1"}
    assert set(engine.sinks) == {"logger", "counter"}

    engine.start(available_now=True)
    try:
        engine.await_drained()

        logger, counter = engine.sinks["logger"], engine.sinks["counter"]
        assert isinstance(logger, MemorySink) and isinstance(counter, NoopSink)
        # fan-out: both subscribed sinks got all 6 events (R4)
        assert logger.events == counter.events == 6
        assert {r.topic for r in logger.rows} == {"topic_users"}

        stats = engine.stats()
        assert "routed 6" in stats["source.pg1"]
        assert "events 6" in stats["sink.logger"]

        # control plane (O3) serves live engine stats + /debug toggle
        port = engine.server.port
        get = lambda p: urllib.request.urlopen(  # noqa: E731
            f"http://127.0.0.1:{port}{p}"
        )
        live = json.loads(get("/stats").read())
        assert "source.pg1" in live and "routed 6" in live["source.pg1"]
        metrics = get("/metrics").read().decode().splitlines()
        assert 'engine_pipeline_events_total{source="pg1",kind="routed"} 6' in metrics
        assert get("/health").read() == b"OK\n"
        assert get("/debug/on").read() == b"Debug is now true\n"
        assert engine.server.debug is True
        assert get("/debug/off").read() == b"Debug is now false\n"
        assert get("/debug").read().startswith(b"Request should be")
    finally:
        engine.stop()


def test_multi_source_fan_in_and_isolated_checkpoints(spark, tmp_path):
    """R4 both directions: one sink subscribed to TWO sources receives both
    streams; each source keeps its own checkpoint (db.go:113 per-source
    buckets), so draining one never advances the other's offsets."""
    import json as _json

    srcs = {}
    for name in ("pg1", "pg2"):
        d = tmp_path / name
        d.mkdir()
        (d / "b1.json").write_text(
            "\n".join(_event(i, host=name) for i in range(3)) + "\n"
        )
        srcs[name] = d

    conf = {
        "boltdb": str(tmp_path / "ckpt"),
        "source": {
            "pg1": {"type": "file_cdc", "path": str(srcs["pg1"])},
            "pg2": {"type": "file_cdc", "path": str(srcs["pg2"])},
        },
        "sink": {
            "log": {
                "type": "stub_log",
                "sources": ["pg1", "pg2"],
                "topicFallback": "t",
            }
        },
    }
    engine = compile_config(spark, conf)
    assert set(engine.pipelines) == {"pg1", "pg2"}
    engine.start(available_now=True)
    try:
        engine.await_drained()
        log = engine.sinks["log"]
        assert log.events == 6
        hosts = {_json.loads(r.value)["Host"] for r in log.rows}
        assert hosts == {"pg1", "pg2"}
        # per-source checkpoint dirs exist and are distinct
        import os

        assert os.path.isdir(str(tmp_path / "ckpt" / "source_pg1"))
        assert os.path.isdir(str(tmp_path / "ckpt" / "source_pg2"))
    finally:
        engine.stop()


def test_kafka_sink_without_routing_rules_is_fatal(spark, tmp_path):
    """No tableTopicMapping AND no topicFallback would silently discard
    100% of events at runtime — the reference rejects this at load time
    (kafka.go:119-125)."""
    conf = _base_conf(tmp_path)
    conf["sink"]["kfk"] = {
        "type": "kafka", "hosts": ["b:9092"], "sources": ["pg1"],
    }
    with pytest.raises(ConfigError, match="topicFallback or tableTopicMapping"):
        compile_config(spark, conf)


def test_kafka_mapping_topic_equal_to_fallback_is_fatal(spark, tmp_path):
    """kafka.go:127-130: a mapped topic must differ from the fallback."""
    conf = _base_conf(tmp_path)
    conf["sink"]["kfk"] = {
        "type": "kafka", "hosts": ["b:9092"], "sources": ["pg1"],
        "tableTopicMapping": {"users": "fb"}, "topicFallback": "fb",
    }
    with pytest.raises(ConfigError, match="same as topicFallback"):
        compile_config(spark, conf)


def test_negative_mux_batch_knobs_are_fatal(spark, tmp_path):
    """mux.New validation parity (mux/mux_test.go:33-69 Test_New): the
    reference rejects batchSize <= 0 and non-positive flush intervals at
    LOAD time; Spark would otherwise surface a bad maxFilesPerTrigger
    only at stream start (or silently ignore it). Both knobs must be
    fatal in compile_config, including the bare-integer duration form
    (-1 parses as -1000 ms and pre-fix was accepted)."""
    import pytest

    from psql_streamer_spark.config import ConfigError, compile_config

    def cfg(**src_extra):
        src = {"type": "file_cdc", "path": str(tmp_path / "in")}
        src.update(src_extra)
        return {
            "tickerInterval": 0,
            "boltdb": str(tmp_path / "ckpt"),
            "source": {"s1": src},
            "sink": {"k1": {"type": "stub_log", "sources": ["s1"]}},
        }

    for bad in (-1, 0):
        with pytest.raises(ConfigError, match="batchSize should be > 0"):
            compile_config(spark, cfg(batchSize=bad))
    for bad in (-1, 0, "0s"):
        with pytest.raises(
            ConfigError, match="batchFlushInterval should be > 0"
        ):
            compile_config(spark, cfg(batchFlushInterval=bad))
    # the valid shapes still compile
    eng = compile_config(spark, cfg(batchSize=400, batchFlushInterval="1s"))
    assert "s1" in eng.pipelines
    # malformed (non-numeric) values stay inside the ConfigError contract
    # instead of escaping as bare ValueError/TypeError
    for bad in ("four hundred", None, {"n": 4}, 400.7, 0.9, True):
        with pytest.raises(ConfigError, match="batchSize must be an integer"):
            compile_config(spark, cfg(batchSize=bad))
    # integral floats coerce (TOML/JSON numeric round-trip), halves reject
    eng2 = compile_config(spark, cfg(batchSize=400.0))
    assert "s1" in eng2.pipelines
    for bad in ("soon", {}, [1]):
        with pytest.raises(
            ConfigError, match="(unparseable|batchFlushInterval)"
        ):
            compile_config(spark, cfg(batchFlushInterval=bad))


_MAXWELL_LINE = json.dumps(
    {
        "database": "shop",
        "table": "orders",
        "type": "insert",
        "ts": 1709287530,
        "position": "master.000002:77",
        "data": {"id": "5"},
    }
)
# one insert per dialect, and the envelope it must decode to under a
# source with host "mhost" and database "mdb": wal2json stamps both from
# config, maxwell and canal the host only, debezium neither
_DIALECT_LINES = {
    "wal2json": (
        json.dumps({"action": "I", "table": "orders", "lsn": "2/4D",
                    "columns": [{"name": "id", "value": "5"}]}),
        ("mhost", "mdb", "orders", "insert", (2 << 32) | 77),
    ),
    "debezium": (
        json.dumps({"payload": {"op": "c", "after": {"id": "5"}, "source": {
            "name": "pg1", "db": "appdb", "table": "orders", "lsn": 77}}}),
        ("pg1", "appdb", "orders", "insert", 77),
    ),
    "maxwell": (
        _MAXWELL_LINE, ("mhost", "shop", "orders", "insert", (2 << 32) | 77)
    ),
    "canal": (
        json.dumps({"data": [{"id": "5"}], "database": "shop", "id": 77,
                    "isDdl": False, "table": "orders", "type": "INSERT"}),
        ("mhost", "shop", "orders", "insert", 77),
    ),
    "auto": (
        _MAXWELL_LINE, ("mhost", "shop", "orders", "insert", (2 << 32) | 77)
    ),
}


@pytest.mark.parametrize("dialect", [*DIALECTS, "auto"])
def test_file_cdc_dialect_knob_selects_decoder(spark, tmp_path, dialect):
    """`dialect` on a file_cdc source swaps the pipeline's decoder for
    the matching cdc_formats decoder at COMPILE time; an unknown dialect
    is fatal at load (configLoad parity), not at stream start."""
    src = tmp_path / "src_dialect"
    src.mkdir()
    conf = {
        "boltdb": str(tmp_path / "ckpt_dialect"),
        "source": {
            "mx1": {
                "type": "file_cdc",
                "path": str(src),
                "dialect": dialect,
                "host": "mhost",
                "database": "mdb",
            }
        },
        "sink": {"log": {"type": "stub_log", "sources": ["mx1"]}},
    }
    decoder = compile_config(spark, conf).pipelines["mx1"].decoder
    line, want = _DIALECT_LINES[dialect]
    decoded = decoder(spark.createDataFrame([(line,)], ["value"]))
    row = decoded.first()
    assert (row.host, row.database, row.table, row.action, row.wal_position) == want
    assert row.uuid
    # the auto dispatch's provenance column never reaches a pipeline
    assert "dialect" not in decoded.columns

    conf["source"]["mx1"]["dialect"] = "kanal"
    with pytest.raises(ConfigError, match="unknown dialect 'kanal'"):
        compile_config(spark, conf)


def test_dialect_decoders_bind_per_source_host_despite_http(spark, tmp_path):
    """Regression: the dialect decoders must bind each source's
    host/database by VALUE — `host` is reassigned later in
    compile_config (the http listener split) and rebinds per source, so
    late-bound closures would stamp every event with the wrong
    provenance."""
    import json as _json

    from psql_streamer_spark.config import compile_config

    src_a = tmp_path / "src_a"
    src_b = tmp_path / "src_b"
    src_a.mkdir(), src_b.mkdir()
    conf = {
        "http": "127.0.0.1:0",  # triggers the host reassignment
        "boltdb": str(tmp_path / "ckpt_hosts"),
        "source": {
            "a": {
                "type": "file_cdc",
                "path": str(src_a),
                "dialect": "maxwell",
                "host": "host-a",
            },
            "b": {
                "type": "file_cdc",
                "path": str(src_b),
                "dialect": "maxwell",
                "host": "host-b",
            },
        },
        "sink": {"log": {"type": "stub_log", "sources": ["a", "b"]}},
    }
    eng = compile_config(spark, conf)
    line = _json.dumps(
        {
            "database": "db",
            "table": "t",
            "type": "insert",
            "ts": 1,
            "position": "master.000001:1",
            "data": {"id": "1"},
        }
    )
    frame = spark.createDataFrame([(line,)], ["value"])
    assert eng.pipelines["a"].decoder(frame).first().host == "host-a"
    assert eng.pipelines["b"].decoder(frame).first().host == "host-b"


def test_dialect_on_wrong_source_type_or_empty_is_fatal(spark, tmp_path):
    import pytest as _pytest

    from psql_streamer_spark.config import ConfigError, compile_config

    src = tmp_path / "src_wrongtype"
    src.mkdir()
    base = {
        "boltdb": str(tmp_path / "ckpt_wt"),
        "source": {
            "s1": {
                "type": "file_pgoutput",
                "path": str(src),
                "dialect": "maxwell",
            }
        },
        "sink": {"log": {"type": "stub_log", "sources": ["s1"]}},
    }
    with _pytest.raises(ConfigError, match="applies only to file_cdc"):
        compile_config(spark, base)
    base["source"]["s1"] = {
        "type": "file_cdc",
        "path": str(src),
        "dialect": "",
    }
    with _pytest.raises(ConfigError, match="unknown dialect ''"):
        compile_config(spark, base)
