"""Config → dataflow-graph compiler (reference `config.go:34-120`).

The reference wires its whole runtime from one TOML file: global knobs
(`tickerInterval`, `http`, `boltdb`), a `[source.<name>]` table per source,
a `[sink.<name>]` table per sink, and a `sources = [...]` subscription list
on each sink (`config.go:98-110` → `Source.Subscribe(sink)`). That static
source→mux→sink graph IS its intermediate representation — there is no
other plan.

Here the same TOML compiles to Spark constructs:

  boltdb path            → checkpoint root dir (offsets live in Structured
                           Streaming's checkpoint, db/db.go dissolves, F1)
  [source.X] type=...    → a `CdcPipeline` (one streaming query per source;
                           its trigger = the source's mux batching, B1)
  [sink.Y] type=...      → a `Sink` built by `_SINK_FACTORY` (sink/sink.go:24-40)
  sink.sources=[...]     → fan-out list of that source's pipeline (R4);
                           one foreachBatch writes ALL subscribed sinks, so
                           offsets commit only after every sink ACKs — the
                           reference's all-or-nothing batch ACK
                           (mux/mux.go:173-189)
  http = "ip:port"       → StatusServer (/health /status /stats /metrics
                           /debug, http.go:17-95)
  tickerInterval         → EngineListener progress logging (stats.go:10-36)

Validation parity with `config.go`: missing http, no sources, no sinks,
sink without sources, sink naming an undefined source, and duplicate
subscription (the reference panics in `mux/mux.go:119-126`) are all
config-time errors.

TOML shape (mirrors psql-streamer.toml; reference key names kept):

    tickerInterval = 30
    http = "127.0.0.1:0"
    boltdb = "/tmp/engine-ckpt"          # checkpoint root

    [source.pg1]
    type = "file_cdc"                    # reference: "postgres"/"kafka";
    path = "/data/cdc-json"              # we ingest CDC JSON-lines files
    batchSize = 400                      # maxFilesPerTrigger  (mux batchSize)
    batchFlushInterval = "1 second"      # trigger interval (mux flush tick)

    [sink.kfk1]
    type = "kafka"
    hosts = ["broker:9092"]              # sink/kafka/kafka.go:73
    topicFallback = "fallback-topic"     # :116
    sources = ["pg1"]
    batchTimeout = "10ms"                # → kafka.linger.ms      (:74)
    requiredAcks = -1                    # → kafka.acks           (:76)
    maxAttempts = 3                      # → kafka.retries        (:78)
    [sink.kfk1.tableTopicMapping]        # :117
    users = "topic_users"
"""

from __future__ import annotations

import functools
import math
import tomllib
from dataclasses import dataclass, field
from pathlib import Path
from typing import Any, Callable

from pyspark.sql import SparkSession

from psql_streamer_spark.observe import EngineListener, StatsTicker, StatusServer
from psql_streamer_spark.sources.cdc_formats import DIALECTS, decode_dialect
from psql_streamer_spark.streaming.pipeline import CdcPipeline, SinkRoute
from psql_streamer_spark.streaming.sinks import (
    EpochParquetSink,
    KafkaSink,
    MemorySink,
    NoopSink,
    ParquetSink,
    Sink,
    SnapshotSink,
)


class ConfigError(ValueError):
    """Config-time failure — the reference's fatal `configLoad` errors."""


# -- duration parsing (viper GetDuration accepts Go duration strings) -------
# integer milliseconds per unit: float factors (0.001 for "ms") truncated
# "130117ms" to 130116 through int() — hypothesis-found off-by-one
_GO_UNIT_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}


def parse_duration_ms(v: Any) -> int:
    """Go-style duration ("5ms", "1s", "2m") or bare seconds → milliseconds.
    Anything else, NaN and infinity included, raises ConfigError."""
    if isinstance(v, int):
        return v * 1000
    if isinstance(v, float):
        ms = v * 1000
    else:
        s = str(v).strip()
        for unit in ("ms", "s", "m", "h"):  # ms before s: "5ms" must not match "s"
            num = s[: -len(unit)]
            # isdecimal, not isdigit: "²" is a digit that int() rejects
            if s.endswith(unit) and num.replace(".", "", 1).isdecimal():
                if num.isdecimal():  # integer quantity: stay in exact int math
                    return int(num) * _GO_UNIT_MS[unit]
                ms = float(num) * _GO_UNIT_MS[unit]
                break
        else:
            raise ConfigError(f"unparseable duration: {v!r}")
    if not math.isfinite(ms):
        raise ConfigError(f"unparseable duration: {v!r}")
    return round(ms)


# -- sink factory (sink/sink.go:24-40: kafka / stub_log / stub_discard) -----
def _int_option(name: str, conf: dict, key: str) -> int:
    try:
        return int(conf[key])
    except (TypeError, ValueError):
        raise ConfigError(
            f"Unable to init sink '{name}': {key} should be an integer, got {conf[key]!r}"
        ) from None


def _str_list(name: str, conf: dict, key: str) -> list[str]:
    """A list-of-strings option, empty when absent. A bare string is
    refused: iterating it would split it into characters."""
    v = conf.get(key) or []
    if not isinstance(v, list) or not all(isinstance(x, str) for x in v):
        raise ConfigError(
            f"Unable to init sink '{name}': {key} should be a list of strings,"
            f" got {v!r}"
        )
    return v


def _source_str(name: str, conf: dict, key: str) -> str:
    """A source's string option, "unknown" when absent (postgres.go:395-397)."""
    v = conf.get(key, "unknown")
    if not isinstance(v, str):
        raise ConfigError(
            f"Unable to init source '{name}': {key} should be a string, got {v!r}"
        )
    return v


def _route_rules(name: str, conf: dict) -> tuple[dict[str, str], str | None]:
    """A sink's (tableTopicMapping, topicFallback): a table of string
    topics and an optional string. Anything else would escape as a raw
    ValueError or build a non-string `topic` column."""
    mapping = conf.get("tableTopicMapping") or {}
    if not isinstance(mapping, dict) or not all(
        isinstance(t, str) and isinstance(v, str) for t, v in mapping.items()
    ):
        raise ConfigError(
            f"Unable to init sink '{name}': tableTopicMapping should be a table"
            f" of string topics, got {mapping!r}"
        )
    fallback = conf.get("topicFallback")
    if fallback is not None and not isinstance(fallback, str):
        raise ConfigError(
            f"Unable to init sink '{name}': topicFallback should be a string,"
            f" got {fallback!r}"
        )
    return dict(mapping), fallback


def _sink_path(name: str, conf: dict) -> str:
    if not conf.get("path"):
        raise ConfigError(f"Unable to init sink '{name}': path not specified")
    return conf["path"]


def _kafka_sink(name: str, conf: dict) -> Sink:
    hosts = _str_list(name, conf, "hosts")
    if not hosts:
        raise ConfigError(f"sink '{name}': hosts not specified")
    # fail fast, not discard-everything-at-runtime (kafka.go:119-130): with
    # no mapping and no fallback every event would silently hit the noTopic
    # discard path — runtime discard is only for unmapped tables when a
    # mapping exists. A mapping topic equal to the fallback is a config
    # error too (kafka.go:127-130).
    mapping, fallback = _route_rules(name, conf)
    if not mapping and not fallback:
        raise ConfigError(
            f"sink '{name}': at least one of topicFallback or "
            "tableTopicMapping should be specified"
        )
    for tbl, topic in mapping.items():
        if fallback and topic == fallback:
            raise ConfigError(
                f"sink '{name}': topic '{topic}' (table '{tbl}') "
                "should not be the same as topicFallback"
            )
    producer_conf: dict[str, str] = {}
    # producer tuning pass-through (B4, sink/kafka/kafka.go:62-81)
    if "batchTimeout" in conf:  # linger
        producer_conf["kafka.linger.ms"] = str(parse_duration_ms(conf["batchTimeout"]))
    if "requiredAcks" in conf:
        acks = _int_option(name, conf, "requiredAcks")
        producer_conf["kafka.acks"] = "all" if acks == -1 else str(acks)
    if "maxAttempts" in conf:
        producer_conf["kafka.retries"] = str(_int_option(name, conf, "maxAttempts"))
    return KafkaSink(
        bootstrap_servers=",".join(hosts), name=name, producer_conf=producer_conf
    )


_SINK_FACTORY: dict[str, Callable[[str, dict], Sink]] = {
    "kafka": _kafka_sink,
    "stub_log": lambda name, conf: MemorySink(name),
    "stub_discard": lambda name, conf: NoopSink(name),
    # engine extensions: durable sinks (not in the reference)
    "parquet": lambda name, conf: ParquetSink(
        _sink_path(name, conf),
        name,
        partition_cols=_str_list(name, conf, "partitionBy"),
    ),
    "parquet_epoch": lambda name, conf: EpochParquetSink(_sink_path(name, conf), name),
    "snapshot": lambda name, conf: SnapshotSink(
        _sink_path(name, conf), conf.get("keyField", "a"), name
    ),
}

# "kafka" readStream needs the connector jar; file_pgoutput streams
# captured binary replication frames (sources/pgoutput_cdc.FRAME_SCHEMA)
_SOURCE_TYPES = {"file_cdc", "file_pgoutput"}


@dataclass
class Engine:
    """The compiled runtime: pipelines + sinks + control plane
    (`main.go:27-56` lifecycle: start all sources, ticker, HTTP; shutdown
    drains buffers in order)."""

    spark: SparkSession
    pipelines: dict[str, CdcPipeline]
    sinks: dict[str, Sink]
    listener: EngineListener
    server: StatusServer | None = None
    ticker_interval_s: float = 0.0
    ticker: StatsTicker | None = None
    _started: list = field(default_factory=list)

    def start(self, available_now: bool = False) -> None:
        self.spark.streams.addListener(self.listener)
        for pipe in self.pipelines.values():
            self._started.append(pipe.start(available_now=available_now))
        if self.server is not None:
            self.server.start()
        if self.ticker_interval_s > 0:
            self.ticker = StatsTicker(self.stats, self.ticker_interval_s)
            self.ticker.start()

    def await_drained(self) -> None:
        """Block until every availableNow query finishes (shutdown flush,
        main.go:59-96)."""
        for q in self._started:
            q.awaitTermination()
        self._started.clear()

    def stop(self) -> None:
        """Ordered shutdown mirroring the reference (main.go:59-96):

        1. SOURCES stop first — ``q.stop()`` blocks until the stream
           execution thread exits (spark.sql.streaming.stopTimeout=0
           waits indefinitely), so no new epoch can start afterwards. An
           epoch interrupted mid-flight never reaches its commit-log
           entry (foreachBatch runs strictly before the offset commit),
           so a restart replays it — nothing is half-committed.
        2. SINKS close second (flush-on-close, mux/mux.go:156-165):
           write-through sinks only bookkeep; a buffering sink flushes
           its remaining events here, after the last epoch delivered.
        3. CONTROL PLANE last (ticker, HTTP status server) — /status
           and the stats ticker stay observable while the pipeline
           winds down, exactly the reference's teardown tail.
        """
        for q in self._started:
            q.stop()
        self._started.clear()
        for s in self.sinks.values():
            close = getattr(s, "close", None)
            if callable(close):
                close()
        if self.ticker is not None:
            self.ticker.stop()
        if self.server is not None:
            self.server.stop()
        try:
            self.spark.streams.removeListener(self.listener)
        except Exception:  # already removed / session gone
            pass

    def stats(self) -> dict[str, str]:
        out = {f"source.{n}": p.stats.as_line() for n, p in self.pipelines.items()}
        for n, s in self.sinks.items():
            if hasattr(s, "stats"):
                out[f"sink.{n}"] = s.stats()
        return out


def load_toml(path: str | Path) -> dict:
    with open(path, "rb") as f:
        return tomllib.load(f)


def compile_config(spark: SparkSession, conf: dict | str | Path) -> Engine:
    """dict/TOML-path → Engine. Mirrors `configLoad` (config.go:34-120)."""
    if not isinstance(conf, dict):
        conf = load_toml(conf)

    try:
        ticker = float(conf.get("tickerInterval", 0))
    except (TypeError, ValueError):
        ticker = math.nan
    # NaN fails every comparison, so `< 0` alone let it through and it
    # silently turned the ticker off
    if not (math.isfinite(ticker) and ticker >= 0):
        raise ConfigError(  # config.go:46-48
            f"tickerInterval should be >= 0, got {conf.get('tickerInterval')!r}"
        )

    # reference requires http (config.go:51-53); we default it off-by-port-0
    http_listen = conf.get("http")
    if http_listen:
        http_host, _, http_port = str(http_listen).rpartition(":")
        port_ok = http_port.isascii() and http_port.isdigit()
        if not (port_ok and int(http_port) <= 65535):
            raise ConfigError(
                f"http should be ip:port with a port in 0-65535, got {http_listen!r}"
            )
    ckpt_root = conf.get("boltdb")  # optional, needed by file sources (:55-61)

    src_confs: dict[str, dict] = dict(conf.get("source") or {})
    if not src_confs:
        raise ConfigError("No sources defined")  # config.go:64-66
    sink_confs: dict[str, dict] = dict(conf.get("sink") or {})
    if not sink_confs:
        raise ConfigError("No sinks defined")  # config.go:84-86

    # sinks first (factory dispatch, sink/sink.go:24-40)
    sinks: dict[str, Sink] = {}
    for name, sc in sink_confs.items():
        stype = sc.get("type")
        if stype not in _SINK_FACTORY:
            raise ConfigError(f"Unable to init sink '{name}': unknown type {stype!r}")
        sinks[name] = _SINK_FACTORY[stype](name, sc)

    # subscription graph: source name → [sink objs] (config.go:98-110)
    subs: dict[str, list[str]] = {n: [] for n in src_confs}
    for name, sc in sink_confs.items():
        srcs = _str_list(name, sc, "sources")
        if not srcs:
            raise ConfigError(f"Sink '{name}': no sources defined")  # :98-100
        for sn in srcs:
            if sn not in src_confs:
                raise ConfigError(f"Sink '{name}': source '{sn}' undefined")  # :103-105
            if name in subs[sn]:  # duplicate subscribe panics (mux.go:119-126)
                raise ConfigError(f"Sink '{name}' already subscribed to '{sn}'")
            subs[sn].append(name)

    # sources → pipelines
    pipelines: dict[str, CdcPipeline] = {}
    for name, sc in src_confs.items():
        stype = sc.get("type")
        if stype not in _SOURCE_TYPES:
            raise ConfigError(
                f"Unable to init source '{name}': unknown type {stype!r}"
            )
        if not sc.get("path"):
            raise ConfigError(f"source '{name}': path not specified")
        if not ckpt_root:
            # Bolt-needing sources complain when boltdb is nil (config.go:55-58)
            raise ConfigError(f"source '{name}': boltdb (checkpoint root) required")
        # routing lives on each kafka sink in the reference (kafka.go:116-135):
        # every subscribed sink routes the shared batch by ITS OWN
        # mapping/fallback — never a merged pipeline-level mapping, which
        # would let one sink's rules leak into another's
        routes = [
            SinkRoute(sinks[sn], *_route_rules(sn, sink_confs[sn])) for sn in subs[name]
        ]
        extra: dict = {}
        # wire-dialect selection for file_cdc (S1 decode parity): the
        # native engine JSON is the default; `dialect` names a
        # cdc_formats.DIALECTS entry or "auto", with the same fail-fast-
        # at-load contract as every other knob (configLoad parity)
        stamps = {k: _source_str(name, sc, k) for k in ("host", "database")}
        if "dialect" in sc:
            if stype != "file_cdc":
                raise ConfigError(
                    f"Unable to init source '{name}': 'dialect' applies"
                    f" only to file_cdc sources, not {stype!r}"
                )
            dialects = sorted([*DIALECTS, "auto"])
            if sc["dialect"] not in dialects:
                raise ConfigError(
                    f"Unable to init source '{name}': unknown dialect"
                    f" {sc['dialect']!r} (expected one of {dialects})"
                )
            extra = {"decoder": functools.partial(
                decode_dialect, dialect=sc["dialect"], **stamps
            )}
        if stype == "file_pgoutput":
            from psql_streamer_spark.sources.pgoutput_cdc import PgoutputStreamDecoder

            extra = {"decoder": PgoutputStreamDecoder(**stamps)}
        # mux knob validation parity (mux/mux.go via Test_New): the
        # reference rejects non-positive batchSize / batchFlushInterval at
        # LOAD time. Spark would surface batchSize<=0 only at stream start
        # (or silently, depending on the source) — fail fast instead.
        batch_size = None
        if "batchSize" in sc:
            raw = sc["batchSize"]
            # honor the stated contract: int() would silently truncate
            # 400.7 -> 400 (and 0.9 -> 0, misreported as "should be > 0")
            if isinstance(raw, bool) or (
                isinstance(raw, float) and not raw.is_integer()
            ):
                raise ConfigError(
                    f"source '{name}': batchSize must be an integer, "
                    f"got {raw!r}"
                )
            try:
                batch_size = int(raw)
            except (ValueError, TypeError):
                raise ConfigError(
                    f"source '{name}': batchSize must be an integer, "
                    f"got {raw!r}"
                ) from None
            if batch_size <= 0:
                raise ConfigError(
                    f"source '{name}': batchSize should be > 0"
                )
        flush_ms = None
        if "batchFlushInterval" in sc:
            flush_ms = parse_duration_ms(sc["batchFlushInterval"])
            if flush_ms <= 0:
                raise ConfigError(
                    f"source '{name}': batchFlushInterval should be > 0"
                )
        pipelines[name] = CdcPipeline(
            spark,
            source_path=sc["path"],
            checkpoint_dir=str(Path(ckpt_root) / f"source_{name}"),  # db.go:113
            routes=routes,
            max_files_per_trigger=batch_size,
            processing_interval=(
                f"{flush_ms} milliseconds" if flush_ms is not None else None
            ),
            **extra,
        )

    listener = EngineListener()
    server = None
    if http_listen:
        server = StatusServer(
            listener, host=http_host or "127.0.0.1", port=int(http_port)
        )
    engine = Engine(
        spark,
        pipelines=pipelines,
        sinks=sinks,
        listener=listener,
        server=server,
        ticker_interval_s=ticker,
    )
    if server is not None:
        server.stats_fn = engine.stats  # live view for /stats
        server.pipeline_stats_fn = lambda: {n: p.stats for n, p in pipelines.items()}
    return engine
