"""Per-event transforms (reference §2.2): decode, validate, enrich, serialize.

Each transform is a pure DataFrame->DataFrame function (composable with
``df.transform``), mirroring the reference's eventHandler chain
(`sink/kafka/kafka.go:20-23,146-163,227-251`) — but expression-based, so
the whole chain stays inside WholeStageCodegen instead of a per-event
Go callback.

Works identically on batch and streaming DataFrames (same API): the
streaming epoch (``CdcPipeline._process_batch``) runs the same functions
the batch oracle checks. The Column expressions of that path are built
once per JVM (``once_per_jvm``), not per epoch, because building a Column
costs about ten py4j round trips and a small epoch rebuilt thousands of
round trips' worth of identical expressions.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from psql_streamer_spark.schema import ACTIONS, CDC_JSON_SCHEMA

Handler = Callable[[DataFrame], DataFrame]


def _jvm_key():
    """The live JVM: Columns are handles into it, so a new JVM rebuilds."""
    return SparkContext._jvm


def once_per_jvm(build):
    """Memoize a function that builds Columns, per JVM and per (hashable)
    arguments.

    A Column is an immutable, unresolved expression, so one built once
    serves every DataFrame and session on that JVM. Building it is not
    cheap: PySpark 4.1 records the Python call site of every Column call
    (``pyspark.errors.utils._with_origin``: ``getActiveSession``, a conf
    read, ``PySparkCurrentOrigin.set``/``clear``), about ten py4j round
    trips per call. Rebuilding the topic ``when``-chains, predicates,
    projections and counters on every CDC epoch cost a warm 100-event
    epoch with two routes and a DLQ 1,295 round trips with a 2-table
    mapping, 2,135 with a 14-table one and 15,155 with 200 tables; built
    once, it makes 45 whatever the mapping. The cache is a bounded LRU,
    so expressions keyed by a route map stay few however many maps pass
    through it.
    """

    @functools.lru_cache(maxsize=256)
    def cached(jvm, *args):
        return build(*args)

    @functools.wraps(build)
    def memo(*args):
        return cached(_jvm_key(), *args)

    memo.cache_info = cached.cache_info
    return memo


# -- T1: message-type dispatch (postgres.go:320-331) -----------------------
def is_dml_event(df: DataFrame) -> Column:
    """Insert/update/delete — not a Begin/Commit/Origin-style record."""
    return _dml_event()


@once_per_jvm
def _dml_event() -> Column:
    return F.col("action").isin(*ACTIONS)


def filter_dml(df: DataFrame) -> DataFrame:
    """Keep insert/update/delete; drop Begin/Commit/Origin-style records."""
    return df.filter(is_dml_event(df))


# -- T2/T4: JSON decode (kafka.go:180, postgres.go:379-428) -----------------
def decode_cdc_json(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse raw CDC JSON payloads into the envelope columns.

    Malformed JSON yields NULL fields (Spark's from_json contract) — the
    validation split downstream routes those to the DLQ, matching the
    reference's commit-and-skip behavior (kafka.go:180-192).
    """
    return df.select(*_cdc_json_projection(value_col))


@once_per_jvm
def _cdc_json_projection(value_col: str) -> tuple[Column, ...]:
    parsed = F.from_json(F.col(value_col).cast("string"), CDC_JSON_SCHEMA)
    return (
        parsed["Host"].alias("host"),
        parsed["Database"].alias("database"),
        parsed["Table"].alias("table"),
        F.lower(parsed["Action"]).alias("action"),
        parsed["WALPosition"].alias("wal_position"),
        parsed["Timestamp"].alias("ts"),
        parsed["UUID"].alias("uuid"),
        parsed["Columns"].alias("columns"),
    )


# -- T2: typed per-table projection (postgres.go:379-428 decode+coerce) -----
ENVELOPE_COLS = ("host", "database", "table", "action", "wal_position", "ts", "uuid")


def project_table(
    df: DataFrame,
    registry,
    table: str,
    envelope_cols: tuple[str, ...] = ENVELOPE_COLS,
) -> DataFrame:
    """Decode the dynamic `columns` map into typed per-table columns using
    the relation registry (the RelationSet lookup + whitelist coercion of
    generateEvent, postgres.go:379-428). Columns whose PG type is
    unsupported were already dropped at registration (postgres.go:421-423),
    so the projection list — not per-row code — enforces the whitelist; the
    casts run JVM-side inside codegen."""
    struct = registry.struct(table)  # KeyError on unknown relation (:380-384)
    typed = [
        F.col("columns").getItem(f.name).cast(f.dataType).alias(f.name)
        for f in struct.fields
    ]
    return df.filter(F.col("table") == table).select(
        *[F.col(c) for c in envelope_cols], *typed
    )


# -- T3: envelope enrichment (postgres.go:349-350,386-397) ------------------
def with_envelope(
    df: DataFrame,
    host: str = "unknown",
    database: str = "unknown",
    table: Column | str | None = None,
    action: Column | str | None = None,
    wal_position: Column | None = None,
    uuid: Column | None = None,
    ts: Column | None = None,
) -> DataFrame:
    """Stamp the Event envelope onto arbitrary rows.

    The reference stamps host/db from config with an "unknown" fallback
    (postgres.go:395-397), a fresh v4 UUID (postgres.go:349) and the WAL
    position (postgres.go:350). Callers that need oracle-comparable output
    pass a deterministic ``uuid`` expression (e.g. md5 of the row key);
    the default is the faithful non-deterministic F.uuid().
    """
    table_col = F.col(table) if isinstance(table, str) else table
    action_col = F.col(action) if isinstance(action, str) else action
    return (
        df.withColumn("host", F.lit(host))
        .withColumn("database", F.lit(database))
        .withColumn("table", table_col if table_col is not None else F.lit("unknown"))
        .withColumn(
            "action", action_col if action_col is not None else F.lit("insert")
        )
        .withColumn(
            "wal_position",
            wal_position if wal_position is not None else F.monotonically_increasing_id(),
        )
        .withColumn("uuid", uuid if uuid is not None else F.expr("uuid()"))
        .withColumn("ts", ts if ts is not None else F.current_timestamp())
    )


# -- T5: validation + dead-letter split (kafka.go:180-192) ------------------
def is_valid_event(df: DataFrame) -> Column:
    """An event is valid iff it parsed and carries a non-empty UUID — the
    reference rejects unparseable/UUID-less events (kafka.go:180-192).
    Non-DML actions (begin/commit) are NOT invalid; they're filtered
    separately by filter_dml (T1), never dead-lettered."""
    return _valid_event()


@once_per_jvm
def _valid_event() -> Column:
    return F.col("uuid").isNotNull() & (F.length("uuid") > 0)


@once_per_jvm
def _invalid_event() -> Column:
    return ~_valid_event()


def validate_split(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Return (valid, dead_letter). The reference counts+skips bad events
    (commit-and-skip); we keep them addressable as a DLQ branch so the
    poison rows stay queryable instead of vanishing into a log line."""
    return df.filter(is_valid_event(df)), df.filter(_invalid_event())


# -- latest-wins per key (the consumer's merge) -----------------------------
def latest_per_key(df: DataFrame, *keys: str) -> DataFrame:
    """One row per key: the highest wal_position wins. At an equal
    wal_position a delete wins (a tombstone must keep outranking an older
    replayed event, or the row resurrects), then the greater action, so
    the winner never depends on row order. The one rule SnapshotSink and
    the batch state queries share."""
    return df.withColumn("_rn", _latest_rank(keys)).filter("_rn = 1").drop("_rn")


@once_per_jvm
def _latest_rank(keys: tuple[str, ...]) -> Column:
    w = Window.partitionBy(*keys).orderBy(
        F.desc("wal_position"), F.desc(F.col("action") == "delete"), F.desc("action")
    )
    return F.row_number().over(w)


# -- T6: passthrough serialization (sink/kafka/passthrough.go:22-32) --------
def serialize_passthrough(df: DataFrame) -> DataFrame:
    """Event -> JSON `value` (wire-format field names, like the Go struct)."""
    return df.withColumn("value", _passthrough_value())


@once_per_jvm
def _passthrough_value() -> Column:
    return F.to_json(
        F.struct(
            F.col("host").alias("Host"),
            F.col("database").alias("Database"),
            F.col("table").alias("Table"),
            F.col("action").alias("Action"),
            F.col("wal_position").alias("WALPosition"),
            F.col("ts").alias("Timestamp"),
            F.col("uuid").alias("UUID"),
            F.col("columns").alias("Columns"),
        )
    )


# -- T7: default message key (sink/kafka/kafka.go:246-248) ------------------
def with_default_key(df: DataFrame) -> DataFrame:
    """Key = Host:Database:Table:Action — same-key events co-partition in
    Kafka (R3's hash balancer is the broker-side default partitioner)."""
    return df.withColumn("key", _default_key())


@once_per_jvm
def _default_key() -> Column:
    return F.concat_ws(":", "host", "database", "table", "action")


# -- T9: empty-message skip (kafka.go:199-203,241-243) ----------------------
def drop_empty_values(df: DataFrame, value_col: str = "value") -> DataFrame:
    return df.filter(
        F.col(value_col).isNotNull() & (F.length(value_col) > 0)
    )


# -- T8: handler chain ------------------------------------------------------
def apply_handlers(df: DataFrame, *handlers: Handler) -> DataFrame:
    """Run named transforms in order (the reference's eventHandler chain)."""
    for h in handlers:
        df = df.transform(h)
    return df
