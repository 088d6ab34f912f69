"""CDC pipeline semantics in batch form — the reference's actual capability.

The driver's synthetic `events` table stands in for the replication stream
(TESTDATA.md): we derive the Event envelope from it deterministically
(md5-based uuid instead of uuid() so the DuckDB oracle can reproduce it),
then exercise each hot-path transform: DML filter (T1), envelope (T3),
routing with fallback/discard (R1), key-gen (T7), serialization (T6),
validation/DLQ (T5). The streaming epoch
(``CdcPipeline._process_batch``) runs the same functions these queries
check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.registry import register
from psql_streamer_spark.routing import route, routing_stats
from psql_streamer_spark.sources.tables import load_table
from psql_streamer_spark.transforms import (
    filter_dml,
    latest_per_key,
    serialize_passthrough,
    validate_split,
    with_default_key,
    with_envelope,
)

# event_type -> replication action. view/click map to non-DML protocol
# messages (Begin/Commit analogues) so the T1 filter has something to drop,
# mirroring postgres.go:320-331.
_ACTION_SQL = """
    CASE event_type WHEN 'signup' THEN 'insert'
                    WHEN 'purchase' THEN 'update'
                    WHEN 'error' THEN 'delete'
                    WHEN 'click' THEN 'insert'
                    ELSE 'begin' END
"""

_TOPIC_MAPPING = {
    "tbl_signup": "topic_users",
    "tbl_purchase": "topic_sales",
    "tbl_error": "topic_errors",
}


def _as_cdc_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table -> Event envelope (deterministic uuid/wal for oracles)."""
    e = load_table(spark, "events", sf_dir)
    enveloped = with_envelope(
        e,
        host="db1",
        database="test",
        table=F.concat(F.lit("tbl_"), F.col("event_type")),
        action=F.expr(_ACTION_SQL.strip()),
        wal_position=F.col("event_id"),
        uuid=F.md5(F.col("event_id").cast("string")),
        ts=F.col("ts"),
    )
    return enveloped


_ORACLE_CDC_BASE = """
    SELECT 'db1' AS host, 'test' AS database,
           'tbl_' || event_type AS "table",
           CASE event_type WHEN 'signup' THEN 'insert'
                           WHEN 'purchase' THEN 'update'
                           WHEN 'error' THEN 'delete'
                           WHEN 'click' THEN 'insert'
                           ELSE 'begin' END AS action,
           event_id AS wal_position,
           ts, md5(CAST(event_id AS VARCHAR)) AS uuid, props
    FROM events
"""


@register(
    "cdc_envelope_dml_events",
    oracle=f"""
    SELECT host, database, "table", action, wal_position, ts, uuid,
           CAST(json_extract_string(props, '$.k') AS INT) AS col_k
    FROM ({_ORACLE_CDC_BASE})
    WHERE action IN ('insert','update','delete')
    """,
)
def cdc_envelope_dml_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2+T3: envelope stamping, DML filter, payload projection."""
    ev = filter_dml(_as_cdc_events(spark, sf_dir))
    return ev.select(
        "host",
        "database",
        "table",
        "action",
        "wal_position",
        "ts",
        "uuid",
        F.get_json_object("props", "$.k").cast("int").alias("col_k"),
    )


@register(
    "cdc_typed_projection",
    oracle=f"""
    SELECT host, "table", action, wal_position, uuid,
           CAST(json_extract_string(props, '$.k') AS INT) AS k
    FROM ({_ORACLE_CDC_BASE})
    WHERE "table" = 'tbl_signup'
    """,
)
def cdc_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3+T2: RelationRegistry-driven typed projection. The relation for
    tbl_signup declares k:int4 plus a column of unsupported PG type, which
    is dropped at registration — the whitelist coercion of generateEvent
    (postgres.go:399-425) enforced by the projection list, not per-row
    code. The dynamic payload travels as map<string,string> and the casts
    run JVM-side."""
    from psql_streamer_spark.schema import RelationRegistry
    from psql_streamer_spark.transforms import project_table

    registry = RelationRegistry()
    # 'geom geometry' is outside the type whitelist -> dropped, logged-drop
    # parity with postgres.go:421-423
    registry.register("tbl_signup", [("k", "int4"), ("geom", "geometry")])

    ev = _as_cdc_events(spark, sf_dir).withColumn(
        "columns", F.from_json("props", "map<string,string>")
    )
    return project_table(
        ev,
        registry,
        "tbl_signup",
        envelope_cols=("host", "table", "action", "wal_position", "uuid"),
    )


@register(
    "cdc_route_with_fallback",
    oracle=f"""
    SELECT CASE "table" WHEN 'tbl_signup' THEN 'topic_users'
                        WHEN 'tbl_purchase' THEN 'topic_sales'
                        WHEN 'tbl_error' THEN 'topic_errors'
                        ELSE 'topic_fallback' END AS topic,
           COUNT(*) AS n_events,
           COUNT(DISTINCT "table") AS n_tables
    FROM ({_ORACLE_CDC_BASE})
    WHERE action IN ('insert','update','delete')
    GROUP BY 1
    """,
)
def cdc_route_with_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 with fallback: every DML event lands on a topic."""
    ev = filter_dml(_as_cdc_events(spark, sf_dir))
    routed = route(ev, _TOPIC_MAPPING, fallback="topic_fallback")
    return routed.groupBy("topic").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("table").alias("n_tables"),
    )


@register(
    "cdc_route_discard_stats",
    oracle=f"""
    SELECT COALESCE(CASE "table" WHEN 'tbl_signup' THEN 'topic_users'
                                 WHEN 'tbl_purchase' THEN 'topic_sales'
                                 WHEN 'tbl_error' THEN 'topic_errors' END,
                    '__discarded__') AS topic,
           COUNT(*) AS n_events
    FROM ({_ORACLE_CDC_BASE})
    WHERE action IN ('insert','update','delete')
    GROUP BY 1
    """,
)
def cdc_route_discard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1 without fallback: unroutable events counted as discarded
    (the reference's `noTopic` counter)."""
    ev = filter_dml(_as_cdc_events(spark, sf_dir))
    return routing_stats(ev, _TOPIC_MAPPING, fallback=None)


@register(
    "cdc_default_message_keys",
    oracle=f"""
    SELECT host || ':' || database || ':' || "table" || ':' || action AS key,
           COUNT(*) AS n_events,
           MIN(wal_position) AS min_wal,
           MAX(wal_position) AS max_wal
    FROM ({_ORACLE_CDC_BASE})
    WHERE action IN ('insert','update','delete')
    GROUP BY 1
    """,
)
def cdc_default_message_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: Host:Database:Table:Action keys — the hash-partitioning key for
    the Kafka sink (same-key events co-partition, R3)."""
    ev = with_default_key(filter_dml(_as_cdc_events(spark, sf_dir)))
    return ev.groupBy("key").agg(
        F.count("*").alias("n_events"),
        F.min("wal_position").alias("min_wal"),
        F.max("wal_position").alias("max_wal"),
    )


@register(
    "cdc_serialize_passthrough",
    oracle=f"""
    SELECT wal_position,
           '{{"Host":"' || host || '","Database":"' || database
           || '","Table":"' || "table" || '","Action":"' || action
           || '","WALPosition":' || wal_position
           || ',"Timestamp":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ')
           || '","UUID":"' || uuid || '","Columns":{{"k":"'
           || json_extract_string(props, '$.k') || '"}}}}' AS value
    FROM ({_ORACLE_CDC_BASE})
    WHERE action IN ('insert','update','delete')
    """,
)
def cdc_serialize_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: Event -> wire-format JSON value (passthrough handler parity).

    ts is pre-formatted to a fixed ISO-8601 micros string so the JSON text
    is byte-identical cross-engine (Spark's native timestamp JSON encoding
    differs from DuckDB's strftime)."""
    ev = filter_dml(_as_cdc_events(spark, sf_dir))
    ev = ev.withColumn(
        "columns",
        F.create_map(
            F.lit("k"), F.get_json_object("props", "$.k")
        ),
    ).withColumn("ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
    return serialize_passthrough(ev).select("wal_position", "value")


@register(
    "cdc_validate_dlq_counts",
    oracle=f"""
    SELECT CASE WHEN uuid = '' THEN 'dead_letter' ELSE 'valid' END AS branch,
           COUNT(*) AS n_events,
           COUNT(DISTINCT "table") AS n_tables
    FROM (
      SELECT "table",
             CASE WHEN wal_position % 97 = 0 THEN '' ELSE uuid END AS uuid
      FROM ({_ORACLE_CDC_BASE})
      WHERE action IN ('insert','update','delete')
    )
    GROUP BY 1
    """,
)
def cdc_validate_dlq_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: validation split. Synthetic poison: every 97th WAL position gets
    an empty UUID (the reference's reject condition, kafka.go:187-192);
    both branches are counted like its per-sink stats."""
    ev = filter_dml(_as_cdc_events(spark, sf_dir))
    ev = ev.withColumn(
        "uuid",
        F.when(F.col("wal_position") % 97 == 0, F.lit("")).otherwise(F.col("uuid")),
    )
    valid, dlq = validate_split(ev)
    count = lambda df, tag: df.groupBy(F.lit(tag).alias("branch")).agg(  # noqa: E731
        F.count("*").alias("n_events"),
        F.countDistinct("table").alias("n_tables"),
    )
    return count(valid, "valid").unionByName(count(dlq, "dead_letter"))


# --------------------------------------------------------------------------
# CDC envelope dialect decoders (S1 decode parity): wal2json v2, Debezium,
# Maxwell, Canal and the mixed feed. The events table is re-serialized into
# each dialect's wire JSON, then run through the REAL decoder
# (sources/cdc_formats.decode_dialect) — the oracle computes
# the expected decode output directly, so the whole build->parse->normalize
# round trip is what's verified (golden-fixture decode, SURVEY §5 pattern).
# --------------------------------------------------------------------------
_W2J_LETTER_SQL = """
    CASE event_type WHEN 'signup' THEN 'I'
                    WHEN 'purchase' THEN 'U'
                    WHEN 'error' THEN 'D'
                    WHEN 'click' THEN 'I'
                    ELSE 'B' END
"""

_ORACLE_DIALECT_DML = """
    SELECT 'tbl_' || event_type AS "table",
           CASE event_type WHEN 'signup' THEN 'insert'
                           WHEN 'purchase' THEN 'update'
                           WHEN 'error' THEN 'delete'
                           WHEN 'click' THEN 'insert' END AS action,
           event_id, ts,
           md5(CAST(event_id AS VARCHAR)) AS uuid,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           event_type AS etype
    FROM events
    WHERE event_type IN ('signup', 'purchase', 'error', 'click')
"""


def _wal2json_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> wal2json v2 wire lines (deterministic, both-engine safe:
    payload values are int/text so string coercion is format-stable)."""
    e = load_table(spark, "events", sf_dir)
    entry = lambda n, t, v: F.struct(  # noqa: E731
        F.lit(n).alias("name"), F.lit(t).alias("type"), v.cast("string").alias("value")
    )
    cols_arr = F.array(
        entry("k", "int4", F.get_json_object("props", "$.k")),
        entry("etype", "text", F.col("event_type")),
    )
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.expr(_W2J_LETTER_SQL.strip()).alias("action"),
                F.lit("public").alias("schema"),
                F.concat(F.lit("tbl_"), F.col("event_type")).alias("table"),
                cols_arr.alias("columns"),
                cols_arr.alias("identity"),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS+00").alias("timestamp"),
                F.concat(
                    F.hex(F.col("event_id") % 4),
                    F.lit("/"),
                    F.hex(F.col("event_id")),
                ).alias("lsn"),
            )
        ).alias("value"),
    )


@register(
    "cdc_wal2json_decode",
    oracle=f"""
    SELECT "table", action,
           (event_id % 4) * 4294967296 + event_id AS wal_position,
           ts, uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    """,
)
def cdc_wal2json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wal2json v2 round trip: wire JSON -> decode_dialect -> envelope.
    Exercises the action-letter map (B dropped by T1), hex LSN -> numeric
    WAL position, µs timestamp reparse, and the columns->map transport."""
    from psql_streamer_spark.sources.cdc_formats import decode_dialect

    raw = _wal2json_lines(spark, sf_dir)
    decoded = decode_dialect(
        raw, "wal2json", uuid=F.md5(F.col("event_id").cast("string"))
    )
    return filter_dml(decoded).select(
        "table",
        "action",
        "wal_position",
        "ts",
        "uuid",
        F.col("columns")["k"].cast("int").alias("k"),
        F.col("columns")["etype"].alias("etype"),
    )


def _debezium_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> Debezium envelopes: op c/u/d/r (+'t' for the non-DML
    leftover), delete rows carrying only a `before` image."""
    e = load_table(spark, "events", sf_dir)
    op = F.expr(
        """CASE event_type WHEN 'signup' THEN 'c'
                           WHEN 'purchase' THEN 'u'
                           WHEN 'error' THEN 'd'
                           WHEN 'click' THEN 'r'
                           ELSE 't' END"""
    )
    row_image = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k"),
        F.lit("etype"), F.col("event_type"),
    )
    source = F.struct(
        F.lit("pgsrv1").alias("name"),
        F.lit("test").alias("db"),
        F.lit("public").alias("schema"),
        F.concat(F.lit("tbl_"), F.col("event_type")).alias("table"),
        F.col("event_id").alias("lsn"),
        F.unix_millis("ts").alias("ts_ms"),
    )
    payload = F.struct(
        F.when(op == "d", row_image).alias("before"),
        F.when(op != "d", row_image).alias("after"),
        source.alias("source"),
        op.alias("op"),
        F.unix_millis("ts").alias("ts_ms"),
    )
    return e.select(
        "event_id",
        F.to_json(F.struct(payload.alias("payload"))).alias("value"),
    )


@register(
    "cdc_debezium_decode",
    oracle=f"""
    SELECT 'pgsrv1' AS host, 'test' AS database, "table", action,
           event_id AS wal_position,
           make_timestamp(epoch_ms(ts) * 1000) AS ts,
           uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    """,
)
def cdc_debezium_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debezium round trip: envelope -> decode_dialect -> canonical form.
    op r (snapshot read) normalizes to insert; deletes read the `before`
    image; event time is the connector's ms-precision source.ts_ms."""
    from psql_streamer_spark.sources.cdc_formats import decode_dialect

    raw = _debezium_lines(spark, sf_dir)
    decoded = decode_dialect(
        raw, "debezium", uuid=F.md5(F.col("event_id").cast("string"))
    )
    return filter_dml(decoded).select(
        "host",
        "database",
        "table",
        "action",
        "wal_position",
        "ts",
        "uuid",
        F.col("columns")["k"].cast("int").alias("k"),
        F.col("columns")["etype"].alias("etype"),
    )


def _maxwell_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> Maxwell envelopes: type insert/update/delete plus
    bootstrap-insert (normalizes to insert) and a table-create DDL marker
    for the non-DML leftover; binlog position rotates files on
    event_id % 4."""
    e = load_table(spark, "events", sf_dir)
    mtype = F.expr(
        """CASE event_type WHEN 'signup' THEN 'insert'
                           WHEN 'purchase' THEN 'update'
                           WHEN 'error' THEN 'delete'
                           WHEN 'click' THEN 'bootstrap-insert'
                           ELSE 'table-create' END"""
    )
    data = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k"),
        F.lit("etype"), F.col("event_type"),
    )
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.lit("test").alias("database"),
                F.concat(F.lit("tbl_"), F.col("event_type")).alias("table"),
                mtype.alias("type"),
                F.unix_seconds("ts").alias("ts"),
                F.col("event_id").alias("xid"),
                F.concat(
                    F.lit("master."),
                    F.lpad((F.col("event_id") % 4).cast("string"), 6, "0"),
                    F.lit(":"),
                    F.col("event_id"),
                ).alias("position"),
                F.when(mtype != "delete", data).alias("data_new"),
                F.when(mtype == "delete", data).alias("data_del"),
            )
        ).alias("value"),
    ).select(
        "event_id",
        # Maxwell ships ONE `data` field for every DML type; the two
        # conditional slots above exist only to exercise that deletes
        # carry their image in `data` too — fold them back to one key
        F.regexp_replace(
            F.regexp_replace("value", '"data_new":', '"data":'),
            '"data_del":',
            '"data":',
        ).alias("value"),
    )


@register(
    "cdc_maxwell_decode",
    oracle=f"""
    SELECT 'mysqlsrv1' AS host, 'test' AS database, "table", action,
           (event_id % 4) * 4294967296 + event_id AS wal_position,
           make_timestamp((epoch_ms(ts) // 1000) * 1000000) AS ts,
           uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    """,
)
def cdc_maxwell_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maxwell round trip: envelope -> decode_dialect -> canonical form.
    Exercises bootstrap-insert normalization, the delete image riding
    `data` (not a `before` slot), binlog file:offset -> numeric WAL
    position across a rotation, and UNIX-seconds event time."""
    from psql_streamer_spark.sources.cdc_formats import decode_dialect

    raw = _maxwell_lines(spark, sf_dir)
    decoded = decode_dialect(
        raw, "maxwell", host="mysqlsrv1",
        uuid=F.md5(F.col("event_id").cast("string")),
    )
    return filter_dml(decoded).select(
        "host",
        "database",
        "table",
        "action",
        "wal_position",
        "ts",
        "uuid",
        F.col("columns")["k"].cast("int").alias("k"),
        F.col("columns")["etype"].alias("etype"),
    )


def _canal_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> Canal flat messages: uppercase INSERT/UPDATE/DELETE,
    one-element data arrays (deterministic per-event uuids need 1 row
    per message — multi-row fan-out is pinned in the golden tests), the
    batch id as position analogue, es = execute time ms, and an
    isDdl=true CREATE marker for the non-DML leftover."""
    e = load_table(spark, "events", sf_dir)
    ctype = F.expr(
        """CASE event_type WHEN 'signup' THEN 'INSERT'
                           WHEN 'purchase' THEN 'UPDATE'
                           WHEN 'error' THEN 'DELETE'
                           WHEN 'click' THEN 'INSERT'
                           ELSE 'CREATE' END"""
    )
    is_ddl = F.expr(
        "event_type NOT IN ('signup','purchase','error','click')"
    )
    row_image = F.create_map(
        F.lit("k"), F.get_json_object("props", "$.k"),
        F.lit("etype"), F.col("event_type"),
    )
    return e.select(
        "event_id",
        F.to_json(
            F.struct(
                F.when(~is_ddl, F.array(row_image)).alias("data"),
                F.lit("test").alias("database"),
                F.unix_millis("ts").alias("es"),
                F.col("event_id").alias("id"),
                is_ddl.alias("isDdl"),
                F.concat(F.lit("tbl_"), F.col("event_type")).alias("table"),
                F.unix_millis("ts").alias("ts"),
                ctype.alias("type"),
            )
        ).alias("value"),
    )


@register(
    "cdc_canal_decode",
    oracle=f"""
    SELECT 'canalsrv1' AS host, 'test' AS database, "table", action,
           event_id AS wal_position,
           make_timestamp(epoch_ms(ts) * 1000) AS ts,
           uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    """,
)
def cdc_canal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canal round trip: flat message -> decode_dialect -> canonical form.
    Exercises the uppercase type map, the data-ARRAY explode (one
    element here; multi-element fan-out is golden-tested), isDdl marker
    drop via T1, batch-id position, and ms-precision execute time."""
    from psql_streamer_spark.sources.cdc_formats import decode_dialect

    raw = _canal_lines(spark, sf_dir)
    decoded = decode_dialect(
        raw, "canal", host="canalsrv1",
        uuid=F.md5(F.col("event_id").cast("string")),
    )
    return filter_dml(decoded).select(
        "host",
        "database",
        "table",
        "action",
        "wal_position",
        "ts",
        "uuid",
        F.col("columns")["k"].cast("int").alias("k"),
        F.col("columns")["etype"].alias("etype"),
    )


@register(
    "cdc_auto_decode_mixed",
    oracle=f"""
    SELECT 'wal2json' AS dialect, "table", action,
           (event_id % 4) * 4294967296 + event_id AS wal_position,
           ts, uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    UNION ALL
    SELECT 'debezium', "table", action, event_id,
           make_timestamp(epoch_ms(ts) * 1000), uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    UNION ALL
    SELECT 'maxwell', "table", action,
           (event_id % 4) * 4294967296 + event_id,
           make_timestamp((epoch_ms(ts) // 1000) * 1000000), uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    UNION ALL
    SELECT 'canal', "table", action, event_id,
           make_timestamp(epoch_ms(ts) * 1000), uuid, k, etype
    FROM ({_ORACLE_DIALECT_DML})
    """,
)
def cdc_auto_decode_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-feed round trip: all four dialects' wire lines interleaved
    on one feed -> decode_mixed (classify_cdc_dialect + dispatch) ->
    canonical envelope with dialect provenance. Every line must land in
    the same envelope row its clean-feed decoder produces (the oracle is
    the four dialect oracles unioned), proving the classifier never
    misroutes and the dispatch loses nothing."""
    from psql_streamer_spark.sources.cdc_formats import decode_mixed

    mixed = (
        _wal2json_lines(spark, sf_dir)
        .unionByName(_debezium_lines(spark, sf_dir))
        .unionByName(_maxwell_lines(spark, sf_dir))
        .unionByName(_canal_lines(spark, sf_dir))
    )
    decoded = decode_mixed(
        mixed,
        host="mysqlsrv1",
        uuid=F.md5(F.col("event_id").cast("string")),
    )
    return filter_dml(decoded).select(
        "dialect",
        "table",
        "action",
        "wal_position",
        "ts",
        "uuid",
        F.col("columns")["k"].cast("int").alias("k"),
        F.col("columns")["etype"].alias("etype"),
    )


# --------------------------------------------------------------------------
# pgoutput binary wire decode (S1's actual ingest format): events are
# re-framed as documented pgoutput protocol bytes — Insert/Update/Delete
# tuples plus Begin frames for the non-DML leftovers — entirely JVM-side
# (hex assembly + unhex), prepended with Relation frames built by the pure
# encoder, then run through the REAL binary decoder (sources/pgoutput_cdc).
# The oracle computes the expected envelope directly from events, so the
# verified property is encode -> wire bytes -> parse -> relation-resolve ->
# whitelist-project == identity on the content. Byte-level parser vectors
# live in tests/test_pgoutput_wire.py (postgres_test.go:20-25 parity).
# --------------------------------------------------------------------------
_PGOUT_RELIDS = {"signup": 1001, "purchase": 1002, "error": 1003, "click": 1004}
_PGOUT_OID_POINT = 600  # not whitelisted -> column dropped at decode


def _pgoutput_frame_parts(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """events -> (relation frames, DML frames): one pgoutput wire frame
    per row + 4 Relation frames, returned SEPARABLY so decode callers can
    hand the tiny relation side to the discovery collect instead of
    re-evaluating the whole in-plan wire assembly under the first-byte
    filter (r16 — see decode_pgoutput's relation_frames).

    DML frame hex is assembled with built-in functions (concat/hex/lpad/
    octet_length) and unhex'd to binary, so fixture generation runs at scan
    speed; NULL payload values encode as 'n' columns; deletes ship only the
    replica identity ('K' old tuple) with non-key columns null — the exact
    shapes of postgres_test.go:21-23."""
    from psql_streamer_spark.sources.pgoutput_wire import (
        OID_INT4,
        OID_TEXT,
        Column as PgColumn,
        Relation,
        encode_relation,
    )

    e = load_table(spark, "events", sf_dir)
    h32 = lambda c: F.lpad(F.hex(c), 8, "0")  # noqa: E731
    h64 = lambda c: F.lpad(F.hex(c), 16, "0")  # noqa: E731

    def tcol(c: F.Column) -> F.Column:
        c = c.cast("string")
        return F.when(c.isNull(), F.lit("6E")).otherwise(
            F.concat(F.lit("74"), h32(F.octet_length(c)), F.hex(c))
        )

    relid = F.expr(
        """CASE event_type WHEN 'signup' THEN 1001 WHEN 'purchase' THEN 1002
                           WHEN 'error' THEN 1003 WHEN 'click' THEN 1004
                           ELSE 0 END"""
    )
    k = F.get_json_object("props", "$.k")
    etype = F.col("event_type")
    new_tuple = F.concat(F.lit("0003"), tcol(k), tcol(etype), tcol(F.lit("(1,2)")))
    ins = F.concat(F.lit("49"), h32(relid), F.lit("4E"), new_tuple)
    upd = F.concat(F.lit("55"), h32(relid), F.lit("4E"), new_tuple)
    dele = F.concat(
        F.lit("44"), h32(relid), F.lit("4B"), F.lit("0003"), tcol(k), F.lit("6E6E")
    )
    pg_us = F.unix_micros("ts") - F.lit(946_684_800_000_000)
    begin = F.concat(
        F.lit("42"), h64(F.col("event_id")), h64(pg_us), h32(F.col("event_id") % 100000)
    )
    frame = (
        F.when(etype == "signup", ins)
        .when(etype == "purchase", upd)
        .when(etype == "error", dele)
        .when(etype == "click", ins)
        .otherwise(begin)
    )
    dml = e.select(
        (F.col("event_id") + 1000).alias("seq"),
        F.col("event_id").alias("wal_position"),
        F.unhex(frame).alias("value"),
    )
    rel_rows = []
    for name, rid in _PGOUT_RELIDS.items():
        rel = Relation(
            rid,
            "public",
            f"tbl_{name}",
            0x64,
            [
                PgColumn("k", OID_INT4, is_key=True),
                PgColumn("etype", OID_TEXT),
                PgColumn("geom", _PGOUT_OID_POINT),
            ],
        )
        rel_rows.append((rid - 1000, 0, encode_relation(rel)))
    rel_df = spark.createDataFrame(
        rel_rows, "seq long, wal_position long, value binary"
    )
    return rel_df, dml


@register(
    "cdc_pgoutput_decode",
    oracle="""
    SELECT 'db1' AS host, 'tbl_' || event_type AS "table",
           CASE event_type WHEN 'signup' THEN 'insert'
                           WHEN 'purchase' THEN 'update'
                           WHEN 'error' THEN 'delete'
                           WHEN 'click' THEN 'insert' END AS action,
           event_id AS wal_position,
           md5(CAST(event_id AS VARCHAR)) AS uuid,
           CAST(json_extract_string(props, '$.k') AS INT) AS k,
           CASE WHEN event_type = 'error' THEN NULL
                ELSE event_type END AS etype
    FROM events
    WHERE event_type IN ('signup', 'purchase', 'error', 'click')
    """,
)
def cdc_pgoutput_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 wire parity: pgoutput binary frames -> Event envelope through the
    full decode path — Arrow-batched protocol parse, Relation cache
    resolution, Begin-frame drop (postgres.go:320-331), whitelist tuple
    projection (the unsupported-OID `geom` column vanishes, :421-424), and
    delete-as-replica-identity payloads."""
    from psql_streamer_spark.sources.pgoutput_cdc import decode_pgoutput

    rel_df, dml = _pgoutput_frame_parts(spark, sf_dir)
    decoded = decode_pgoutput(
        rel_df.unionByName(dml),
        host="db1",
        database="test",
        uuid=F.md5(F.col("wal_position").cast("string")),
        # the relation frames are separable here: the discovery collect
        # parses 4 local rows instead of re-assembling 100k wire frames
        relation_frames=rel_df,
    )
    return filter_dml(decoded).select(
        "host",
        "table",
        "action",
        "wal_position",
        "uuid",
        F.col("columns")["k"].cast("int").alias("k"),
        F.col("columns")["etype"].alias("etype"),
    )


# --------------------------------------------------------------------------
# CDC apply: change stream -> current table state (the consumer's merge).
# --------------------------------------------------------------------------
@register(
    "cdc_apply_snapshot",
    oracle=f"""
    WITH dml AS (
      SELECT *, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM ({_ORACLE_CDC_BASE})
      WHERE action IN ('insert','update','delete')
    ), latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY "table", k
                                   ORDER BY wal_position DESC) AS rn
      FROM dml
    )
    SELECT "table", k, action AS last_action, wal_position AS last_wal, uuid
    FROM latest WHERE rn = 1 AND action <> 'delete'
    """,
)
def cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize current table state from the change stream: per primary
    key, the highest-WAL event wins; a winning delete removes the row.
    This is what every consumer of the reference's Kafka topics ultimately
    computes (replicate-to-warehouse), expressed as one window pass.

    Scale shape: ONE shuffle on (table, pk); at 100 TB the same semantics
    run incrementally inside foreachBatch as a MERGE INTO against the
    snapshot store, with the window only over each micro-batch."""
    ev = filter_dml(_as_cdc_events(spark, sf_dir)).withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return (
        latest_per_key(ev, "table", "k")
        .filter(F.col("action") != "delete")
        .select(
            "table",
            "k",
            F.col("action").alias("last_action"),
            F.col("wal_position").alias("last_wal"),
            "uuid",
        )
    )


# --------------------------------------------------------------------------
# WAL continuity audit: gaps/regressions in the offset sequence per table.
# --------------------------------------------------------------------------
@register(
    "cdc_wal_gap_audit",
    oracle=f"""
    WITH dml AS (
      SELECT * FROM ({_ORACLE_CDC_BASE})
      WHERE action IN ('insert','update','delete')
    ), seq AS (
      SELECT "table", wal_position,
             LAG(wal_position) OVER (PARTITION BY "table"
                                     ORDER BY wal_position) AS prev_wal
      FROM dml
    )
    SELECT "table",
           COUNT(*) AS n_events,
           CAST(COUNT(*) FILTER (WHERE wal_position - prev_wal > 5) AS BIGINT)
             AS n_gaps_over_5,
           CAST(MAX(wal_position - prev_wal) AS BIGINT) AS max_gap
    FROM seq GROUP BY "table"
    """,
)
def cdc_wal_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational audit of offset continuity — the query an operator runs
    after a rewind (F2/F3) to confirm nothing was skipped: per table, gap
    sizes between consecutive WAL positions. The reference exposes only
    walPosition/walPositionPersisted gauges; over the event log itself this
    finds holes those counters can't see.

    Scale shape: a naive `LAG OVER (PARTITION BY table ORDER BY wal)` sorts
    the ENTIRE change stream on |tables| threads — the table column has a
    handful of values, so at cluster scale that window is the whole job on
    a few cores. Consecutive-pair gap stats decompose exactly by position
    range, so this runs as (1) a lag window within (table,
    floor(wal/4096)) buckets — cardinality scales with the stream, fully
    parallel — and (2) a boundary pass over the per-bucket (min, max)
    summary frame, 4096x smaller than the stream (same order-statistics
    bucketing as join_null_safe_priority_match). Within-bucket and
    boundary gap aggregates then merge; results are bit-identical to the
    single-window form because every consecutive pair is counted exactly
    once — within its bucket, or at the boundary between two adjacent
    non-empty buckets."""
    from pyspark.sql import Window as W

    bucket_width = 4096
    ev = filter_dml(_as_cdc_events(spark, sf_dir)).select(
        "table",
        "wal_position",
        (F.col("wal_position") / F.lit(bucket_width))
        .cast("long")
        .alias("__bkt"),
    )
    w_in = W.partitionBy("table", "__bkt").orderBy("wal_position")
    gap_in = F.col("wal_position") - F.lag("wal_position").over(w_in)
    per_bucket = (
        ev.withColumn("__gap", gap_in)
        .groupBy("table", "__bkt")
        .agg(
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("__gap") > 5, 1)).alias("n_gaps_over_5"),
            F.max("__gap").alias("max_gap"),
            F.min("wal_position").alias("bkt_min"),
            F.max("wal_position").alias("bkt_max"),
        )
    )
    # Boundary gaps: each bucket's min against the previous non-empty
    # bucket's max, over the 4096x-smaller summary frame.
    w_b = W.partitionBy("table").orderBy("__bkt")
    gap_b = F.col("bkt_min") - F.lag("bkt_max").over(w_b)
    return (
        per_bucket.withColumn("__bgap", gap_b)
        .groupBy("table")
        .agg(
            F.sum("n_events").alias("n_events"),
            (
                F.sum("n_gaps_over_5")
                + F.count(F.when(F.col("__bgap") > 5, 1))
            ).alias("n_gaps_over_5"),
            F.greatest(F.max("max_gap"), F.max("__bgap")).alias("max_gap"),
        )
    )


# --------------------------------------------------------------------------
# SCD2 history: the change stream as validity intervals. Where
# cdc_apply_snapshot keeps only current state, the type-2 slowly-changing
# dimension keeps EVERY version with [valid_from_wal, valid_to_wal) —
# the shape a warehouse needs for time-travel joins and audits.
# --------------------------------------------------------------------------
@register(
    "cdc_scd2_history",
    oracle=f"""
    WITH dml AS (
      SELECT *, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM ({_ORACLE_CDC_BASE})
      WHERE action IN ('insert','update','delete')
    )
    SELECT "table", k,
           action,
           wal_position AS valid_from_wal,
           LEAD(wal_position) OVER w AS valid_to_wal,
           (LEAD(wal_position) OVER w IS NULL AND action <> 'delete')
             AS is_current,
           uuid
    FROM dml
    WINDOW w AS (PARTITION BY "table", k ORDER BY wal_position)
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD from the change stream: per (table, pk) each version is
    valid from its own WAL position until the next version's (NULL = open
    interval); the open interval of a non-delete is the current row.
    One window pass over the same (table, pk) shuffle the snapshot merge
    pays — history costs nothing extra at materialization time, which is
    why warehouses default to SCD2 and derive the snapshot as
    `WHERE is_current`."""
    from pyspark.sql import Window as W

    ev = filter_dml(_as_cdc_events(spark, sf_dir)).withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    w = W.partitionBy("table", "k").orderBy("wal_position")
    nxt = F.lead("wal_position").over(w)
    return ev.select(
        "table",
        "k",
        "action",
        F.col("wal_position").alias("valid_from_wal"),
        nxt.alias("valid_to_wal"),
        (nxt.isNull() & (F.col("action") != "delete")).alias("is_current"),
        "uuid",
    )


# --------------------------------------------------------------------------
# Point-in-time lookup over the SCD2 intervals: state as-of a WAL position.
# --------------------------------------------------------------------------
PIT_WAL = 30000  # mid-stream probe position


@register(
    "cdc_point_in_time_state",
    oracle=f"""
    WITH dml AS (
      SELECT *, CAST(json_extract_string(props, '$.k') AS INT) AS k
      FROM ({_ORACLE_CDC_BASE})
      WHERE action IN ('insert','update','delete')
        AND wal_position <= {PIT_WAL}
    ), latest AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY "table", k
                                   ORDER BY wal_position DESC) AS rn
      FROM dml
    )
    SELECT "table", k, action AS last_action, wal_position AS as_of_wal
    FROM latest WHERE rn = 1 AND action <> 'delete'
    """,
)
def cdc_point_in_time_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table state as-of WAL {PIT_WAL}: filter the stream to the horizon,
    then latest-wins — time travel without a table format, straight off
    the retained change log. The WAL filter pushes to the scan, so the
    probe reads only history up to the horizon; at 100 TB the same query
    hits the SCD2 table with `valid_from <= w AND (valid_to IS NULL OR
    valid_to > w)` and partition-prunes on the interval columns."""
    ev = (
        filter_dml(_as_cdc_events(spark, sf_dir))
        .filter(F.col("wal_position") <= PIT_WAL)
        .withColumn("k", F.get_json_object("props", "$.k").cast("int"))
    )
    return (
        latest_per_key(ev, "table", "k")
        .filter(F.col("action") != "delete")
        .select(
            "table",
            "k",
            F.col("action").alias("last_action"),
            F.col("wal_position").alias("as_of_wal"),
        )
    )
