"""CDC envelope dialects: wal2json v2, Debezium, Maxwell and Canal.

The reference decodes pgoutput wire tuples against a cached relation
(source/postgres/postgres.go:298-355,379-428) and picks its decoder with
one `type` switch (source/source.go:23-37). Our engine ingests CDC as
JSON (SURVEY §2.1 S1 mapping); this module is the analogue of that
decode step for the JSON envelope dialects CDC feeds actually ship.

One table, `DIALECTS`, holds each dialect's classifier probe, `from_json`
schema and envelope builder; `decode_dialect` is the one decode body for
every name in it and for `"auto"`, whose per-line dispatch is built from
the same table. Every dialect normalizes into the engine's canonical
Event envelope (schema.EVENT_SCHEMA) entirely with JVM-side expressions —
`from_json` + column maps, no Python in the path — so the decode runs at
scan speed inside WholeStageCodegen.

Heterogeneous JSON payload values (numbers/bools/strings) are transported
as their literal text in `map<string,string>` — the same lossless
schema-on-read contract as the reference's `Columns map[string]interface{}`
(event/event.go:33), with RelationRegistry projection (transforms.
project_table) recovering types downstream.

Validity is one rule for every dialect: a row gets a uuid only when its
envelope parsed and, for a DML row, when its WAL position decoded.
Anything else stays uuid-less, so validate_split (T5) routes it to the
DLQ — the reference's decode-failure skip — while non-DML markers keep
their uuid for filter_dml (T1) to drop.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from psql_streamer_spark.schema import ACTIONS
from psql_streamer_spark.transforms import once_per_jvm

# wal2json format-version 2: one object per DML, actions I/U/D plus
# B(egin)/C(ommit)/T(runcate)/M(essage). `columns` carries new values,
# `identity` the replica-identity (old) values on U/D.
WAL2JSON_SCHEMA = (
    "action string, schema string, `table` string, "
    "columns array<struct<name:string,type:string,value:string>>, "
    "identity array<struct<name:string,type:string,value:string>>, "
    "timestamp string, lsn string"
)

# Debezium envelope (payload part; works with or without the schema
# wrapper since from_json ignores absent fields): op c/u/d/r, before/after
# row images, source block with lsn + db/table coordinates.
DEBEZIUM_SCHEMA = (
    "payload struct<"
    "before:map<string,string>, after:map<string,string>, "
    "source:struct<name:string,db:string,schema:string,`table`:string,"
    "lsn:bigint,ts_ms:bigint>, "
    "op:string, ts_ms:bigint>"
)

# Maxwell's daemon envelope: one JSON object per row change. type
# insert/update/delete plus bootstrap-* (initial load) and DDL markers
# (table-create/...); ts is UNIX seconds; position is the binlog
# coordinate 'file.NNNNNN:offset'. data carries the row image for ALL
# DML (Maxwell deletes ship the deleted row in `data`, unlike Debezium's
# `before`); old carries only the CHANGED prior values on update.
MAXWELL_SCHEMA = (
    "database string, `table` string, type string, "
    "ts bigint, xid bigint, position string, "
    "data map<string,string>, old map<string,string>"
)

# Canal (Alibaba) flat-message envelope: one JSON object per BATCH of
# row changes — `data` is an ARRAY of row images (the one dialect here
# where a single message fans out to N events), `old` the index-aligned
# partial prior images on update, `es` the MySQL execute time (ms), `ts`
# canal's own processing time, `id` the canal batch id (the flat message
# carries no binlog coordinate — the batch id is the orderable position
# analogue), `isDdl` + an uppercase statement `type` for DDL.
CANAL_SCHEMA = (
    "data array<map<string,string>>, database string, es bigint, "
    "id bigint, isDdl boolean, old array<map<string,string>>, "
    "pkNames array<string>, `table` string, ts bigint, type string"
)

_WAL2JSON_ACTIONS = {
    "I": "insert",
    "U": "update",
    "D": "delete",
    "B": "begin",
    "C": "commit",
    "T": "truncate",
    "M": "message",
}

_DEBEZIUM_OPS = {
    "c": "insert",
    "r": "insert",  # snapshot read = initial load insert
    "u": "update",
    "d": "delete",
}

_MAXWELL_TYPES = {
    "insert": "insert",
    "bootstrap-insert": "insert",  # initial load = insert, like Debezium r
    "update": "update",
    "delete": "delete",
}

_CANAL_TYPES = {"INSERT": "insert", "UPDATE": "update", "DELETE": "delete"}

# the envelope struct every builder returns; `uuid_ok` is the dialect's
# "envelope parsed" guard, the uuid itself is stamped by the top-level
# projection (the stamp may reference passthrough frame columns, and the
# uuid() default is nondeterministic — both only valid at Project level)
_ENVELOPE_FIELDS = (
    "host", "database", "table", "action", "wal_position", "ts", "uuid_ok",
    "columns",
)


def _cases(cases, otherwise) -> Column:
    """A CaseWhen over (condition, value) pairs, first match wins."""
    (cond, value), *rest = cases
    out = F.when(cond, value)
    for cond, value in rest:
        out = out.when(cond, value)
    return out.otherwise(otherwise)


def _action(marker: Column, names: dict[str, str]) -> Column:
    """A dialect's action marker -> the closed enum; any other marker keeps
    its lowered text, a non-DML record filter_dml (T1) drops exactly like
    the reference drops Begin/Commit (postgres.go:327-330)."""
    return _cases(((marker == m, n) for m, n in names.items()), F.lower(marker))


def _envelope(**fields: Column) -> Column:
    return F.struct(*(fields[f].alias(f) for f in _ENVELOPE_FIELDS))


def _entries_to_map(entries: Column) -> Column:
    """array<struct<name,type,value>> -> map<string,string> (values keep
    their literal JSON text; NULL JSON values stay NULL)."""
    return F.map_from_entries(
        F.transform(
            entries,
            lambda c: F.struct(c["name"].alias("key"), c["value"].alias("value")),
        )
    )


def lsn_to_wal_position(lsn: Column) -> Column:
    """PostgreSQL LSN text ('hi/lo' in hex, e.g. '0/16B3748') -> the
    numeric WAL position the reference tracks (uint64: hi<<32 | lo).
    Each half must be 1-8 hex digits, otherwise the position is NULL (a
    DML row then goes to the DLQ): garbage must not decode to 0, and a
    low half past 32 bits would OR into the high half and collide with
    another LSN. Bitwise composition, not multiplication: Spark's long is
    signed, and ANSI mode would raise on hi >= 2^31 where the same 64-bit
    pattern is a valid uint64 to the reference (the sign flip only occurs
    past 8 EB of WAL; ordering is preserved for every physically
    reachable LSN)."""
    hi = F.conv(F.split_part(lsn, F.lit("/"), F.lit(1)), 16, 10).cast("bigint")
    lo = F.conv(F.split_part(lsn, F.lit("/"), F.lit(2)), 16, 10).cast("bigint")
    return F.when(
        lsn.rlike(r"\A[0-9A-Fa-f]{1,8}/[0-9A-Fa-f]{1,8}\z"),
        F.shiftleft(hi, 32).bitwiseOR(lo),
    ).alias("wal_position")


def binlog_to_wal_position(position: Column) -> Column:
    """Maxwell binlog coordinate ('file.NNNNNN:offset') -> one orderable
    numeric position, composed exactly like lsn_to_wal_position: file
    sequence in the high 32 bits, offset in the low 32. Binlog files
    rotate at ~1 GiB (< 2^32), so the composition is collision-free and
    order-preserving across rotations.

    try_cast, not cast: a position that is not 'file:offset' (a
    heartbeat line, junk the auto classifier routed here because it
    carried top-level type+position) must yield NULL — under Spark 4's
    default ANSI mode a plain CAST('') would throw and one poison line
    would fail the whole foreachBatch epoch."""
    file_seq = F.regexp_extract(
        F.split_part(position, F.lit(":"), F.lit(1)), r"(\d+)$", 1
    ).try_cast("bigint")
    offset = F.split_part(position, F.lit(":"), F.lit(2)).try_cast("bigint")
    # MySQL binlog offsets are 64-bit: one transaction larger than
    # max_binlog_size can push a file past 4 GiB, and such an offset
    # would OR into the file-sequence bits and corrupt ordering
    # SILENTLY. Yield NULL for out-of-range offsets instead, so the DML
    # row routes to the DLQ rather than mis-sorting the stream. The file
    # sequence gets the symmetric guard: a sequence >= 2^31 would
    # shiftleft into the sign bit and collide just as silently.
    offset = F.when(offset < F.lit(1 << 32), offset)
    file_seq = F.when(file_seq < F.lit(1 << 31), file_seq)
    return F.shiftleft(file_seq, 32).bitwiseOR(offset).alias("wal_position")


def _wal2json(p: Column, host: str, database: str) -> Column:
    """Host and database from config. DELETE rows carry their replica
    identity as the payload (`identity`), matching pgoutput's old-tuple
    decode. wal2json stamps the commit time in the server's log_timezone,
    e.g. '... 10:15:30.123456+02'; the timestamp CAST parses the offset
    and converts to the (UTC) session zone."""
    return F.array(_envelope(
        host=F.lit(host),
        database=F.lit(database),
        table=p["table"],
        action=_action(p["action"], _WAL2JSON_ACTIONS),
        wal_position=lsn_to_wal_position(p["lsn"]),
        ts=p["timestamp"].cast("timestamp"),
        uuid_ok=p["action"].isNotNull(),  # every wal2json record has one
        columns=_entries_to_map(
            F.when(p["action"] == "D", p["identity"]).otherwise(p["columns"])
        ),
    ))


def _debezium(w: Column, host: str, database: str) -> Column:
    """Host (the connector's logical `source.name`) and database from the
    envelope. op c/r -> insert (snapshot reads are initial-load inserts),
    d -> delete with the `before` image as payload (the replica identity
    the reference decodes from pgoutput's old tuple). Event time is
    source.ts_ms (the commit timestamp), millisecond precision by
    Debezium's contract. A DML envelope without `source.lsn` has no WAL
    position and is dead-lettered."""
    p = w["payload"]
    return F.array(_envelope(
        host=F.coalesce(p["source"]["name"], F.lit("unknown")),
        database=F.coalesce(p["source"]["db"], F.lit("unknown")),
        table=p["source"]["table"],
        action=_action(p["op"], _DEBEZIUM_OPS),
        wal_position=p["source"]["lsn"],
        ts=F.timestamp_millis(p["source"]["ts_ms"]),
        uuid_ok=p["op"].isNotNull(),  # op is mandatory in Debezium
        columns=F.when(p["op"] == "d", p["before"]).otherwise(p["after"]),
    ))


def _maxwell(p: Column, host: str, database: str) -> Column:
    """Host from config, database from the envelope. The payload is always
    `data` (Maxwell's delete image lives there); the partial `old` image
    has no slot in the canonical envelope — the reference's Event carries
    one Columns map (event/event.go:33) — so update consumers needing
    prior values read the dialect directly. Event time is the envelope's
    UNIX-seconds ts; the binlog coordinate becomes the numeric WAL
    position (see binlog_to_wal_position)."""
    return F.array(_envelope(
        host=F.lit(host),
        database=F.coalesce(p["database"], F.lit("unknown")),
        table=p["table"],
        action=_action(p["type"], _MAXWELL_TYPES),
        wal_position=binlog_to_wal_position(p["position"]),
        ts=F.timestamp_seconds(p["ts"]),
        uuid_ok=p["type"].isNotNull(),
        columns=p["data"],
    ))


def _canal(p: Column, host: str, database: str) -> Column:
    """Host from config, database from the envelope; ONE ELEMENT per `data`
    row image, and a DDL/marker message (data null or empty) still yields
    its single marker element for filter_dml to drop. DELETE's image rides
    `data` like Maxwell's; isDdl messages keep their lowered statement
    type. Event time is `es` (the source execute time, ms); the batch id
    is the orderable position. A deterministic uuid stamp shared by a
    multi-row batch would collide — fixtures keep one row per message
    when hashing."""
    action = F.when(p["isDdl"], F.lower(p["type"])).otherwise(
        _action(p["type"], _CANAL_TYPES)
    )

    def ev(columns: Column) -> Column:
        return _envelope(
            host=F.lit(host),
            database=F.coalesce(p["database"], F.lit("unknown")),
            table=p["table"],
            action=action,
            wal_position=p["id"],
            ts=F.timestamp_millis(p["es"]),
            uuid_ok=p["type"].isNotNull(),
            columns=columns,
        )

    return F.when(
        F.size(p["data"]) > 0, F.transform(p["data"], ev)
    ).otherwise(F.array(ev(F.lit(None).cast("map<string,string>"))))


class Dialect(NamedTuple):
    probe: tuple[str, ...]  # JSON paths that are all present on its lines
    schema: str  # from_json schema of one envelope
    build: Callable[[Column, str, str], Column]  # -> array<envelope struct>


# probed in this order: `action` is wal2json v2's mandatory field,
# `payload.op` Debezium's, `isDdl` Canal's (BEFORE Maxwell — both carry
# `type`, only Canal carries `isDdl`), `type`+`position` Maxwell's
DIALECTS: dict[str, Dialect] = {
    "wal2json": Dialect(("$.action",), WAL2JSON_SCHEMA, _wal2json),
    "debezium": Dialect(("$.payload.op",), DEBEZIUM_SCHEMA, _debezium),
    "canal": Dialect(("$.isDdl",), CANAL_SCHEMA, _canal),
    "maxwell": Dialect(("$.type", "$.position"), MAXWELL_SCHEMA, _maxwell),
}


def classify_cdc_dialect(value: Column) -> Column:
    """Per-line dialect classification on each table entry's
    discriminating envelope keys; anything else (including malformed
    JSON — get_json_object yields NULL) is 'unknown'. Pure JSON-path
    probes, scan-speed, no full parse."""

    def present(paths: tuple[str, ...]) -> Column:
        return functools.reduce(
            operator.and_, [F.get_json_object(value, p).isNotNull() for p in paths]
        )

    return _cases(
        [(present(d.probe), name) for name, d in DIALECTS.items()], "unknown"
    )


def _parsed_events(value: Column, d: Dialect, host: str, database: str) -> Column:
    """Let-binding for a single envelope parse: a 1-element array holding
    from_json's result, mapped through the dialect's builder and
    flattened — inside the lambda every field access is a cheap
    lambda-variable read, so the (CodegenFallback, non-CSE-able) JSON
    parse runs EXACTLY ONCE per row even when the result feeds 8 struct
    fields inside a CaseWhen branch or a nested transform (where Spark's
    subexpression elimination never applies — measured 8 parses/row
    without this, OPTIMIZATION_r16.md)."""
    return F.flatten(F.transform(
        F.array(F.from_json(value, d.schema)),
        lambda p: d.build(p, host, database),
    ))


@once_per_jvm
def _exploded(
    dialect: str, value_col: str, host: str, database: str
) -> tuple[Column | None, Column]:
    """(classifier or None, explode_outer of the envelope array), built
    once per JVM: a Column call costs about ten py4j round trips, and the
    four-dialect auto dispatch is thousands of them.

    explode_outer, NOT explode: every branch yields >= 1 element, so the
    two agree here, but plain explode triggers InferFiltersFromGenerate,
    which clones the ENTIRE envelope-parse expression into a size() > 0
    Filter below the Generate — measured 3x on the mixed decode (31 s vs
    9 s on the sf0.1 mixed feed, OPTIMIZATION_r16.md)."""
    val = F.col(value_col).cast("string")
    if dialect == "auto":
        classifier, events = classify_cdc_dialect(val), _dispatch(val, host, database)
    else:
        classifier = None
        events = _parsed_events(val, DIALECTS[dialect], host, database)
    return classifier, F.explode_outer(events)


def _dispatch(value: Column, host: str, database: str) -> Column:
    """The auto decode's one pass over the feed: the line's `__dialect`
    picks its table entry's builder in a CaseWhen, which evaluates only
    the matched branch, so each line pays exactly one envelope parse.
    'unknown' lines become uuid-less rows the DLQ split keeps, never a
    silent drop."""
    unknown = _envelope(
        host=F.lit(host),
        database=F.lit(database),
        table=F.lit(None).cast("string"),
        action=F.lit(None).cast("string"),
        wal_position=F.lit(None).cast("bigint"),
        ts=F.lit(None).cast("timestamp"),
        uuid_ok=F.lit(False),
        columns=F.lit(None).cast("map<string,string>"),
    )
    return _cases(
        [(F.col("__dialect") == name, _parsed_events(value, d, host, database))
         for name, d in DIALECTS.items()],
        F.array(unknown),
    )


def _projection(stamp: Column, provenance: bool) -> tuple[Column, ...]:
    """The `__e` envelope struct -> the canonical output columns. Catalyst
    collapses the struct build + field extraction back to the underlying
    expressions (SimplifyExtractValueOps), so the plan is a flat
    projection. The uuid is stamped only where the envelope parsed and a
    DML row carries a WAL position."""
    e = {f: F.col(f"__e.{f}") for f in _ENVELOPE_FIELDS}
    unplaced = e["action"].isin(*ACTIONS) & e["wal_position"].isNull()
    uuid = F.when(e["uuid_ok"] & ~unplaced, stamp).alias("uuid")
    cols = [uuid if f == "uuid_ok" else e[f].alias(f) for f in _ENVELOPE_FIELDS]
    if provenance:
        cols.append(F.col("__dialect").alias("dialect"))
    return tuple(cols)


@once_per_jvm
def _default_projection(provenance: bool) -> tuple[Column, ...]:
    """The projection with the default stamp, a fresh v4 uuid per event
    (postgres.go:349)."""
    return _projection(F.expr("uuid()"), provenance)


def _decode(
    df: DataFrame,
    dialect: str,
    value_col: str,
    host: str,
    database: str,
    uuid: Column | None,
    provenance: bool,
) -> DataFrame:
    """The one decode body behind decode_dialect and decode_mixed."""
    classifier, exploded = _exploded(dialect, value_col, host, database)
    if classifier is not None:
        df = df.withColumn("__dialect", classifier)
    cols = (
        _default_projection(provenance) if uuid is None
        else _projection(uuid, provenance)
    )
    return df.withColumn("__e", exploded).select(*cols)


def decode_dialect(
    df: DataFrame,
    dialect: str,
    *,
    value_col: str = "value",
    host: str = "unknown",
    database: str = "unknown",
    uuid: Column | None = None,
) -> DataFrame:
    """Decode ``value_col`` lines of one `DIALECTS` entry — or of a mixed
    feed with ``dialect="auto"``, classified per line — into the canonical
    Event envelope.

    Each dialect stamps as its wire format allows: wal2json takes host
    and database from the arguments, maxwell and canal take host from the
    arguments and database from the envelope, debezium takes both from
    the envelope. Markers that are not DML keep their lowered action so
    filter_dml (T1) drops them. Malformed JSON, an unknown line under
    auto, and a DML row whose WAL position did not decode stay uuid-less
    -> DLQ split (T5). `uuid` defaults to a fresh v4 per event; pass a
    deterministic expression for oracle-compared outputs."""
    return _decode(df, dialect, value_col, host, database, uuid, False)


def decode_mixed(
    df: DataFrame,
    *,
    value_col: str = "value",
    host: str = "unknown",
    database: str = "unknown",
    uuid: Column | None = None,
) -> DataFrame:
    """``decode_dialect(df, "auto")`` plus a `dialect` provenance column
    naming the table entry (or 'unknown') each line was classified as.
    A real relay rarely gets to assume one clean dialect — a topic
    carries a Debezium backfill next to the wal2json live feed — and
    this is the ingest form that shows which is which."""
    return _decode(df, "auto", value_col, host, database, uuid, True)
