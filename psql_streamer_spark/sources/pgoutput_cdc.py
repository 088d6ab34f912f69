"""Distributed pgoutput decode: raw binary frames -> canonical Event rows.

The reference consumes the replication socket message-by-message, caching
Relation metadata and decoding DML tuples against it (source/postgres/
postgres.go:298-355, tuple decode :379-428). This module is the same
capability over a *captured* stream — a DataFrame of frames, e.g. a parquet
of (seq, wal_position, value binary) — shaped for Spark's execution model:

1. ``parse_stream`` — the only Python in the path: an Arrow-batched
   ``mapInArrow`` pass applying the pure parser (pgoutput_wire.py) to each
   frame. Binary varlen protocol parse is the textbook case the built-in
   expression language genuinely cannot express.
2. Relation resolution — relation frames are found with a cheap JVM-side
   prefix filter (first byte 'R'), parsed, and collected: table metadata is
   tiny and bounded by table count, exactly why the reference holds its
   RelationSet in memory (postgres.go:302). The cache is compiled into a
   literal CASE chain keyed on (relation_id, seq >= version_seq), so a
   mid-stream schema re-announce resolves to the latest preceding version.
3. Tuple -> columns — pure JVM: ``zip_with`` pairs each tuple column with
   its relation column, the type whitelist (postgres.go:405-425) drops
   unsupported OIDs, unchanged-TOAST columns are omitted, and
   ``map_from_entries`` builds the canonical map<string,string> payload.

Scale shape: one narrow Python parse pass over the frames (no shuffle), a
metadata-only collect for relations, and a codegen'd projection. Unknown
relations (DML before its Relation frame — the reference's generateEvent
error, postgres.go:380-384) and tuples whose column count differs from
their relation's yield a NULL uuid and flow to the DLQ via
transforms.validate_split instead of killing the job.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from psql_streamer_spark.sources.pgoutput_wire import (
    SUPPORTED_OIDS,
    ProtocolError,
    parse_message,
)

_PARSED_FIELDS = [
    T.StructField("kind", T.StringType()),
    T.StructField("parse_error", T.StringType()),
    T.StructField("relation_id", T.LongType()),
    T.StructField("rel_namespace", T.StringType()),
    T.StructField("rel_name", T.StringType()),
    T.StructField("rel_replica", T.IntegerType()),
    T.StructField(
        "rel_columns",
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("name", T.StringType()),
                    T.StructField("type_oid", T.LongType()),
                    T.StructField("is_key", T.BooleanType()),
                ]
            )
        ),
    ),
    T.StructField(
        "new_tuple",
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("flag", T.StringType()),
                    T.StructField("value", T.BinaryType()),
                ]
            )
        ),
    ),
    T.StructField(
        "old_tuple",
        T.ArrayType(
            T.StructType(
                [
                    T.StructField("flag", T.StringType()),
                    T.StructField("value", T.BinaryType()),
                ]
            )
        ),
    ),
    T.StructField("old_kind", T.StringType()),
    T.StructField("xid", T.LongType()),
    T.StructField("lsn", T.LongType()),
    T.StructField("commit_ts_us", T.LongType()),
]
_PARSED_NAMES = [f.name for f in _PARSED_FIELDS]


def _tuple_cells(tup) -> list[dict] | None:
    if tup is None:
        return None
    return [{"flag": flag, "value": raw} for flag, raw in tup]


def _flatten(m: dict) -> dict:
    """Parser dict -> flat row matching _PARSED_FIELDS."""
    out: dict = {"kind": m["kind"]}
    kind = m["kind"]
    if kind == "relation":
        rel = m["relation"]
        out["relation_id"] = rel.relation_id
        out["rel_namespace"] = rel.namespace
        out["rel_name"] = rel.name
        out["rel_replica"] = rel.replica_identity
        out["rel_columns"] = [
            {"name": c.name, "type_oid": c.type_oid, "is_key": c.is_key}
            for c in rel.columns
        ]
    elif kind in ("insert", "update", "delete"):
        out["relation_id"] = m["relation_id"]
        out["new_tuple"] = _tuple_cells(m.get("new_tuple"))
        out["old_tuple"] = _tuple_cells(m.get("old_tuple"))
        out["old_kind"] = m.get("old_kind")
    elif kind == "begin":
        out["xid"] = m["xid"]
        out["lsn"] = m["final_lsn"]
        out["commit_ts_us"] = (
            int(m["commit_ts"].timestamp() * 1_000_000)
            if m.get("commit_ts")
            else None
        )
    elif kind == "commit":
        out["lsn"] = m["commit_lsn"]
        out["commit_ts_us"] = (
            int(m["commit_ts"].timestamp() * 1_000_000)
            if m.get("commit_ts")
            else None
        )
    return out


def parse_stream(df: DataFrame, value_col: str = "value") -> DataFrame:
    """Parse a frames DataFrame; every non-`value_col` column passes
    through untouched (seq/wal_position/arrival metadata ride along).
    Malformed frames become kind='error' rows with `parse_error` set —
    commit-and-skip, mirroring the reference's eventErrors counter
    (postgres.go:336-340).

    The pass runs as ``mapInArrow``, not ``mapInPandas``: the parser
    itself clocks ~220k msg/s/core, but round-tripping the nested output
    columns (array<struct<flag,value:binary>>) through pandas object
    Series made Arrow serialization the bottleneck — the whole pipeline
    measured ~2k msg/s/core at the 300x sweep, a ~100x glue tax.
    Building ``pyarrow`` arrays directly (one C-level ``pa.array`` per
    field, passthrough columns sliced zero-copy from the input batch)
    removes the pandas hop entirely; parse results are identical."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_type

    passthrough = [f for f in df.schema.fields if f.name != value_col]
    out_schema = T.StructType(list(passthrough) + _PARSED_FIELDS)
    pass_names = [f.name for f in passthrough]
    pa_types = {f.name: to_arrow_type(f.dataType) for f in _PARSED_FIELDS}

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            # to_pylist once (C loop) instead of per-row .as_py()
            raws = batch.column(value_col).to_pylist()
            parsed: list[list] = [[] for _ in _PARSED_NAMES]
            for raw in raws:
                try:
                    m = _flatten(parse_message(raw if raw else b""))
                except (ProtocolError, UnicodeDecodeError) as exc:
                    m = {"kind": "error", "parse_error": str(exc)}
                for j, n in enumerate(_PARSED_NAMES):
                    parsed[j].append(m.get(n))
            arrays = [batch.column(n) for n in pass_names] + [
                pa.array(parsed[j], type=pa_types[n])
                for j, n in enumerate(_PARSED_NAMES)
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, names=pass_names + _PARSED_NAMES
            )

    return df.mapInArrow(gen, schema=out_schema)


def _relation_versions(
    df: DataFrame, value_col: str, seq_col: str
) -> dict[int, list]:
    """Collect relation metadata: JVM prefix filter (first byte 'R') keeps
    Python off the non-relation frames, then one tiny collect — the
    RelationSet is driver-held in the reference too (postgres.go:302)."""
    rel_frames = df.filter(F.expr(f"substring({value_col}, 1, 1) = X'52'"))
    rows = (
        parse_stream(rel_frames, value_col)
        .filter(F.col("kind") == "relation")
        .select(seq_col, "relation_id", "rel_name", "rel_columns")
        .collect()
    )
    versions: dict[int, list] = {}
    for r in rows:
        versions.setdefault(r["relation_id"], []).append(
            (r[seq_col], r["rel_name"], r["rel_columns"])
        )
    for v in versions.values():
        v.sort(key=lambda t: t[0], reverse=True)
    return versions


def _cols_literal(cols) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(c["name"]).alias("name"),
                F.lit(int(c["type_oid"])).cast("long").alias("type_oid"),
                F.lit(bool(c["is_key"])).alias("is_key"),
            )
            for c in cols
        ]
    )


def decode_pgoutput(
    df: DataFrame,
    host: str = "unknown",
    database: str = "unknown",
    value_col: str = "value",
    seq_col: str = "seq",
    wal_col: str = "wal_position",
    uuid: Column | None = None,
    ts: Column | None = None,
    relation_frames: DataFrame | None = None,
) -> DataFrame:
    """pgoutput frames -> canonical Event envelope (schema.EVENT_SCHEMA).

    Input: one row per replication frame with a stream-order ``seq_col``
    and the XLogData WAL position ``wal_col`` (walPos arrives in the outer
    replication framing, not the pgoutput message — same split as
    sub.Start handing (message, walPos) to process()). Begin/Commit/Origin/
    Type frames are dropped exactly like postgres.go:320-331; deletes carry
    their replica-identity (old) tuple as the payload.

    ``uuid``/``ts`` follow the with_envelope contract: faithful
    non-deterministic defaults (uuid(), current_timestamp — the reference
    stamps arrival time, postgres.go:391), deterministic expressions for
    oracle-compared output.

    ``relation_frames``: when the caller can hand over the Relation
    frames separably (a side-channel, or a fixture that unions them onto
    the DML stream), the relation-discovery collect runs over THAT tiny
    frame instead of re-evaluating the whole ``df`` plan under the
    first-byte filter. On stored frames the filter is a cheap scan, but
    when ``df`` is a DERIVED stream (the bench fixture assembles wire
    bytes in-plan) the discovery job re-paid the full assembly for every
    row (r16, guide §2.4 duplicated subtree: measured 4.8 s -> see
    OPTIMIZATION_r16.md). Decode semantics are identical as long as the
    frame contains every Relation frame of the stream.
    """
    versions = _relation_versions(
        df if relation_frames is None else relation_frames,
        value_col,
        seq_col,
    )
    return _decode_with_versions(
        df, versions, host, database, value_col, seq_col, wal_col, uuid, ts
    )


def _decode_with_versions(
    df: DataFrame,
    versions: dict[int, list],
    host: str,
    database: str,
    value_col: str,
    seq_col: str,
    wal_col: str,
    uuid: Column | None,
    ts: Column | None,
) -> DataFrame:
    table_expr: Column | None = None
    cols_expr: Column | None = None
    for relid, vers in versions.items():
        for vseq, name, cols in vers:
            cond = (F.col("relation_id") == relid) & (F.col(seq_col) >= vseq)
            lit_cols = _cols_literal(cols)
            if table_expr is None:
                table_expr = F.when(cond, F.lit(name))
                cols_expr = F.when(cond, lit_cols)
            else:
                table_expr = table_expr.when(cond, F.lit(name))
                cols_expr = cols_expr.when(cond, lit_cols)
    if table_expr is None:
        table_expr = F.lit(None).cast("string")
        cols_expr = F.lit(None).cast(
            "array<struct<name:string,type_oid:bigint,is_key:boolean>>"
        )

    parsed = parse_stream(df, value_col)
    dml = parsed.filter(F.col("kind").isin("insert", "update", "delete"))

    tup = F.when(F.col("kind") == "delete", F.col("old_tuple")).otherwise(
        F.col("new_tuple")
    )
    entries = F.zip_with(
        cols_expr,
        tup,
        lambda c, t: F.struct(
            c["name"].alias("key"),
            F.when(t["flag"] == "t", t["value"].cast("string")).alias("value"),
            c["type_oid"].alias("oid"),
            t["flag"].alias("flag"),
        ),
    )
    # Whitelist projection (postgres.go:405-425): unsupported OIDs dropped;
    # unchanged-TOAST ('u') columns omitted — their value was never sent.
    kept = F.filter(
        entries,
        lambda x: x["oid"].isin(*SUPPORTED_OIDS) & (x["flag"] != "u"),
    )
    columns = F.map_from_entries(
        F.transform(kept, lambda x: F.struct(x["key"], x["value"]))
    )

    # zip_with pads the shorter array with NULLs, so a tuple whose arity
    # differs from its relation's would decode as a short or truncated map
    known = table_expr.isNotNull() & (F.size(tup) == F.size(cols_expr))
    uuid_expr = uuid if uuid is not None else F.expr("uuid()")
    ts_expr = ts if ts is not None else F.current_timestamp()
    return dml.select(
        F.lit(host).alias("host"),
        F.lit(database).alias("database"),
        table_expr.alias("table"),
        F.col("kind").alias("action"),
        F.col(wal_col).cast("long").alias("wal_position"),
        ts_expr.alias("ts"),
        # unknown relation or arity mismatch -> uuid-less row -> DLQ
        # (validate_split), the commit-and-skip analogue of generateEvent's
        # lookup error
        F.when(known, uuid_expr).alias("uuid"),
        F.when(known, columns).alias("columns"),
    )


#: Frame schema a captured-pgoutput file source ships (one row per
#: replication frame; seq = stream order, wal_position = XLogData walPos).
FRAME_SCHEMA = "seq long, wal_position long, value binary"


class PgoutputStreamDecoder:
    """Stateful micro-batch decoder for CdcPipeline: the relation cache
    survives ACROSS batches, exactly like the reference's long-lived
    RelationSet in the fetch loop (postgres.go:33,303-305) — a Relation
    frame announced in epoch 1 still decodes DML arriving in epoch 100.
    A re-announce (schema change) supersedes by stream order; within one
    resolution the latest version whose seq precedes the DML frame wins.

    Per micro-batch cost: one JVM prefix-filtered scan for relation frames
    (tiny, usually empty after the first batch) + the Arrow-batched parse
    of the batch itself. The cache is driver-held metadata, bounded by
    table count x schema versions.

    The frames are parquet files of FRAME_SCHEMA rows, so the decoder
    carries that reader shape for ``CdcPipeline.start``.
    """

    source_format = "parquet"
    source_schema = FRAME_SCHEMA

    def __init__(
        self,
        host: str = "unknown",
        database: str = "unknown",
        value_col: str = "value",
        seq_col: str = "seq",
        wal_col: str = "wal_position",
        uuid: Column | None = None,
        ts: Column | None = None,
    ) -> None:
        self.host = host
        self.database = database
        self.value_col = value_col
        self.seq_col = seq_col
        self.wal_col = wal_col
        self.uuid = uuid
        self.ts = ts
        self._versions: dict[int, list] = {}

    def __call__(self, batch_df: DataFrame) -> DataFrame:
        fresh = _relation_versions(batch_df, self.value_col, self.seq_col)
        for relid, vers in fresh.items():
            merged = self._versions.get(relid, []) + vers
            merged.sort(key=lambda t: t[0], reverse=True)
            self._versions[relid] = merged
        return _decode_with_versions(
            batch_df,
            self._versions,
            self.host,
            self.database,
            self.value_col,
            self.seq_col,
            self.wal_col,
            self.uuid,
            self.ts,
        )
