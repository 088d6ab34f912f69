"""Batch table access over the synthetic testdata lake.

Parquet scans are the engine's default source: Catalyst pushes predicates
and prunes columns into the scan (verify with .explain: PushedFilters /
ReadSchema), so operators should filter/select EARLY and let the scan do
the work — at 100 TB the difference between reading 2 columns and 11 is
the whole game.

Every lake-table read goes through `load_table`, and it infers each
table's schema once per Spark application. The first read of a file
infers it (a one-task Spark job that reads the footer); later reads hand
that schema to `spark.read.schema(...)`, which launches no job, and each
still builds a fresh relation with a fresh file listing. The memo is
keyed on the application id and the local file's identity (device,
inode, mtime in ns, size), so a rewritten or replaced file is inferred
again; it holds the schema, never a DataFrame (two loads of one table in
one query need distinct attribute ids), and keeps the
`_SCHEMA_MEMO_SIZE` most recent files. A path that is not a local
regular file (a directory, a remote URI) is inferred on every read.
"""

from __future__ import annotations

import os
import stat
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one testdata table.

    SESSION-WIDE CONTRACT (intentional, persists after this call): pins
    ``spark.sql.session.timeZone=UTC`` and disables parquet NTZ inference
    for the WHOLE session — every subsequent parquet read in this session
    (including non-testdata paths the caller reads directly) sees
    timestamps as UTC LTZ, not NTZ. This is the engine's determinism
    contract with the UTC-naive DuckDB oracle; a caller needing other
    semantics must set the confs back explicitly.

    Loading ``events`` also sets ``spark.sql.legacy.parquet.nanosAsLong=
    true`` and leaves it set: the scan reads the conf when the query
    executes, not when the frame is built, so restoring it after the read
    would break the returned frame. From then on, any parquet read in
    the session returns a TIMESTAMP(NANOS) column as a long instead of
    raising.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Determinism contract: all timestamp semantics are UTC, regardless of
    # what session the caller hands us (the oracle/DuckDB side is UTC-naive).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Read parquet timestamps written without isAdjustedToUTC as plain
    # TIMESTAMP (LTZ) at the SCAN, not via a post-scan cast — a cast on top
    # of the scan would block predicate pushdown on timestamp filters.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name == "events":
        df, schema = _load_events(spark, path)
    else:
        df, schema = _read_parquet(spark, path)
    return _normalize_timestamps(spark, df, schema)


#: files whose schema the memo keeps; the lake has ten tables
_SCHEMA_MEMO_SIZE = 64
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """``spark.read.parquet(path)`` and its schema, inferred once per
    application and file (see the module docstring)."""
    try:
        st = os.stat(path)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        df = spark.read.parquet(path)
        return df, df.schema
    key = (spark.sparkContext.applicationId, st.st_dev, st.st_ino,
           st.st_mtime_ns, st.st_size)
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path), schema
    df = spark.read.parquet(path)
    schema = df.schema
    with _schemas_lock:
        _schemas[key] = schema
        if len(_schemas) > _SCHEMA_MEMO_SIZE:
            _schemas.popitem(last=False)
    return df, schema


def _normalize_timestamps(
    spark: SparkSession, df: DataFrame, schema: StructType
) -> DataFrame:
    """Parquet `timestamp[us]` written without isAdjustedToUTC reads as
    TIMESTAMP_NTZ in Spark 4, which half the timestamp builtins
    (unix_millis, to_utc_timestamp, ...) reject. The session timezone is
    pinned to UTC, so casting NTZ → LTZ preserves every instant bit-for-bit
    while restoring the uniform `timestamp` type the whole operator surface
    (and the UTC-naive DuckDB oracle) assumes.

    With inferTimestampNTZ disabled in load_table this loop is normally a
    no-op (the scan itself yields LTZ). When it DOES fire (a caller
    re-enabled inference), two things matter: (a) the NTZ→LTZ cast is only
    instant-preserving while the session timezone is UTC at *execution*
    time — plans are lazy, so we assert UTC here at build time and rely on
    load_table having pinned it for the action; (b) a post-scan cast blocks
    timestamp predicate pushdown — so we warn loudly rather than silently
    losing the scan-level filters this module's header promises.

    ``schema`` is the schema ``df`` was read with (no py4j round trip).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in schema.fields if isinstance(f.dataType, TimestampNTZType)]
    if not ntz:
        return df
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(
            f"NTZ timestamp fallback requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the NTZ->LTZ cast would shift instants"
        )
    import warnings

    warnings.warn(
        f"NTZ fallback rewriting timestamp columns {ntz}: post-scan casts "
        f"block predicate pushdown on these columns (inferTimestampNTZ was "
        f"re-enabled after load_table disabled it)",
        stacklevel=3,
    )
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _load_events(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    """Earlier driver generations wrote events.ts as parquet
    TIMESTAMP(NANOS), which Spark's vectorized reader rejects outright.
    Read nanos as long (legacy conf) and convert to a microsecond
    timestamp — the data carries no sub-microsecond parts. Current
    generations write timestamp[us] and skip this path entirely.
    Returns the frame and the schema it was read with: a converted ``ts``
    is a timestamp in the frame, never NTZ.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df, schema = _read_parquet(spark, path)
    if "ts" in schema.names and isinstance(schema["ts"].dataType, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df, schema


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}

