"""Sink implementations (reference §2.6: kafka / stub_log / stub_discard).

A sink receives each micro-batch DataFrame inside the pipeline's
foreachBatch — the exact analogue of `ProcessEventsBatch([]event.Event)`
(sink/sink.go:15,19). A sink that raises fails the epoch: the
foreachBatch exception stops the query with no source offset committed,
and a restart from the checkpoint replays the whole epoch. The engine
has no in-epoch retry like the reference's retry-until-ACK loop
(mux/mux.go:173-189).
"""

from __future__ import annotations

import os
import threading
from typing import Protocol

from pyspark.sql import DataFrame


class Sink(Protocol):
    name: str

    def write(self, batch_df: DataFrame, batch_id: int) -> None: ...


class NoopSink:
    """stub_discard (sink/stub/stub.go): count and drop."""

    def __init__(self, name: str = "noop"):
        self.name = name
        self.batches = 0
        self.events = 0
        self.closed = False
        self._lock = threading.Lock()

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        n = batch_df.count()
        with self._lock:
            self.batches += 1
            self.events += n

    def close(self) -> None:
        """Flush-on-close hook (mux/mux.go:156-165 parity). Stub/file
        sinks are write-through per epoch — every delivered batch is
        already durable when write() returns — so close() only records
        the shutdown; a buffering sink (e.g. a real Kafka producer)
        flushes its in-flight events here. Engine.stop() calls this
        AFTER sources stop and BEFORE the control plane goes down."""
        self.closed = True

    def stats(self) -> str:
        return f"batches {self.batches} events {self.events}"


class MemorySink(NoopSink):
    """stub_log / test spy: retains rows on the driver. Test-only — at
    scale this is exactly what NOT to do (driver collect)."""

    def __init__(self, name: str = "memory"):
        super().__init__(name)
        self.rows: list = []

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        collected = batch_df.collect()
        with self._lock:
            self.batches += 1
            self.events += len(collected)
            self.rows.extend(collected)


class ParquetSink:
    """Durable file sink (append). At-least-once under epoch retry — same
    delivery contract the reference documents (README.md:58); downstream
    dedup by uuid (F5) reconciles replays.

    ``partition_cols``: land each micro-batch partitioned by these
    envelope columns (``table`` for the per-table CDC lake layout; a
    derived date column for the daily layout of
    operators/event_time.py) — the ingest-side half of partition
    pruning: the stream appends into ``col=value/`` directories, so
    batch analytics over the same files get PartitionFilters for free.
    At 100 TB the stream only appends to the current directories while
    queries prune to their slice — the append and the scan never touch
    the same bytes. TOML spelling: ``partitionBy = ["table"]`` on a
    parquet sink (config._SINK_FACTORY)."""

    def __init__(
        self,
        path: str,
        name: str = "parquet",
        partition_cols: list[str] | None = None,
    ):
        self.name = name
        self.path = path
        self.partition_cols = list(partition_cols or [])

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        w = batch_df.write.mode("append")
        if self.partition_cols:
            w = w.partitionBy(*self.partition_cols)
        w.parquet(self.path)

    def epoch_output(self, batch_id: int) -> tuple[str, str, str]:
        """How a CDC epoch's one file write (jvm/EpochFiles.java) lands
        this sink's files: appended into the sink directory, under
        ``col=value/`` for a partition column."""
        return "append", self.path, (self.partition_cols or [""])[0]


class EpochParquetSink:
    """Idempotent (effectively-once) file sink: each epoch lands in its own
    ``epoch=<batch_id>`` partition directory with overwrite semantics, so a
    REPLAYED epoch (sink failure later in the fan-out, restart mid-commit)
    replaces itself instead of appending duplicates — upgrading the
    pipeline's at-least-once contract to exactly-once-per-epoch for file
    consumers, without the UUID-dedup stage. The reference can't offer
    this (Kafka appends); it falls out of Structured Streaming's
    deterministic batch ids + an idempotent write target.

    A rewind under a fresh checkpoint restarts batch ids at 0 and
    OVERWRITES the previous generation's epochs — which is precisely the
    idempotent-replay semantics a rewind asks for."""

    def __init__(self, path: str, name: str = "parquet_epoch"):
        self.name = name
        self.path = path

    def _epoch_dir(self, batch_id: int) -> str:
        return os.path.join(self.path, f"epoch={batch_id:012d}")

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(self._epoch_dir(batch_id))

    def epoch_output(self, batch_id: int) -> tuple[str, str, str]:
        """How a CDC epoch's one file write (jvm/EpochFiles.java) lands
        this sink's files: they replace the epoch's directory."""
        return "replace", self._epoch_dir(batch_id), ""

    def read(self, spark) -> DataFrame:
        """The sink's contents with `epoch` as a partition column, found by
        partition discovery: an ``epoch=*`` glob made Spark's
        ``FileStreamSink`` log an 84-line ``FileNotFoundException`` warning
        on every read. Discovery skips ``_``-prefixed directories, such as
        the stage of a CDC epoch's file write.

        mergeSchema: a sink whose writer gained a column across an
        upgrade (e.g. drift_verdicts' n_null_docs, r16) holds mixed
        per-epoch schemas; without it Spark may pick an old epoch's file
        schema and silently drop the new column (r16 advice). Epoch row
        counts are tiny, so the footer merge cost is nil."""
        return spark.read.option("mergeSchema", "true").parquet(self.path)


def run_gate_stream(spark, source_dir: str, checkpoint_dir: str, epoch_fn):
    """The document-gate stream shape, written once: a JSON drop-dir of
    (doc_id, text) rows, one file per micro-batch, each batch handed to
    ``epoch_fn(batch_df, epoch_id)``, drained with the availableNow
    trigger. Returns the StreamingQuery (caller stops it).

    foreachBatch is at-least-once: an epoch that fails after a partial
    write is replayed under the same epoch id. The gates write through
    EpochParquetSink, whose per-epoch overwrite makes the replay REPLACE
    its prior output instead of appending a duplicate set of verdicts;
    readers get ``epoch`` via partition discovery."""
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(source_dir)
        .writeStream.foreachBatch(epoch_fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


class KafkaSink:
    """Kafka producer sink (sink/kafka/kafka.go). Expects key/value/topic
    columns (R1 routing puts `topic` on the frame, so one sink serves all
    topics — no per-topic grouping stage needed).

    The spark-sql-kafka connector jar is not present in this container, so
    construction is allowed (config-layer parity) but write raises a
    descriptive error until the jar is on the classpath.
    """

    requires_topic = True  # no-rules routes discard, never passthrough

    def __init__(
        self,
        bootstrap_servers: str,
        name: str = "kafka",
        producer_conf: dict[str, str] | None = None,
    ):
        self.name = name
        self.bootstrap_servers = bootstrap_servers
        # producer tuning passthrough (B4): kafka.linger.ms, kafka.acks...
        self.producer_conf = dict(producer_conf or {})

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        cols = set(batch_df.columns)
        missing = {"value"} - cols
        if missing:
            raise ValueError(f"KafkaSink requires columns {missing}")
        writer = (
            batch_df.selectExpr(
                "CAST(key AS STRING) key" if "key" in cols else "NULL AS key",
                "CAST(value AS STRING) value",
                *(["topic"] if "topic" in cols else []),
            )
            .write.format("kafka")
            .option("kafka.bootstrap.servers", self.bootstrap_servers)
        )
        for k, v in self.producer_conf.items():
            writer = writer.option(k, v)
        try:
            writer.save()
        except Exception as e:  # noqa: BLE001
            if "Failed to find data source: kafka" in str(e):
                raise RuntimeError(
                    "Kafka sink needs the spark-sql-kafka connector jar on "
                    "the classpath (--packages org.apache.spark:spark-sql-"
                    "kafka-0-10_2.13:<spark-version>)"
                ) from e
            raise


class SnapshotSink:
    """Replicate-to-table consumer: maintains the CURRENT state of each
    replicated row from the change stream — the end use of the reference's
    pipeline (stream PG changes out, rebuild the table downstream).

    Per batch: reduce to the latest event per (table, key), merge with the
    stored snapshot latest-wins by WAL position, and publish a new snapshot
    version with an atomic pointer swap. Deletes are kept as TOMBSTONES in
    the stored versions (only `current()` filters them out): without the
    tombstone, an out-of-order or replayed OLDER event for a deleted key
    would win the merge and resurrect the row. Because the merge is
    latest-wins on a monotone WAL, a redelivered batch (at-least-once epoch
    retry) is IDEMPOTENT — the snapshot is exactly-once state over an
    at-least-once stream, no UUID dedup needed.

    Superseded versions are pruned down to `keep_versions` after each
    pointer swap — an always-on stream must not retain one full-table copy
    per epoch. At 100 TB this same write() body targets a table format with
    real upserts (MERGE INTO on Delta/Iceberg/Hudi); the parquet-version +
    pointer-file scheme here is the dependency-free stand-in with the same
    semantics (snapshot isolation via immutable versions).
    """

    def __init__(
        self,
        path: str,
        key_field: str = "a",
        name: str = "snapshot",
        keep_versions: int = 2,
    ):
        self.name = name
        self.path = path
        self.key_field = key_field
        self.keep_versions = max(1, keep_versions)

    def _pointer(self) -> str:
        return os.path.join(self.path, "_CURRENT")

    def _history_file(self) -> str:
        return os.path.join(self.path, "_HISTORY")

    def _current_version(self) -> str | None:
        try:
            with open(self._pointer()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _read_history(self) -> list[str]:
        """Pointer-swap lineage, oldest first. Name order is NOT recency:
        rewind() restarts batch ids at 0, so a replayed v000... is NEWER
        than a leftover v000042 from the previous generation."""
        try:
            with open(self._history_file()) as f:
                return [ln.strip() for ln in f if ln.strip()]
        except FileNotFoundError:
            return []

    def current(self, spark) -> DataFrame | None:
        """The live snapshot (None before the first batch). Tombstones are
        internal merge state — readers never see deleted rows."""
        df = self._stored(spark)
        if df is None:
            return None
        from pyspark.sql import functions as F

        return df.filter(F.col("action") != "delete")

    def _stored(self, spark) -> DataFrame | None:
        """The stored version INCLUDING delete tombstones (merge input)."""
        v = self._current_version()
        if v is None:
            return None
        return spark.read.parquet(os.path.join(self.path, v))

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from psql_streamer_spark.transforms import latest_per_key

        spark = batch_df.sparkSession
        incoming = batch_df.select(
            "table",
            F.col("columns").getItem(self.key_field).alias("row_key"),
            "action",
            "wal_position",
            "columns",
        )
        cur = self._stored(spark)
        merged = incoming if cur is None else cur.unionByName(incoming)
        # keep the winning row even when it is a delete (tombstone): it
        # must continue to outrank older replayed events in future merges
        latest = latest_per_key(merged, "table", "row_key")
        version = f"v{batch_id:012d}"
        latest.write.mode("overwrite").parquet(os.path.join(self.path, version))
        # atomic pointer swap: readers see the old or the new version,
        # never a partial write
        os.makedirs(self.path, exist_ok=True)
        history = [v for v in self._read_history() if v != version] + [version]
        tmp = self._history_file() + ".tmp"
        with open(tmp, "w") as f:
            f.write("\n".join(history) + "\n")
        os.replace(tmp, self._history_file())
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(version)
        os.replace(tmp, self._pointer())
        self._prune(history)

    def _prune(self, history: list[str]) -> None:
        """Drop version dirs outside the last keep_versions of the pointer
        LINEAGE — bounds storage at O(keep_versions x table). Lineage, not
        name order: after a rewind restarts batch ids, stale high-numbered
        dirs from the previous generation would sort into a name-ordered
        keep window forever and never be pruned."""
        import shutil

        keep = set(history[-self.keep_versions :])
        current = self._current_version()
        if current:
            keep.add(current)
        for d in os.listdir(self.path):
            if (
                d.startswith("v")
                and d not in keep
                and os.path.isdir(os.path.join(self.path, d))
            ):
                shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
