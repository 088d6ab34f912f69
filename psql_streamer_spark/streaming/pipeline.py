"""The streaming CDC pipeline: source → decode → validate → route → fan-out.

This is the Spark-native re-expression of the reference's whole runtime
(SURVEY.md §3.2-3.3):

  raw CDC JSON stream          ← pgoutput/Kafka fetch loop
  decode_cdc_json              ← generateEvent / json.Unmarshal
  validate_split → DLQ         ← malformed/commit-and-skip (T5)
  route (table→topic)          ← generateBatches (R1/R2)
  with_default_key, serialize  ← key gen + passthrough handler (T6/T7)
  ONE foreachBatch → N sinks   ← mux fan-out, ACK-all-then-commit (R4/B3)
  checkpointLocation           ← BoltDB WAL-position store (F1/F2)
  trigger(...)                 ← mux batchSize/batchFlushInterval (B1)

Fan-out: the epoch's parquet file sinks (EpochParquetSink, ParquetSink and
a parquet DLQ) land from ONE Spark write. `routing.fan_out` tags each
decoded row with the outputs it belongs to, using the predicates the
oracle-checked transforms use; `jvm/EpochFiles.java` writes the tagged
rows into a `_stage-<pipeline>-<epoch>-<uuid>` directory through Spark's
commit protocol, and the driver then moves each output's files into its
sink's layout. A failure before the moves leaves only the stage, which
readers skip and the pipeline's next run sweeps (after a rewind, under
the old checkpoint's name too); `<pipeline>` (a hash of the checkpoint
directory) keeps that sweep off the stages of other pipelines that share
the sink. Every other sink (Kafka, Noop/Memory,
Snapshot, any wrapper) gets its own `Sink.write` of the branch the oracle
checks, as does every sink of a session without the project jar.

Delivery semantics: the micro-batch's source offsets commit to the
checkpoint only after foreachBatch returns, i.e. after EVERY sink accepted
the batch — the reference's all-sinks-or-nothing ACK (mux/mux.go:173-189).
A sink failure fails the epoch: the foreachBatch exception stops the
query with no offset committed, and the epoch replays only when the query
restarts from its checkpoint (there is no in-epoch retry). Sinks that
wrote before the failure see the replay too → at-least-once, same caveat
the reference documents (README.md:58), with the per-event UUID enabling
downstream dedup (F5); an EpochParquetSink replaces its epoch instead.
"""

from __future__ import annotations

import hashlib
import os
import threading
import uuid
from dataclasses import dataclass, field
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from psql_streamer_spark.caching import persisted
from psql_streamer_spark.routing import fan_out, route, topic_expr
from psql_streamer_spark.session import EPOCH_FILES, _jvm_can_load
from psql_streamer_spark.streaming.sinks import EpochParquetSink, ParquetSink, Sink
from psql_streamer_spark.transforms import (
    decode_cdc_json,
    filter_dml,
    is_dml_event,
    is_valid_event,
    once_per_jvm,
    serialize_passthrough,
    validate_split,
    with_default_key,
)


@dataclass
class SinkRoute:
    """A sink plus ITS OWN routing rules. In the reference, table→topic
    mapping and fallback live on each kafka sink (kafka.go:116-135), so two
    sinks subscribed to one source may route the same event differently —
    merging their mappings at the pipeline level would cross-route.

    A route with NO rules means different things by sink kind, matching
    the reference: stub sinks (sink/stub/stub.go) do no routing and take
    every event — passthrough with a NULL topic. Topic-requiring sinks
    (Kafka, `requires_topic = True`) without mapping or fallback DISCARD
    everything, exactly the reference's counted `noTopic` path
    (kafka.go:129-134) — a passthrough there would feed NULL topics to the
    producer and crash every epoch."""

    sink: Sink
    topic_mapping: dict = field(default_factory=dict)
    topic_fallback: str | None = None

    @property
    def passthrough(self) -> bool:
        if self.topic_mapping or self.topic_fallback is not None:
            return False
        return not getattr(self.sink, "requires_topic", False)


@dataclass
class PipelineStats:
    """Driver-side counters, mirroring the reference's per-object atomic
    stats (O1). Updated inside foreachBatch (single thread per query)."""

    batches: int = 0
    events_in: int = 0
    events_valid: int = 0
    events_dlq: int = 0
    events_routed: int = 0
    events_discarded: int = 0
    sink_errors: int = 0
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def as_line(self) -> str:
        return (
            f"batches {self.batches} in {self.events_in} valid "
            f"{self.events_valid} dlq {self.events_dlq} routed "
            f"{self.events_routed} discarded {self.events_discarded} "
            f"sinkErrors {self.sink_errors}"
        )


@dataclass(frozen=True)
class _EpochPlan:
    """How an epoch reaches its sinks (`CdcPipeline._epoch_plan`)."""

    counters: tuple[Column, ...]
    #: routes whose sinks land from the one file write, as outputs 0..n-1
    file_routes: tuple[SinkRoute, ...]
    #: the DLQ sink lands from it too, as output n
    dlq_file: bool
    #: the arguments of routing.fan_out after the frame
    fan_out: tuple
    #: each output's file schema as JSON: that of its sink's own write
    out_schemas: tuple[str, ...]
    #: where the write stages its files: the first file sink's directory
    stage_dir: str
    #: routes whose sinks write on their own
    apart: tuple[SinkRoute, ...]
    dlq_apart: bool


def _pipeline_hash(checkpoint_dir: str) -> str:
    """The pipeline's name in its stage dirs."""
    return hashlib.sha256(checkpoint_dir.encode()).hexdigest()[:16]


@once_per_jvm
def _epoch_files():
    """`EpochFiles.write` and `EpochFiles.publish` of the JVM, or None when
    the JVM was started without the project jar (session.get_spark has
    then warned once)."""
    from pyspark import SparkContext

    if not _jvm_can_load(EPOCH_FILES):
        return None
    cls = SparkContext._jvm.psqlstreamer.EpochFiles
    return cls.write, cls.publish


class CdcPipeline:
    """File-source CDC pipeline (JSON lines). Kafka differs only in the
    reader options — the transform chain and fan-out are identical.

    Batching knobs map to the mux's (B1):
      max_files_per_trigger ~ batchSize (size-capped batches)
      processing_interval   ~ batchFlushInterval (time-capped batches)
    Restart-from-checkpoint covers F1/F2; `available_now` drains the
    backlog and stops (flush-on-close).
    """

    def __init__(
        self,
        spark: SparkSession,
        source_path: str,
        checkpoint_dir: str,
        routes: list[SinkRoute],
        dlq_sink: Sink | None = None,
        max_files_per_trigger: int | None = None,
        processing_interval: str | None = None,
        decoder=None,
    ):
        # one route per sink, each with its own rules (kafka.go:116-135)
        if not routes:
            raise ValueError("at least one sink required (config.go:98-110)")
        self.routes = list(routes)
        self.spark = spark
        self.source_path = source_path
        self.checkpoint_dir = checkpoint_dir
        self.dlq_sink = dlq_sink
        # wire-format decoder: raw lines -> Event envelope. Defaults to the
        # reference's own JSON wire format; sources/cdc_formats.decode_dialect
        # decodes every other JSON dialect a CDC feed ships, one table entry
        # each (the reference's `type` switch, source/source.go:23-37)
        self.decoder = decoder if decoder is not None else decode_cdc_json
        self.max_files_per_trigger = max_files_per_trigger
        self.processing_interval = processing_interval
        self.stats = PipelineStats()
        self.query = None
        self._plan: _EpochPlan | None = None
        # the first one-write epoch of each run sweeps this pipeline's
        # stale stage dirs, and those of the checkpoints it rewound from
        self._swept = False
        self._rewound_from: set[str] = set()

    def _epoch_counters(self, decoded: DataFrame) -> tuple[Column, ...]:
        """The epoch's `observe` counters (each Column call is py4j round
        trips; see transforms.once_per_jvm)."""
        # `routed`/`discarded` use union semantics: an event counts as
        # routed if ANY route takes it, discarded if none does
        any_route = F.lit(False)
        for r in self.routes:
            takes = F.lit(True) if r.passthrough else (
                topic_expr(r.topic_mapping, r.topic_fallback).isNotNull()
            )
            any_route = any_route | takes
        ok = is_valid_event(decoded)
        event = ok & is_dml_event(decoded)
        return (
            F.count(F.lit(1)).alias("n_in"),
            F.count(F.when(~ok, 1)).alias("n_dlq"),
            F.count(F.when(event, 1)).alias("n_valid"),
            F.count(F.when(event & any_route, 1)).alias("n_routed"),
        )

    def _epoch_plan(self, decoded: DataFrame, sink_frame) -> _EpochPlan:
        """Which sinks the epoch's one file write lands and which write on
        their own, built on the first epoch and reused by every later one.

        A sink joins the one write when it is a plain EpochParquetSink or
        ParquetSink (at most one partition column, a decoded one; an
        unpartitioned one for the DLQ) on the file system of the first
        such sink, and the session has the project jar. Any other sink,
        a wrapper included, keeps `Sink.write`. Each file output's schema
        is read off the frame ``sink_frame`` builds for its sink on the
        per-sink path (no job runs)."""
        columns = tuple(decoded.columns)
        valid, dlq = validate_split(decoded)
        events = filter_dml(valid)
        stage_dir = ""

        def joins(sink, max_partitions: int = 1) -> bool:
            nonlocal stage_dir
            parts = getattr(sink, "partition_cols", [])
            if (
                _epoch_files() is None
                or type(sink) not in (EpochParquetSink, ParquetSink)
                or len(parts) > max_partitions
                or not set(parts) <= set(columns)
            ):
                return False
            stage_dir = stage_dir or sink.path
            # the files move by rename, so stage and sink share a file system
            return urlparse(sink.path)[:2] == urlparse(stage_dir)[:2]

        files, apart, specs, out_schemas = [], [], [], []
        for r in self.routes:
            if not joins(r.sink):
                apart.append(r)
                continue
            part = (getattr(r.sink, "partition_cols", None) or [None])[0]
            files.append(r)
            specs.append(
                (tuple(r.topic_mapping.items()), r.topic_fallback, r.passthrough, part)
            )
            # a partition column lives in the directory names, not the files
            schema = sink_frame(events, r).schema
            out_schemas.append(StructType([f for f in schema if f.name != part]).json())
        dlq_file = self.dlq_sink is not None and joins(self.dlq_sink, 0)
        if dlq_file:
            out_schemas.append(dlq.schema.json())
        return _EpochPlan(
            counters=self._epoch_counters(decoded),
            file_routes=tuple(files),
            dlq_file=dlq_file,
            fan_out=((*columns, "key", "value"), tuple(specs), dlq_file),
            out_schemas=tuple(out_schemas),
            stage_dir=stage_dir,
            apart=tuple(apart),
            dlq_apart=self.dlq_sink is not None and not dlq_file,
        )

    def _write_files(self, observed: DataFrame, batch_id: int) -> list[SinkRoute]:
        """The one Spark write of the epoch's file sinks, committed by
        rename (jvm/EpochFiles.java). Returns the routes that got no rows:
        their sinks write the empty frame themselves, which leaves what
        their own writer leaves for one."""
        plan = self._plan
        sinks = [r.sink for r in plan.file_routes]
        if plan.dlq_file:
            sinks.append(self.dlq_sink)
        outputs = "\n".join(
            "\t".join((*s.epoch_output(batch_id), schema))
            for s, schema in zip(sinks, plan.out_schemas)
        )
        tagged = fan_out(
            serialize_passthrough(with_default_key(observed)), *plan.fan_out
        )
        # the stage names its pipeline, so a sweep never takes the stage
        # of another pipeline that shares the sink
        me = _pipeline_hash(self.checkpoint_dir)
        prefix = f"{plan.stage_dir.rstrip('/')}/_stage-"
        stage = f"{prefix}{me}-{batch_id}-{uuid.uuid4().hex}"
        stale = None
        if not self._swept:
            pipes = {me, *map(_pipeline_hash, self._rewound_from)}
            stale = f"{prefix}{{{','.join(sorted(pipes))}}}-*"
        write, publish = _epoch_files()
        try:
            write(tagged._jdf, stage, outputs, stale)
            self._swept = True
            self._rewound_from.clear()
            empty = publish(observed.sparkSession._jsparkSession, stage, outputs)
        except Exception:
            with self.stats._lock:
                self.stats.sink_errors += 1
            raise
        return [
            plan.file_routes[int(out)] for out in empty.split(",")
            if out and int(out) < len(plan.file_routes)
        ]

    # -- the per-epoch body (the mux flush) --------------------------------
    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # ONE decoded frame serves every branch and every counter (mux
        # buffer reuse, B2). The file sinks land from ONE Spark write of
        # that frame (`_write_files`); every other sink gets the branch
        # the oracle checks (validate_split, filter_dml, route). The frame
        # is cached for the epoch and released when it exits, failed or
        # not (a leaked persist per micro-batch is a storage-memory leak
        # on an always-on stream); it serves the write of a route that got
        # no rows, and every other sink. The counters ride an `observe`
        # node (CollectMetrics) computed as a SIDE EFFECT of the first
        # write that materializes the frame — no dedicated stats job per
        # micro-batch.
        from pyspark.sql import Observation

        def sink_frame(events: DataFrame, r: SinkRoute) -> DataFrame:
            """What ``r``'s sink is handed on the per-sink path: the DML
            ``events`` routed by its own rules, keyed and serialized."""
            if r.passthrough:
                routed = events.withColumn("topic", topic_expr({}))
            else:
                routed = route(events, r.topic_mapping, r.topic_fallback)
            return serialize_passthrough(with_default_key(routed))

        decoded = self.decoder(batch_df)
        if self._plan is None:
            self._plan = self._epoch_plan(decoded, sink_frame)
        plan = self._plan
        obs = Observation()
        observed = decoded.observe(obs, *plan.counters)
        with persisted(observed):
            apart = list(plan.apart)
            if plan.file_routes or plan.dlq_file:
                apart += self._write_files(observed, batch_id)
            if apart or plan.dlq_apart:
                valid, dlq = validate_split(observed)
                events = filter_dml(valid)
            # fan-out: every other sink gets the batch routed by its own
            # mapping; any failure aborts the epoch BEFORE offsets commit
            # (all-or-nothing ACK)
            for r in apart:
                try:
                    r.sink.write(sink_frame(events, r), batch_id)
                except Exception:
                    with self.stats._lock:
                        self.stats.sink_errors += 1
                    raise

            counts = obs.get  # blocks only until the listener delivers

            # DLQ after the primary fan-out (an epoch retry re-dead-letters
            # either way — at-least-once); skipped entirely on clean batches
            if plan.dlq_apart and counts["n_dlq"]:
                self.dlq_sink.write(dlq, batch_id)

            with self.stats._lock:
                self.stats.batches += 1
                self.stats.events_in += counts["n_in"]
                self.stats.events_valid += counts["n_valid"]
                self.stats.events_dlq += counts["n_dlq"]
                self.stats.events_routed += counts["n_routed"]
                self.stats.events_discarded += counts["n_valid"] - counts["n_routed"]

    # -- lifecycle ---------------------------------------------------------
    def start(self, available_now: bool = False):
        self._swept = False
        # the reader shape belongs to the wire format: JSON-lines dialects
        # read text; a decoder of binary frame files (sources/pgoutput_cdc.
        # PgoutputStreamDecoder) declares its own format and schema
        reader = self.spark.readStream.format(
            getattr(self.decoder, "source_format", "text")
        )
        schema = getattr(self.decoder, "source_schema", None)
        if schema is not None:
            reader = reader.schema(schema)
        if self.max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        raw = reader.load(self.source_path)

        writer = (
            raw.writeStream.foreachBatch(self._process_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif self.processing_interval:
            writer = writer.trigger(processingTime=self.processing_interval)
        self.query = writer.start()
        return self.query

    def run_to_completion(self) -> None:
        """Drain everything currently in the source, then stop — the test
        harness's synchronous mode (and the reference's shutdown flush,
        main.go:59-96)."""
        q = self.start(available_now=True)
        q.awaitTermination()
        self.query = None

    # -- replay-window audit (F3) ------------------------------------------
    def seen_source_files(self) -> set[str]:
        """Source-file URIs the current checkpoint has committed — parsed
        from the FileStreamSource seen-files log (checkpoint/sources/*/N,
        'v1' header + one JSON entry per line; .compact files share the
        format)."""
        import glob
        import json as _json

        out: set[str] = set()
        for log in glob.glob(
            os.path.join(self.checkpoint_dir, "sources", "*", "*")
        ):
            if os.path.basename(log).startswith("."):
                continue
            try:
                with open(log) as f:
                    for line in f:
                        line = line.strip()
                        if not line or (line[0] == "v" and line[1:].isdigit()):
                            continue
                        try:
                            entry = _json.loads(line)
                        except ValueError:
                            continue
                        if isinstance(entry, dict) and entry.get("path"):
                            out.add(entry["path"])
            except OSError:
                continue
        return out

    def rewind_gap(self) -> set[str]:
        """Previously-processed source files that are NO LONGER PRESENT —
        files a rewind replay could not reproduce. The file-source analogue
        of the reference confirming the rewind target is still inside the
        retained WAL window (walPos - walRetain, postgres.go:212,451-466):
        here the 'retained window' is whatever the source directory's
        retention hasn't deleted yet."""
        from urllib.parse import unquote, urlparse

        missing: set[str] = set()
        for uri in self.seen_source_files():
            path = unquote(urlparse(uri).path) if "://" in uri else uri
            if not os.path.exists(path):
                missing.add(path)
        return missing

    def rewind(
        self,
        new_checkpoint_dir: str,
        available_now: bool = False,
        force: bool = False,
    ):
        """Executable offset override (F2: walPositionOverride,
        source/postgres/postgres.go:131-140): abandon the current
        checkpoint's committed offsets and reprocess the source from the
        beginning under a fresh checkpoint. Before jumping, the retention
        audit (F3) verifies the replay target is still covered by the
        retained source window — a rewind past retention would silently
        produce a partial replay; pass ``force=True`` to accept the gap.
        Replays are at-least-once by design — the per-event UUID lets
        downstream dedup reconcile (F5), same caveat as the reference's
        manual rewind. For offset-addressable sources (Kafka), pair the new
        checkpoint with `startingOffsets` on the reader instead."""
        missing = self.rewind_gap()
        if missing and not force:
            sample = ", ".join(sorted(missing)[:3])
            raise RuntimeError(
                f"rewind target outside the retained source window: "
                f"{len(missing)} previously-processed file(s) no longer "
                f"present (e.g. {sample}); the replay would be partial — "
                "pass force=True to accept the gap"
            )
        if self.query is not None:
            self.query.stop()
            self.query = None
        # a stage the old checkpoint's run left is swept with this run's
        self._rewound_from.add(self.checkpoint_dir)
        self.checkpoint_dir = new_checkpoint_dir
        return self.start(available_now=available_now)
