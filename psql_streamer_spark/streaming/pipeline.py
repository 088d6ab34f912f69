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

Delivery semantics: the micro-batch's source offsets commit to the
checkpoint only after foreachBatch returns, i.e. after EVERY sink accepted
the batch — the reference's all-sinks-or-nothing ACK (mux/mux.go:173-189).
A sink failure fails the epoch; the whole batch is retried; sinks that
already wrote see it twice → at-least-once, same caveat the reference
documents (README.md:58), with the per-event UUID enabling downstream
dedup (F5).
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from psql_streamer_spark.caching import persisted
from psql_streamer_spark.routing import route, topic_expr
from psql_streamer_spark.streaming.sinks import Sink
from psql_streamer_spark.transforms import (
    decode_cdc_json,
    filter_dml,
    is_dml_event,
    is_valid_event,
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
        self._counters: tuple[Column, ...] | None = None

    def _epoch_counters(self, decoded: DataFrame) -> tuple[Column, ...]:
        """The epoch's `observe` counters, built on the first epoch and
        reused by every later one (each Column call is py4j round trips;
        see transforms.once_per_jvm)."""
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

    # -- the per-epoch body (the mux flush) --------------------------------
    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # ONE cached decoded frame serves every branch and every counter
        # (mux buffer reuse, B2); each branch is the batch transform the
        # oracle checks, applied to that frame. The counters ride an
        # `observe` node (CollectMetrics) computed as a SIDE EFFECT of the
        # first sink write that materializes the frame — no dedicated
        # stats job per micro-batch. The cache is released when the epoch
        # exits, failed or not (a leaked persist per micro-batch is a
        # storage-memory leak on an always-on stream).
        from pyspark.sql import Observation

        decoded = self.decoder(batch_df)
        if self._counters is None:
            self._counters = self._epoch_counters(decoded)
        obs = Observation()
        observed = decoded.observe(obs, *self._counters)
        with persisted(observed):
            valid, dlq = validate_split(observed)
            events = filter_dml(valid)
            # fan-out: every sink gets the batch routed by its own mapping;
            # any failure aborts the epoch BEFORE offsets commit
            # (all-or-nothing ACK). The first write materializes the cache
            # and fires the observed counters.
            for r in self.routes:
                if r.passthrough:
                    routed = events.withColumn("topic", topic_expr({}))
                else:
                    routed = route(events, r.topic_mapping, r.topic_fallback)
                try:
                    r.sink.write(
                        serialize_passthrough(with_default_key(routed)), batch_id
                    )
                except Exception:
                    with self.stats._lock:
                        self.stats.sink_errors += 1
                    raise

            counts = obs.get  # blocks only until the listener delivers

            # DLQ after the primary fan-out (an epoch retry re-dead-letters
            # either way — at-least-once); skipped entirely on clean batches
            if self.dlq_sink is not None and counts["n_dlq"]:
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
        self.checkpoint_dir = new_checkpoint_dir
        return self.start(available_now=available_now)
