"""Observability: listener-backed stats, health state, status endpoint.

Reference parity (§2.7):
  O1 per-object counters  -> PipelineStats + QueryProgressListener totals
  O2 Prometheus metrics   -> metrics_text() + pipeline_metrics_text() in
                             Prometheus exposition format
  O3 HTTP control plane   -> StatusServer (/health /status /stats /metrics)
  O4 stats ticker         -> listener logs every progress event
  F6 error-threshold      -> consecutive-error health flip (threshold 30,
                             source/kafka/kafka.go:22-24,161-176)
"""

from __future__ import annotations

import json
import logging
import threading
from collections.abc import Callable
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger("psql_streamer_spark.observe")

ERROR_HEALTH_THRESHOLD = 30  # consecutive errors before unhealthy (F6)

# batch-duration histogram buckets (ms) — parity with the reference's
# per-event processing-time histograms (source/prom/prometheus.go:10-39,
# sink/prom/prometheus.go:10-43), at micro-batch granularity
DURATION_BUCKETS_MS = (5, 10, 25, 50, 100, 250, 500, 1000, 2500, 5000, 10000)

# the parts of an epoch's triggerExecution that StreamingQueryProgress
# reports in durationMs, exported as per-phase sums and counts
EPOCH_PHASES = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets",
)


@dataclass
class QueryStats:
    name: str
    batches: int = 0
    input_rows: int = 0
    errors: int = 0
    consecutive_errors: int = 0
    last_batch_duration_ms: float = 0.0
    duration_sum_ms: float = 0.0
    duration_bucket_counts: list = field(
        default_factory=lambda: [0] * (len(DURATION_BUCKETS_MS) + 1)
    )
    phase_sum_ms: dict = field(default_factory=dict)
    phase_count: dict = field(default_factory=dict)

    def observe_duration(self, ms: float) -> None:
        self.last_batch_duration_ms = ms
        self.duration_sum_ms += ms
        for i, le in enumerate(DURATION_BUCKETS_MS):
            if ms <= le:
                self.duration_bucket_counts[i] += 1
        self.duration_bucket_counts[-1] += 1  # +Inf

    def observe_phases(self, duration_ms: dict) -> None:
        """Add the epoch phases present in one progress's durationMs (an
        epoch that finds no new data reports only some of them)."""
        for ph in EPOCH_PHASES:
            if ph in duration_ms:
                self.phase_sum_ms[ph] = self.phase_sum_ms.get(ph, 0.0) + float(duration_ms[ph])
                self.phase_count[ph] = self.phase_count.get(ph, 0) + 1

    @property
    def healthy(self) -> bool:
        return self.consecutive_errors < ERROR_HEALTH_THRESHOLD

    def as_line(self) -> str:
        return (
            f"{self.name}: batches {self.batches} rows {self.input_rows} "
            f"errors {self.errors} healthy {self.healthy}"
        )


class EngineListener(StreamingQueryListener):
    """Collects per-query progress — the engine's O1/O2/O4 surface."""

    def __init__(self):
        self._stats: dict[str, QueryStats] = {}
        self._id_to_key: dict[str, str] = {}
        self._lock = threading.Lock()

    # StreamingQueryListener API
    def onQueryStarted(self, event):
        key = event.name or str(event.id)
        with self._lock:
            self._stats.setdefault(key, QueryStats(key))
            self._id_to_key[str(event.id)] = key

    def onQueryProgress(self, event):
        p = event.progress
        key = p.name or str(p.id)
        with self._lock:
            st = self._stats.setdefault(key, QueryStats(key))
            self._id_to_key[str(p.id)] = key
            st.batches += 1
            st.input_rows += int(p.numInputRows)
            st.consecutive_errors = 0
            st.observe_duration(float(p.durationMs.get("triggerExecution", 0)))
            st.observe_phases(p.durationMs)
        log.info("progress %s", st.as_line())

    def onQueryTerminated(self, event):
        """Attribute the failure to the terminated query ONLY (F6 is a
        per-source threshold, source/kafka/kafka.go:22-24) — one crash-looping
        pipeline must not flip every healthy query unhealthy."""
        if event.exception is not None:
            with self._lock:
                key = self._id_to_key.get(str(event.id), str(event.id))
                st = self._stats.setdefault(key, QueryStats(key))
                st.errors += 1
                st.consecutive_errors += 1

    def onQueryIdle(self, event):
        pass

    # engine surface
    def stats(self) -> dict[str, QueryStats]:
        with self._lock:
            return dict(self._stats)

    def status(self) -> tuple[bool, str]:
        """(healthy, text) — 500-on-any-error aggregation (http.go:40-60)."""
        sts = self.stats().values()
        unhealthy = [s.name for s in sts if not s.healthy]
        if unhealthy:
            return False, "unhealthy: " + ", ".join(unhealthy)
        return True, "\n".join(s.as_line() for s in sts) or "no queries"

    def metrics_text(self) -> str:
        """Prometheus exposition format (O2): counters, gauges, a
        per-query batch-duration histogram (_bucket/_sum/_count), and the
        per-query, per-phase epoch durations (_sum/_count)."""
        lines = []
        for s in self.stats().values():
            labels = f'{{query="{s.name}"}}'
            lines += [
                f"engine_batches_total{labels} {s.batches}",
                f"engine_input_rows_total{labels} {s.input_rows}",
                f"engine_errors_total{labels} {s.errors}",
                f"engine_healthy{labels} {1 if s.healthy else 0}",
            ]
            for le, n in zip(DURATION_BUCKETS_MS, s.duration_bucket_counts):
                lines.append(
                    f'engine_batch_duration_ms_bucket{{query="{s.name}",le="{le}"}} {n}'
                )
            lines += [
                f'engine_batch_duration_ms_bucket{{query="{s.name}",le="+Inf"}} '
                f"{s.duration_bucket_counts[-1]}",
                f"engine_batch_duration_ms_sum{labels} {s.duration_sum_ms}",
                f"engine_batch_duration_ms_count{labels} {s.duration_bucket_counts[-1]}",
            ]
            # fixed phase order, and no iteration over a dict the
            # listener thread may be growing
            for ph in EPOCH_PHASES:
                if ph in s.phase_count:
                    phase = f'{{query="{s.name}",phase="{ph}"}}'
                    lines += [
                        f"engine_epoch_phase_ms_sum{phase} {s.phase_sum_ms[ph]}",
                        f"engine_epoch_phase_ms_count{phase} {s.phase_count[ph]}",
                    ]
        return "\n".join(lines) + ("\n" if lines else "")


# PipelineStats fields exported as engine_pipeline_events_total{kind=...}
_PIPELINE_EVENT_KINDS = (
    ("in", "events_in"), ("valid", "events_valid"), ("dlq", "events_dlq"),
    ("routed", "events_routed"), ("discarded", "events_discarded"),
)


def pipeline_metrics_text(pipelines: dict) -> str:
    """Prometheus lines for each source's PipelineStats (the per-epoch
    `Observation` counters, summed): events by kind, and sink errors."""
    lines = []
    for name, st in pipelines.items():
        with st._lock:  # one epoch's counts, never half of one
            for kind, attr in _PIPELINE_EVENT_KINDS:
                lines.append(
                    f'engine_pipeline_events_total{{source="{name}",kind="{kind}"}}'
                    f" {getattr(st, attr)}"
                )
            lines.append(
                f'engine_pipeline_sink_errors_total{{source="{name}"}} {st.sink_errors}'
            )
    return "\n".join(lines) + ("\n" if lines else "")


class StatsTicker:
    """Periodic stats logger (O4: stats.go:10-36, started from main.go:47-50).
    Calls `stats_fn() -> dict[str,str]` every `interval_s` and logs one
    line per object — driver-side observability only, no executor work."""

    def __init__(self, stats_fn, interval_s: float = 30.0):
        self.stats_fn = stats_fn
        self.interval_s = interval_s
        self.ticks = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def start(self) -> None:
        if self.interval_s <= 0:  # tickerInterval=0 disables (config.go:46)
            return

        def loop():
            while not self._stop.wait(self.interval_s):
                self.tick()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def tick(self) -> dict[str, str]:
        stats = dict(self.stats_fn())
        self.ticks += 1
        for name, line in stats.items():
            log.info("stats %s: %s", name, line)
        return stats

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None


@dataclass
class StatusServer:
    """Tiny HTTP control plane (O3: /health /status /stats /metrics).
    Runs on the driver; reads listener state only."""

    listener: EngineListener
    host: str = "127.0.0.1"
    port: int = 0  # 0 = ephemeral
    stats_fn: Callable[[], dict] = dict  # extra /stats entries, read per request
    # source name -> PipelineStats for /metrics, read per request
    pipeline_stats_fn: Callable[[], dict] = dict
    debug: bool = False
    _httpd: ThreadingHTTPServer | None = None
    _thread: threading.Thread | None = None

    def set_debug(self, on: bool) -> None:
        """/debug/on|off toggles verbose logging engine-wide — the
        reference's SetDebug broadcast over commonObjs (http.go:59-76)."""
        self.debug = on
        logging.getLogger("psql_streamer_spark").setLevel(
            logging.DEBUG if on else logging.INFO
        )

    def start(self) -> int:
        listener = self.listener
        server = self

        class Handler(BaseHTTPRequestHandler):
            def _send(self, code: int, body: str, ctype="text/plain"):
                payload = body.encode()
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

            def do_GET(self):  # noqa: N802
                if self.path == "/health":
                    self._send(200, "OK\n")
                elif self.path == "/status":
                    healthy, text = listener.status()
                    self._send(200 if healthy else 500, text + "\n")
                elif self.path == "/stats":
                    body = {
                        name: st.as_line() for name, st in listener.stats().items()
                    }
                    body.update({k: str(v) for k, v in server.stats_fn().items()})
                    self._send(200, json.dumps(body) + "\n", "application/json")
                elif self.path == "/metrics":
                    self._send(200, listener.metrics_text() + pipeline_metrics_text(
                        server.pipeline_stats_fn()
                    ))
                elif self.path.startswith("/debug"):
                    parts = self.path.strip("/").split("/")
                    if len(parts) != 2:
                        self._send(200, "Request should be in form /debug/[off|on]\n")
                    elif parts[1] in ("on", "off"):
                        server.set_debug(parts[1] == "on")
                        on = str(parts[1] == "on").lower()  # Go %t style
                        self._send(200, f"Debug is now {on}\n")
                    else:
                        self._send(400, "Debug can be [on] or [off]\n")
                else:
                    self._send(404, "not found\n")

            def log_message(self, *a):  # silence per-request noise
                pass

        self._httpd = ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        if self._httpd:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
