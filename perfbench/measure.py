"""Instruments the benchmark reads from outside the engine.

- ``ProcTree``: CPU and RSS of this process and every descendant (driver
  JVM, Python workers) from ``/proc``, with a background RSS sampler.
- ``Tracer``: in-memory spans (name, start, end, parent), dumped at exit.
- ``EpochListener``: a ``StreamingQueryListener`` keeping each epoch's
  ``durationMs`` phases and input rows.
- ``TimedSink``: wraps any sink and times each ``write`` call.
- ``fold_event_log``: Spark's JSON event log folded into ``spark.*`` and
  per-job-description totals.
- ``commit_latencies``: per-event latency from checkpoint commit mtimes,
  which needs no listener.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile (numpy's default); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


# -- /proc --------------------------------------------------------------------
def _stat(pid: int) -> tuple[int, int, str] | None:
    """(ppid, cpu ticks incl. reaped children, comm) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[1] is ppid; utime, stime, cutime, cstime are fields 11..14
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), ticks, comm


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


class ProcTree:
    """The process tree rooted at this process, minus ``exclude`` pids
    (the trickle generator is benchmark machinery, not engine)."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.exclude: set[int] = set()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def members(self) -> dict[int, tuple[int, str]]:
        """pid -> (cpu ticks, comm) for the root and its live descendants.
        A reaped child's CPU is already in its parent's cutime/cstime."""
        procs = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    procs[int(d)] = st
        out, frontier = {}, [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in self.exclude or pid not in procs:
                continue
            out[pid] = (procs[pid][1], procs[pid][2])
            frontier.extend(p for p, st in procs.items() if st[0] == pid)
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far, split into JVM and Python processes."""
        jvm = py = 0
        for ticks, comm in self.members().values():
            if comm.startswith("java"):
                jvm += ticks
            else:
                py += ticks
        return {"jvm": jvm / _TICK, "python": py / _TICK}

    def rss(self) -> int:
        return sum(_rss_bytes(pid) for pid in self.members())

    def start_sampler(self, period_s: float = 0.25) -> None:
        def loop():
            while not self._stop.wait(period_s):
                self.peak_rss = max(self.peak_rss, self.rss())

        self.peak_rss = max(self.peak_rss, self.rss())
        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_sampler(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join()
        self.peak_rss = max(self.peak_rss, self.rss())


class CpuWindow:
    """CPU of the process tree between ``__enter__`` and ``__exit__``."""

    def __init__(self, tree: ProcTree):
        self.tree = tree
        self.jvm_s = self.python_s = 0.0

    def __enter__(self):
        self._c0 = self.tree.cpu()
        return self

    def __exit__(self, *exc):
        c1 = self.tree.cpu()
        self.jvm_s += c1["jvm"] - self._c0["jvm"]
        self.python_s += c1["python"] - self._c0["python"]
        return False

    @property
    def total_s(self) -> float:
        return self.jvm_s + self.python_s


# -- spans --------------------------------------------------------------------
class Tracer:
    """Spans kept in memory; ``enabled=False`` makes every call free."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                if tracer.enabled:
                    self.idx = tracer.add(name, time.time(), None)
                    tracer._stack.append(self.idx)
                return self

            def __exit__(self, *exc):
                if tracer.enabled:
                    tracer._stack.pop()
                    tracer.spans[self.idx]["end"] = time.time()
                return False

        return _Span()

    def add(self, name: str, start: float, end: float | None, parent=-1) -> int:
        if not self.enabled:
            return -1
        if parent == -1:
            parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": start, "end": end, "parent": parent})
        return len(self.spans) - 1

    def current(self):
        return self._stack[-1] if self._stack else None

    def dump(self, path: str) -> None:
        if self.enabled:
            with open(path, "w") as f:
                json.dump(self.spans, f)


class TimedSink:
    """Wraps a sink; while ``enabled``, records each write's wall time and
    a span."""

    def __init__(self, inner, tracer: Tracer, parent_of=None):
        self.inner = inner
        self.name = inner.name
        self.tracer = tracer
        self.parent_of = parent_of or (lambda: None)
        self.write_s: list[float] = []
        self.requires_topic = getattr(inner, "requires_topic", False)
        self.enabled = True

    def write(self, batch_df, batch_id: int) -> None:
        if not self.enabled:
            self.inner.write(batch_df, batch_id)
            return
        t0 = time.time()
        try:
            self.inner.write(batch_df, batch_id)
        finally:
            t1 = time.time()
            self.write_s.append(t1 - t0)
            self.tracer.add(f"sink.{self.name}.write", t0, t1, self.parent_of())


def make_epoch_listener():
    """A listener recording every progress event's phases."""
    from pyspark.sql.streaming import StreamingQueryListener

    class EpochListener(StreamingQueryListener):
        def __init__(self):
            self.epochs: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            rec = {
                "batch_id": int(p.batchId),
                "rows": int(p.numInputRows),
                "timestamp": p.timestamp,
                "durations": {k: float(v) for k, v in p.durationMs.items()},
            }
            with self._lock:
                self.epochs.append(rec)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return EpochListener()


def epoch_phases(epochs: list[dict], sink_write_s: list[float]) -> dict[str, float]:
    """Per-epoch phase medians (ms) from listener records. Only epochs that
    read rows count: an idle trigger has no addBatch."""
    busy = [e for e in epochs if e["rows"] > 0]

    def p50(key):
        return median([e["durations"].get(key, 0.0) for e in busy])

    add = [e["durations"].get("addBatch", 0.0) for e in busy]
    per_epoch_sink = sum(sink_write_s) * 1000 / max(1, len(busy))
    return {
        "trigger_ms_p50": p50("triggerExecution"),
        "add_batch_ms_p50": median(add),
        "overhead_ms_p50": max(0.0, median(add) - per_epoch_sink),
        "wal_commit_ms_p50": p50("walCommit"),
        "commit_offsets_ms_p50": p50("commitOffsets"),
        "query_planning_ms_p50": p50("queryPlanning"),
        "latest_offset_ms_p50": p50("latestOffset"),
        "get_batch_ms_p50": p50("getBatch"),
        "rows_per_epoch_p50": median([e["rows"] for e in busy]),
        "epochs": float(len(busy)),
    }


# -- latency from the checkpoint, no listener needed --------------------------
def commit_times(checkpoint_dir: str) -> dict[int, float]:
    """Epoch id -> commit time, from ``checkpoint/commits/<N>`` mtimes."""
    d = os.path.join(checkpoint_dir, "commits")
    out = {}
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime
    return out


def commit_latencies(
    stamps_by_epoch: dict[int, list[float]], commits: dict[int, float]
) -> list[float]:
    """Per-event latency (s): its epoch's commit time minus its stamp.
    An event whose epoch never committed raises: it was not delivered."""
    out = []
    for epoch, stamps in stamps_by_epoch.items():
        if epoch not in commits:
            raise ValueError(f"epoch {epoch} delivered rows but never committed")
        c = commits[epoch]
        out.extend(c - s for s in stamps)
    return out


# -- Spark's event log ---------------------------------------------------------
def fold_event_log(path: str, t0_ms: float = 0.0, t1_ms: float = float("inf")) -> dict:
    """Fold one uncompressed event log into totals for jobs that started in
    ``[t0_ms, t1_ms]``.

    Returns ``{"spark": {...}, "by_desc": {description: {...}}}``: the
    whole-window layer totals and the same totals per job description
    (``setJobDescription``), with ``driver_ms`` = window wall minus the
    union of stage spans."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_spans: list[tuple[float, float]] = []
    totals: dict[str, dict] = {}

    def bucket(desc: str) -> dict:
        return totals.setdefault(desc, {k: 0.0 for k in (
            "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms", "deserialize_ms",
            "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms",
            "spill_bytes", "tasks", "stages")})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                t = ev.get("Submission Time", 0)
                if not (t0_ms <= t <= t1_ms):
                    continue
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                jobs[ev["Job ID"]] = {"desc": desc}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                jid = stage_job.get(info["Stage ID"])
                if jid is None or "Submission Time" not in info:
                    continue
                stage_spans.append((info["Submission Time"], info["Completion Time"]))
                bucket(jobs[jid]["desc"])["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                tm = ev.get("Task Metrics")
                if jid is None or not tm:
                    continue
                b = bucket(jobs[jid]["desc"])
                b["tasks"] += 1
                b["executor_run_ms"] += tm.get("Executor Run Time", 0)
                b["executor_cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                b["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
                b["deserialize_ms"] += tm.get("Executor Deserialize Time", 0)
                b["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
                sr = tm.get("Shuffle Read Metrics") or {}
                b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                b["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
                sw = tm.get("Shuffle Write Metrics") or {}
                b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)

    spark: dict[str, float] = {}
    for b in totals.values():
        for k, v in b.items():
            spark[k] = spark.get(k, 0.0) + v
    window = t1_ms - t0_ms if t1_ms != float("inf") else 0.0
    spark["driver_ms"] = max(0.0, window - _union_ms(stage_spans))
    return {"spark": spark, "by_desc": totals}


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(spans):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def event_log_file(log_dir: str, app_id: str) -> str:
    """The (uncompressed, non-rolling) log file of one application."""
    for name in os.listdir(log_dir):
        if name.startswith(app_id):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no event log for {app_id} in {log_dir}")


def add_epoch_spans(tracer: Tracer, epochs: list[dict], parent_name: str) -> None:
    """Hang one span per listener-observed epoch under the ``parent_name``
    span that contains it, and move each sink-write span under its epoch."""
    import datetime as dt

    if not tracer.enabled:
        return
    parents = [
        (i, s) for i, s in enumerate(tracer.spans) if s["name"] == parent_name
    ]
    epoch_ids = []
    for e in epochs:
        start = dt.datetime.fromisoformat(e["timestamp"].replace("Z", "+00:00"))
        t0 = start.timestamp()
        t1 = t0 + e["durations"].get("triggerExecution", 0.0) / 1000
        parent = next(
            (i for i, s in reversed(parents) if s["start"] <= t0 <= (s["end"] or t1)),
            None,
        )
        epoch_ids.append(tracer.add(f"epoch.{e['batch_id']}", t0, t1, parent))
    for s in tracer.spans:
        if s["name"].startswith("sink."):
            for i in epoch_ids:
                ep = tracer.spans[i]
                if ep["start"] <= s["start"] <= ep["end"]:
                    s["parent"] = i
                    break
