"""The benchmark's workloads.

Each workload sets up several times (a fresh SparkSession each time; the
first also boots the JVM) and reports the median as ``setup_s``, measures
for ``seconds``, then checks its output outside the timed window. It
returns ``(values, attempted, failed)`` where ``values`` holds every
end-to-end metric and, in a traced run, every per-layer metric by name.

End-to-end metrics, per workload:

============== ================================ ================================
metric         cdc_trickle                      analytics
============== ================================ ================================
setup_s        session + one warm-up epoch      session + the cold HEADLINE pass
ops_per_s      events committed per second      queries per second (warm)
latency_ms     median event: creation -> commit geometric mean of per-query medians
cpu_ms_per_op  process-tree CPU per event       process-tree CPU per query
============== ================================ ================================
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
import time

import gen
from measure import (
    CpuWindow,
    ProcTree,
    TimedSink,
    Tracer,
    add_epoch_spans,
    commit_latencies,
    commit_times,
    epoch_phases,
    event_log_file,
    fold_event_log,
    make_epoch_listener,
    median,
    quantile,
)

#: trickle: 100-event files, every 100th event malformed (1%); the next
#: file is published TRICKLE_GAP_S after the previous one is committed, so
#: every file is an epoch of its own and never queues behind another. An
#: open loop at a fixed rate queued whenever the host slowed the epochs
#: (CPU steal), which made latency swing threefold between runs.
TRICKLE_PER_FILE, TRICKLE_BAD_EVERY, TRICKLE_GAP_S = 100, 100, 0.1
#: the generator runs this long before the measured window opens, so the
#: window sees the started query past its first epoch
TRICKLE_PREROLL_S = 1.5
#: generated lake scale for the analytics workload (sf 1 = 6M lineitem rows)
ANALYTICS_SF = 0.01
#: wire lines in the static frame of the transforms/routing probes
PROBE_EVENTS = 200_000

SPARK_LAYERS = (
    "executor_run_ms", "executor_cpu_ms", "jvm_gc_ms", "deserialize_ms",
    "shuffle_read_bytes", "shuffle_write_bytes", "fetch_wait_ms",
    "spill_bytes", "tasks", "stages", "driver_ms",
)

#: every per-layer metric name (from BENCHMARK.json); a workload reports 0
#: for a layer it does not touch
LAYERS: list[str] = []


def shrink() -> None:
    """Tiny inputs for the self-tests' smoke runs."""
    global TRICKLE_PREROLL_S, ANALYTICS_SF, PROBE_EVENTS
    TRICKLE_PREROLL_S, ANALYTICS_SF, PROBE_EVENTS = 0.0, 0.001, 2000


_T0 = time.time()


def log(msg: str) -> None:
    """A progress line on standard error, stamped with the process's age."""
    print(f"perfbench {time.time() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


class Context:
    def __init__(self, work: str, seed: int, seconds: int, trace: bool):
        self.work, self.seed, self.seconds = work, seed, seconds
        self.trace = trace
        self.tracer = Tracer(trace)
        self.tree = ProcTree()
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # keep the JVM's temporary files inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        }
        if trace:
            self.event_dir = os.path.join(work, "eventlog")
            os.makedirs(self.event_dir, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None
        #: CPUs the engine does not run on, for the load generator
        self.spare_cpus: set[int] = set()
        self.session_s: list[float] = []
        self.warm_s: list[float] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def new_session(self):
        """Stop the live session (if any) and build a fresh one."""
        from psql_streamer_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.time()
        with self.tracer.span("get_spark"):
            self.spark = get_spark("perfbench", extra_conf=self.conf)
            self.spark.range(1).count()
        self.session_s.append(time.time() - t0)
        return self.spark

    def setups(self, one_time_state, k: int) -> list[float]:
        """Set up ``k`` times; each is a new session plus the workload's
        one-time state. Returns the wall time of each."""
        out = []
        for i in range(k):
            t0 = time.time()
            with self.tracer.span(f"setup.{i}"):
                self.new_session()
                w0 = time.time()
                one_time_state()
                self.warm_s.append(time.time() - w0)
            out.append(time.time() - t0)
            log(f"setup {i}: {out[-1]:.2f}s")
        return out

    def finish(self, t0: float, t1: float, cpu: CpuWindow) -> dict:
        """Stop the session. In a traced run, fold its event log over the
        window ``[t0, t1]`` and return the layers every workload shares."""
        app_id = self.spark.sparkContext.applicationId
        self.spark.stop()
        self.spark = None
        if not self.trace:
            return {}
        sp = fold_event_log(event_log_file(self.event_dir, app_id), t0 * 1000, t1 * 1000)
        v = {n: 0.0 for n in LAYERS}
        v.update({
            "session.start_s": median(self.session_s),
            "warmup.warm_s": median(self.warm_s),
            "proc.jvm_cpu_s": cpu.jvm_s,
            "proc.python_cpu_s": cpu.python_s,
        })
        for k in SPARK_LAYERS:
            v[f"spark.{k}"] = float(sp["spark"].get(k, 0.0))
        v["_by_desc"] = sp["by_desc"]
        return v


# -- transforms/routing probes on a static frame ------------------------------
def layer_probes(ctx: Context) -> dict:
    """Time decode, serialize+key and routing on a cached static frame of
    PROBE_EVENTS wire lines (ms per million events, median of 5)."""
    import random

    from pyspark.sql import functions as F

    from psql_streamer_spark.routing import topic_expr
    from psql_streamer_spark.transforms import (
        decode_cdc_json,
        serialize_passthrough,
        with_default_key,
    )

    spark = ctx.spark
    rng = random.Random(ctx.seed + 7)
    path = ctx.path("probe_lines.json")
    with open(path, "w") as f:
        for i in range(PROBE_EVENTS):
            f.write(gen.cdc_event(rng, i + 1, 1.7e9 + i)[0] + "\n")
    raw = spark.read.text(path).repartition(
        spark.sparkContext.defaultParallelism
    ).cache()
    raw.count()
    decoded = decode_cdc_json(raw).cache()
    decoded.count()

    def per_mevent(df) -> float:
        times = []
        for _ in range(5):
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t0)
        return median(times) * 1000 * 1e6 / PROBE_EVENTS

    with ctx.tracer.span("probes"):
        out = {
            "transforms.decode_ms_per_mevent": per_mevent(decode_cdc_json(raw)),
            "transforms.serialize_ms_per_mevent": per_mevent(
                serialize_passthrough(with_default_key(decoded))
            ),
            "routing.topic_ms_per_mevent": per_mevent(
                decoded.withColumn("topic", topic_expr(gen.ROUTE_A)).filter(
                    F.col("topic").isNotNull()
                )
            ),
        }
    decoded.unpersist()
    raw.unpersist()
    return out


# -- CDC output checks ------------------------------------------------------------
def _unix_s(col: str):
    from pyspark.sql import functions as F

    return (F.unix_micros(F.col(col)) / 1e6).alias("ts_s")


def _check_delivery(pdf, expected_uuids: set, expected_topics: dict) -> int:
    """Failed events on one route: missing + duplicated + unexpected, or,
    when the event set is right, the events counted under a wrong topic."""
    got = list(pdf["uuid"])
    dup = len(got) - len(set(got))
    missing = len(expected_uuids - set(got))
    extra = len(set(got) - expected_uuids)
    if dup or missing or extra:
        return dup + missing + extra
    counts = pdf.groupby("topic").size().to_dict() if len(pdf) else {}
    return sum(abs(counts.get(t, 0) - n) for t, n in expected_topics.items()) + sum(
        n for t, n in counts.items() if t not in expected_topics
    )


def _sink_files(path: str) -> tuple[float, float]:
    """(parquet files per epoch, total bytes) of an EpochParquetSink."""
    epochs = glob.glob(os.path.join(path, "epoch=*"))
    files = glob.glob(os.path.join(path, "epoch=*", "*.parquet"))
    size = sum(os.path.getsize(f) for f in files)
    return len(files) / max(1, len(epochs)), float(size)


def _stats_failures(stats, n_in, n_valid, n_dlq, n_routed) -> int:
    """1 if the pipeline's own counters disagree with the ground truth."""
    want = (n_in, n_valid, n_dlq, n_routed, n_valid - n_routed, 0)
    got = (stats.events_in, stats.events_valid, stats.events_dlq,
           stats.events_routed, stats.events_discarded, stats.sink_errors)
    return 0 if want == got else 1


def _files_per_epoch(ckpt: str) -> dict[int, int]:
    """Source files read by each epoch, from the file source's own log
    (``checkpoint/sources/0/<N>``; a ``.compact`` file repeats earlier
    entries, so files are counted once by path under their ``batchId``)."""
    seen: dict[str, int] = {}
    for log in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if not os.path.basename(log).split(".")[0].isdigit():
            continue
        with open(log) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    seen[entry["path"]] = int(entry["batchId"])
    out: dict[int, int] = {}
    for batch in seen.values():
        out[batch] = out.get(batch, 0) + 1
    return out


def _backlog_events(ckpt: str, files: list[dict], commits: dict[int, float]) -> int:
    """Max over epochs of (files published before the epoch committed) −
    (files committed so far), in events."""
    per_epoch = _files_per_epoch(ckpt)
    written = sorted(f["written"] for f in files)
    worst, done = 0, 0
    for epoch in sorted(commits):
        done += per_epoch.get(epoch, 0)
        published = sum(1 for w in written if w <= commits[epoch])
        worst = max(worst, published - done)
    return worst * TRICKLE_PER_FILE


# -- cdc_trickle -------------------------------------------------------------------
def cdc_trickle(ctx: Context) -> tuple[dict, int, int]:
    """A paced feed: a generator process publishes small files one at a
    time into the source directory of a running CdcPipeline (default ASAP
    trigger) with two routes and a DLQ."""
    from psql_streamer_spark.streaming.pipeline import CdcPipeline, SinkRoute
    from psql_streamer_spark.streaming.sinks import EpochParquetSink, ParquetSink

    warm_src = ctx.path("warm_src")
    gen.write_backlog(warm_src, ctx.seed + 1, 2, 200)

    def pipeline(source: str, tag: str, wrap=lambda s: s):
        primary = wrap(EpochParquetSink(ctx.path(tag, "primary"), name="primary"))
        by_table = wrap(ParquetSink(
            ctx.path(tag, "by_table"), name="by_table", partition_cols=["table"]))
        dlq = wrap(EpochParquetSink(ctx.path(tag, "dlq"), name="dlq"))
        return CdcPipeline(
            ctx.spark, source, ctx.path(tag, "ckpt"),
            routes=[
                SinkRoute(primary, dict(gen.ROUTE_A)),
                SinkRoute(by_table, dict(gen.ROUTE_B), gen.ROUTE_B_FALLBACK),
            ],
            dlq_sink=dlq,
        )

    n_setup = [0]

    def warm() -> None:
        with ctx.tracer.span("run_to_completion"):
            pipeline(warm_src, f"warm{n_setup[0]}").run_to_completion()
        n_setup[0] += 1

    setup = ctx.setups(warm, k=3)
    spark = ctx.spark

    src = ctx.path("src")
    os.makedirs(src)
    manifest = ctx.path("manifest.jsonl")
    timed: list[TimedSink] = []
    wrap = lambda s: s  # noqa: E731
    if ctx.trace:
        parent = ctx.tracer.current
        wrap = lambda s: timed.append(TimedSink(s, ctx.tracer, parent)) or timed[-1]  # noqa: E731
    p = pipeline(src, "trickle", wrap)
    gen_s = TRICKLE_PREROLL_S + ctx.seconds

    # the traced run records its hooks (listener, sink timing) in one half
    # of the window and not the other, so it measures its own overhead;
    # which half alternates with the seed
    listener = make_epoch_listener() if ctx.trace else None
    traced_half = ctx.seed % 2
    hooked = [False]

    def hooks(on: bool) -> None:
        if not ctx.trace or hooked[0] == on:
            return
        for t in timed:
            t.enabled = on
        if on:
            spark.streams.addListener(listener)
        else:
            spark.streams.removeListener(listener)
        hooked[0] = on

    cpu = CpuWindow(ctx.tree)
    with ctx.tracer.span("start"):
        p.start()
        for t in timed:
            t.enabled = False
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"),
             src, ctx.path("trickle", "ckpt", "commits"), manifest, str(ctx.seed),
             str(gen_s), str(TRICKLE_GAP_S), str(TRICKLE_PER_FILE),
             str(TRICKLE_BAD_EVERY)],
        )
        ctx.tree.exclude.add(proc.pid)
        if ctx.spare_cpus:
            os.sched_setaffinity(proc.pid, ctx.spare_cpus)
        t_gen = time.time()
        try:
            t_start = t_gen + TRICKLE_PREROLL_S
            t_mid = t_start + ctx.seconds / 2
            time.sleep(max(0.0, t_start - time.time()))
            with cpu:
                hooks(traced_half == 0)
                time.sleep(max(0.0, t_mid - time.time()))
                hooks(traced_half == 1)
                # the generator exits once its last file is committed
                rc = proc.wait(timeout=gen_s + 60)
                hooks(False)
        finally:
            if proc.poll() is None:
                proc.kill()
            proc.wait()
    t_end = time.time()
    p.query.stop()
    log("window closed")
    if rc != 0:
        raise RuntimeError(f"trickle generator exited with {rc}")

    # -- output checks (outside the timed window) --
    files = [json.loads(line) for line in open(manifest)]
    truth = [r for f in files for r in f["events"]]
    bad = sum(r["bad"] for r in truth)
    valid = [r for r in truth if not r["bad"]]
    primary = (
        spark.read.option("basePath", ctx.path("trickle", "primary"))
        .parquet(ctx.path("trickle", "primary", "epoch=*"))
        .select("uuid", "topic", "epoch", _unix_s("ts")).toPandas()
    )
    failed = _check_delivery(
        primary,
        {r["uuid"] for r in valid if r["table"] in gen.ROUTE_A},
        gen.expected_routing(truth, gen.ROUTE_A),
    )
    by_table = (
        spark.read.parquet(ctx.path("trickle", "by_table"))
        .select("uuid", "topic").toPandas()
    )
    failed += _check_delivery(
        by_table, {r["uuid"] for r in valid},
        gen.expected_routing(truth, gen.ROUTE_B, gen.ROUTE_B_FALLBACK),
    )
    n_dlq = spark.read.parquet(ctx.path("trickle", "dlq", "epoch=*")).count()
    failed += abs(n_dlq - bad)
    failed += _stats_failures(p.stats, len(truth), len(valid), bad, len(valid))
    log("checks done")

    # latency of the events created inside the window, from the commit
    # files' mtimes and the stamps the sink stored
    commits = commit_times(ctx.path("trickle", "ckpt"))
    stamps: dict[int, list[float]] = {}
    for e, t in zip(primary["epoch"], primary["ts_s"]):
        if t >= t_start:
            stamps.setdefault(int(e), []).append(float(t))
    lat = commit_latencies(stamps, commits)
    log("epoch latency ms: " + " ".join(
        f"{(commits[e] - min(ts)) * 1000:.0f}" for e, ts in sorted(stamps.items())))
    n_window = sum(f["slot"] >= t_start for f in files) * TRICKLE_PER_FILE
    backlog = _backlog_events(ctx.path("trickle", "ckpt"), files, commits)
    # a paced feed never has more than the one file in flight
    if backlog > TRICKLE_PER_FILE:
        failed += 1

    v = {
        "setup_s": median(setup),
        "ops_per_s": n_window / (max(commits.values()) - t_start),
        "latency_ms": quantile(lat, 0.5) * 1000,
        "cpu_ms_per_op": cpu.total_s * 1000 / n_window,
    }
    if ctx.trace:
        probes = layer_probes(ctx)
        v.update(ctx.finish(t_start, t_end, cpu))
        v.update(probes)
        add_epoch_spans(ctx.tracer, listener.epochs, "start")
        all_writes = [s for t in timed for s in t.write_s]
        ph = epoch_phases(listener.epochs, all_writes)
        for t in timed:
            v[f"sinks.{t.name}.write_ms_p50"] = median(t.write_s) * 1000
        fpe, size = _sink_files(ctx.path("trickle", "primary"))
        halves: list[dict[int, list[float]]] = [{}, {}]
        for e, ts in stamps.items():
            for t in ts:
                halves[int(t >= t_mid)].setdefault(e, []).append(t)
        in_traced = commit_latencies(halves[traced_half], commits)
        in_plain = commit_latencies(halves[1 - traced_half], commits)
        v.update({
            "sources.latest_offset_ms_p50": ph["latest_offset_ms_p50"],
            "sources.get_batch_ms_p50": ph["get_batch_ms_p50"],
            "sources.rows_per_epoch_p50": ph["rows_per_epoch_p50"],
            "sources.backlog_events_max": float(backlog),
            "pipeline.query_planning_ms_p50": ph["query_planning_ms_p50"],
            "pipeline.trigger_ms_p50": ph["trigger_ms_p50"],
            "pipeline.add_batch_ms_p50": ph["add_batch_ms_p50"],
            "pipeline.overhead_ms_p50": ph["overhead_ms_p50"],
            "pipeline.wal_commit_ms_p50": ph["wal_commit_ms_p50"],
            "pipeline.commit_offsets_ms_p50": ph["commit_offsets_ms_p50"],
            "pipeline.epochs": ph["epochs"],
            "pipeline.events_dlq": float(p.stats.events_dlq),
            "pipeline.events_discarded": float(p.stats.events_discarded),
            "pipeline.sink_errors": float(p.stats.sink_errors),
            "latency.p95_ms": quantile(lat, 0.95) * 1000,
            "generator.lag_p95_ms": quantile(
                [f["written"] - f["slot"] for f in files], 0.95) * 1000,
            "sinks.files_per_epoch": fpe,
            "sinks.bytes_per_event": size / max(1, len(primary)),
            "trace.overhead_frac": (
                quantile(in_traced, 0.5) / quantile(in_plain, 0.5) - 1 if in_plain else 0.0
            ),
        })
    else:
        ctx.finish(t_start, t_end, cpu)
    return v, len(truth), failed


# -- analytics ----------------------------------------------------------------------
def analytics(ctx: Context) -> tuple[dict, int, int]:
    """Closed loop: bench.HEADLINE, one query at a time, each written to the
    noop sink, on a lake generated from the seed."""
    from bench import HEADLINE

    from psql_streamer_spark.caching import INDEX_CACHE
    from psql_streamer_spark.registry import all_oracles, all_queries

    lake = ctx.path("lake")
    gen.write_lake(lake, ctx.seed, ANALYTICS_SF)
    log("lake written")
    queries = all_queries()
    attempted = 0
    cold: dict[str, float] = {}
    index_builders: set[str] = set()

    def run_query(name: str, tag: bool) -> float:
        nonlocal attempted
        spark = ctx.spark
        if tag:
            spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        with ctx.tracer.span(f"query.{name}"):
            queries[name](spark, lake).write.format("noop").mode("overwrite").save()
        dt = time.time() - t0
        if tag:
            spark.sparkContext.setJobDescription(None)
        attempted += 1
        return dt

    def cold_pass() -> None:
        # codegen, Python workers, the materialized-index cache and the
        # write-once partitioned lineitem table
        for name in HEADLINE:
            before = len(INDEX_CACHE._lru)
            cold[name] = run_query(name, False)
            log(f"cold {name}: {cold[name]:.2f}s")
            if len(INDEX_CACHE._lru) > before or name.startswith("q6_pruned"):
                index_builders.add(name)

    # one set-up, not several: a JIT-cold pass costs ~30 s and a repeat
    # ~19 s, more than the run budget allows; the median over runs is
    # what a bound compares
    setup = ctx.setups(cold_pass, k=1)

    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    traced_pass, plain_pass, pass_cpu = [], [], []
    cpu = CpuWindow(ctx.tree)
    t_start = time.time()
    k = 0
    # at least three passes, so the per-query medians drop one slow pass
    while k < 3 or time.time() - t_start < ctx.seconds:
        # a traced run tags every other pass, so it measures its own overhead
        tag = ctx.trace and k % 2 == 0
        before = cpu.total_s
        with cpu:
            times = {n: run_query(n, tag) for n in HEADLINE}
        pass_cpu.append(cpu.total_s - before)
        for n, t in times.items():
            samples[n].append(t)
        (traced_pass if tag else plain_pass).append(sum(times.values()))
        k += 1
        log(f"pass {k}: {sum(times.values()):.2f}s "
            + " ".join(f"{n[:8]}={t:.2f}" for n, t in times.items()))
    t_end = time.time()

    # -- output checks: every HEADLINE result against its DuckDB twin --
    from tools.oracle_check import _duck_con, compare

    oracles = all_oracles()
    con = _duck_con(lake)
    failed = 0
    for name in HEADLINE:
        sdf = queries[name](ctx.spark, lake)
        if name in oracles:
            problems = compare(name, sdf, con.execute(oracles[name]).fetchdf())
        else:
            problems = [] if sdf.count() >= 0 else ["negative count"]
        if problems:
            print(f"perfbench check failed: {name}: {problems[:3]}", file=sys.stderr)
            failed += 1
    con.close()
    log("checks done")

    med = {n: median(s) for n, s in samples.items()}
    total = sum(med.values())
    pooled = [t for s in samples.values() for t in s]
    v = {
        "setup_s": median(setup),
        "ops_per_s": len(HEADLINE) / total,
        # the typical query: a pooled median would jump between the
        # clusters of fast and slow queries
        "latency_ms": math.exp(
            sum(math.log(t) for t in med.values()) / len(med)) * 1000,
        # median pass: the first warm pass still pays JIT compilation
        "cpu_ms_per_op": median(pass_cpu) * 1000 / len(HEADLINE),
    }
    if ctx.trace:
        probes = layer_probes(ctx)
        v.update(ctx.finish(t_start, t_end, cpu))
        v.update(probes)
        by_desc = v["_by_desc"]
        for n in HEADLINE:
            v[f"query.{n}.wall_s"] = med[n]
            v[f"query.{n}.executor_cpu_ms"] = (
                by_desc.get(n, {}).get("executor_cpu_ms", 0.0) / len(traced_pass)
            )
        v["query.headline_total_s"] = total
        v["latency.p95_ms"] = quantile(pooled, 0.95) * 1000
        v["caching.cold_extra_s"] = sum(cold[n] - med[n] for n in index_builders)
        v["trace.overhead_frac"] = median(traced_pass) / median(plain_pass) - 1
    else:
        ctx.finish(t_start, t_end, cpu)
    return v, attempted, failed


WORKLOADS = {"cdc_trickle": cdc_trickle, "analytics": analytics}
#: workloads whose engine is held to half the CPUs (see run.pin_environment);
#: analytics is CPU-bound, and on two CPUs it was slower and less steady
PINNED = {"cdc_trickle"}
