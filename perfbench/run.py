"""Benchmark entry point: one workload, one fresh process.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics, and the span tree is
written to ``.perfbench_work/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def pin_environment(work: str, pin: bool) -> set[int]:
    """Settings every run shares, set before Spark or the engine load.

    Spark runs ``local[N]`` on half the CPUs this process may use, so the
    JVM's JIT and GC threads and the Python workers have room beside its
    task threads. With ``pin``, the whole process tree (JVM and Python
    workers included) is also held to that half, and the other half is
    left to the load generator: a latency-bound workload then hands work
    between threads on CPUs that are already awake, which made it less
    sensitive to a shared host's CPU steal in alternating runs. Returns the CPUs left
    to the load generator (none without ``pin``)."""
    allowed = sorted(os.sched_getaffinity(0))
    cpus = max(1, len(allowed) // 2)
    if pin:
        os.sched_setaffinity(0, allowed[:cpus])
    for d in ("local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": "3g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
    })
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    import tempfile

    tempfile.tempdir = None
    return set(allowed[cpus:]) if pin else set()


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(spec: dict, values: dict, trace: bool, attempted: int, failed: int) -> dict:
    """The result object; raises KeyError if a metric was not measured."""
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in spec["per_layer" if trace else "end_to_end"]
    }
    return {
        "correct": failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    }


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="tiny inputs (self-tests)")
    args = ap.parse_args(argv)

    # the engine is built from the checkout's own source; without it
    # there is nothing to measure
    for need in ("psql_streamer_spark/__init__.py", "bench.py", "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if args.tiny:
        workloads.shrink()
    spec = load_spec()
    workloads.LAYERS[:] = [m["name"] for m in spec["per_layer"]]

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spare = pin_environment(work, args.workload in workloads.PINNED)
    from bench import _env_snapshot

    env_before = _env_snapshot()
    steal0 = _cpu_steal()
    ctx = workloads.Context(work, args.seed, args.seconds, bool(args.trace))
    ctx.spare_cpus = spare
    if ctx.trace:
        ctx.tree.start_sampler()
    try:
        with ctx.tracer.span(f"workload.{args.workload}"):
            values, attempted, failed = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if ctx.trace:
            ctx.tree.stop_sampler()
        if ctx.spark is not None:
            ctx.spark.stop()
        _stop_jvm()
        ctx.tracer.dump(os.path.join(base, f"spans-{args.workload}-{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    values["proc.peak_rss_mb"] = ctx.tree.peak_rss / 2**20
    env = {
        "before": env_before,
        "after": _env_snapshot(),
        "steal_frac": _steal_share(steal0, _cpu_steal()),
    }
    print("perfbench env " + json.dumps(env), file=sys.stderr)
    print(json.dumps(result_line(spec, values, bool(args.trace), attempted, failed)))
    return 0


def _stop_jvm() -> None:
    """End the driver JVM and wait for it: it exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _cpu_steal() -> tuple[int, int]:
    """(steal ticks, total ticks) from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def _steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    total = b[1] - a[1]
    return round((b[0] - a[0]) / total, 4) if total else 0.0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
