"""SparkSession construction tuned for this engine.

Local mode is the test bed; the config keys chosen here are the ones that
matter on a real cluster too (AQE, shuffle partitioning, Arrow, UTC).
Scale notes per knob are inline — the same builder is intended to be used
with ``master=yarn``/``k8s`` unchanged.

A ``local[...]`` session also swaps in a local file system that does not
fork (``jvm/NoForkLocalFs.java``). Without the native Hadoop library,
stock ``RawLocalFileSystem`` spawns ``chmod`` for every file and directory
it creates and ``readlink`` for every checkpoint rename. Measured on a
4-CPU VM, a 100-event CDC epoch with two parquet routes and a DLQ (the
``cdc_trickle`` shape in ``perfbench/``) spawned about 101 processes: 52
for the ``table=``-partitioned sink, 30 for the checkpoint's offsets,
commits and sources logs, and 8 each for the other two sinks. Each spawn
cost about 2.1 ms of wall time and 2.2 ms of CPU inside the JVM, about a
third of the epoch. The shim applies the same modes and answers the same link probes
through ``java.nio.file``; the ``.crc`` checksums, their check on read and
the checkpoint's create-then-rename are unchanged.

The shim ships in the project jar with every other ``jvm/*.java``
(``EpochFiles``, the CDC epoch's one file write). The jar is compiled once
per checkout with ``javac`` against pyspark's ``jars/`` and put on the
driver class path, which in local mode is every task's class path too.
Without ``javac`` the session is the stock one, and every CDC sink writes
on its own.

The same shim replaces a file on overwrite instead of truncating it in
place. Each append into an existing parquet directory rewrites its
``_SUCCESS`` marker, and stock opened the marker's 8-byte ``.crc`` with
``O_TRUNC``; on ext4 that truncate of a recently written file blocks for
45-90 ms, against about 0.13 ms to unlink the file and create it again.
In the ``cdc_trickle`` shape it held the ``table=``-partitioned sink for
about 86 ms between its job's end and its SQL execution's end (3 ms once
replaced), and that sink's write went from about 145 ms to about 60 ms
per epoch. A symlink is still written through, as stock.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import hashlib
import logging
import os
import subprocess
import tempfile
import zipfile

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# Defaults sized for the local[32] / 128 GiB test container. On a real
# cluster, shuffle partitions should be ~2-3x total executor cores (or left
# to AQE's coalescing with a high initial value); locally we pin to cores.
_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "psql_streamer_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Every config here is load-bearing at scale:

    - AQE on: runtime coalescing of small shuffle partitions, skew-join
      splitting, and dynamic join-strategy switching. At 100 TB this is
      what converts a bad static plan into a survivable one.
    - ``spark.sql.shuffle.partitions``: initial value only (AQE coalesces
      down); locally = cores so a 600k-row bench doesn't schedule 200 tasks.
    - Arrow on: every pandas_udf / applyInPandas / toPandas transfer is
      columnar batches instead of pickled rows.
    - UTC session timezone: parquet timestamps compare bit-identically with
      the DuckDB oracle (duckdb is UTC-naive).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{_LOCAL_CPUS}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(_LOCAL_CPUS)),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast threshold 64 MiB (default 10 MiB): a multi-dim star
        # join like TPC-H q9 shuffles the FACT table once per
        # non-broadcast dim — at the sf100 decade (600M-row lineitem)
        # the default threshold left the %red%-filtered part (2.6M rows,
        # ~40 MB) and supplier⋈nation (1M rows, ~35 MB) as sort-merge
        # sides, so lineitem crossed the wire three times and the shuffle
        # working set fell out of page cache (measured: q9 213 s cold /
        # 91.8 s warm; with 64 MiB it is 22.6 s — one fact shuffle).
        # Memory math: the threshold compares COMPRESSED on-disk bytes
        # (parquet file-size stats), and a planned broadcast is NOT
        # demoted by AQE at runtime — AQE only promotes shuffle joins
        # whose measured size turns out small. A 64 MiB parquet dim can
        # expand ~3-5x as an in-memory hashed relation (~200-320 MB),
        # which must fit the driver and every executor; that is within
        # the multi-GB heaps this engine assumes (128 GiB local; any
        # sane cluster executor), but a dim that outgrows the threshold
        # on DISK (true TPC-H part at 100 TB) is planned as a shuffle
        # join from the start — the fallback is the planner's static
        # size estimate, not a runtime demotion.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Testdata timestamps are written without isAdjustedToUTC; read
        # them as plain TIMESTAMP (UTC session) rather than TIMESTAMP_NTZ
        # so the whole builtin surface (unix_millis, to_utc_timestamp, ...)
        # and the UTC-naive DuckDB oracle see one uniform type.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Split small inputs across all cores: with the default 128 MiB
        # maxPartitionBytes a 10 MiB bench file scans in ONE task and the
        # whole partial-aggregate runs single-threaded. minPartitionNum is
        # a minimum hint — at cluster scale (thousands of files) it is
        # already satisfied and changes nothing.
        .config("spark.sql.files.minPartitionNum", str(int(_LOCAL_CPUS)))
        # OptimizeJsonExprs rewrites every from_json(...).field access
        # into its OWN single-field parse — a win when a query touches 1
        # field of a wide document, an anti-optimization for a CDC engine
        # whose decode uses EVERY envelope field: the wal2json decoder's
        # ~12 field references became 5-6 DISTINCT narrow parses per row
        # (distinct schemas defeat codegen subexpression elimination),
        # measured 140.1 s vs 38.9 s for 24M events at the 300x sweep
        # (sf10: 15-16 s either way — the blow-up only shows once the
        # re-tokenization allocations dominate). With the rule off, the
        # repeated references stay IDENTICAL wide parses and codegen CSE
        # evaluates the parse once per row. Results are bit-identical;
        # the engine's single-field JSON probes use get_json_object,
        # which this rule does not touch.
        .config("spark.sql.optimizer.enableJsonExpressionOptimization", "false")
        .config("spark.ui.enabled", "false")
        # local[N] runs every task thread inside the driver JVM, so this
        # heap is the whole cluster's memory: 8g across 32 task slots was
        # 250 MiB per slot — a fraction of any real executor's per-core
        # share, and the 30x sweep OOM'd on it. 32g ~ 1 GiB/slot, in line
        # with a production 4-8 cores/4-8 GiB executor shape, while still
        # leaving ~90 GiB of the test container for Python workers + OS.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "32g"))
    )
    # Scale-dependent overrides stay parameterised (optimization-guide
    # discipline: local defaults keep the bench comparable, production
    # values ride in per-deployment): SPARK_GRAFT_EXTRA_CONF takes
    # `key=value;key=value` pairs applied after the defaults above, so a
    # cluster profile (or an A/B experiment) can adjust shuffle/compression
    # /join knobs without editing code. Explicit extra_conf still wins.
    # Builder-time only: when getOrCreate returns an ALREADY-RUNNING
    # session these pairs do not apply — restart the session to change
    # static confs. Tokens without '=' are skipped with a warning rather
    # than silently becoming config(key, "") (r16 advice).
    overrides: dict[str, str] = {}
    env_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    for pair in filter(None, (p.strip() for p in env_extra.split(";"))):
        k, sep, v = pair.partition("=")
        if not sep:
            log.warning("SPARK_GRAFT_EXTRA_CONF token %r has no '=', skipped", pair)
            continue
        overrides[k.strip()] = v.strip()
    overrides.update(extra_conf or {})
    if (master or "local").startswith("local"):
        overrides = _with_local_fs(overrides)
    for k, v in overrides.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
LOCAL_FS = "psqlstreamer.NoForkLocalFs$Local"
LOCAL_ABSTRACT_FS = "psqlstreamer.NoForkLocalFs$Fs"
EPOCH_FILES = "psqlstreamer.EpochFiles"


def _with_local_fs(conf: dict[str, str]) -> dict[str, str]:
    """``conf`` plus the project jar (``jvm/*.java``) on the driver class
    path, and the fork-free local file system as the two ``file`` scheme
    keys unless the caller set them. Unchanged when the jar cannot be
    built, or when the JVM is already up without it (its class path is
    fixed at launch)."""
    jar = _project_jar()
    if jar is None or not _jvm_can_load(LOCAL_FS):
        return conf
    out = dict(conf)
    cp = out.get("spark.driver.extraClassPath")
    out["spark.driver.extraClassPath"] = f"{cp}{os.pathsep}{jar}" if cp else jar
    out.setdefault("spark.hadoop.fs.file.impl", LOCAL_FS)
    out.setdefault("spark.hadoop.fs.AbstractFileSystem.file.impl", LOCAL_ABSTRACT_FS)
    return out


def _jvm_can_load(cls: str) -> bool:
    """True before the JVM starts, else whether it can load ``cls``."""
    jvm = SparkContext._jvm
    if jvm is None:
        return True
    try:
        jvm.java.lang.Class.forName(cls)
        return True
    except Exception:
        return False


def _jar_key(sources: list[str], jars: list[str]) -> str:
    """The project jar's cache key: every source's name and bytes, and the
    name of every jar it compiles against."""
    h = hashlib.sha256()
    for src in sorted(sources):
        with open(src, "rb") as f:
            h.update(os.path.basename(src).encode() + b"\0" + f.read() + b"\0")
    for jar in sorted(jars):
        h.update(os.path.basename(jar).encode() + b"\0")
    return h.hexdigest()


@functools.cache
def _project_jar() -> str | None:
    """Every ``jvm/*.java`` compiled into one jar on first use, against
    pyspark's ``jars/``. The jar is keyed on ``_jar_key`` and cached in
    ``jvm/.build`` (or the temp dir when the package is read-only). A build
    into ``jvm/.build`` deletes the jars of older sources there; the temp
    dir is shared with other checkouts, so its jars stay. None, after one
    warning, when ``javac`` is missing or the compile fails."""
    jars = sorted(glob.glob(os.path.join(
        os.path.dirname(pyspark.__file__), "jars", "*.jar")))
    if not jars:
        log.warning("no jars in pyspark; stock local file system")
        return None
    sources = sorted(glob.glob(os.path.join(_JVM_DIR, "*.java")))
    name = f"psqlstreamer-{_jar_key(sources, jars)[:16]}.jar"
    dirs = [os.path.join(_JVM_DIR, ".build"),
            os.path.join(tempfile.gettempdir(), "psql_streamer_spark-jvm")]
    for d in dirs:
        if os.path.exists(os.path.join(d, name)):
            return os.path.join(d, name)
    build = next((d for d in dirs if _writable(d)), None)
    if build is None:
        log.warning("no writable dir for the project jar; stock local file system")
        return None
    java_home = os.environ.get("JAVA_HOME")
    javac = os.path.join(java_home, "bin", "javac") if java_home else "javac"
    try:
        with tempfile.TemporaryDirectory(dir=build) as tmp:
            # --release 17: the class files must load on the JVM Spark runs,
            # however new the javac that compiles them; -proc:none: no
            # annotation processor scan over the class path
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-proc:none", "-d", tmp,
                 "-cp", os.path.join(os.path.dirname(jars[0]), "*"), *sources],
                check=True, capture_output=True, text=True,
            )
            part = os.path.join(tmp, name)
            with zipfile.ZipFile(part, "w") as z:
                for cls in glob.glob(os.path.join(tmp, "psqlstreamer", "*.class")):
                    z.write(cls, os.path.relpath(cls, tmp))
            os.replace(part, os.path.join(build, name))
    except (OSError, subprocess.CalledProcessError) as e:
        log.warning("cannot build the project jar (%s); stock local file system",
                    getattr(e, "stderr", None) or e)
        return None
    if build == dirs[0]:
        _drop_stale_jars(build, name)
    return os.path.join(build, name)


def _drop_stale_jars(build: str, keep: str) -> None:
    """Delete every project jar in ``build`` but ``keep``, the legacy
    ``noforklocalfs-*.jar`` included."""
    for pattern in ("psqlstreamer-*.jar", "noforklocalfs-*.jar"):
        for jar in glob.glob(os.path.join(build, pattern)):
            if os.path.basename(jar) != keep:
                with contextlib.suppress(OSError):
                    os.remove(jar)


def _writable(d: str) -> bool:
    try:
        os.makedirs(d, exist_ok=True)
    except OSError:
        return False
    return os.access(d, os.W_OK)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
