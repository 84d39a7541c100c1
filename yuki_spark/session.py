"""SparkSession factory tuned for the yuki_spark engine.

Local testing runs on ``local[N]``; the same configuration is what we
would ship to a 1000-executor cluster: AQE on (with skew-join
handling), Arrow enabled for the few Pandas-UDF operators, and a
shuffle-partition count that AQE coalesces at runtime.

Relied-upon Spark 4.x defaults (verified on): runtime bloom-filter
join pruning (`spark.sql.optimizer.runtime.bloomFilter.enabled`) —
semi-join reduction of fact scans behind selective dim filters — and
dynamic partition pruning for partitioned layouts written by
io.sinks.
"""
from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import stat
import subprocess
import uuid
from collections.abc import Mapping
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# Launch settings that put anything besides the conf directory and
# <spark_home>/jars on the driver's classpath (SPARK_PREPEND_CLASSES:
# a source build's class directories, which a dumping JVM refuses):
# any of them declines the class-data-sharing archive (driver_cds).
_CLASSPATH_ENV = (
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
)
_CLASSPATH_ARGS = ("--jars", "--driver-class-path", "extraClassPath")
# A dump prints "Skipping ... Signed JAR" for janino's signed jar, and
# an archive that does not match is dropped with a warning; sharing
# stays at -Xshare:auto, so a mismatch only switches it off.
_CDS_QUIET = "-Xlog:cds=off -Xlog:cds+dynamic=off"


def get_spark(app_name: str = "yuki_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Respects ``SPARK_GRAFT_CPUS`` for local parallelism so bench and
    tests share one entry point. A call that launches the driver JVM
    launches it with the class-data-sharing archive (see
    :func:`driver_cds`).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cpus == "*" else max(int(cpus), 4)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); read as long, converted
        # to a microsecond timestamp in catalog.load (matches DuckDB's µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Spark 4 defaults inferTimestampNTZ=true, so µs-without-tz
        # parquet (orders/lineitem dates) would read as TIMESTAMP_NTZ
        # in a fresh session and as TIMESTAMP after the first events
        # load flipped the conf — an order-dependent schema. Pin it
        # off so every date column is a UTC instant from the start
        # (catalog.load repeats this for caller-provided sessions).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # Generated-class cache (static: read once per JVM). Spark keeps
        # 100 classes by default, but one pass over all 164 queries()
        # keys at sf0.001 compiles about 3,120 distinct classes and one
        # timed perfbench corpus pass about 300, so every repeated pass
        # recompiled (and re-interpreted until the JIT caught up) code
        # it had compiled before. 4096 holds the whole working set; it
        # costs about 24 MB more metaspace after an all-keys pass.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    cds = driver_cds(
        os.environ,
        _find_spark_home(),
        os.environ.get("PYSPARK_SUBMIT_ARGS", ""),
        SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ,
    )
    if cds is None:
        return builder.getOrCreate()
    # defaultJavaOptions go in front of a caller's extraJavaOptions
    builder.config("spark.driver.defaultJavaOptions", cds.options)
    os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]
    if cds.record is not None:
        atexit.register(_publish_archive, SparkContext._gateway.proc, cds)
    return spark


def private_dir(path: str) -> str | None:
    """``path``, created mode 0700 if missing, or None unless it is a
    real directory (``lstat``: a planted symlink does not pass) owned
    by this uid with no group or other permission bits."""
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.lstat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode) or st.st_uid != os.getuid() or st.st_mode & 0o077:
        return None
    return path


@dataclass(frozen=True)
class DriverCds:
    """How the driver JVM about to launch uses its class-data-sharing
    archive."""

    options: str  # spark.driver.defaultJavaOptions
    conf_dir: str  # SPARK_CONF_DIR for the launch: empty, at a fixed path
    archive: str  # where the archive for this JDK and jar set is published
    record: str | None  # temp file the JVM dumps to at exit; None: it maps ``archive``


def driver_cds(
    env: Mapping[str, str], spark_home: str, submit_args: str, gateway_running: bool
) -> DriverCds | None:
    """Driver JVM options for a JDK 17 dynamic AppCDS archive, or None
    to launch exactly as without one.

    Starting Spark's driver is mostly class loading and Scala
    reflection set-up over the same jars at every launch: perfbench's
    ``setup_s`` (launch, session, first job) has a median of 6.7-7.1 s
    on a 4-core VM without the archive and 3.9-4.1 s with it mapped.
    The first launch for a JDK and jar set records the classes it
    loads into a temp file as its JVM exits, and
    :func:`_publish_archive` renames that into place; every later
    launch maps it. The archive is checked
    against the launch classpath, so it is used only when that is
    exactly an empty conf directory plus ``<spark_home>/jars`` (a
    dumping JVM also refuses a non-empty classpath directory): when
    Spark's conf directory holds only templates, the launch points
    ``SPARK_CONF_DIR`` at an empty directory in the cache whose path
    never changes. It lives in ``$XDG_CACHE_HOME/yuki_spark`` (default
    ``~/.cache``), never the temp dir, which a run may point elsewhere
    and delete."""
    if (
        gateway_running
        or "SPARK_CONF_DIR" in env
        or any(env.get(v) for v in _CLASSPATH_ENV)
        or any(a in submit_args for a in _CLASSPATH_ARGS)
    ):
        return None
    try:
        if any(not n.endswith(".template") for n in os.listdir(os.path.join(spark_home, "conf"))):
            return None
    except FileNotFoundError:
        pass
    except OSError:
        return None
    key = _cds_key(env, spark_home)
    root = env.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cache = private_dir(os.path.join(root, "yuki_spark"))
    # the launcher splits the options string on whitespace and quotes
    if key is None or cache is None or re.search(r"[\s'\"\\]", cache):
        return None
    conf_dir = private_dir(os.path.join(cache, "conf"))
    if conf_dir is None or os.listdir(conf_dir):
        return None
    archive = os.path.join(cache, f"driver-{key}.jsa")
    if os.path.isfile(archive):
        return DriverCds(f"-XX:SharedArchiveFile={archive} {_CDS_QUIET}", conf_dir, archive, None)
    record = f"{archive}.{os.getpid()}-{uuid.uuid4().hex[:8]}.tmp"
    return DriverCds(f"-XX:ArchiveClassesAtExit={record} {_CDS_QUIET}", conf_dir, archive, record)


def _cds_key(env: Mapping[str, str], spark_home: str) -> str | None:
    """Archive key: the JDK's real path and ``release`` file (its
    version), plus the name, size and mtime of every jar; None when
    the JDK is unknown or older than 17."""
    java_home = env.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    try:
        java = os.path.realpath(java)
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as fh:
            release = fh.read()
        jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
        h = hashlib.sha256(java.encode() + b"\0" + release)
        for e in jars:
            st = e.stat()
            h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except (OSError, TypeError):
        return None
    version = re.search(rb'^JAVA_VERSION="(\d+)', release, re.M)
    if version is None or int(version.group(1)) < 17:
        return None
    return h.hexdigest()[:16]


def _publish_archive(proc: subprocess.Popen, cds: DriverCds) -> None:
    """At exit of the process that launched a recording JVM: let the
    JVM exit (it dumps its classes on the way out), then publish the
    dump by atomic rename if it exited with status 0, else delete it.
    A publish also drops archives of any other key, and the temp dumps
    of processes that died before they could publish theirs."""
    if proc.poll() is None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        ok = proc.wait(timeout=60) == 0
    except subprocess.TimeoutExpired:
        ok = False
    try:
        if not ok:
            os.unlink(cds.record)
            return
        os.replace(cds.record, cds.archive)
        for e in os.scandir(os.path.dirname(cds.archive)):
            dump = re.fullmatch(r"driver-\w+\.jsa\.(\d+)-\w+\.tmp", e.name)
            orphan = dump is not None and not _alive(int(dump.group(1)))
            if orphan or (e.name.endswith(".jsa") and e.path != cds.archive):
                os.unlink(e.path)
    except OSError:
        pass


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def launched_cds(spark: SparkSession) -> tuple[str, str] | None:
    """The class-data-sharing option this driver JVM was launched with,
    as (name, archive path): ``SharedArchiveFile`` (it maps the
    archive) or ``ArchiveClassesAtExit`` (it records one); None
    without either."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    for arg in bean.getInputArguments():
        name, _, path = arg.removeprefix("-XX:").partition("=")
        if name in ("SharedArchiveFile", "ArchiveClassesAtExit"):
            return name, path
    return None


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (cache misses of
    the codegen cache); the difference across a run is what it
    recompiled."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def cluster_profile(
    executors: int = 1000,
    cores_per_executor: int = 4,
) -> dict[str, str]:
    """The runtime-settable conf surface we'd ship to a large cluster
    (the 1000-executor deployment SURVEY §4 designs for), sized from
    the fleet shape instead of local[] defaults:

    - shuffle partitions at 2× total cores (waves of ~2 tasks/core),
      with AQE coalescing down when a stage's data doesn't need them
      and splitting skewed partitions up;
    - 64 MB broadcast threshold — dims and query-set build sides fit,
      fact/corpus tables never do, so fact⋈fact joins land on SMJ;
    - 128 MB advisory / 256 MB scan partitions so a 100 TB scan makes
      ~400k input splits (bounded task count) and shuffle blocks stay
      executor-memory-sized.

    Pure function → dict, so it works on a builder (`.config(conf=)`)
    or a live session (``session_profile`` in
    tests/test_scale_plans.py); every key here is
    runtime-settable by design — static confs (executor memory/count)
    belong to the submit layer, not the engine."""
    total_cores = executors * cores_per_executor
    return {
        "spark.sql.shuffle.partitions": str(2 * total_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            4 * total_cores
        ),
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(128 << 20),
        "spark.sql.autoBroadcastJoinThreshold": str(64 << 20),
        "spark.sql.files.maxPartitionBytes": str(256 << 20),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }
