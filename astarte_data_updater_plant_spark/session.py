"""SparkSession factory tuned for the local test/bench harness.

Defaults follow the cluster-scale design notes: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), shuffle
partitions sized to the machine instead of the 200 default, UTC session
timezone so timestamps compare bit-for-bit with the DuckDB oracle, and
Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).

The driver JVM starts from a class-data-sharing archive when one exists
for this JDK, jar set and driver memory (see ``archive_key``): the JVM
then maps the parsed and verified classes of Spark's start-up instead of
loading them from the jars, which halves a cold set-up. A process that
launched without one builds it at exit, once, in a separate recording
JVM (``build_archive``); until then the session starts exactly as it
would with no archive code at all.
"""

from __future__ import annotations

import atexit
import contextlib
import glob
import hashlib
import os
import shutil
import signal
import subprocess
import sys

from pyspark.sql import SparkSession

#: JVM logging goes to stderr: while it dumps an archive, or cannot map
#: one, HotSpot prints ``[cds]`` warnings on stdout, where a caller that
#: reads its child's stdout (a JSON last line) would take them for output
_QUIET_JVM = "-Xlog:disable -Xlog:all=warning:stderr"

#: the recording process: the launch path of ``get_spark`` with the dump
#: flag, the registry, and one small job over the JVM's generic paths
#: (parquet write and read, a shuffle aggregate, an Arrow collect); it
#: exits with the recording JVM's exit code
_RECORD = """
import sys
from astarte_data_updater_plant_spark.session import _record
sys.exit(_record(sys.argv[1]))
"""

#: seconds a build may take before it is killed and marked failed; a
#: build takes ~40 s on 4 vCPUs, and the process that waits for it at
#: exit should still end well inside a caller's two-minute timeout
_BUILD_TIMEOUT_S = 90


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))


def _driver_memory() -> str:
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g")


def get_spark(app_name: str = "astarte_data_updater_plant_spark") -> SparkSession:
    """Build (or reuse) the session.

    On a real cluster the same configs apply unchanged except
    ``master``; nothing here assumes single-node execution.
    """
    return _get_spark(app_name)


def _get_spark(app_name: str, record: str | None = None) -> SparkSession:
    """``get_spark``; with ``record`` set, the JVM it launches records
    its loaded classes into the archive file ``record`` at exit."""
    cpus = default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        # local-mode executors live in the driver JVM, so the 1g driver
        # default is the ENTIRE cluster memory; size it to the box (the
        # bench host has 128 GiB for 32 cores). Only effective at JVM
        # launch — a session created elsewhere first keeps its own.
        .config("spark.driver.memory", _driver_memory())
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE can only coalesce DOWN from the initial partition count,
        # never split a too-big shuffle: with initialPartitionNum left
        # at shuffle.partitions (=cpus), a 10x-data shuffle gets
        # 10x-sized partitions and SPILLS (measured: q199's r10 point
        # ran 19.6x its r1 time on 10x data purely from sort spill).
        # A high initial count + AQE coalescing is the scale-correct
        # posture: small shuffles still collapse to ~cpus partitions
        # via the 64 MB advisory size; big shuffles keep parallelism.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(cpus * 8),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # PySpark 4 wraps EVERY DataFrame API call with a call-site
        # capture for error enrichment (pyspark/errors/utils.py
        # _with_origin): a conf read + a PySparkCurrentOrigin.set/clear
        # round trip + a Python stack walk per call — ~3 extra py4j
        # RPCs on every Column/DataFrame operation. Plan construction
        # is single-threaded driver work (optimization guide SS7.3), and
        # the r13 interleaved A/B measured build time at 0.54-0.81x
        # with capture off on the plan-heavy queries (q170 0.65x
        # median, q126 0.66x best; /tmp ab_dfdebug_build probe, 4
        # alternating fresh-JVM reps). Static conf, so it must be set
        # here at build time.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Untagged parquet timestamp[us] must read as TIMESTAMP, not
        # TIMESTAMP_NTZ: the session TZ is UTC so the instants are
        # identical, and NTZ breaks unix_micros/epoch arithmetic.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
    )
    if SparkSession.getActiveSession() is None:
        builder = builder.master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]"))
    key = _archive_key_for_launch()
    jsa = key and os.path.join(archive_dir(), f"{key}.jsa")
    if key is None:
        spark = builder.getOrCreate()
    elif record is not None:
        spark = _launch_with(builder, f"-XX:ArchiveClassesAtExit={record}")
    elif os.path.exists(jsa):
        spark = _launch_with(builder, f"-XX:SharedArchiveFile={jsa}")
    else:
        spark = builder.getOrCreate()
        if not os.path.exists(os.path.join(archive_dir(), f"{key}.failed")):
            atexit.unregister(_build_at_exit)
            atexit.register(_build_at_exit, key, os.getpid())
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _launch_with(builder, cds_flag: str) -> SparkSession:
    """Launch the driver JVM with ``cds_flag``, JVM logging on stderr,
    and an empty conf dir (the dump refuses a non-empty directory on the
    classpath, and an archive only maps under the classpath it was
    recorded with), then put ``os.environ`` back as it was."""
    conf_dir = os.path.join(archive_dir(), "conf")
    os.makedirs(conf_dir, exist_ok=True)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        return builder.config("spark.driver.extraJavaOptions", f"{cds_flag} {_QUIET_JVM}").getOrCreate()
    finally:
        if saved is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = saved


def archive_dir() -> str:
    """Where archives live: one per key, shared by every checkout."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "astarte_data_updater_plant_spark", "jvm")


def _java_home() -> str | None:
    """The ``java.home`` that ``spark-class`` will run: ``$JAVA_HOME``'s
    java, else the one on ``PATH``, with symlinks resolved."""
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    else:
        java = shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def archive_key(java_home: str, spark_home: str, driver_memory: str) -> str:
    """The archive's key, ``<install>-<memory>``: a hash of the JDK (its
    resolved home and its ``release`` file, which names the version)
    and of the name, size and mtime of every jar Spark puts on the
    classpath, then the driver memory, which decides compressed oops
    (an archive maps only under the mode it was recorded in)."""
    h = hashlib.sha256(f"{java_home}\0".encode())
    with contextlib.suppress(OSError), open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    for entry in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"\0{entry.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return f"{h.hexdigest()[:16]}-{''.join(c for c in driver_memory if c.isalnum())}"


def _archive_key_for_launch() -> str | None:
    """The archive key if this call launches a driver JVM whose
    classpath an archive can serve, else None: a JVM already runs (or
    the caller hands one over), a setting adds to the classpath, or the
    conf dir holds a real file (pointing Spark at an empty conf dir
    would drop it)."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    if any(os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")):
        return None
    submit_args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if any(opt in submit_args for opt in ("extraClassPath", "--driver-class-path", "extraJavaOptions")):
        return None
    java_home = _java_home()
    spark_home = _find_spark_home()
    if java_home is None or not os.path.isdir(os.path.join(spark_home, "jars")):
        return None
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if os.path.isdir(conf_dir) and any(not n.endswith(".template") for n in os.listdir(conf_dir)):
        return None
    return archive_key(java_home, spark_home, _driver_memory())


def _build_at_exit(key: str, pid: int) -> None:
    """At exit of the process that launched without an archive: stop its
    JVM, so the recording does not run beside it, then build."""
    if os.getpid() != pid:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.poll() is None:
        proc.stdin.close()  # the gateway JVM exits at end of its stdin
        proc.wait(timeout=60)
    build_archive(key)


def build_archive(key: str) -> str | None:
    """Build the archive for ``key`` unless it exists, failed before, or
    another live process builds it; returns the published path or None.

    A fresh interpreter records it (``_RECORD``) into
    ``<key>.<pid>.tmp``, which is renamed to ``<key>.jsa`` only after
    that interpreter and its JVM exited 0: a truncated archive does not
    fall back, it kills the JVM that maps it. A failed or timed-out
    build leaves ``<key>.failed`` and is not retried. Publishing deletes
    the files of other JDKs and jar sets; a JVM that has an archive
    mapped keeps it."""
    d = archive_dir()
    jsa = os.path.join(d, f"{key}.jsa")
    failed = os.path.join(d, f"{key}.failed")
    if os.path.exists(jsa) or os.path.exists(failed):
        return None
    lock = os.path.join(d, f"{key}.lock")
    try:
        os.makedirs(d, exist_ok=True)
        if not _take_lock(lock):
            return None
    except OSError:  # an unwritable cache: later sessions start as today
        return None
    tmp = os.path.join(d, f"{key}.{os.getpid()}.tmp")
    try:
        for stale in glob.glob(os.path.join(d, f"{key}.*.tmp")):
            os.remove(stale)
        pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pythonpath = os.pathsep.join(filter(None, (pkg_parent, os.environ.get("PYTHONPATH"))))
        env = dict(os.environ, PYTHONPATH=pythonpath)
        with open(os.path.join(d, f"{key}.log"), "w") as log:
            rec = subprocess.Popen(
                [sys.executable, "-c", _RECORD, tmp], env=env, cwd=d,
                stdin=subprocess.DEVNULL, stdout=log, stderr=log, start_new_session=True,
            )
            try:
                code = rec.wait(timeout=_BUILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                # the recording runs in its own process group: nothing
                # of it outlives the build, on a timeout or an interrupt
                with contextlib.suppress(ProcessLookupError):
                    os.killpg(rec.pid, signal.SIGKILL)
                rec.wait()
        if code == 0 and os.path.isfile(tmp) and os.path.getsize(tmp) > 0:
            os.replace(tmp, jsa)
            # another JDK or jar set's files are stale; another driver
            # memory's archive (the suite's and a job's) stays
            install = key.split("-")[0]
            for name in os.listdir(d):
                if name.endswith((".jsa", ".failed", ".log")) and not name.startswith(install):
                    with contextlib.suppress(OSError):
                        os.remove(os.path.join(d, name))
            return jsa
        with open(failed, "w") as fh:
            fh.write(f"recording exited with {code}\n")
        return None
    finally:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        os.remove(lock)


def _take_lock(lock: str) -> bool:
    """One build per key: create ``lock`` exclusively with this pid in
    it; a lock whose pid is dead is taken over."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(lock) as fh:
                    os.kill(int(fh.read().strip() or 0), 0)
                return False
            except (ProcessLookupError, ValueError):
                with contextlib.suppress(OSError):
                    os.remove(lock)
            except PermissionError:
                return False
            except FileNotFoundError:
                pass
            continue
        with os.fdopen(fd, "w") as fh:
            fh.write(str(os.getpid()))
        return True
    return False


def _record(tmp: str) -> int:
    """The recording process's body; returns the recording JVM's exit
    code."""
    import tempfile

    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from .plans.registry import queries_map

    spark = _get_spark("jvm_archive", record=tmp)
    queries_map()
    with tempfile.TemporaryDirectory(prefix="jvm_archive_") as scratch:
        path = os.path.join(scratch, "t")
        df = spark.range(100_000).selectExpr("id % 97 AS k", "id AS v", "CAST(id AS STRING) AS s")
        df.write.parquet(path)
        spark.read.parquet(path).groupBy("k").agg(F.sum("v"), F.max("s")).toPandas()
    spark.stop()
    gateway = SparkContext._gateway
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    return proc.wait()
