"""SparkSession builder tuned for this engine.

Local mode for tests; the configs are chosen to also be sane defaults on a
real cluster (AQE on, Arrow on, shuffle partitions sized explicitly).

The driver JVM starts from a dynamic AppCDS (class-data-sharing) archive of
the classes that an earlier session loaded, so most of Spark's classes are
mapped instead of loaded and verified. The archive is built once per host
and kept in `${XDG_CACHE_HOME:-~/.cache}/tsgen/cds/<key>/`, where the key
covers the Java runtime and the name, size and mtime of every jar in
`$SPARK_HOME/jars`. A session that finds no complete archive there starts
as before plus `-XX:ArchiveClassesAtExit` (Java 17 has no
`-XX:+AutoCreateSharedArchive`); an atexit hook waits for that JVM and
publishes the file only when the JVM exited 0, with its size in the file
name, so a truncated archive (which crashes Java 17.0.20 with SIGBUS) is
never mapped. CDS refuses a non-empty directory on the classpath and Spark
puts `$SPARK_CONF_DIR` there, so the archive is used only when the host's
conf directory holds nothing but `*.template` files, and `SPARK_CONF_DIR`
then points at an empty `conf/` in the cache entry. Any other host (real
conf files, an unwritable cache, no `java` found) starts as before. On a
4-vCPU host, `get_spark` fell from 4.6-6.2 s to 2.4 s, and the building
run's JVM takes about 10 s longer to exit (PLANS §5). The JVM's
unified-logging warnings go to stderr, so a stale archive's warning never
reaches a caller that reads stdout. Delete the cache directory to rebuild
the archive.

Python workers start from `tsgen.worker_daemon` (`spark.python.daemon.module`)
instead of `pyspark.daemon`. pyspark's worker runs
`importlib.invalidate_caches()` before every task, and on CPython < 3.13 that
makes each cached zip importer re-read its archive's directory: 16 importers
over pyspark.zip (1,328 entries) and 2 over the spark-core jar. Timed inside
the workers of a 4-task session (CPython 3.11.7, 4 vCPUs), one invalidate
cost 159-405 ms per task; with the daemon module it costs 0.15-2.1 ms, and a
trivial 4-task mapInPandas job fell from 0.555 to 0.270 s (median of 10;
PLANS §5).
CPython 3.13 reads a zip directory lazily (16 importers: about 0.01 ms per
invalidate against 100-180 ms on 3.11.7 and 3.12.1, timed outside Spark), so
there the daemon module is redundant but harmless. Every Python worker now
imports `tsgen`, so the directory that holds it goes on the workers'
PYTHONPATH, and a UDF works from any working directory.

The driver heap defaults to half of the host's memory, at most 16g;
`TSGEN_DRIVER_MEM` overrides it.
"""
from __future__ import annotations

import atexit
import hashlib
import os
import shutil
from pathlib import Path

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

# the directory that holds the tsgen package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the JVM's default log config writes warnings to stdout
_JVM_LOG = "-Xlog:all=off:stdout -Xlog:all=warning:stderr"
# each of these adds a directory or jar to the driver's classpath
_CLASSPATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")


def driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """`TSGEN_DRIVER_MEM`, else half of MemTotal, at most 16g."""
    if "TSGEN_DRIVER_MEM" in os.environ:
        return os.environ["TSGEN_DRIVER_MEM"]
    with open(meminfo) as fh:
        total_kb = next(int(line.split()[1]) for line in fh if line.startswith("MemTotal:"))
    return f"{min(total_kb // 2048, 16 * 1024)}m"


def _cds_entry() -> Path | None:
    """This host's archive cache directory, or None when the driver's
    classpath would hold more than Spark's jars and an empty conf dir."""
    if any(os.environ.get(k) for k in _CLASSPATH_ENV):
        return None
    spark_home = Path(_find_spark_home())
    conf = Path(os.environ.get("SPARK_CONF_DIR") or spark_home / "conf")
    if conf.is_dir() and any(not p.name.endswith(".template") for p in conf.iterdir()):
        return None
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if not java or not os.path.exists(java):
        return None
    java = os.path.realpath(java)
    modules = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules"))
    key = [java, modules.st_size, modules.st_mtime_ns]
    for jar in sorted((spark_home / "jars").iterdir()):
        st = jar.stat()
        key += [jar.name, st.st_size, st.st_mtime_ns]
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return Path(cache, "tsgen", "cds", hashlib.sha256(repr(key).encode()).hexdigest()[:16])


def _published(entry: Path) -> Path | None:
    """The complete archive in `entry`: `driver-<bytes>.jsa` of that size."""
    for p in entry.glob("driver-*.jsa"):
        if p.stat().st_size == int(p.stem.split("-")[1]):
            return p
    return None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _publish(proc, entry: Path, tmp: Path) -> None:
    """Let the dumping JVM exit, then publish its archive if it exited 0."""
    sc = SparkContext._active_spark_context
    if sc is not None:  # else its accumulator server reports the JVM's exit
        sc.stop()
    if proc.stdin and not proc.stdin.closed:
        proc.stdin.close()  # the gateway exits on EOF
    ok = proc.wait() == 0 and tmp.is_file()
    try:
        if ok:
            for old in entry.glob("driver-*.jsa"):
                old.unlink()
            tmp.rename(entry / f"driver-{tmp.stat().st_size}.jsa")
        else:
            tmp.unlink(missing_ok=True)
    except OSError:
        pass


def _cds_start() -> tuple[Path, str, Path | None] | None:
    """Set up the archive cache for a JVM about to start: (entry, its JVM
    flag, the temp file it dumps into or None), or None when this start
    cannot use an archive."""
    try:
        entry = _cds_entry()
        if entry is None:
            return None
        (entry / "conf").mkdir(parents=True, exist_ok=True)
        for t in entry.glob("driver.*.tmp"):  # left by a JVM killed mid-dump
            if not _alive(int(t.name.split(".")[1])):
                t.unlink()
        archive = _published(entry)
        if archive is not None:
            return entry, f"-XX:SharedArchiveFile={archive}", None
        if not os.access(entry, os.W_OK):
            return None
        tmp = entry / f"driver.{os.getpid()}.tmp"
        return entry, f"-XX:ArchiveClassesAtExit={tmp}", tmp
    except (OSError, ValueError):
        return None


def get_spark(app_name: str = "tsgen", shuffle_partitions: int | None = None) -> SparkSession:
    # SPARK_GRAFT_CPUS overrides; otherwise use the cores this process may run on
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.daemon.module", "tsgen.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # stage progress bars would interleave with callers' stderr lines
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", "/tmp/tsgen-warehouse")
        # events.parquet is TIMESTAMP(NANOS). Where Spark <= 4.0 honours this
        # conf, nanos read as long (io.read_table converts ts DIV 1000 →
        # timestamp); Spark 4.1 ignores it and reads TIMESTAMP_NTZ. Set at
        # build time so no code path can touch the file before the conf exists.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # only a session that launches its own JVM can choose how it starts
    cds = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds = _cds_start()
    if cds is None:
        spark = builder.getOrCreate()
    else:
        entry, flag, tmp = cds
        builder.config("spark.driver.extraJavaOptions", f"{_JVM_LOG} {flag}")
        conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = str(entry / "conf")
        try:
            spark = builder.getOrCreate()
        finally:
            if conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = conf_dir
        if tmp is not None:
            atexit.register(_publish, SparkContext._gateway.proc, entry, tmp)
    spark.sparkContext.setLogLevel("WARN")
    return spark
