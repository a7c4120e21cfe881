"""SparkSession factory.

Local testing runs on ``local[N]`` (one JVM); production target is a large
multi-executor cluster, so every knob here is chosen to also make sense at
scale: AQE on (runtime coalesce + skew-join handling), shuffle partitions
sized to the parallelism at hand, Arrow enabled for the pandas-UDF paths,
and the session timezone pinned to UTC so timestamp semantics are
reproducible against external oracles (the reference keeps
``Asia/Ho_Chi_Minh`` only for date-string partition keys — see
``functions.scalars.date_partition_key``; cite reference utils/common.py:142-144).

A driver JVM spends most of its start-up loading and verifying classes from
Spark's jars. The call that launches it therefore starts it from a dynamic
AppCDS archive of those classes (JDK 17+): pre-parsed, pre-verified class
metadata mapped from a file under ``$XDG_CACHE_HOME/steam-spark/`` (default
``~/.cache/steam-spark/``), created once per host by the first launch that
finds none. It holds class metadata derived from the JDK and the jars, keyed
by both, never data or results; deleting the directory resets it.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .fsutil import exclusive_flock


def get_spark(
    app_name: str = "steam-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Parameters default from env: ``SPARK_GRAFT_CPUS`` controls local
    parallelism (default ``os.cpu_count()``, or 8 if that is unknown).
    The call that launches the JVM starts it from the class archive (see
    the module docstring), creating the archive first if none exists.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join splitting. At 100 TB
        # these matter more than any static setting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Match shuffle parallelism to available cores locally; AQE coalesces
        # down when partitions are tiny, so erring high is safe on a cluster.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Deterministic timestamp semantics vs external oracles.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for pandas_udf / mapInPandas / toPandas fast paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame debugging decorates EVERY DataFrame API
        # call with call-site capture: an UNCACHED `conf.get` py4j round
        # trip + a JVM origin set/clear pair + a Python stack walk per
        # call — measured ~3 ms per wrapped call, ~half the py4j traffic
        # of plan construction (round 12, guide §7.3 driver-overhead
        # class: corpus_store_suite's build alone dropped 4.95 s → 2.34 s
        # with it off). The only loss is the call-site line in SQL error
        # messages; the cost is per API CALL, not per row, so the win is
        # scale-independent (a 100 TB driver program builds the same
        # plans).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local mode: the driver is the only JVM; give it headroom but leave
        # space for the OS and Python workers (container has 128 GiB).
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        # Broadcast threshold: dims (region/nation/supplier-sized tables)
        # should always broadcast; 64 MB is safe with 48g driver.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let the planner choose shuffled-hash join when its size
        # conditions fit (guide §3.1/§9): SHJ skips both sort passes of a
        # sort-merge join and was measured faster on EVERY query of an
        # interleaved same-session A/B (8 join-heavy queries, min over 2
        # passes per arm: 18.69 s → 17.06 s; e.g. dim_star_denorm
        # 1.35→1.08, dedup_cross_corpus 8.31→7.61). This is a PLANNER
        # preference, not a forced hint — it still requires one side to
        # build a per-partition hash map within the planner's size
        # conditions and falls back to sort-merge otherwise, so at 100 TB
        # the big fact⋈fact joins keep the spill-graceful SMJ path.
        .config("spark.sql.join.preferSortMergeJoin", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    # Decided before launch, and only by the call that launches the JVM:
    # a JVM already running keeps the options it started with.
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = (
        _plan_class_archive((extra_conf or {}).get("spark.driver.extraClassPath", ""))
        if launches
        else None
    )
    if archive is not None:
        # defaultJavaOptions, so callers' extraJavaOptions stay theirs
        builder = builder.config("spark.driver.defaultJavaOptions", archive.java_options)
        # for the launch only: the JVM keeps it in its environment, this
        # process does not
        os.environ["SPARK_CONF_DIR"] = archive.conf_dir
    try:
        spark = builder.getOrCreate()
    finally:
        if archive is not None:
            del os.environ["SPARK_CONF_DIR"]
    spark.sparkContext.setLogLevel("WARN")
    if archive is not None and archive.create:
        _dump_class_archive(spark, archive)
    return spark


class _ClassArchive(NamedTuple):
    path: str
    java_home: str
    #: the empty directory the launch uses as SPARK_CONF_DIR
    conf_dir: str
    #: True: this launch records its classes and dumps the archive
    create: bool

    @property
    def java_options(self) -> str:
        # -Xlog:cds*=off: the JVM's stdout is this process's stdout, and a
        # dump (or an archive the JVM declines) logs hundreds of warnings there
        if self.create:
            return "-XX:+RecordDynamicDumpInfo -Xlog:cds*=off"
        return f"-XX:SharedArchiveFile={self.path} -Xlog:cds*=off"


def _plan_class_archive(extra_class_path: str) -> _ClassArchive | None:
    """How the launching call uses the class archive, or None to start the
    JVM exactly as without one.

    The archive records the launch class path, and a dump fails on a
    non-empty directory there. Its first entry is the conf directory, so
    the launch points ``SPARK_CONF_DIR`` at an empty directory, which is
    only done when the user has not set it and ``$SPARK_HOME/conf`` holds
    only ``*.template`` files, so Spark would read nothing there anyway.
    A non-empty directory among the entries the launcher takes from the
    environment or ``extra_class_path`` would fail every dump, so it
    skips the archive too, rather than record on every launch."""
    if "SPARK_CONF_DIR" in os.environ:
        return None
    entries = [extra_class_path] + [
        os.environ.get(v, "")
        for v in ("SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ]
    if any(_nonempty_dir(p) for e in entries for p in e.split(os.pathsep)):
        return None
    spark_home = _find_spark_home()
    conf = os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and not all(n.endswith(".template") for n in os.listdir(conf)):
        return None
    # spark-class runs $JAVA_HOME/bin/java, else the java on PATH
    java = (
        os.path.join(os.environ["JAVA_HOME"], "bin", "java")
        if os.environ.get("JAVA_HOME")
        else shutil.which("java")
    )
    jars = os.path.join(spark_home, "jars")
    if not java or not os.path.isfile(java) or not os.path.isdir(jars):
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    version = _java_version(java_home) or ""
    major = version.split(".")[0].split("-")[0]  # "17.0.20", "21-ea"
    if not major.isdigit() or int(major) < 17:
        return None
    key = hashlib.sha256(f"{java_home}\0{version}\0".encode())
    with os.scandir(jars) as entries:
        for e in sorted(entries, key=lambda e: e.name):
            st = e.stat()
            key.update(f"{e.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache"),
        "steam-spark",
    )
    conf_dir = os.path.join(cache, "empty-conf")
    try:
        os.makedirs(conf_dir, exist_ok=True)
    except OSError:  # unwritable cache
        return None
    if os.listdir(conf_dir):
        return None
    path = os.path.join(cache, f"spark-classes-{key.hexdigest()[:20]}.jsa")
    create = not os.path.exists(path)
    # an existing archive is used from a read-only cache too
    if create and not (
        os.access(cache, os.W_OK) and os.access(os.path.join(java_home, "bin", "jcmd"), os.X_OK)
    ):
        return None
    return _ClassArchive(path, java_home, conf_dir, create)


def _java_version(java_home: str) -> str | None:
    """``JAVA_VERSION`` from the JDK's ``release`` file."""
    try:
        with open(os.path.join(java_home, "release")) as f:
            for line in f:
                if line.startswith("JAVA_VERSION="):
                    return line.split("=", 1)[1].strip().strip('"')
    except OSError:
        pass
    return None


def _nonempty_dir(path: str) -> bool:
    return bool(path) and os.path.isdir(path) and bool(os.listdir(path))


def _dump_class_archive(spark: SparkSession, archive: _ClassArchive) -> None:
    """Dump the recording JVM's loaded classes to ``archive.path``.

    The dump goes to a temp file, published by ``os.replace`` only when
    ``jcmd`` succeeds: a JVM mapping a truncated archive dies of SIGBUS.
    Any failure leaves no archive, and the next launch records again."""
    jvm = spark._jvm
    system = jvm.java.lang.System
    # a non-empty directory on the class path makes the dump kill the JVM
    if any(map(_nonempty_dir, system.getProperty("java.class.path").split(os.pathsep))):
        return
    pid = jvm.java.lang.ProcessHandle.current().pid()
    tmp = f"{archive.path}.{pid}.tmp"
    try:
        with exclusive_flock(archive.path + ".lock"):
            if os.path.exists(archive.path):
                return  # a concurrent launch created it first
            # The JVM reports a finished dump on its System.out, which is
            # this process's stdout: capture it there instead. jcmd exits 0
            # even when the dump fails, so that report is the success signal.
            stdout, report = system.out, jvm.java.io.ByteArrayOutputStream()
            system.setOut(jvm.java.io.PrintStream(report, True))
            try:
                done = subprocess.run(
                    [os.path.join(archive.java_home, "bin", "jcmd"), str(pid),
                     "VM.cds", "dynamic_dump", tmp],
                    capture_output=True, timeout=300,
                )
            finally:
                system.setOut(stdout)
            if done.returncode == 0 and "Dynamic dump to file" in report.toString():
                os.replace(tmp, archive.path)
    except (OSError, subprocess.SubprocessError):
        pass  # run unshared
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
