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
Spark's jars. The call that launches it therefore starts it from a static
AppCDS archive of those classes (JDK 17+): pre-parsed, pre-linked class
metadata mapped from a file under ``$XDG_CACHE_HOME/steam-spark/`` (default
``~/.cache/steam-spark/``). The first launch that finds none lists the
classes it loads, and a separate ``java -Xshare:dump`` builds the archive
from that list. It holds class metadata derived from the JDK and the jars,
keyed by both and by the heap's compressed-oops mode, never data or
results; deleting the directory resets it.

A new session also runs every ``SparkSessionExtensionsProvider`` it finds
on the class path. Spark's jars hold one, MLlib's: it registers three
internal functions (``vector_to_array``, ``array_to_vector`` and
``aggregate_metrics``), and the ``TypeTag``s of their UDFs initialize
Scala's runtime reflection, about 0.3 s of a 1 s start-up, for functions
nothing here calls. The session skips such providers
(``spark.sql.extensions.test.loadFromCp=false``; ``"true"`` in
``extra_conf`` restores them, and ``spark.sql.extensions`` is unaffected).
The launch that records the class archive still loads them before its
dump, so a later query that needs Scala reflection maps it from the
archive.

Spark's execution memory comes in pages (``spark.buffer.pageSize``), and a
task's sort, aggregation map or broadcast relation takes a whole one even
for a few rows. Spark sizes them from the heap (16 MB under a 3 GB heap, 64
MB under 10 GB), and the old generation keeps what they held. The session
sets the smallest page whose 8,192-entry page table still covers the
unified memory region of the heap it resolves, 1 MB up to about 14 GB, so
a task reserves memory in proportion to what it holds and one task can
still take the whole pool. A ``spark.buffer.pageSize`` in ``extra_conf``
wins.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shlex
import shutil
import subprocess
from typing import NamedTuple

from py4j.protocol import Py4JError
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from .fsutil import exclusive_flock

#: hashed into the class archive's key, so that no checkout maps an archive
#: of another format (the dynamic archives of older checkouts)
_ARCHIVE_FORMAT = "static-classlist"
_SIZE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
#: pages a task can hold at once (TaskMemoryManager's page table); a task
#: that fills it fails with "Have already allocated a maximum of 8192 pages"
_PAGE_TABLE = 8192


def get_spark(
    app_name: str = "steam-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Parameters default from env: ``SPARK_GRAFT_CPUS`` controls local
    parallelism (default ``os.cpu_count()``, or 8 if that is unknown), and
    ``SPARK_DRIVER_MEMORY`` the driver heap (default :func:`driver_heap_mb`).
    The call that launches the JVM starts it from the class archive (see
    the module docstring), and creates the archive once the session is up
    if none exists.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    extra_conf = extra_conf or {}
    driver_memory = extra_conf.get(
        "spark.driver.memory",
        os.environ.get("SPARK_DRIVER_MEMORY", f"{driver_heap_mb()}m"),
    )

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
        # space for the OS and Python workers (driver_heap_mb).
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
        # Broadcast threshold: dims (region/nation/supplier-sized tables)
        # should always broadcast; 64 MB is safe with a driver heap of
        # 1 GB or more.
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
        # No session extensions from the class path (module docstring).
        .config("spark.sql.extensions.test.loadFromCp", "false")
    )
    page = _page_size_bytes(driver_memory, extra_conf.get("spark.executor.memory"))
    if page is not None:
        # pages sized to the page table, not to the heap (module docstring)
        builder = builder.config("spark.buffer.pageSize", f"{page >> 20}m")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    # Decided before launch, and only by the call that launches the JVM:
    # a JVM already running keeps the options it started with.
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = (
        _plan_class_archive(extra_conf.get("spark.driver.extraClassPath", ""), driver_memory)
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
        spark.sparkContext.setLogLevel("WARN")
        if archive is not None and archive.create:
            _dump_class_archive(spark, archive)
    finally:
        if archive is not None:
            del os.environ["SPARK_CONF_DIR"]
            if archive.create:
                _remove(archive.class_list)
    return spark


def driver_heap_mb(max_mb: int = 48 << 10) -> int:
    """The default driver heap: ``max_mb``, or five eighths of the host's
    memory where that is less. The rest is left to the JVM's off-heap
    memory, the Python workers and the OS: a heap larger than the host is
    bounded by the kernel's out-of-memory killer rather than by Java."""
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return min(max_mb, host_mb * 5 // 8)


def _page_size_bytes(driver_memory: str, executor_memory: str | None = None) -> int | None:
    """The memory page (``spark.buffer.pageSize``) for a heap: the smallest
    power of two of at least 1 MB whose ``_PAGE_TABLE`` pages cover Spark's
    unified memory region, ``0.6 × (heap − 300 MB)``, so one task can still
    take the whole execution pool. The heap is the larger of the two sizes
    given; None, to keep Spark's default, when either does not parse."""
    heaps = [_heap_bytes(m) for m in (driver_memory, executor_memory) if m is not None]
    if None in heaps:
        return None
    unified = 0.6 * (max(heaps) - (300 << 20))
    page = 1 << 20
    while _PAGE_TABLE * page < unified:
        page <<= 1
    return page


class _ClassArchive(NamedTuple):
    path: str
    java: str
    #: the empty directory the launch uses as SPARK_CONF_DIR
    conf_dir: str
    #: the launch's ``spark.driver.memory``; the dump runs with the same
    #: heap, so the archive is of the launch's compressed-oops mode
    driver_memory: str
    #: True: this launch lists its classes and dumps the archive
    create: bool

    @property
    def class_list(self) -> str:
        """Where a creating launch lists the classes it loads."""
        return f"{self.path}.{os.getpid()}.classlist"

    @property
    def java_options(self) -> str:
        # -Xlog:cds*=off: the JVM's stdout is this process's stdout, where
        # an archive the JVM declines logs hundreds of warnings
        if self.create:
            return f"-XX:DumpLoadedClassList={self.class_list} -Xlog:cds*=off"
        return f"-XX:SharedArchiveFile={self.path} -Xlog:cds*=off"


def _plan_class_archive(extra_class_path: str, driver_memory: str) -> _ClassArchive | None:
    """How the launching call uses the class archive, or None to start the
    JVM exactly as without one.

    The archive records the launch class path, and a dump fails on a
    non-empty directory there. Its first entry is the conf directory, so
    the launch points ``SPARK_CONF_DIR`` at an empty directory, which is
    only done when the user has not set it and ``$SPARK_HOME/conf`` holds
    only ``*.template`` files, so Spark would read nothing there anyway.
    A non-empty directory among the entries the launcher takes from the
    environment, ``PYSPARK_SUBMIT_ARGS`` or ``extra_class_path`` would fail
    every dump, so it skips the archive too, rather than record on every
    launch.

    A JVM maps only an archive dumped in its own compressed-oops mode,
    which its heap decides (``driver_memory``, a ``-Xmx`` size): each
    mode has an archive of its own."""
    heap = _heap_bytes(driver_memory)
    if heap is None or "SPARK_CONF_DIR" in os.environ:
        return None
    entries = [extra_class_path, *_submit_class_path()] + [
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
    # compressed oops address at most 32 GB of heap
    mode = "coops" if heap < 32 << 30 else "nocoops"
    key = hashlib.sha256(f"{_ARCHIVE_FORMAT}\0{mode}\0{java_home}\0{version}\0".encode())
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
    path = os.path.join(cache, f"spark-classes-{mode}-{key.hexdigest()[:20]}.jsa")
    create = not os.path.exists(path)
    # an existing archive is used from a read-only cache too
    if create and not os.access(cache, os.W_OK):
        return None
    return _ClassArchive(path, java, conf_dir, driver_memory, create)


def _submit_class_path() -> list[str]:
    """The driver class-path entries in ``PYSPARK_SUBMIT_ARGS``, given as
    ``--driver-class-path`` or ``--conf spark.driver.extraClassPath=``
    (each also as ``--opt=value``), the two forms spark-submit reads."""
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    out = []
    for opt, value in zip(args, args[1:] + [""]):
        if "=" in opt and opt.startswith("--"):
            opt, value = opt.split("=", 1)
        if opt == "--driver-class-path":
            out.append(value)
        elif opt in ("--conf", "-c") and value.startswith("spark.driver.extraClassPath="):
            out.append(value.split("=", 1)[1])
    return out


def _heap_bytes(size: str) -> int | None:
    """Bytes of a ``-Xmx`` size such as ``4g`` or ``10043m`` (the launcher
    passes ``spark.driver.memory`` to ``-Xmx`` as it is), or None."""
    m = re.fullmatch(r"(\d+)([kmgt]?)", size.lower())
    return int(m[1]) * _SIZE_UNITS[m[2]] if m else None


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


def _remove(path: str) -> None:
    with contextlib.suppress(FileNotFoundError):
        os.remove(path)


def _load_extension_providers(spark: SparkSession) -> None:
    """Apply every ``SparkSessionExtensionsProvider`` on the class path to
    a throwaway ``SparkSessionExtensions``: it loads the classes the
    session skipped, so that the recording launch lists them and a later
    launch maps them from the archive when a query first needs them. A
    failure ends the loading; the dump archives what was loaded."""
    jvm = spark._jvm
    with contextlib.suppress(Py4JError):
        loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
        provider = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.SparkSessionExtensionsProvider", False, loader
        )
        providers = jvm.java.util.ServiceLoader.load(provider, loader).iterator()
        extensions = jvm.org.apache.spark.sql.SparkSessionExtensions()
        while providers.hasNext():
            providers.next().apply(extensions)


def _dump_class_archive(spark: SparkSession, archive: _ClassArchive) -> None:
    """Dump the classes the launch listed to ``archive.path``.

    A static dump, in a JVM of its own on the launch's class path and
    heap: it loads and links every listed class itself, where a dynamic
    dump of the running JVM archives only the classes already linked
    (64% of the classes a launch loads, against 85%). Its exit code is
    the success signal, and a failed dump leaves the session's JVM
    untouched. The dump goes to a temp file, published by ``os.replace``
    only on success: a JVM mapping a truncated archive dies of SIGBUS.
    Any failure leaves no archive, and the next launch records again."""
    class_path = spark._jvm.java.lang.System.getProperty("java.class.path")
    tmp = f"{archive.path}.{os.getpid()}.tmp"
    try:
        with exclusive_flock(archive.path + ".lock"):
            if os.path.exists(archive.path):
                return  # a concurrent launch created it first
            _load_extension_providers(spark)
            done = subprocess.run(
                [archive.java, "-Xshare:dump", f"-Xmx{archive.driver_memory}",
                 f"-XX:SharedClassListFile={archive.class_list}",
                 f"-XX:SharedArchiveFile={tmp}", "-cp", class_path],
                stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL, timeout=600,
            )
            if done.returncode == 0:
                os.replace(tmp, archive.path)
    except (OSError, subprocess.SubprocessError):
        pass  # run unshared
    finally:
        _remove(tmp)
