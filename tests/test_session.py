"""The driver JVM's class archive, skipped session extensions, default
heap and memory page size (``session.get_spark``).

The first launch on a host lists the classes it loads, and a static dump in
a JVM of its own builds an AppCDS archive from that list under
``$XDG_CACHE_HOME/steam-spark/``; later launches of the same compressed-oops
mode map it. Each child here is a fresh process, so it launches its own
JVM, with ``XDG_CACHE_HOME`` pointed at the test's own directory."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

import pytest
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from steam_data_engineer_project_spark import session
from steam_data_engineer_project_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SENTINEL = "session-child-done"
#: perfbench's driver options
PERFBENCH_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xmn256m -XX:-UsePerfData"

CHILD = r"""
import json, os, sys
from steam_data_engineer_project_spark import session
from steam_data_engineer_project_spark.session import get_spark

report, java_opts = sys.argv[1], sys.argv[2]
if sys.argv[3:] == ["fail-dump"]:
    # the static dump leaves a partial archive and exits 1
    import subprocess
    run = subprocess.run

    def failing_dump(args, **kwargs):
        if "-Xshare:dump" not in args:
            return run(args, **kwargs)
        tmp = next(a.split("=", 1)[1] for a in args if a.startswith("-XX:SharedArchiveFile="))
        with open(tmp, "wb") as f:
            f.write(b"partial")
        return subprocess.CompletedProcess(args, 1)

    session.subprocess.run = failing_dump
conf_dir = os.environ.get("SPARK_CONF_DIR")
conf = {"spark.driver.memory": "1g"}
if java_opts:
    conf["spark.driver.extraJavaOptions"] = java_opts
spark = get_spark("session-test", shuffle_partitions=2, extra_conf=conf)
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
ready_s = mf.getRuntimeMXBean().getUptime() / 1000
assert [r.id for r in spark.range(3).collect()] == [0, 1, 2]
if sys.argv[3:] == ["load-extensions"]:
    # the class-path session extensions, loaded after the session is ready
    session._load_extension_providers(spark)
diag = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
with open(report, "w") as f:
    json.dump({
        "SharedArchiveFile": diag.getVMOption("SharedArchiveFile").getValue(),
        "UseG1GC": diag.getVMOption("UseG1GC").getValue(),
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
        "ready_s": ready_s,
        "conf_dir_before": conf_dir,
        "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
        "probe": spark.conf.get("spark.steamspark.probe", None),
    }, f)
print(%r)
""" % SENTINEL


def _child(tmp_path, name: str, java_opts: str = "", *flags: str, **env) -> dict:
    """Run CHILD in a fresh process; assert the sentinel is all it wrote
    to stdout and return its report."""
    child_env = {k: v for k, v in os.environ.items()
                 if k not in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT")}
    child_env.update(
        XDG_CACHE_HOME=str(tmp_path / "cache"),
        SPARK_GRAFT_CPUS="2",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        **env,
    )
    report = tmp_path / f"{name}.json"
    done = subprocess.run(
        [sys.executable, "-c", CHILD, str(report), java_opts, *flags],
        cwd=str(tmp_path), env=child_env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout == SENTINEL + "\n", done.stdout[-3000:]
    with open(report) as f:
        return json.load(f)


#: the package of the one classpath session extension, MLlib's, and the
#: Scala runtime-reflection universe its UDFs build
_ML_EXTENSION_PACKAGE = "org.apache.spark.sql.ml."
_REFLECTION_UNIVERSE = "scala.reflect.runtime.JavaUniverse"


def _cache_files(tmp_path) -> list[str]:
    return sorted(os.listdir(tmp_path / "cache" / "steam-spark"))


def test_first_launch_creates_the_archive_and_later_launches_map_it(tmp_path):
    """Child 1, under perfbench's options, lists its classes and dumps;
    child 2, on the default G1 collector and with C2, maps the same
    archive, and at least 80% of the classes it loads until the session
    is ready come from it (a dynamic dump of the running JVM covered 64%).
    Child 2 loads no class of MLlib's session extension and no Scala
    reflection universe until then; loading the extension afterwards maps
    the universe from the archive, which child 1's dump primed with it.
    Neither writes anything to stdout but the sentinel: the dump's report
    or an archive's warnings would land on a pipe that returns a result on
    its last line."""
    first = _child(tmp_path, "first", PERFBENCH_OPTS)
    assert any(a.startswith("-XX:DumpLoadedClassList=") for a in first["args"])
    assert not any("RecordDynamicDumpInfo" in a for a in first["args"])
    assert first["UseG1GC"] == "false"
    # one archive, published whole: no class list or temp file is left
    files = _cache_files(tmp_path)
    archives = [f for f in files if f.endswith(".jsa")]
    assert len(archives) == 1, files
    assert files == sorted(archives + [archives[0] + ".lock", "empty-conf"])
    archive = str(tmp_path / "cache" / "steam-spark" / archives[0])
    assert os.path.getsize(archive) > 0

    class_log = tmp_path / "classes.log"
    second = _child(tmp_path, "second", f"-Xlog:class+load=info:file={class_log}",
                    "load-extensions")
    assert second["UseG1GC"] == "true"
    assert second["SharedArchiveFile"] == archive
    assert not any("DumpLoadedClassList" in a for a in second["args"])
    before, after = [], {}
    with open(class_log) as f:
        for line in f:
            m = re.match(r"\[([\d.]+)s\]\S* (\S+) source: (.*)", line)
            if m and float(m[1]) <= second["ready_s"]:
                before.append((m[2], m[3]))
            elif m:
                after[m[2]] = m[3]
    shared = sum(src.startswith("shared objects file") for _, src in before)
    assert shared >= 0.8 * len(before), f"{shared} of {len(before)} classes from the archive"
    # the session skipped MLlib's extension and the Scala reflection it
    # builds; the recording launch loaded them, so the archive holds them
    skipped = [c for c, _ in before
               if c.startswith(_ML_EXTENSION_PACKAGE) or c == _REFLECTION_UNIVERSE]
    assert not skipped, skipped
    assert after[_REFLECTION_UNIVERSE] == "shared objects file"
    assert _cache_files(tmp_path) == files
    # the launch's SPARK_CONF_DIR stays out of this process's environment
    assert first["conf_dir_after"] is None and second["conf_dir_after"] is None


def test_a_failed_dump_leaves_a_working_session_and_no_archive(tmp_path):
    """A dump that exits 1 after writing part of its temp file leaves the
    session answering its query, and the cache with no archive, temp file
    or class list, so the next launch records again."""
    report = _child(tmp_path, "failed", "", "fail-dump")
    assert any(a.startswith("-XX:DumpLoadedClassList=") for a in report["args"])
    assert report["SharedArchiveFile"] == ""
    files = _cache_files(tmp_path)
    assert [f for f in files if not f.endswith(".lock")] == ["empty-conf"], files


@pytest.mark.parametrize("submit_args", [
    "--driver-class-path {dir} pyspark-shell",
    "--conf spark.driver.extraClassPath={dir} pyspark-shell",
])
def test_submit_args_class_path_launches_without_the_archive(tmp_path, submit_args):
    """A non-empty directory put on the driver's class path by
    ``PYSPARK_SUBMIT_ARGS`` would fail every static dump: the launch
    neither records nor maps an archive, and writes nothing to the cache."""
    jar_dir = tmp_path / "classes"
    jar_dir.mkdir()
    (jar_dir / "a.txt").write_text("not empty")
    report = _child(tmp_path, "submit-args",
                    PYSPARK_SUBMIT_ARGS=submit_args.format(dir=jar_dir))
    assert report["SharedArchiveFile"] == ""
    assert not any("SharedArchiveFile" in a or "DumpLoadedClassList" in a
                   for a in report["args"])
    assert not (tmp_path / "cache").exists()


def test_user_spark_conf_dir_launches_without_the_archive(tmp_path):
    """A user-set SPARK_CONF_DIR is used as given: the session reads its
    spark-defaults.conf, no archive option reaches the JVM, and nothing is
    written to the cache."""
    conf_dir = tmp_path / "user-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.steamspark.probe  from-user-conf\n")
    report = _child(tmp_path, "guard", SPARK_CONF_DIR=str(conf_dir))
    assert report["probe"] == "from-user-conf"
    assert report["SharedArchiveFile"] == ""
    assert not any("SharedArchiveFile" in a or "DumpLoadedClassList" in a
                   for a in report["args"])
    assert report["conf_dir_before"] == report["conf_dir_after"] == str(conf_dir)
    assert not (tmp_path / "cache").exists()


def test_only_the_launching_call_plans_or_dumps(spark, tmp_path, monkeypatch):
    """With the JVM running, get_spark returns the running session and
    neither plans, dumps, writes the cache nor touches the environment."""

    def forbidden(*_args, **_kwargs):
        raise AssertionError("called without launching a JVM")

    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(session, "_plan_class_archive", forbidden)
    monkeypatch.setattr(session, "_dump_class_archive", forbidden)
    env = dict(os.environ)
    again = get_spark(
        "steam-spark-tests",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
    )
    assert again is spark
    assert dict(os.environ) == env
    assert not os.listdir(tmp_path)


def test_default_driver_heap_fits_the_host(monkeypatch):
    """With ``SPARK_DRIVER_MEMORY`` unset, the builder's driver heap is no
    larger than the host's memory, whatever the host."""
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    heap = session._heap_bytes(_builder_options(monkeypatch)["spark.driver.memory"])
    assert heap is not None
    assert heap <= os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def _builder_options(monkeypatch, extra_conf: dict[str, str] | None = None) -> dict:
    """The options ``get_spark`` hands the builder, with no JVM started."""

    class Launched(Exception):
        pass

    def launch(builder):
        raise Launched(dict(builder._options))

    monkeypatch.setattr(session, "_plan_class_archive", lambda *_args: None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", launch)
    with pytest.raises(Launched) as launched:
        get_spark("options-test", extra_conf=extra_conf)
    return launched.value.args[0]


@pytest.fixture
def spark_home(tmp_path, monkeypatch):
    """A ``SPARK_HOME`` with one jar and a template-only conf directory,
    and an empty cache under ``tmp_path``."""
    home = tmp_path / "spark-home"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    return home


def test_plan_keys_the_archive_by_jars_and_skips_a_live_conf_dir(spark_home, tmp_path,
                                                                 monkeypatch):
    """The archive name follows the jars (a touched jar gets a new one);
    a non-empty directory bound for the class path, or a
    ``$SPARK_HOME/conf`` with anything but templates, launches without an
    archive and writes nothing."""
    plan = session._plan_class_archive("", "8g")
    assert plan is not None and plan.create
    assert os.path.dirname(plan.path) == str(tmp_path / "cache" / "steam-spark")
    assert os.listdir(plan.conf_dir) == []
    os.utime(spark_home / "jars" / "spark-core.jar", ns=(0, 0))
    assert session._plan_class_archive("", "8g").path != plan.path
    # a non-empty directory the launcher puts on the class path
    assert session._plan_class_archive(str(spark_home / "jars"), "8g") is None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(spark_home / "conf"))
    assert session._plan_class_archive("", "8g") is None
    monkeypatch.delenv("HADOOP_CONF_DIR")

    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.master local[1]\n")
    shutil.rmtree(tmp_path / "cache")
    assert session._plan_class_archive("", "8g") is None
    assert not (tmp_path / "cache").exists()


def test_plan_keys_the_archive_by_compressed_oops_mode(spark_home):
    """A JVM with a heap of 32 GB or more runs without compressed oops and
    declines an archive dumped with them, and the reverse: the two modes
    get different archives, heaps of one mode share one."""
    paths = {m: session._plan_class_archive("", m).path
             for m in ("1g", "8g", "31g", "32g", "48g", "65536m")}
    assert paths["8g"] != paths["48g"]
    assert paths["1g"] == paths["8g"] == paths["31g"]
    assert paths["32g"] == paths["48g"] == paths["65536m"]
    assert session._plan_class_archive("", "8 GB") is None


MB = 1 << 20


def _unified(heap: int) -> float:
    """Spark's unified memory region of a heap: 0.6 × (heap − 300 MB)."""
    return 0.6 * (heap - 300 * MB)


def test_page_size_is_the_smallest_page_whose_table_covers_the_heap():
    """Pages of 1 MB up to about 14 GB of heap, doubling after: 8,192
    pages (the page table a task holds) always cover the unified region,
    and half the page would not, except at the 1 MB floor."""
    sizes = {m: session._page_size_bytes(m) for m in ("1g", "3g", "10043m", "16g", "31g", "48g")}
    assert sizes["3g"] == sizes["10043m"] == MB
    assert sizes["16g"] == 2 * MB and sizes["48g"] == 4 * MB
    for m, page in sizes.items():
        heap = session._heap_bytes(m)
        assert page & (page - 1) == 0 and page >= MB, m
        assert 8192 * page >= _unified(heap), m
        assert page == MB or 8192 * page // 2 < _unified(heap), m
    # an executor heap larger than the driver's decides; a size that does
    # not parse keeps Spark's default
    assert session._page_size_bytes("3g", "16g") == 2 * MB
    assert session._page_size_bytes("16g", "3g") == 2 * MB
    assert session._page_size_bytes("8 GB") is None
    assert session._page_size_bytes("3g", "16 GB") is None


def test_builder_carries_the_page_size_and_extra_conf_overrides_it(monkeypatch):
    """The builder gets the rule's page for the heap it resolves, from
    ``SPARK_DRIVER_MEMORY`` or ``extra_conf``; a page in ``extra_conf``
    wins, and a heap that does not parse sets none."""
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert _builder_options(monkeypatch)["spark.buffer.pageSize"] == "1m"
    opts = _builder_options(monkeypatch, {"spark.driver.memory": "48g"})
    assert opts["spark.buffer.pageSize"] == "4m"
    opts = _builder_options(monkeypatch, {"spark.executor.memory": "16g"})
    assert opts["spark.buffer.pageSize"] == "2m"
    opts = _builder_options(monkeypatch, {"spark.buffer.pageSize": "16m"})
    assert opts["spark.buffer.pageSize"] == "16m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3 GB")
    assert "spark.buffer.pageSize" not in _builder_options(monkeypatch)


LOAD_FROM_CP = "spark.sql.extensions.test.loadFromCp"
PROVIDERS = "META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider"


def test_builder_skips_class_path_extensions_and_extra_conf_overrides_it(monkeypatch):
    """The builder turns off the session extensions Spark finds on the
    class path; ``true`` in ``extra_conf`` turns them back on."""
    assert _builder_options(monkeypatch)[LOAD_FROM_CP] == "false"
    assert _builder_options(monkeypatch, {LOAD_FROM_CP: "true"})[LOAD_FROM_CP] == "true"


def test_the_only_class_path_extension_is_mllibs():
    """Spark's jars declare one session-extension provider, MLlib's
    internal function registration, which the session skips. A jar that
    brings another fails here instead of being skipped unseen."""
    jars = os.path.join(_find_spark_home(), "jars")
    providers = set()
    for name in sorted(os.listdir(jars)):
        if not name.endswith(".jar"):
            continue
        with zipfile.ZipFile(os.path.join(jars, name)) as jar:
            if PROVIDERS in jar.namelist():
                for line in jar.read(PROVIDERS).decode().splitlines():
                    providers.add(line.split("#")[0].strip())
    providers.discard("")
    assert providers == {"org.apache.spark.sql.ml.InternalFunctionRegistration"}


def test_the_session_does_not_resolve_mllibs_functions(spark):
    """What the skip gives up: the three functions MLlib's extension
    registers do not resolve in a session from ``get_spark``."""
    from pyspark.errors import AnalysisException
    from pyspark.ml.functions import array_to_vector, vector_to_array
    from pyspark.sql import functions as F

    with pytest.raises(AnalysisException) as raised:
        spark.range(1).select(vector_to_array(array_to_vector(F.array(F.lit(1.0)))))
    assert raised.value.getCondition() == "UNRESOLVED_ROUTINE"


def test_live_session_uses_the_planned_page_size(spark):
    """The running test session's memory manager hands out the page the
    rule planned for its ``spark.driver.memory``."""
    planned = session._page_size_bytes(spark.conf.get("spark.driver.memory"))
    live = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    assert planned == MB and live == planned


def test_a_record_larger_than_a_page_sorts_aggregates_and_joins(spark):
    """One row of about 3 MB, three times the test session's page, goes
    through a sort, a hash aggregate keyed by it, a broadcast hash join
    and a sort-merge join, each operator taking a page larger than the
    configured one for it; every result equals a pure-Python one."""
    from pyspark.sql import functions as F

    page = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager().pageSizeBytes()
    big = ("steam-spark page " * (3 * MB // 17 + 1))[: 3 * MB]
    assert len(big) > 2 * page
    rows = [(1, big), (2, "b"), (3, "a"), (1, "a")]
    df = spark.createDataFrame(rows, "k long, s string")
    names = spark.createDataFrame([(1, "one"), (3, "three")], "k long, name string")

    def run(frame, operator: str) -> list[tuple]:
        out = [tuple(r) for r in frame.collect()]
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert operator in plan, plan
        return out

    assert run(df.orderBy("s", "k"), "Sort") == sorted(rows, key=lambda r: (r[1], r[0]))
    agg = run(df.union(df).groupBy("s").agg(F.sum("k").alias("n")), "HashAggregate")
    expected_agg = {}
    for k, s in rows + rows:
        expected_agg[s] = expected_agg.get(s, 0) + k
    assert sorted(agg) == sorted(expected_agg.items())
    expected_join = sorted((k, n, s) for k, n in [(1, "one"), (3, "three")]
                           for k2, s in rows if k2 == k)
    for hinted, operator in ((F.broadcast(df), "BroadcastHashJoin"),
                             (df.hint("shuffle_merge"), "SortMergeJoin")):
        joined = run(names.join(hinted, "k").select("k", "name", "s"), operator)
        assert sorted(joined) == expected_join
