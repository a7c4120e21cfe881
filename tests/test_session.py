"""The driver JVM's class archive (``session.get_spark``).

The first launch on a host records its classes and dumps them to an AppCDS
archive under ``$XDG_CACHE_HOME/steam-spark/``; later launches map it. Each
child here is a fresh process, so it launches its own JVM, with
``XDG_CACHE_HOME`` pointed at the test's own directory."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

from steam_data_engineer_project_spark import session
from steam_data_engineer_project_spark.session import get_spark

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SENTINEL = "session-child-done"
#: perfbench's driver options
PERFBENCH_OPTS = "-XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Xmn256m -XX:-UsePerfData"

CHILD = r"""
import json, os, sys
from steam_data_engineer_project_spark.session import get_spark

report, java_opts = sys.argv[1], sys.argv[2]
conf_dir = os.environ.get("SPARK_CONF_DIR")
conf = {"spark.driver.memory": "1g"}
if java_opts:
    conf["spark.driver.extraJavaOptions"] = java_opts
spark = get_spark("session-test", shuffle_partitions=2, extra_conf=conf)
assert [r.id for r in spark.range(3).collect()] == [0, 1, 2]
jvm = spark._jvm
mf = jvm.java.lang.management.ManagementFactory
diag = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
with open(report, "w") as f:
    json.dump({
        "SharedArchiveFile": diag.getVMOption("SharedArchiveFile").getValue(),
        "UseG1GC": diag.getVMOption("UseG1GC").getValue(),
        "args": list(mf.getRuntimeMXBean().getInputArguments()),
        "conf_dir_before": conf_dir,
        "conf_dir_after": os.environ.get("SPARK_CONF_DIR"),
        "probe": spark.conf.get("spark.steamspark.probe", None),
    }, f)
print(%r)
""" % SENTINEL


def _child(tmp_path, name: str, java_opts: str = "", **env) -> dict:
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
        [sys.executable, "-c", CHILD, str(report), java_opts],
        cwd=str(tmp_path), env=child_env, stdout=subprocess.PIPE,
        stderr=subprocess.PIPE, text=True, timeout=300,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout == SENTINEL + "\n", done.stdout[-3000:]
    with open(report) as f:
        return json.load(f)


def test_first_launch_creates_the_archive_and_later_launches_map_it(tmp_path):
    """Child 1, under perfbench's options, records and dumps; child 2, on
    the default G1 collector and with C2, maps the same archive. Neither
    writes anything to stdout but the sentinel: a dump's ~577 cds warnings
    and its report would land on a pipe that returns a result on its last
    line."""
    first = _child(tmp_path, "first", PERFBENCH_OPTS)
    assert "-XX:+RecordDynamicDumpInfo" in first["args"]
    assert first["UseG1GC"] == "false"
    archives = glob.glob(str(tmp_path / "cache" / "steam-spark" / "*.jsa"))
    assert len(archives) == 1 and os.path.getsize(archives[0]) > 0
    assert not glob.glob(str(tmp_path / "cache" / "**" / "*.tmp"), recursive=True)

    class_log = tmp_path / "classes.log"
    second = _child(tmp_path, "second", f"-Xlog:class+load=info:file={class_log}")
    assert second["UseG1GC"] == "true"
    assert second["SharedArchiveFile"] == archives[0]
    assert not any("RecordDynamicDumpInfo" in a for a in second["args"])
    # the JVM did map it: Spark classes come from the archive's top layer
    with open(class_log) as f:
        assert any(
            " org.apache.spark." in line and "source: shared objects file (top)" in line
            for line in f
        )
    # the launch's SPARK_CONF_DIR stays out of this process's environment
    assert first["conf_dir_after"] is None and second["conf_dir_after"] is None


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
    assert not any("SharedArchiveFile" in a or "RecordDynamicDumpInfo" in a
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


def test_plan_keys_the_archive_by_jars_and_skips_a_live_conf_dir(tmp_path, monkeypatch):
    """The archive name follows the jars (a touched jar gets a new one);
    a non-empty directory bound for the class path, or a
    ``$SPARK_HOME/conf`` with anything but templates, launches without an
    archive and writes nothing."""
    home = tmp_path / "spark-home"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    jar = home / "jars" / "spark-core.jar"
    jar.write_bytes(b"jar")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)

    plan = session._plan_class_archive("")
    assert plan is not None and plan.create
    assert os.path.dirname(plan.path) == str(tmp_path / "cache" / "steam-spark")
    assert os.listdir(plan.conf_dir) == []
    os.utime(jar, ns=(0, 0))
    assert session._plan_class_archive("").path != plan.path
    # a non-empty directory the launcher puts on the class path
    assert session._plan_class_archive(str(home / "jars")) is None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(home / "conf"))
    assert session._plan_class_archive("") is None
    monkeypatch.delenv("HADOOP_CONF_DIR")

    (home / "conf" / "spark-defaults.conf").write_text("spark.master local[1]\n")
    shutil.rmtree(tmp_path / "cache")
    assert session._plan_class_archive("") is None
    assert not (tmp_path / "cache").exists()
