"""The session factory: the generated-class cache holds a repeated
workload, so its second run compiles nothing; the driver JVM records
a class-data-sharing archive once and maps it at every later launch,
and only when its launch classpath is exactly the archive's."""
from __future__ import annotations

import os
import subprocess
import sys
from functools import reduce

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from yuki_spark import session
from yuki_spark.session import codegen_compiles, driver_cds, launched_cds


def _branches(spark, n: int) -> None:
    """One job over a union of ``n`` one-row ranges, branch ``k``
    adding ``k``: each branch is its own codegen stage, and the
    constant is inlined into its source, so no two branches share a
    generated class."""
    reduce(
        DataFrame.unionAll,
        [spark.range(0, 1, 1, 1).select((F.col("id") + k).alias("v")) for k in range(n)],
    ).collect()


def test_second_run_of_a_150_branch_workload_compiles_nothing(spark):
    before = codegen_compiles(spark)
    _branches(spark, 150)
    first = codegen_compiles(spark) - before
    assert first >= 150, first  # more than Spark's default cache of 100
    _branches(spark, 150)
    assert codegen_compiles(spark) - before - first == 0


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """A Spark home whose conf directory holds only templates, a
    private cache under ``$XDG_CACHE_HOME``, and no classpath settings
    in the environment: ``launch()`` is driver_cds's choice."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    (home / "jars").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"jar")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    for var in ("SPARK_CONF_DIR",) + session._CLASSPATH_ENV:
        monkeypatch.delenv(var, raising=False)
    return lambda submit_args="", running=False: driver_cds(
        os.environ, str(home), submit_args, running
    )


def test_first_launch_records_the_archive_in_a_private_cache(launch, tmp_path):
    cds = launch()
    cache = tmp_path / "xdg" / "yuki_spark"
    assert cds.record is not None and os.path.dirname(cds.record) == str(cache)
    assert not os.path.exists(cds.archive) and os.path.dirname(cds.archive) == str(cache)
    assert cds.options.split()[0] == f"-XX:ArchiveClassesAtExit={cds.record}"
    assert "-Xshare:on" not in cds.options
    assert cds.conf_dir == str(cache / "conf") and os.listdir(cds.conf_dir) == []
    assert os.stat(cache).st_mode & 0o777 == 0o700


def test_published_archive_is_mapped(launch):
    archive = launch().archive
    open(archive, "wb").close()
    cds = launch()
    assert cds.record is None and cds.archive == archive
    assert cds.options.split()[0] == f"-XX:SharedArchiveFile={archive}"


def test_archive_key_follows_the_jar_set(launch, tmp_path):
    before = launch().archive
    (tmp_path / "spark" / "jars" / "b.jar").write_bytes(b"jar")
    assert launch().archive != before


@pytest.mark.parametrize("var", session._CLASSPATH_ENV + ("SPARK_CONF_DIR",))
def test_classpath_env_declines(launch, monkeypatch, var):
    monkeypatch.setenv(var, "/elsewhere")
    assert launch() is None


@pytest.mark.parametrize(
    "args",
    [
        "--jars x.jar pyspark-shell",
        "--driver-class-path /x pyspark-shell",
        "--conf spark.driver.extraClassPath=/x pyspark-shell",
    ],
)
def test_classpath_submit_args_decline(launch, args):
    assert launch(submit_args=args) is None


def test_non_template_conf_file_declines(launch, tmp_path):
    (tmp_path / "spark" / "conf" / "spark-defaults.conf").write_text("")
    assert launch() is None


def test_running_gateway_declines(launch):
    assert launch(running=True) is None


def test_unsafe_cache_dir_declines(launch, tmp_path):
    cache = tmp_path / "xdg" / "yuki_spark"
    cache.mkdir(parents=True)
    cache.chmod(0o770)
    assert launch() is None
    cache.rmdir()
    target = tmp_path / "target"
    target.mkdir(mode=0o700)
    cache.symlink_to(target)
    assert launch() is None


@pytest.mark.parametrize("status", [0, 3])
def test_dump_published_only_on_clean_exit(launch, status):
    """A clean exit publishes the dump and drops other keys' archives
    and dead processes' dumps; any other exit deletes the dump."""
    cds = launch()
    with open(cds.record, "wb") as fh:
        fh.write(b"dump")
    dead = subprocess.Popen(["true"])
    dead.wait()
    cache = os.path.dirname(cds.archive)
    others = {
        "driver-0000000000000000.jsa": False,
        f"driver-0000000000000000.jsa.{dead.pid}-0.tmp": False,
        f"{os.path.basename(cds.archive)}.{os.getpid()}-1.tmp": True,
    }
    for name in others:
        open(os.path.join(cache, name), "wb").close()
    jvm = subprocess.Popen(
        [sys.executable, "-c", f"import sys; sys.stdin.read(); sys.exit({status})"],
        stdin=subprocess.PIPE,
    )
    session._publish_archive(jvm, cds)
    assert not os.path.exists(cds.record)
    assert os.path.exists(cds.archive) == (status == 0)
    for name, kept in others.items():
        assert os.path.exists(os.path.join(cache, name)) == (kept or status != 0), name


def test_mapped_archive_matches_the_driver_classpath(spark):
    """The archive the session's JVM maps still matches its launch
    classpath: a JVM that must share (-Xshare:on) starts with it."""
    cds = launched_cds(spark)
    if cds is None or cds[0] != "SharedArchiveFile":
        pytest.skip("the session JVM did not map a published archive")
    jvm = spark.sparkContext._jvm
    flags = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
    java = os.path.join(jvm.java.lang.System.getProperty("java.home"), "bin", "java")
    probe = subprocess.run(
        [java, "-Xshare:on", f"-XX:SharedArchiveFile={cds[1]}"]
        + ["-cp", jvm.java.lang.System.getProperty("java.class.path")]
        + [f for f in flags if f.startswith("--add-modules")]
        + ["-version"],
        capture_output=True,
        text=True,
    )
    assert probe.returncode == 0, probe.stdout + probe.stderr
