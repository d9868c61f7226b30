"""The session's ``file://`` file system (``jvm/NoForkLocalFileSystem.java``):
Hadoop's checksummed local file system with file modes set in the JVM, the
rename rule Spark's default ``file://`` class keeps, the local-master driver
conf rules that install it together with the JIT flags, and the committed
jar's provenance."""

from __future__ import annotations

import importlib.util
import os
import shutil
import stat
import zipfile

import pytest

from clickhousemigrators3_spark.session import (
    LOCAL_JIT_FLAGS,
    NO_FORK_FS,
    NO_FORK_FS_JAR,
    local_driver_conf,
)

_FS_IMPL = "spark.hadoop.fs.file.impl"
_CLASS_PATH = "spark.driver.extraClassPath"
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
_DEFAULT_JAVA_OPTIONS = "spark.driver.defaultJavaOptions"


@pytest.fixture
def local_fs(spark):
    """``FileSystem.get(file:///)`` of the tier-1 session."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    return jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)


def _mode(path) -> int:
    return stat.S_IMODE(os.stat(path).st_mode)


def _hadoop_path(spark, path):
    return spark.sparkContext._jvm.org.apache.hadoop.fs.Path(str(path))


def _permission(spark, octal: str):
    return spark.sparkContext._jvm.org.apache.hadoop.fs.permission.FsPermission(octal)


def test_session_file_system_is_the_no_fork_class(local_fs):
    assert local_fs.getClass().getName() == NO_FORK_FS


def test_partitioned_write_keeps_hadoop_modes_and_checksums(spark, tmp_path):
    out = tmp_path / "out"
    spark.range(0, 600).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(str(out))
    data_files = 0
    for root, dirs, files in os.walk(out):
        assert {_mode(os.path.join(root, d)) for d in dirs} <= {0o755}, dirs
        assert {_mode(os.path.join(root, f)) for f in files} == {0o644}, files
        for f in files:
            if not f.startswith("."):
                data_files += f.endswith(".parquet")
                assert f".{f}.crc" in files, (root, f)
    assert data_files >= 3
    assert spark.read.parquet(str(out)).count() == 600


def test_corrupted_file_fails_its_checksum(spark, local_fs, tmp_path):
    target = tmp_path / "f.bin"
    out = local_fs.create(_hadoop_path(spark, target))
    out.write(bytearray(b"abcdefgh" * 64))
    out.close()
    assert (tmp_path / ".f.bin.crc").exists()
    with open(target, "r+b") as f:
        f.write(b"X")
    stream = local_fs.open(_hadoop_path(spark, target))
    with pytest.raises(Exception, match="ChecksumException"):
        stream.read(bytearray(512))
    stream.close()


def test_set_permission_sets_exact_mode(spark, local_fs, tmp_path):
    target = tmp_path / "f"
    target.write_text("x")
    local_fs.setPermission(_hadoop_path(spark, target), _permission(spark, "640"))
    assert _mode(target) == 0o640


def test_sticky_bit_takes_hadoops_own_path(spark, local_fs, tmp_path):
    target = tmp_path / "d"
    target.mkdir()
    local_fs.setPermission(_hadoop_path(spark, target), _permission(spark, "1777"))
    assert _mode(target) == 0o1777


def test_rename_onto_an_existing_file_is_refused(spark, local_fs, tmp_path):
    src, dst = tmp_path / "a", tmp_path / "b"
    src.write_text("from a")
    dst.write_text("from b")
    assert local_fs.rename(_hadoop_path(spark, src), _hadoop_path(spark, dst)) is False
    assert (src.read_text(), dst.read_text()) == ("from a", "from b")


def test_session_driver_has_the_jit_thresholds(spark):
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    assert bean.getVMOption("Tier4InvocationThreshold").getValue() == "15000"
    assert bean.getVMOption("Tier4BackEdgeThreshold").getValue() == "120000"


# --- conf rules (no JVM) ----------------------------------------------------


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]"])
def test_non_local_master_gets_no_file_system_conf(master):
    assert local_driver_conf(master, {_CLASS_PATH: "/x.jar", _JAVA_OPTIONS: "-Dx=1"}) == {}


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]"])
def test_local_master_gets_the_class_and_jar(master):
    assert local_driver_conf(master, {}) == {
        _FS_IMPL: NO_FORK_FS,
        _CLASS_PATH: NO_FORK_FS_JAR,
        _DEFAULT_JAVA_OPTIONS: LOCAL_JIT_FLAGS,
    }


@pytest.mark.parametrize("master", ["local", "local[4]"])
def test_local_master_gets_the_jit_flags_as_default_java_options(master):
    """Spark puts ``defaultJavaOptions`` before the caller's untouched
    ``extraJavaOptions``, so a caller's own ``-XX:`` flag comes last and wins."""
    caller = {_JAVA_OPTIONS: "-Djava.io.tmpdir=/t -XX:Tier4InvocationThreshold=7000"}
    conf = local_driver_conf(master, caller)
    assert _JAVA_OPTIONS not in conf
    assert conf[_DEFAULT_JAVA_OPTIONS] == (
        "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
        "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
    )


def test_caller_default_java_options_win():
    conf = local_driver_conf("local[2]", {_DEFAULT_JAVA_OPTIONS: "-Dx=1"})
    assert _DEFAULT_JAVA_OPTIONS not in conf


def test_caller_class_path_is_kept_after_the_jar():
    conf = local_driver_conf("local[2]", {_CLASS_PATH: "/x.jar"})
    assert conf[_CLASS_PATH] == NO_FORK_FS_JAR + os.pathsep + "/x.jar"


def test_caller_file_system_wins():
    assert _FS_IMPL not in local_driver_conf("local[2]", {_FS_IMPL: "some.Other"})


# --- packaging and provenance -----------------------------------------------


def test_jar_ships_as_package_data():
    import fnmatch

    tomllib = pytest.importorskip("tomllib")  # Python 3.11+
    root = os.path.join(os.path.dirname(__file__), "..")
    with open(os.path.join(root, "pyproject.toml"), "rb") as f:
        patterns = tomllib.load(f)["tool"]["setuptools"]["package-data"]["clickhousemigrators3_spark"]
    pkg_dir = os.path.join(root, "clickhousemigrators3_spark")
    rel = os.path.relpath(NO_FORK_FS_JAR, os.path.realpath(pkg_dir))
    assert any(fnmatch.fnmatch(rel, p) for p in patterns), (rel, patterns)
    assert os.path.isfile(NO_FORK_FS_JAR)


@pytest.mark.skipif(shutil.which("javac") is None, reason="needs javac")
def test_committed_jar_matches_its_source(tmp_path):
    spec = importlib.util.spec_from_file_location(
        "build_nofork_fs",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "build_nofork_fs.py"),
    )
    build = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(build)
    rebuilt = build.compile_classes(str(tmp_path))
    with zipfile.ZipFile(NO_FORK_FS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist()}
    assert sorted(rebuilt) == sorted(committed)
    for name, data in rebuilt.items():
        assert committed[name] == data, name
