"""Rebuild ``clickhousemigrators3_spark/jvm/nofork-local-fs.jar`` from
``NoForkLocalFileSystem.java`` beside it.

    python scripts/build_nofork_fs.py

Compiles with ``javac --release 8`` (``pyspark>=3.5`` still runs on Java
8/11) against ``$SPARK_HOME/jars/hadoop-client-api-*.jar`` and packs the
classes with a fixed entry date and order. ``tests/test_local_fs.py``
compares the committed jar's classes with a fresh compile, so the binary
cannot drift from its source."""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

JVM_DIR = os.path.normpath(
    os.path.join(os.path.dirname(__file__), "..", "clickhousemigrators3_spark", "jvm")
)
SOURCE = os.path.join(JVM_DIR, "NoForkLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "nofork-local-fs.jar")
_ENTRY_DATE = (1980, 1, 1, 0, 0, 0)


def hadoop_api_jar() -> str:
    from pyspark.find_spark_home import _find_spark_home

    home = os.environ.get("SPARK_HOME") or _find_spark_home()
    (jar,) = glob.glob(os.path.join(home, "jars", "hadoop-client-api-*.jar"))
    return jar


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """``{jar entry name: class bytes}`` compiled from ``SOURCE``."""
    subprocess.run(
        ["javac", "--release", "8", "-cp", hadoop_api_jar(), "-d", out_dir, SOURCE],
        check=True,
    )
    classes = {}
    for path in sorted(glob.glob(os.path.join(out_dir, "**", "*.class"), recursive=True)):
        with open(path, "rb") as f:
            classes[os.path.relpath(path, out_dir).replace(os.sep, "/")] = f.read()
    return classes


def main() -> int:
    with tempfile.TemporaryDirectory() as tmp:
        classes = compile_classes(tmp)
    with zipfile.ZipFile(JAR, "w", zipfile.ZIP_DEFLATED) as jar:
        for name, data in classes.items():
            jar.writestr(zipfile.ZipInfo(name, _ENTRY_DATE), data, zipfile.ZIP_DEFLATED)
    print(f"wrote {JAR}: {', '.join(classes)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
