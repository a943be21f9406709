"""Rebuild the engine's JVM jar from its committed Java source.

    python scripts/build_jvm.py                 # rewrite the committed jar
    python scripts/build_jvm.py --jar out.jar   # build somewhere else

Compiles every ``*.java`` in ``binance_etl_spark/jvm/`` with
``javac --release 17`` against the jars pyspark ships (Spark 4.1,
Hadoop 3.4), then packs the classes and the ``META-INF/services`` files
with ``jar`` at a fixed timestamp, in sorted order and without a
manifest, so a rebuild is byte-identical. Nothing compiles at run time:
``session.get_spark`` puts the committed jar on the classpath (through
``spark.jars`` under a configured master), so rerun this only after
editing the sources, and commit sources and jar together.
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "binance_etl_spark", "jvm")
SERVICES = os.path.join("META-INF", "services")
JAR = os.path.join(JVM_DIR, "engine.jar")
# jar's --date needs a timestamp after 1980-01-01T00:00:02Z
JAR_DATE = "1980-01-01T00:00:02Z"


def pyspark_jars() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def build(jar: str = JAR) -> None:
    sources = sorted(glob.glob(os.path.join(JVM_DIR, "*.java")))
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", os.path.join(pyspark_jars(), "*"),
             "-d", classes, *sources],
            check=True,
        )
        shutil.copytree(os.path.join(JVM_DIR, SERVICES), os.path.join(classes, SERVICES))
        entries = sorted(
            os.path.relpath(os.path.join(d, f), classes) for d, _, fs in os.walk(classes) for f in fs
        )
        args = [a for e in entries for a in ("-C", classes, e)]
        subprocess.run(
            ["jar", "--create", "--no-manifest", f"--date={JAR_DATE}", "--file", jar, *args],
            check=True,
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jar", default=JAR, help="output jar (default: the committed one)")
    build(os.path.abspath(ap.parse_args().jar))
    return 0


if __name__ == "__main__":
    sys.exit(main())
