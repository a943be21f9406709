"""Rebuild the engine's JVM jar from its committed Java source.

    python scripts/build_jvm.py                 # rewrite the committed jar
    python scripts/build_jvm.py --jar out.jar   # build somewhere else

Compiles ``binance_etl_spark/jvm/NioLocalFileSystem.java`` with
``javac --release 17`` against the jars pyspark ships (Hadoop 3.4), then
packs the classes with ``jar`` at a fixed timestamp and without a
manifest. Nothing compiles at run time: the session puts the committed
jar on the classpath (``session.LOCAL_FS_CONF``), so rerun this only after
editing the source, and commit source and jar together.
"""

from __future__ import annotations

import argparse
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(ROOT, "binance_etl_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "NioLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "nio-local-fs.jar")
# jar's --date needs a timestamp after 1980-01-01T00:00:02Z
JAR_DATE = "1980-01-01T00:00:02Z"


def pyspark_jars() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def build(jar: str = JAR) -> None:
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", os.path.join(pyspark_jars(), "*"),
             "-d", classes, SOURCE],
            check=True,
        )
        subprocess.run(
            ["jar", "--create", "--no-manifest", f"--date={JAR_DATE}", "--file", jar, "-C", classes, "."],
            check=True,
        )


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--jar", default=JAR, help="output jar (default: the committed one)")
    build(os.path.abspath(ap.parse_args().jar))
    return 0


if __name__ == "__main__":
    sys.exit(main())
