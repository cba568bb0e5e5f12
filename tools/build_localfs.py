#!/usr/bin/env python
"""Build the vendored local-filesystem jar from its Java sources.

``session.get_spark`` binds ``file://`` to the classes in
``etl_ch_destination_spark/_vendor/localfs/`` (see the session module
docstring). This compiles that directory's ``*.java`` with
``javac --release 17`` against Spark's own jars (``$SPARK_HOME/jars``, else
the jars shipped inside pyspark) and packs the classes, in sorted order, with
``jar --create --date`` at a fixed timestamp. The same sources and JDK give
the same class bytes; ``tests/test_localfs.py`` rebuilds the jar and compares
every class entry with the committed one.

Usage: python tools/build_localfs.py [--out JAR]   (default: the vendored jar)
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from etl_ch_destination_spark.session import LOCALFS_DIR, LOCALFS_JAR  # noqa: E402

# any fixed instant works; it only has to be the same on every build
JAR_DATE = "2026-01-01T00:00:00Z"


def build(out: str) -> str:
    """Compile the vendored sources and write the jar to ``out``."""
    from pyspark.find_spark_home import _find_spark_home

    sources = sorted(glob.glob(os.path.join(LOCALFS_DIR, "*.java")))
    classpath = os.path.join(_find_spark_home(), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-cp", classpath, "-d", classes, *sources],
            check=True,
        )
        entries = sorted(
            os.path.relpath(p, classes)
            for p in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)
        )
        subprocess.run(
            ["jar", "--create", f"--date={JAR_DATE}", "--file", out]
            + [arg for e in entries for arg in ("-C", classes, e)],
            check=True,
        )
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=LOCALFS_JAR, help="jar to write")
    print(build(ap.parse_args().out))


if __name__ == "__main__":
    main()
