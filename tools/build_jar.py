#!/usr/bin/env python
"""Compile every class under skinnerdb_spark/plans/java/ against the
installed pyspark's jars and package them at
skinnerdb_spark/jars/skinner-plans.jar: the join-graph helper
(skinner.PlanHelper, loaded at run time by state.py).
Requires javac (JDK 17); tests/test_jar.py checks that the committed jar
holds what this compiles.

    python tools/build_jar.py
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SRC = os.path.join(REPO, "skinnerdb_spark", "plans", "java")
JAR = os.path.join(REPO, "skinnerdb_spark", "jars", "skinner-plans.jar")


def compile_classes(out_dir: str) -> None:
    """javac every source under plans/java/ into ``out_dir``."""
    import pyspark

    spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    sources = sorted(glob.glob(os.path.join(SRC, "**", "*.java"), recursive=True))
    subprocess.run(
        ["javac", "--release", "17", "-classpath", os.path.join(spark_jars, "*"),
         "-d", out_dir, *sources],
        check=True,
    )


def main() -> int:
    if shutil.which("javac") is None:
        print("javac not found; keeping the committed jar")
        return 0
    with tempfile.TemporaryDirectory() as tmp:
        compile_classes(tmp)
        os.makedirs(os.path.dirname(JAR), exist_ok=True)
        subprocess.run(["jar", "cf", JAR, "-C", tmp, "skinner"], check=True)
    print(f"built {JAR}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
