"""The committed jar holds exactly what plans/java/ compiles to
(tools/build_jar.py), so the JVM code that runs is the code in the tree."""

from __future__ import annotations

import importlib.util
import os
import shutil
import subprocess
import zipfile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _build_tool():
    spec = importlib.util.spec_from_file_location("build_jar", os.path.join(ROOT, "tools", "build_jar.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac not installed")
def test_committed_jar_matches_sources(tmp_path):
    tool = _build_tool()
    with zipfile.ZipFile(tool.JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist() if n.endswith(".class")}
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    javac = subprocess.run(["javac", "-version"], capture_output=True, text=True)
    version = (javac.stdout or javac.stderr).split()[-1]
    if f"Created-By: {version}" not in manifest:
        pytest.skip(f"jar built by another JDK than javac {version}")
    tool.compile_classes(str(tmp_path))
    built = {
        os.path.relpath(os.path.join(d, f), tmp_path): open(os.path.join(d, f), "rb").read()
        for d, _, files in os.walk(tmp_path)
        for f in files
    }
    assert sorted(built) == sorted(committed)
    assert [n for n in built if built[n] != committed[n]] == []
