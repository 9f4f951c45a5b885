"""Every kept ``tools/*.py`` script imports cleanly without Spark.

Most tools run only by hand, so nothing else would notice a helper
they import moving or being renamed. Importing each one (module body
only, ``main()`` never called) catches that. Spark session creation is
patched to fail, and ``sys.argv`` holds a bogus argument, so a tool
that starts Spark or parses its arguments at import time fails here.
"""

from __future__ import annotations

import importlib.util
import pathlib
import sys

import pytest
from pyspark.sql import SparkSession

TOOLS = sorted((pathlib.Path(__file__).parent.parent / "tools").glob("*.py"))


def test_tools_present():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.stem)
def test_tool_imports_without_spark(path, monkeypatch):
    def _no_spark(*_a, **_k):
        raise AssertionError(f"{path.name} starts Spark at import")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", _no_spark)
    monkeypatch.setattr(sys, "argv", [str(path), "not-an-argument"])
    monkeypatch.setattr(sys, "path", list(sys.path))
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
