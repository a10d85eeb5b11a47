"""Every tools/ script imports cleanly (no Spark session is started):
a tool that imports a removed or renamed name fails here, not the next
time someone runs it."""

from __future__ import annotations

import importlib
import os

import pytest

_TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)


@pytest.mark.parametrize(
    "module",
    sorted(
        f[:-3] for f in os.listdir(_TOOLS)
        if f.endswith(".py") and f != "__init__.py"
    ),
)
def test_tool_imports(module):
    from pyspark import SparkContext

    before = SparkContext._active_spark_context
    importlib.import_module(f"tools.{module}")
    assert SparkContext._active_spark_context is before
