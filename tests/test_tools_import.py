"""Every tool under tools/ imports: the tools share bench.py's measurement
helpers, so a deleted or renamed helper fails here rather than at the next
manual run."""

import importlib
import os

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "name", sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")
