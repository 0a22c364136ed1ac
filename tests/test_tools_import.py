"""Every tool under tools/ imports: the tools share bench.py's measurement
helpers, so a deleted or renamed helper fails here rather than at the next
manual run."""

import importlib
import os
import subprocess
import sys

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")


@pytest.mark.parametrize(
    "name", sorted(f[:-3] for f in os.listdir(TOOLS) if f.endswith(".py"))
)
def test_tool_imports(name):
    importlib.import_module(f"tools.{name}")


def test_bench_imports_no_plan_module():
    """perfbench's cdc_ingest imports ``bench`` for its calibration helpers
    only; the plan registry loads inside ``bench.main``."""
    root = os.path.dirname(TOOLS)
    code = (
        "import sys, bench; "
        "print([m for m in sys.modules "
        "if m.startswith('projet_data_infrastructure_spark.plans')])"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True, check=True
    )
    assert out.stdout.strip() == "[]"
