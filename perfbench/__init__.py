"""Benchmark for pypiper-spark; see README.md."""

import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_tool(name: str):
    """The repo's ``tools/<name>.py``, loaded by path (``tools/`` is not a
    package), so the benchmark runs the same code as the tool."""
    spec = importlib.util.spec_from_file_location(name, os.path.join(ROOT, "tools", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
