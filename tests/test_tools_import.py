"""Every script under tools/ imports cleanly without running: each has
a ``__main__`` guard, so a refactor that renames or moves a name a
profiling tool reads fails here, not at the next profiling run."""

from __future__ import annotations

import importlib.util
import pathlib

import pytest

TOOLS = sorted((pathlib.Path(__file__).resolve().parents[1] / "tools").glob("*.py"))


def test_tools_exist():
    assert TOOLS


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_imports(path):
    spec = importlib.util.spec_from_file_location(f"_tool_{path.stem}", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert callable(module.main)
