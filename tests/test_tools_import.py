"""Every script under tools/ imports cleanly without running: each has
a ``__main__`` guard, so a refactor that renames or moves a name a
profiling tool reads fails here, not at the next profiling run. Every
``tools/<name>.py`` that the docs or the code cite exists."""

from __future__ import annotations

import importlib.util
import pathlib
import re

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


# where a tool is cited for use; the round records (OPTIMIZATION_r06.md,
# VERDICT.md, BENCH/) are history and may name retired tools
_CITING = ("README.md", "docs/*.md", ".claude/skills/verify/SKILL.md",
           "axosyslog_spark/**/*.py", "tools/*.py", "tests/*.py")
_TOOL_REF = re.compile(r"(?<![\w/.-])tools/(\w+\.py)")


def test_cited_tools_exist():
    root = TOOLS[0].parents[1]
    present = {p.name for p in TOOLS}
    missing = [
        f"{path.relative_to(root)}:{n}: tools/{name}"
        for pattern in _CITING
        for path in sorted(root.glob(pattern))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        for name in _TOOL_REF.findall(line)
        if name not in present
    ]
    assert not missing, "cited tools that do not exist:\n" + "\n".join(missing)
