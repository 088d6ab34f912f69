"""Smoke test for the scripts under tools/: each must import cleanly
without running its main, and every product name it imports — at module
level or lazily inside a function — must still exist. Catches a kept
tool left pointing at a deleted module or definition."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

TOOLS_DIR = Path(__file__).resolve().parent.parent / "tools"


def _missing_imports(path: Path) -> list[str]:
    missing = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.ImportFrom) or not node.module:
            continue
        if node.module.split(".")[0] not in ("psql_streamer_spark", "tools"):
            continue
        mod = importlib.import_module(node.module)
        for alias in node.names:
            if hasattr(mod, alias.name):
                continue
            try:
                importlib.import_module(f"{node.module}.{alias.name}")
            except ImportError:
                missing.append(f"{node.module}.{alias.name}")
    return missing


def test_every_tool_imports_and_its_imports_resolve():
    tools = sorted(TOOLS_DIR.glob("*.py"))
    assert len(tools) > 1
    broken = {}
    for path in tools:
        try:
            importlib.import_module(f"tools.{path.stem}")
            missing = _missing_imports(path)
        except Exception as e:  # noqa: BLE001 — report every tool at once
            missing = [repr(e)]
        if missing:
            broken[path.name] = missing
    assert not broken, f"tools with broken imports: {broken}"
