"""Smoke test for the scripts under tools/: each must import cleanly
without running its main, and every product name it imports — at module
level or lazily inside a function — must still exist. Catches a kept
tool left pointing at a deleted module or definition."""

from __future__ import annotations

import ast
import importlib
import re
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


def test_every_tool_is_named_outside_tools():
    """A script nothing names is a script nothing runs: every tool stem
    must appear (as a whole word) in some .py file outside tools/ — the
    product package, tests/, perfbench/ or a root-level script."""
    root = TOOLS_DIR.parent
    users = [
        p
        for d in ("psql_streamer_spark", "tests", "perfbench")
        for p in (root / d).rglob("*.py")
        if p != Path(__file__).resolve()
    ] + sorted(root.glob("*.py"))
    text = "\n".join(p.read_text() for p in users)
    stems = [p.stem for p in sorted(TOOLS_DIR.glob("*.py")) if p.stem != "__init__"]
    orphans = [s for s in stems if not re.search(rf"\b{re.escape(s)}\b", text)]
    assert not orphans, f"tools/ scripts nothing outside tools/ names: {orphans}"
