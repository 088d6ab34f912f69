"""Smoke test for the scripts under tools/: each must import cleanly
without running its main, and every product name it imports — at module
level or lazily inside a function — must still exist. Catches a kept
tool left pointing at a deleted module or definition. Beside it, the
reachability guards: every tool and every public product name must be
named by code outside tests/."""

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


#: Public product names that nothing outside tests/ names, kept on purpose.
#: Each entry says why; a name that gains a caller, or is deleted, must
#: leave this list.
KEPT_PUBLIC_API = {
    "start_near_dup_stream": "document-gate stream starter (streaming API)",
    "start_contamination_stream": "document-gate stream starter (streaming API)",
    "start_quality_stream": "document-gate stream starter (streaming API)",
    "start_mm_near_dup_stream": "document-gate stream starter (streaming API)",
    "start_drift_stream": "document-gate stream starter (streaming API)",
    "start_fused_gate_stream": "document-gate stream starter (streaming API)",
    "start_fused_ingest_loop": "fused ingest loop starter (streaming API)",
    "compact_parquet": "lake maintenance: small-files compaction",
    "expire_partitions": "lake maintenance: partition retention",
    "read_kafka_stream": "S4 Kafka source parity entry (README, COVERAGE)",
    "running_totals_with_state": "stateful streaming operator (COVERAGE)",
    "apply_handlers": "T8 handler chain (COVERAGE)",
    "drop_empty_values": "T9 empty-message skip (COVERAGE)",
    "compile_config": "the config API entry point (README)",
    "reassemble_frames": "protocol-v2 capture -> v1 frames ingest adapter (S1)",
    "EVENT_SCHEMA": "the canonical Event envelope the decoders document",
    "decode_media": "real media decode boundary, stubbed to raise",
    "fake_image_features": "single-payload reference of the mm features",
    "drop_words": "the invalidation half of the with_words contract",
    "screen_unique_delta_pairs": "tested screen with no caller (CHANGES.md)",
}


def _defined(node: ast.stmt) -> list[str]:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = node.targets if isinstance(node, ast.Assign) else (
        [node.target] if isinstance(node, ast.AnnAssign) else [])
    return [t.id for t in targets if isinstance(t, ast.Name)]


def _registered(node: ast.stmt) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
        for d in getattr(node, "decorator_list", ())
    )


def _unreached_public_names() -> dict[str, str]:
    """Public top-level names of psql_streamer_spark/ that no product
    module, root script, tools/ or perfbench/ file names (a definition
    naming itself does not count; registered queries count as reached),
    mapped to their module."""
    root = TOOLS_DIR.parent
    pkg = root / "psql_streamer_spark"
    files = [
        *pkg.rglob("*.py"),
        *(root / "tools").rglob("*.py"),
        *(root / "perfbench").rglob("*.py"),
        *root.glob("*.py"),
    ]
    named: set[str] = set()
    public: dict[str, str] = {}
    for path in files:
        for stmt in ast.parse(path.read_text()).body:
            own = _defined(stmt)
            if pkg in path.parents and not _registered(stmt):
                public.update(
                    (n, str(path.relative_to(root))) for n in own
                    if not n.startswith("_")
                )
            for node in ast.walk(stmt):
                if isinstance(node, ast.Name) and node.id not in own:
                    named.add(node.id)
                elif isinstance(node, ast.Attribute) and node.attr not in own:
                    named.add(node.attr)
                elif isinstance(node, ast.ImportFrom):
                    named.update(a.name for a in node.names)
    return {n: m for n, m in public.items() if n not in named}


def test_every_public_name_is_reached_outside_tests():
    """Product code that only tests reach is a second path to maintain
    for no user: every public top-level name in psql_streamer_spark/ must
    be named by product code, a root script, tools/ or perfbench/, or be
    on KEPT_PUBLIC_API with its reason."""
    unreached = _unreached_public_names()
    orphans = {n: m for n, m in unreached.items() if n not in KEPT_PUBLIC_API}
    assert not orphans, f"public names only tests reach: {orphans}"
    stale = sorted(set(KEPT_PUBLIC_API) - set(unreached))
    assert not stale, f"KEPT_PUBLIC_API entries now reached or gone: {stale}"
