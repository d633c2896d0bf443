"""Every module under ``record_linkage_spark/`` is part of the product: the
batch pipeline, the compare report, the streams and their maintenance
entry point, ingest, the benchmark workloads or the driver contract
imports it, directly or through other modules. A module that none of
them reaches is dead code and fails here. Pure ``ast`` walk, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = "record_linkage_spark"
ROOTS = (
    "record_linkage_spark/plans/pipeline.py",
    "record_linkage_spark/plans/compare.py",
    "record_linkage_spark/streaming/incremental.py",
    "record_linkage_spark/streaming/maintenance.py",
    "record_linkage_spark/sources/ingest.py",
    "linkbench/run.py",
    "linkbench/workloads.py",
    "__spark_entry__.py",
)


def _package_modules() -> dict[str, Path]:
    mods = {}
    for path in (REPO / PACKAGE).rglob("*.py"):
        if path.name != "__init__.py":
            rel = path.relative_to(REPO).with_suffix("")
            mods[".".join(rel.parts)] = path
    return mods


def _imports(path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules that ``path`` imports anywhere, function bodies
    included (the contract queries import lazily)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names & mods.keys()


def _reached(mods: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    stack = []
    for root in ROOTS:
        path = REPO / root
        if path.is_relative_to(REPO / PACKAGE):
            stack.append(".".join(path.relative_to(REPO).with_suffix("").parts))
        stack.extend(_imports(path, mods))
    while stack:
        name = stack.pop()
        if name not in seen:
            seen.add(name)
            stack.extend(_imports(mods[name], mods))
    return seen


def test_every_module_is_reached_from_a_product_root():
    mods = _package_modules()
    assert sorted(set(mods) - _reached(mods)) == []
