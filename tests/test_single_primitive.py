"""One materialization primitive: outside graph/fixpoint.py no package
module persists, caches or checkpoints a frame itself, or names a
storage level. Everything goes through fixpoint.keep, hold or cut, so
the core-count clamp and the local/cluster branch live in one place.

The scan walks the syntax tree, so comments and docstrings may still
talk about persist() and the cache; ``unpersist()`` is a different name
and owners keep calling it.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "mapreduce_sssp_spark"
OWNER = PKG / "graph" / "fixpoint.py"

CALLS = {"persist", "cache", "localCheckpoint", "checkpoint"}


def _hits(src: str) -> list[str]:
    found = []
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call):
            fn = node.func
            name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", "")
            if name in CALLS:
                found.append(f"line {node.lineno}: {name}(")
        names = (
            [a.name for a in node.names] if isinstance(node, ast.ImportFrom)
            else [node.id] if isinstance(node, ast.Name)
            else [node.attr] if isinstance(node, ast.Attribute)
            else []
        )
        if "StorageLevel" in names:
            found.append(f"line {node.lineno}: StorageLevel")
    return found


def test_only_fixpoint_materializes():
    offenders = [
        f"{path.relative_to(PKG.parent)} {h}"
        for path in sorted(PKG.rglob("*.py"))
        if path != OWNER
        for h in _hits(path.read_text())
    ]
    assert not offenders, (
        "materialize through fixpoint.keep / hold / cut instead:\n"
        + "\n".join(offenders)
    )
    assert _hits(OWNER.read_text()), "the owner module must match"
