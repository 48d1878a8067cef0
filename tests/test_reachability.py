"""Reachability guard (no Spark): every top-level def, class and
assignment in bb_ocr_spark/ must be named somewhere besides its own
definition — in another .py file of the repo (tests included) or
elsewhere in its own module. A name nothing refers to is dead code."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "bb_ocr_spark"


def _references(tree: ast.AST) -> Counter:
    """Identifiers a tree reads: names, attributes, imported names and
    identifier-shaped string constants (getattr / lookup-by-name)."""
    out: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            out[node.id] += 1
        elif isinstance(node, ast.Attribute):
            out[node.attr] += 1
        elif isinstance(node, ast.alias):
            out[node.name.rsplit(".", 1)[-1]] += 1
        elif (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.isidentifier()
        ):
            out[node.value] += 1
    return out


def _defined_names(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, ast.AnnAssign):
        targets = [stmt.target]
    else:
        return []
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not (n.id.startswith("__") and n.id.endswith("__"))
    ]


def unreferenced_names(repo: Path = REPO) -> list[str]:
    files = [
        p
        for p in repo.rglob("*.py")
        if not {".git", "dist"} & set(p.relative_to(repo).parts)
    ]
    trees = {p: ast.parse(p.read_text(), str(p)) for p in files}
    total: Counter = sum((_references(t) for t in trees.values()), Counter())
    dead = []
    for path, tree in sorted(trees.items()):
        if repo / "bb_ocr_spark" not in path.parents:
            continue
        for stmt in tree.body:
            own = _references(stmt)
            for name in _defined_names(stmt):
                if total[name] - own[name] == 0:
                    dead.append(f"{path.relative_to(repo)}::{name}")
    return dead


def test_every_top_level_name_is_referenced():
    assert PACKAGE.is_dir()
    assert unreferenced_names() == []
