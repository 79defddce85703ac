"""Every imported name in the package, ``tools/`` and ``__spark_entry__.py``
is read somewhere in its module (or re-exported through ``__all__``), so
deletions do not leave dead imports behind."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]


def _unused(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    imported = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                imported[a.asname or a.name.split(".")[0]] = node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                imported[a.asname or a.name] = node.lineno
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    exported = set()
    for node in tree.body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            exported = set(ast.literal_eval(node.value))
    return [
        f"{path.relative_to(REPO)}:{line} {name}"
        for name, line in sorted(imported.items())
        if name not in read and name not in exported
    ]


def test_no_unused_imports():
    files = [
        *sorted((REPO / "ndap_data_validator_spark").rglob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
        REPO / "__spark_entry__.py",
    ]
    unused = [u for f in files for u in _unused(f)]
    assert not unused, unused
