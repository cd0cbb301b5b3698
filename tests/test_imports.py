"""Guard against dead imports in the package.

Every non-``__init__`` module under ``commerce_data_pipeline_spark/`` must
reference each name it imports at module top level. Package ``__init__``
files are exempt: their imports are the public re-exports.
"""

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "commerce_data_pipeline_spark"


def _unused_imports(path: pathlib.Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    imported: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, ast.ImportFrom) and node.module == "__future__":
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for alias in node.names:
                imported[alias.asname or alias.name.split(".")[0]] = node.lineno
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [f"{name} (line {line})" for name, line in imported.items() if name not in used]


def test_no_unused_top_level_imports():
    unused = {
        str(p.relative_to(PKG)): names
        for p in sorted(PKG.rglob("*.py"))
        if p.name != "__init__.py" and (names := _unused_imports(p))
    }
    total = sum(len(v) for v in unused.values())
    assert not unused, f"{total} unused imports: {unused}"
