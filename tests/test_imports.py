"""Unused-import guard: every top-level import of a module under
``networkx_graph_spark/`` and ``tools/`` must be referenced by that module
(or re-exported through its ``__all__``). No linter ships with the
toolchain, so this is the check that keeps dead imports out."""

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGES = ("networkx_graph_spark", "tools")


def _modules():
    for pkg in PACKAGES:
        yield from sorted(glob.glob(os.path.join(ROOT, pkg, "**", "*.py"), recursive=True))


def _bound_names(tree: ast.Module):
    """(line, bound name) of every top-level import except ``__future__``."""
    for node in tree.body:
        if isinstance(node, ast.Import):
            for a in node.names:
                yield node.lineno, a.asname or a.name.split(".")[0]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            for a in node.names:
                yield node.lineno, a.asname or a.name


def _referenced(tree: ast.Module) -> set[str]:
    """Names the module loads, plus the strings listed in ``__all__``."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            names.update(
                e.value for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            )
    return names


def test_no_unused_top_level_imports():
    unused = []
    for path in _modules():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        used = _referenced(tree)
        rel = os.path.relpath(path, ROOT)
        unused += [f"{rel}:{line} {name}" for line, name in _bound_names(tree) if name not in used]
    assert not unused, "unused imports:\n" + "\n".join(unused)
