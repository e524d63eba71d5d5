"""Every top-level definition in the package must be used somewhere.

A Spark-free AST scan. A top-level function, class or constant of the
package is dead when its name is referenced nowhere but in its own
definition: not elsewhere in its own module, not in another package
module, and not in ``__spark_entry__.py``, ``bench*.py``, ``tools/``,
``perfbench/`` or ``tests/``. A reference is a name load, an attribute
access or an imported name; a string that happens to spell the name is
not. Run the module directly to print the scan's output.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "debezium_connector_yugabytedb_1_spark"

#: ``module:name`` of definitions the scan may report, each with why it
#: stays. Only reference-parity helpers with no caller belong here; the
#: test-only ones (``skew.group_*``, ``split.*``, ``tablepoll.*``,
#: ``order.commit_time_order``, ...) need no entry, their unit tests
#: reference them.
ALLOWED: dict[str, str] = {}


def _py_files(path: str):
    if path.endswith(".py"):
        yield path
        return
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _scan_roots() -> list[str]:
    top = sorted(
        f for f in os.listdir(ROOT)
        if f == "__spark_entry__.py" or (f.startswith("bench") and f.endswith(".py"))
    )
    return [os.path.join(ROOT, p) for p in [PACKAGE, *top, "tools", "perfbench", "tests"]]


def _top_level_defs(tree: ast.Module):
    """(name, node) for each top-level def/class/assignment, dunders aside."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [node.name]
        elif isinstance(node, ast.Assign):
            names = [t.id for t in node.targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            names = [node.target.id]
        else:
            continue
        for name in names:
            if not (name.startswith("__") and name.endswith("__")):
                yield name, node


def _references(tree: ast.AST, skip: set[int]):
    """Names referenced in ``tree``, outside the nodes whose id is in
    ``skip`` (a definition's own body does not keep it alive)."""
    stack = [tree]
    while stack:
        node = stack.pop()
        if id(node) in skip:
            continue
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.ImportFrom):
            yield from (a.name for a in node.names)
        stack.extend(ast.iter_child_nodes(node))


def dead_definitions() -> list[str]:
    """``module:name`` of every unreferenced top-level package definition."""
    trees = {}
    for root in _scan_roots():
        for path in _py_files(root):
            with open(path) as f:
                trees[path] = ast.parse(f.read(), filename=path)
    refs_by_file = {path: set(_references(tree, set())) for path, tree in trees.items()}
    pkg_root = os.path.join(ROOT, PACKAGE)
    dead = []
    for path, tree in trees.items():
        if not path.startswith(pkg_root + os.sep):
            continue
        for name, node in _top_level_defs(tree):
            if any(name in refs for p, refs in refs_by_file.items() if p != path):
                continue
            if name in _references(tree, {id(node)}):
                continue
            module = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
            dead.append(f"{module.removesuffix('.__init__')}:{name}")
    return sorted(dead)


def test_every_package_definition_is_referenced():
    dead = dead_definitions()
    assert not set(ALLOWED) - set(dead), "allowlisted but no longer dead"
    unexpected = [d for d in dead if d not in ALLOWED]
    assert not unexpected, f"unreferenced top-level definitions: {unexpected}"


if __name__ == "__main__":
    print("\n".join(dead_definitions()) or "no unreferenced definitions")
