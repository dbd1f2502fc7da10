"""The graph store is written only by ``graph.py``.

``graph.replace`` (the crash-safe swap) and ``graph.append`` are the two
ways the store changes. Walks the Cypher and operator modules with stdlib
``ast`` and fails on any ``DataFrame.write`` access, ``os.rename`` or
``shutil.rmtree`` there: a write outside those two functions would skip
the swap that keeps a crashed write from losing a table.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "jasminegraph_spark"
PACKAGES = ("cypher", "operators")
FORBIDDEN = {("os", "rename"), ("shutil", "rmtree")}


def _store_writes(path: Path):
    """(line, what) for each store write in a module: a ``.write``
    attribute that is not itself called (``df.write.parquet`` is; a
    file's ``fh.write(...)`` is not), ``os.rename`` / ``shutil.rmtree``,
    and a ``from os import rename`` / ``from shutil import rmtree``."""
    tree = ast.parse(path.read_text())
    called = {id(n.func) for n in ast.walk(tree) if isinstance(n, ast.Call)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            if node.attr == "write" and id(node) not in called:
                yield node.lineno, "DataFrame.write"
            if isinstance(node.value, ast.Name) and (node.value.id, node.attr) in FORBIDDEN:
                yield node.lineno, f"{node.value.id}.{node.attr}"
        elif isinstance(node, ast.ImportFrom):
            for alias in node.names:
                if (node.module, alias.name) in FORBIDDEN:
                    yield node.lineno, f"{node.module}.{alias.name}"


def test_cypher_and_operators_write_the_store_only_through_graph():
    found = [
        f"{path.relative_to(PKG.parent)}:{line}: {what}"
        for package in PACKAGES
        for path in sorted((PKG / package).rglob("*.py"))
        for line, what in _store_writes(path)
    ]
    assert not found, "store writes outside graph.py:\n" + "\n".join(found)
