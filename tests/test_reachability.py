"""Every module of the package is reachable from the graph server.

Walks the ``import`` / ``from … import`` statements of each module (lazy
imports inside functions included) with stdlib ``ast``, starting from the
engine and the CLI. A module nothing on that walk imports is code the
server cannot run; it should be deleted, not kept.
"""

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "jasminegraph_spark"
ROOTS = ("jasminegraph_spark.engine", "jasminegraph_spark.__main__")
# unreached on purpose, each with its reason
UNREACHED_OK = {
    "jasminegraph_spark.projection": "the TPC-H graph fixture of __spark_entry__ and the tests",
}


def _package_modules() -> dict:
    mods = {}
    for path in PKG.rglob("*.py"):
        parts = path.relative_to(PKG.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(name: str, path: Path):
    """Dotted names a module imports; for ``from m import x`` both ``m``
    and ``m.x`` (x may be a submodule)."""
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package.split(".")[: len(package.split(".")) - node.level + 1]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            yield mod
            yield from (f"{mod}.{alias.name}" for alias in node.names)


def _reached(mods: dict) -> set:
    seen, todo = set(), list(ROOTS)
    while todo:
        name = todo.pop()
        # importing a.b.c runs a/__init__ and a/b/__init__ first
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods and prefix not in seen:
                seen.add(prefix)
                todo.extend(_imported_names(prefix, mods[prefix]))
    return seen


def test_every_package_module_is_reachable_from_the_server():
    mods = _package_modules()
    assert set(UNREACHED_OK) <= set(mods)
    unreached = set(mods) - _reached(mods) - set(UNREACHED_OK)
    assert not unreached, f"modules the server cannot reach: {sorted(unreached)}"
