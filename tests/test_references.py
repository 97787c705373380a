"""Static reference check: every name the code imports from the package,
and every attribute it reads off an imported package module, must exist.

Parses (never runs) the package, tests/, tools/, perfbench/ and the
top-level scripts.  Function-level lazy imports count like module-level
ones, so deleting a helper that some caller still names fails here rather
than at the first run of that caller.  Needs no Spark session: it only
imports the package modules.
"""

from __future__ import annotations

import ast
import importlib
import os
import types

PKG = "entity_resolution_pipeline_spark"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCAN_DIRS = (PKG, "tests", "tools", "perfbench")


def _py_files() -> list[str]:
    files = [f for f in os.listdir(ROOT) if f.endswith(".py")]
    for d in SCAN_DIRS:
        for dirpath, dirnames, names in os.walk(os.path.join(ROOT, d)):
            dirnames[:] = [n for n in dirnames if not n.startswith(("_", "."))]
            files += [
                os.path.relpath(os.path.join(dirpath, n), ROOT)
                for n in names
                if n.endswith(".py")
            ]
    return sorted(files)


def _module_of(relpath: str) -> tuple[str, bool]:
    """(dotted module name, is_package) of a file inside the package."""
    parts = relpath[:-3].split(os.sep)
    if parts[-1] == "__init__":
        return ".".join(parts[:-1]), True
    return ".".join(parts), False


def _absolute(relpath: str, node: ast.ImportFrom) -> str | None:
    """Absolute module an ImportFrom names, or None if it is outside the
    package."""
    if node.level == 0:
        mod = node.module or ""
        return mod if mod == PKG or mod.startswith(PKG + ".") else None
    if not relpath.startswith(PKG + os.sep):
        return None
    name, is_pkg = _module_of(relpath)
    base = name.split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _lookup(mod: str, name: str):
    """The object `from mod import name` binds; raises if it does not exist."""
    m = importlib.import_module(mod)
    if hasattr(m, name):
        return getattr(m, name)
    return importlib.import_module(f"{mod}.{name}")


class _Scope:
    def __init__(self, node: ast.AST, parent: "_Scope | None") -> None:
        self.node = node
        self.parent = parent
        self.modules: dict[str, types.ModuleType] = {}
        self.bound: set[str] = set()  # every name bound in this scope

    def resolve(self, name: str):
        """Module a Name refers to, or None (not a module, or ambiguous)."""
        s = self
        while s is not None:
            if name in s.bound:
                return s.modules.get(name)
            s = s.parent
            while s is not None and isinstance(s.node, ast.ClassDef):
                s = s.parent  # class bodies do not enclose their methods
        return None


_SCOPES = (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda, ast.ClassDef)


def _own_nodes(scope_node: ast.AST):
    """Nodes of one scope, stopping at nested scope boundaries (a nested
    def/class is yielded itself, its body is not)."""
    stack = list(ast.iter_child_nodes(scope_node))
    while stack:
        n = stack.pop()
        yield n
        if not isinstance(n, _SCOPES):
            stack.extend(ast.iter_child_nodes(n))


class _Checker:
    def __init__(self, relpath: str) -> None:
        self.relpath = relpath
        self.errors: list[str] = []
        self.n_attrs = 0

    def err(self, node: ast.AST, msg: str) -> None:
        self.errors.append(f"{self.relpath}:{node.lineno}: {msg}")

    def scope(self, node: ast.AST, parent: _Scope | None) -> None:
        s = _Scope(node, parent)
        other: set[str] = set()  # names bound here by anything but an import
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]:
                if arg is not None:
                    other.add(arg.arg)
        own = list(_own_nodes(node))
        imported: dict[str, list] = {}
        for n in own:
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Load):
                other.add(n.id)
            elif isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                other.add(n.name)
            elif isinstance(n, ast.ExceptHandler) and n.name:
                other.add(n.name)
            elif isinstance(n, ast.Import):
                for a in n.names:
                    bind = a.asname or a.name.split(".")[0]
                    obj = None
                    if a.name == PKG or a.name.startswith(PKG + "."):
                        obj = importlib.import_module(a.name)
                        if not a.asname:
                            obj = importlib.import_module(bind)
                    imported.setdefault(bind, []).append(obj)
            elif isinstance(n, ast.ImportFrom):
                mod = _absolute(self.relpath, n)
                for a in n.names:
                    obj = None
                    if mod is not None and a.name != "*":
                        try:
                            obj = _lookup(mod, a.name)
                        except (ImportError, AttributeError):
                            self.err(n, f"`from {mod} import {a.name}`: no such name")
                    imported.setdefault(a.asname or a.name, []).append(obj)
        s.bound = other | set(imported)
        # a name is a module alias only when every binding of it in the
        # scope imports that same module; any other binding makes it ambiguous
        for bind, objs in imported.items():
            if (
                isinstance(objs[0], types.ModuleType)
                and all(o is objs[0] for o in objs)
                and bind not in other
            ):
                s.modules[bind] = objs[0]
        for n in own:
            if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name):
                self.attribute(n, s)
            if isinstance(n, _SCOPES):
                self.scope(n, s)

    def attribute(self, node: ast.Attribute, s: _Scope) -> None:
        mod = s.resolve(node.value.id)
        if mod is None or not isinstance(node.ctx, ast.Load):
            return
        self.n_attrs += 1
        if hasattr(mod, node.attr):
            return
        try:
            importlib.import_module(f"{mod.__name__}.{node.attr}")
        except ImportError:
            self.err(node, f"`{node.value.id}.{node.attr}`: {mod.__name__} has no `{node.attr}`")


def _check(relpath: str) -> _Checker:
    with open(os.path.join(ROOT, relpath), encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=relpath)
    c = _Checker(relpath)
    c.scope(tree, None)
    return c


FILES = _py_files()


def test_package_references_resolve():
    errors = [e for f in FILES for e in _check(f).errors]
    assert not errors, "\n".join(errors)


def test_scan_covers_the_callers():
    """Guard the scanner itself: it must see the CLI, the benchmark and the
    package's own lazy imports, and find a dangling reference when there is
    one."""
    assert {"main.py", "perfbench/run.py", f"{PKG}/plans/pipeline.py"} <= set(FILES)
    assert sum(_check(f).n_attrs for f in ("main.py", "perfbench/run.py")) > 20
    bad = _Checker("tests/x.py")
    bad.scope(
        ast.parse(
            "def f():\n"
            f"    from {PKG}.operators import cluster as G\n"
            f"    from {PKG}.config import NoSuchConfig\n"
            "    return G.no_such_function\n"
            "def g(G):\n"
            "    return G.anything\n"
        ),
        None,
    )
    assert len(bad.errors) == 2, bad.errors
