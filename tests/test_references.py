"""Static reference check: every name the code imports from the package,
every attribute it reads off an imported package module, and every config
value it reads as `cfg.<section>.<name>` / `DEFAULT_CONFIG.<section>.<name>`
must exist.

Parses (never runs) the package, tests/, tools/, perfbench/ and the
top-level scripts.  Function-level lazy imports count like module-level
ones, so deleting a helper or a config value that some caller still names
fails here rather than at the first run of that caller.  Needs no Spark
session: it only imports the package modules.
"""

from __future__ import annotations

import ast
import dataclasses
import importlib
import inspect
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
        # (call node, callee) for every `ALIAS.fn(...)` on a package module
        self.calls: list[tuple[ast.Call, object]] = []

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
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute):
                self.call(n, s)
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


    def call(self, node: ast.Call, s: _Scope) -> None:
        f = node.func
        mod = s.resolve(f.value.id) if isinstance(f.value, ast.Name) else None
        if mod is not None and hasattr(mod, f.attr):
            self.calls.append((node, getattr(mod, f.attr)))


def _check(relpath: str) -> _Checker:
    with open(os.path.join(ROOT, relpath), encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=relpath)
    c = _Checker(relpath)
    c.scope(tree, None)
    return c


def _config_reads(relpath: str, tree: ast.AST) -> tuple[int, list[str]]:
    """(chains seen, errors) for `cfg.<section>.<name>` and
    `DEFAULT_CONFIG.<section>.<name>` reads whose <section> is a
    PipelineConfig field, resolved against DEFAULT_CONFIG."""
    from entity_resolution_pipeline_spark.config import DEFAULT_CONFIG, PipelineConfig

    sections = {f.name for f in dataclasses.fields(PipelineConfig)}
    seen, errors = 0, []
    for n in ast.walk(tree):
        if not (
            isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Attribute)
            and isinstance(n.value.value, ast.Name)
            and n.value.value.id in ("cfg", "DEFAULT_CONFIG")
            and n.value.attr in sections
        ):
            continue
        seen += 1
        if not hasattr(getattr(DEFAULT_CONFIG, n.value.attr), n.attr):
            errors.append(
                f"{relpath}:{n.lineno}: `{n.value.value.id}.{n.value.attr}.{n.attr}`: "
                f"no such config value"
            )
    return seen, errors


FILES = _py_files()


def test_package_references_resolve():
    errors = [e for f in FILES for e in _check(f).errors]
    assert not errors, "\n".join(errors)


def test_config_reads_resolve():
    seen, errors = 0, []
    for f in FILES:
        with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
            n, errs = _config_reads(f, ast.parse(fh.read(), filename=f))
        seen += n
        errors += errs
    assert seen > 5, seen  # the scan still finds the pipeline's reads
    assert not errors, "\n".join(errors)


def test_every_config_field_is_read():
    """Every settable config value has a reader: an attribute of that name
    is read somewhere in the package outside config.py, in main.py or in
    perfbench/.  A value nothing reads changes nothing when set."""
    from entity_resolution_pipeline_spark.config import PipelineConfig

    readers = [
        f for f in FILES
        if (f.startswith(PKG + os.sep) and f != os.path.join(PKG, "config.py"))
        or f == "main.py"
        or f.startswith("perfbench" + os.sep)
    ]
    read = set()
    for f in readers:
        with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=f)
        read |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
    fields = dataclasses.fields(PipelineConfig)
    sections = [f.default_factory for f in fields if dataclasses.is_dataclass(f.default_factory)]
    assert len(sections) >= 5, sections  # the nested config sections were found
    unread = [
        f"{cls.__name__}.{f.name}"
        for cls in [PipelineConfig, *sections]
        for f in dataclasses.fields(cls)
        if f.name not in read
    ]
    assert not unread, unread


def test_perfbench_calls_bind():
    """Every `<package module alias>.<fn>(...)` call in the frozen
    benchmark binds to fn's current signature: the same number of
    positional arguments and only keyword names fn accepts.  A signature
    change that breaks the benchmark fails here, which the attribute check
    cannot see."""
    c = _check(os.path.join("perfbench", "run.py"))
    assert len(c.calls) > 20, len(c.calls)
    errors = []
    for call, fn in c.calls:
        where = f"perfbench/run.py:{call.lineno}: {ast.unparse(call.func)}"
        if any(isinstance(a, ast.Starred) for a in call.args) or any(
            k.arg is None for k in call.keywords
        ):
            errors.append(f"{where}: *args/**kwargs call cannot be checked")
            continue
        try:
            inspect.signature(fn).bind(
                *[None] * len(call.args), **{k.arg: None for k in call.keywords}
            )
        except TypeError as e:
            errors.append(f"{where}: {e}")
    assert not errors, "\n".join(errors)


def test_perfbench_prepare_attributes_exist():
    """Every attribute the frozen benchmark reads on a `PL.prepare(...)`
    result (its `prep` variables) exists on a PipelineResult, looked up
    statically so no property runs."""
    from entity_resolution_pipeline_spark.plans.pipeline import PipelineResult

    with open(os.path.join(ROOT, "perfbench", "run.py"), encoding="utf-8") as f:
        tree = ast.parse(f.read())
    read = {
        n.attr for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and isinstance(n.value, ast.Name)
        and n.value.id == "prep"
    }
    assert read >= {
        "records", "melted", "unique_strings", "record_field_hashes",
        "embeddings", "staged", "idf_weights",
    }, read
    result = PipelineResult(None, None, None, None)
    missing = []
    for name in sorted(read):
        try:
            inspect.getattr_static(result, name)
        except AttributeError:
            missing.append(name)
    assert not missing, missing


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
    seen, errors = _config_reads(
        "tests/x.py",
        ast.parse(
            "cfg.features.no_such_knob\n"
            "DEFAULT_CONFIG.blocking.max_block_size\n"
            "cfg.other.anything\n"  # not a PipelineConfig section: skipped
        ),
    )
    assert seen == 2 and len(errors) == 1 and "no_such_knob" in errors[0], errors


def test_no_host_local_staging_root():
    """Defaults must not depend on host-local storage: no package module
    reads a staging-root variable or names the shared-memory mount."""
    shm = "/dev/" + "shm"
    offenders = []
    for f in FILES:
        if not f.startswith(PKG + os.sep):
            continue
        with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
            text = fh.read()
        offenders += [f"{f}: {w}" for w in ("ERX_STAGE_ROOT", shm) if w in text]
    assert not offenders, offenders
