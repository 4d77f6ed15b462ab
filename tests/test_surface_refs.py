"""Static reference checks, no Spark: every name the code and PARITY.md
use from the package must exist.

(a) Every `block_explorer_spark` reference in the package,
    `__spark_entry__.py`, `bench.py`, `scripts/`, `perfbench/` and
    `tests/` resolves to an existing module, top-level name or
    submodule: `import` and `from ... import` statements at any depth
    (function-local lazy imports included), `Alias.attr` on a name
    bound to a package module, and perfbench's `TARGETS` pairs. Names
    are resolved by Python's scoping rules, so a function that rebinds
    a module alias (`from pyspark.sql import Window as W` under a
    module-level `W = operators.windows`) is read with its own binding.
(b) Every `` `path.py::name` `` in PARITY.md names a top-level
    definition or a method of that file.
(c) The manifest's commit protocol (`commit`, `discard`, the write
    intents, `CommitConflict`) is referenced by no package module but
    `sources/manifest.py`: every other writer goes through
    `manifest.transact`.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "block_explorer_spark"


def _module_files() -> dict[str, Path]:
    """Dotted module name -> source file, for every package module."""
    out = {}
    for p in (ROOT / PKG).rglob("*.py"):
        parts = list(p.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = p
    return out


MODULES = _module_files()


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a statement list binds at its own level: defs, classes,
    assignments and imports, looking through if/try/with/for blocks
    but not into nested functions or classes."""
    names: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            for a in node.names:
                names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
        else:
            for field in ("body", "orelse", "finalbody", "handlers"):
                sub = getattr(node, field, None)
                if isinstance(sub, list):
                    names |= _bound_names(sub)
    return names


_TOP_NAMES = {
    mod: _bound_names(ast.parse(path.read_text()).body) for mod, path in MODULES.items()
}


def _has(mod: str, name: str) -> bool:
    """`mod.name` exists: a top-level name of `mod` or a submodule."""
    return name in _TOP_NAMES[mod] or f"{mod}.{name}" in MODULES


def _resolve_from(node: ast.ImportFrom, this_mod: str | None) -> str | None:
    """Absolute module of a `from X import ...`, or None when it is
    not a package import."""
    if node.level:
        if this_mod is None:
            return None
        is_pkg = MODULES[this_mod].name == "__init__.py"
        base = this_mod.split(".")
        base = base[: len(base) - node.level + (1 if is_pkg else 0)]
        return ".".join(base + ([node.module] if node.module else []))
    if node.module == PKG or (node.module or "").startswith(PKG + "."):
        return node.module
    return None


def _local_names(fn: ast.AST) -> set[str]:
    """Every name a function binds anywhere in its own body (Python
    makes such a name local for the whole function)."""
    a = fn.args
    names = {
        x.arg
        for x in a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
        if x is not None
    }
    declared: set[str] = set()
    stack = list(fn.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.Global, ast.Nonlocal)):
            declared |= set(node.names)
            continue
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            stack.extend(node.decorator_list)
            continue
        if isinstance(node, (ast.Lambda, ast.ListComp, ast.SetComp, ast.DictComp, ast.GeneratorExp)):
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for al in node.names:
                names.add(al.asname or al.name.split(".")[0])
        elif isinstance(node, ast.Name) and isinstance(node.ctx, (ast.Store, ast.Del)):
            names.add(node.id)
        elif isinstance(node, ast.ExceptHandler) and node.name:
            names.add(node.name)
        elif isinstance(node, ast.NamedExpr):
            names.add(node.target.id)
        stack.extend(ast.iter_child_nodes(node))
    return names - declared


class _Checker(ast.NodeVisitor):
    """Walks one file with a scope chain of {name: module or None}
    (None: bound to something that is not a package module). The
    module scope is filled before the walk, so a function body sees
    the module's final bindings, as it does when it is called."""

    def __init__(self, path: Path, tree: ast.Module):
        self.path = path
        self.this_mod = next((m for m, p in MODULES.items() if p == path), None)
        self.errors: list[str] = []
        self.scopes: list[dict[str, str | None]] = [{}]
        self._module_scope(tree.body)

    def _module_scope(self, body: list[ast.stmt]) -> None:
        for node in body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                self._bind_import(node, report=False)
            elif isinstance(node, ast.Assign):
                mod = self._module_value(node.value)
                for t in node.targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            self.scopes[0][n.id] = mod
            elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.scopes[0][node.name] = None
            else:
                for field in ("body", "orelse", "finalbody", "handlers"):
                    sub = getattr(node, field, None)
                    if isinstance(sub, list):
                        self._module_scope(sub)

    def _module_value(self, expr: ast.AST) -> str | None:
        """The package module an expression evaluates to, if any."""
        if isinstance(expr, ast.Name):
            return self._lookup(expr.id)
        if isinstance(expr, ast.Attribute):
            mod = self._module_value(expr.value)
            sub = f"{mod}.{expr.attr}"
            return sub if mod is not None and sub in MODULES else None
        return None

    def _err(self, node: ast.AST, msg: str) -> None:
        self.errors.append(f"{self.path.relative_to(ROOT)}:{node.lineno}: {msg}")

    def _lookup(self, name: str) -> str | None:
        for scope in reversed(self.scopes):
            if name in scope:
                return scope[name]
        return None

    def _bind_import(self, node: ast.Import | ast.ImportFrom, report: bool) -> None:
        scope = self.scopes[-1]
        if isinstance(node, ast.Import):
            for a in node.names:
                name = a.asname or a.name.split(".")[0]
                if a.name != PKG and not a.name.startswith(PKG + "."):
                    scope[name] = None
                elif a.name not in MODULES:
                    if report:
                        self._err(node, f"no module {a.name}")
                else:
                    scope[name] = a.name if a.asname else PKG
            return
        mod = _resolve_from(node, self.this_mod)
        for a in node.names:
            name = a.asname or a.name
            sub = f"{mod}.{a.name}"
            scope[name] = sub if sub in MODULES else None
            if mod is None or a.name == "*" or not report:
                continue
            if mod not in MODULES:
                self._err(node, f"no module {mod}")
            elif not _has(mod, a.name):
                self._err(node, f"{mod} has no {a.name}")

    def visit_Import(self, node: ast.Import) -> None:
        self._bind_import(node, report=True)

    visit_ImportFrom = visit_Import

    def visit_Attribute(self, node: ast.Attribute) -> None:
        chain = []
        base: ast.AST = node
        while isinstance(base, ast.Attribute):
            chain.append(base.attr)
            base = base.value
        if isinstance(base, ast.Name):
            mod = self._lookup(base.id)
            for attr in reversed(chain):
                if mod is None:
                    break
                if not _has(mod, attr):
                    self._err(node, f"{base.id} ({mod}) has no {attr}")
                    break
                sub = f"{mod}.{attr}"
                mod = sub if sub in MODULES else None
        self.visit(base)

    def _in_scope(self, local: set[str], nodes: list[ast.AST]) -> None:
        self.scopes.append({n: None for n in local})
        for child in nodes:
            self.visit(child)
        self.scopes.pop()

    def visit_FunctionDef(self, node: ast.FunctionDef, outer=None) -> None:
        """Decorators and defaults in the current scope; the body in its
        own scope, where every locally bound name shadows, enclosed by
        `outer` when given (a method's body does not see its class)."""
        self.scopes[-1][node.name] = None
        for d in node.decorator_list + node.args.defaults + [
            k for k in node.args.kw_defaults if k is not None
        ]:
            self.visit(d)
        saved = self.scopes
        self.scopes = saved if outer is None else outer
        self._in_scope(_local_names(node), node.body)
        self.scopes = saved

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_Lambda(self, node: ast.Lambda) -> None:
        a = node.args
        for d in a.defaults + [k for k in a.kw_defaults if k is not None]:
            self.visit(d)
        args = a.posonlyargs + a.args + a.kwonlyargs + [a.vararg, a.kwarg]
        self._in_scope({x.arg for x in args if x is not None}, [node.body])

    def visit_ListComp(self, node: ast.AST) -> None:
        targets = {
            n.id
            for g in node.generators
            for n in ast.walk(g.target)
            if isinstance(n, ast.Name)
        }
        self.scopes.append({n: None for n in targets})
        self.generic_visit(node)
        self.scopes.pop()

    visit_SetComp = visit_DictComp = visit_GeneratorExp = visit_ListComp

    def visit_ClassDef(self, node: ast.ClassDef) -> None:
        for d in node.decorator_list + node.bases + [k.value for k in node.keywords]:
            self.visit(d)
        self.scopes[-1][node.name] = None
        outer = self.scopes
        self.scopes = outer + [{}]
        for child in node.body:
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                self.visit_FunctionDef(child, outer)
            else:
                self.visit(child)
        self.scopes = outer


def _surface_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in (PKG, "scripts", "perfbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _check(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    checker = _Checker(path, tree)
    checker.visit(tree)
    return checker.errors


def test_package_references_resolve():
    assert [e for path in _surface_files() for e in _check(path)] == []


MANIFEST = f"{PKG}.sources.manifest"
_PROTOCOL = {"commit", "discard", "write_intent", "begin_write", "end_write", "CommitConflict"}


class _ProtocolRefs(_Checker):
    """Reports each `alias.name` (or `from ... import name`) of a
    commit-protocol name on the manifest module, with the same scoping
    as _Checker; unresolved names are (a)'s business, not reported."""

    def _bind_import(self, node: ast.Import | ast.ImportFrom, report: bool) -> None:
        super()._bind_import(node, report=False)
        if isinstance(node, ast.ImportFrom) and _resolve_from(node, self.this_mod) == MANIFEST:
            for a in node.names:
                if a.name in _PROTOCOL:
                    self._err(node, f"imports manifest.{a.name}")

    def visit_Attribute(self, node: ast.Attribute) -> None:
        if node.attr in _PROTOCOL and self._module_value(node.value) == MANIFEST:
            self._err(node, f"uses manifest.{node.attr}")
        self.generic_visit(node)


def test_commit_protocol_stays_in_manifest():
    errors = []
    for mod, path in MODULES.items():
        if mod != MANIFEST:
            tree = ast.parse(path.read_text())
            checker = _ProtocolRefs(path, tree)
            checker.visit(tree)
            errors += checker.errors
    assert errors == []


def _defs(path: Path) -> set[str]:
    """Top-level names plus `method` and `Class.method` of a file."""
    tree = ast.parse(path.read_text())
    names = _bound_names(tree.body)
    for n in tree.body:
        if isinstance(n, ast.ClassDef):
            for m in _bound_names(n.body):
                names |= {m, f"{n.name}.{m}"}
    return names


def test_perfbench_targets_resolve():
    """perfbench's tracer patches `(module, "name")` and
    `(module, "Class.method")` pairs named in strings; each must exist."""
    tree = ast.parse((ROOT / "perfbench" / "spans.py").read_text())
    targets = next(
        n.value for n in tree.body
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "TARGETS" for t in n.targets)
    )
    missing = [
        f"{mod.value}:{attr.value}"
        for mod, attr, *_ in (elt.elts for elt in targets.elts)
        if mod.value not in MODULES or attr.value not in _defs(MODULES[mod.value])
    ]
    assert missing == []


def _parity_file(rel: str) -> Path | None:
    """A PARITY path: relative to the repo, to the package, or a
    unique suffix of a package file (`parquet.py`)."""
    for cand in (ROOT / rel, ROOT / PKG / rel):
        if cand.is_file():
            return cand
    hits = [p for p in MODULES.values() if str(p).endswith("/" + rel)]
    return hits[0] if len(hits) == 1 else None


PARITY_REF = re.compile(r"`([\w/]+\.py)::([\w.]+)`")


def test_parity_references_resolve():
    text = (ROOT / "PARITY.md").read_text()
    bad = []
    for rel, name in sorted(set(PARITY_REF.findall(text))):
        path = _parity_file(rel)
        if path is None:
            bad.append(f"{rel} (no such file)")
        elif name not in _defs(path):
            bad.append(f"{rel}::{name}")
    assert bad == []
