"""Every top-level package ``def`` and ``class`` has a caller outside tests.

A pure-AST scan, with no Spark session. The roots are the ``@register``ed
queries, module-level package code, ``tools/``, ``perfbench/`` (less its
own tests), ``bench.py`` and ``__spark_entry__.py``. Reachability follows
names transitively through each module's own definitions and its imports.
A definition that nothing reaches must be deleted or named, with its
reason, in COVERAGE.md's "Kept without a package caller" section; a kept
name counts as a root. A kept name that no longer exists, or that a root
has come to reach, fails too, so the list cannot rot.

The second test holds the package's parameters to the same rule: every
defaulted parameter of a package function or method must be set to a
value other than its default by some call in the package, the roots or
``tests/``. One that never is becomes the constant it always held.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "nt_etl_order_book_spark"
ROOT_FILES = ("bench.py", "__spark_entry__.py")
ROOT_DIRS = ("tools", "perfbench")
KEPT_HEADING = "## Kept without a package caller"


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(os.path.join(REPO, top)):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(filenames):
            if name.endswith(".py"):
                yield os.path.join(dirpath, name)


def _module_name(path: str) -> str:
    rel = os.path.relpath(path, REPO)[: -len(".py")].split(os.sep)
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


class _Module:
    """One module's top-level definitions and import bindings."""

    def __init__(self, path: str):
        self.name = _module_name(path)
        self.is_pkg = path.endswith("__init__.py")
        with open(path, encoding="utf-8") as fh:
            tree = self.tree = ast.parse(fh.read(), filename=path)
        self.defs = {
            node.name: node
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        # local name -> dotted module, or (module, attribute)
        self.imports: dict[str, str | tuple[str, str]] = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.asname:
                        self.imports[alias.asname] = alias.name
                    else:
                        head = alias.name.split(".")[0]
                        self.imports[head] = head
            elif isinstance(node, ast.ImportFrom):
                base = self.absolute(node.module, node.level)
                for alias in node.names:
                    self.imports[alias.asname or alias.name] = (base, alias.name)

    def absolute(self, module: str | None, level: int) -> str:
        if not level:
            return module or ""
        parts = self.name.split(".")
        if not self.is_pkg:
            parts = parts[:-1]
        parts = parts[: len(parts) - (level - 1)]
        return ".".join(parts + ([module] if module else []))


class _Index:
    def __init__(self):
        self.modules: dict[str, _Module] = {}
        for path in _py_files(PACKAGE):
            mod = _Module(path)
            self.modules[mod.name] = mod

    def target(self, module: str, attr: str):
        """Resolve ``module.attr`` to a package definition or submodule."""
        sub = f"{module}.{attr}"
        if sub in self.modules:
            return sub
        mod = self.modules.get(module)
        if mod is None:
            return None
        if attr in mod.defs:
            return (module, attr)
        bound = mod.imports.get(attr)
        if isinstance(bound, tuple):
            return self.target(*bound)
        if isinstance(bound, str):
            return bound if bound in self.modules else None
        return None

    def lookup(self, mod: _Module, name: str):
        if name in mod.defs:
            return (mod.name, name)
        bound = mod.imports.get(name)
        if isinstance(bound, tuple):
            return self.target(*bound)
        if isinstance(bound, str):
            return bound
        return None

    def references(self, mod: _Module, node: ast.AST):
        """Package definitions named anywhere under ``node``."""
        found = set()
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                hit = self.lookup(mod, sub.id)
            elif isinstance(sub, ast.Attribute):
                hit = self._attribute(mod, sub)
            else:
                continue
            if isinstance(hit, tuple):
                found.add(hit)
        return found

    def _attribute(self, mod: _Module, node: ast.Attribute):
        base = node.value
        if isinstance(base, ast.Name):
            owner = self.lookup(mod, base.id)
        elif isinstance(base, ast.Attribute):
            owner = self._attribute(mod, base)
        else:
            return None
        if isinstance(owner, str):
            return self.target(owner, node.attr)
        return None


def _is_registered(node: ast.AST) -> bool:
    for deco in getattr(node, "decorator_list", ()):
        func = deco.func if isinstance(deco, ast.Call) else deco
        name = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
        if name == "register":
            return True
    return False


def kept_names() -> set[str]:
    """Backticked names in the bullets of COVERAGE.md's kept section."""
    with open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8") as fh:
        text = fh.read()
    assert KEPT_HEADING in text, f"COVERAGE.md has no {KEPT_HEADING!r} section"
    section = text.split(KEPT_HEADING, 1)[1].split("\n## ", 1)[0]
    names = set()
    for line in section.splitlines():
        if line.lstrip().startswith("- "):
            head = line.split(":", 1)[0]
            names.update(re.findall(r"`([A-Za-z_][A-Za-z0-9_]*)`", head))
    return names


def scan(kept: set[str]):
    """Return ``(unreachable, reachable_from_roots, all_defs)``.

    ``reachable_from_roots`` excludes what only a kept name reaches, so a
    kept name found in it has a real caller and should leave the list.
    """
    index = _Index()
    all_defs = {(m.name, d) for m in index.modules.values() for d in m.defs}
    seeds: set[tuple[str, str]] = set()
    for mod in index.modules.values():
        for stmt in mod.tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if _is_registered(stmt):
                    seeds.add((mod.name, stmt.name))
                # decorators, defaults and bases run at import time
                for part in (*stmt.decorator_list, *getattr(stmt, "bases", ())):
                    seeds |= index.references(mod, part)
                if not isinstance(stmt, ast.ClassDef):
                    for default in (*stmt.args.defaults, *stmt.args.kw_defaults):
                        if default is not None:
                            seeds |= index.references(mod, default)
            elif isinstance(stmt, ast.ImportFrom) and mod.is_pkg:
                # a package __init__'s re-export is public API
                base = mod.absolute(stmt.module, stmt.level)
                seeds |= {index.target(base, a.name) for a in stmt.names} - {None}
            else:
                seeds |= index.references(mod, stmt)
    outside = [os.path.join(REPO, f) for f in ROOT_FILES]
    for top in ROOT_DIRS:
        outside += [p for p in _py_files(top) if not os.path.basename(p).startswith("test_")]
    for path in outside:
        # a root file sees the package through absolute imports only
        shim = _Module(path)
        seeds |= index.references(shim, shim.tree)

    def closure(start):
        seen, todo = set(), list(start)
        while todo:
            key = todo.pop()
            if key in seen or key not in all_defs:
                continue
            seen.add(key)
            mod = index.modules[key[0]]
            todo.extend(index.references(mod, mod.defs[key[1]]) - seen)
        return seen

    from_roots = closure(seeds)
    kept_defs = {key for key in all_defs if key[1] in kept}
    reached = closure(from_roots | kept_defs)
    return all_defs - reached, from_roots, all_defs


def test_every_package_definition_is_reachable_or_kept():
    kept = kept_names()
    unreachable, from_roots, all_defs = scan(kept)
    assert not unreachable, (
        "package definitions with no caller outside tests; delete them or name "
        f"them in COVERAGE.md's {KEPT_HEADING[3:]!r} section: "
        + ", ".join(f"{m}.{d}" for m, d in sorted(unreachable))
    )
    defined = {name for _, name in all_defs}
    missing = sorted(kept - defined)
    assert not missing, f"COVERAGE.md keeps names the package no longer defines: {missing}"
    now_reached = sorted(kept & {name for _, name in from_roots})
    assert not now_reached, (
        f"kept names now have a package caller; drop them from the list: {now_reached}"
    )


def _defaulted(fn: ast.FunctionDef | ast.AsyncFunctionDef, skip: int):
    """``(name, default source, position or None)`` per defaulted
    parameter; positions count from the first one after ``skip``."""
    a = fn.args
    pos = [*a.posonlyargs, *a.args]
    for i, default in enumerate(a.defaults, len(pos) - len(a.defaults)):
        yield pos[i].arg, ast.unparse(default), i - skip
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, ast.unparse(default), None


def _sets(call: ast.Call, name: str, default: str, position: int | None) -> bool:
    """Whether ``call`` passes the parameter a value other than its default."""
    for kw in call.keywords:
        if kw.arg is None or (kw.arg == name and ast.unparse(kw.value) != default):
            return True  # a **kwargs pass may carry it
    for i, arg in enumerate(call.args):
        if position is None or i > position:
            break
        if isinstance(arg, ast.Starred):
            return True  # so may a *args pass at or before its position
        if i == position and ast.unparse(arg) != default:
            return True
    return False


def test_every_option_is_set_somewhere():
    kept = kept_names()
    options = []  # (label, called name, parameter, default, position)
    for mod in _Index().modules.values():
        for node in mod.tree.body:
            if getattr(node, "name", None) in kept:
                continue
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for opt in _defaulted(node, 0):
                    options.append((f"{mod.name}.{node.name}", node.name, *opt))
            elif isinstance(node, ast.ClassDef):
                for meth in node.body:
                    if isinstance(meth, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        called = node.name if meth.name == "__init__" else meth.name
                        for opt in _defaulted(meth, 1):
                            options.append((f"{mod.name}.{node.name}.{meth.name}", called, *opt))
    # Calls match on the called name alone, so a same-named call anywhere
    # counts: the scan can miss an unset option, never invent one.
    calls: dict[str, list[ast.Call]] = {}
    paths = [os.path.join(REPO, f) for f in ROOT_FILES]
    for top in (PACKAGE, *ROOT_DIRS, "tests"):
        paths += _py_files(top)
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for node in ast.walk(ast.parse(fh.read(), filename=path)):
                if isinstance(node, ast.Call):
                    func = node.func
                    called = func.attr if isinstance(func, ast.Attribute) else getattr(func, "id", None)
                    calls.setdefault(called, []).append(node)
    unset = [
        f"{label}({name}={default})"
        for label, called, name, default, position in options
        if not any(_sets(c, name, default, position) for c in calls.get(called, ()))
    ]
    assert not unset, (
        "defaulted parameters that no call sets to another value; make each the "
        "constant it always holds: " + ", ".join(sorted(unset))
    )
