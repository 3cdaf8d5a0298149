"""Every package module is reached from a real entry point, or is on an
allow-list with its reason.

The walk is static: AST ``import``/``from`` statements at any depth
(lazy imports inside functions count), relative imports resolved, from
the driver entry, the per-query sweep, the benchmark and the tools.  A
runtime sweep such as ``perfbench/tracing.py``'s ``pkgutil`` loop, which
imports every module of a layer only to wrap it, reaches nothing here:
it names no module."""

from __future__ import annotations

import ast
from pathlib import Path

from .conftest import REPO

PKG = "ida_dataengineerproject_spark"

# kept although no entry point imports them; one reason each
ALLOWED = {
    f"{PKG}.plans.bootstrap": "reference op07/op08: catalog bootstrap and "
    "health probe (init_db.py:59-108, etl_ida.py:630-651)",
    f"{PKG}.sources.jdbc": "reference op06: the reference's sink is "
    "PostgreSQL (etl_ida.py:461-554)",
}


def _roots() -> list[Path]:
    return [
        REPO / "__spark_entry__.py",
        REPO / "bench.py",
        *sorted((REPO / "perfbench").glob("*.py")),
        *sorted((REPO / "tools").glob("*.py")),
    ]


def _package_modules() -> dict[str, Path]:
    """Dotted name -> file, for every module of the package."""
    files = {}
    for path in sorted((REPO / PKG).rglob("*.py")):
        parts = path.relative_to(REPO).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        files[".".join(parts)] = path
    return files


def _imported(path: Path, name: str, known: dict[str, Path]) -> set[str]:
    """Package modules one file imports, with their parent packages."""
    is_pkg = path.name == "__init__.py"
    package = name if is_pkg else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found |= {alias.name for alias in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - node.level + 1]
                base = ".".join([*anchor, base] if base else anchor)
            found.add(base)
            # ``from pkg import mod`` loads pkg.mod when that is a module
            found |= {f"{base}.{alias.name}" for alias in node.names}
    reached = set()
    for mod in found:
        parts = mod.split(".")
        reached |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return reached & known.keys()


def _reached(known: dict[str, Path]) -> set[str]:
    """Package modules the roots import, directly or through others."""
    todo = [(path, path.stem) for path in _roots()]
    seen: set[str] = set()
    while todo:
        path, name = todo.pop()
        for mod in _imported(path, name, known) - seen:
            seen.add(mod)
            todo.append((known[mod], mod))
    return seen


def test_every_package_module_is_reached_or_allowed():
    known = _package_modules()
    unreached = known.keys() - _reached(known)
    stray = sorted(unreached - ALLOWED.keys())
    assert not stray, (
        "package modules no entry point imports (wire them in, delete "
        "them, or allow-list them with a reason): " + ", ".join(stray)
    )


def test_allow_list_is_not_stale():
    """An allow-list entry must name a module that exists and that is
    still unreached; otherwise the entry hides nothing and goes."""
    known = _package_modules()
    reached = _reached(known)
    stale = sorted(m for m in ALLOWED if m not in known or m in reached)
    assert not stale, "stale allow-list entries: " + ", ".join(stale)


# kept although nothing reached reads them; one reason each
ALLOWED_DEFS = {
    f"{PKG}.sources.manifest.fetch_catalog": "reference op01: the resource "
    "catalog download (etl_ida.py:653-657); only tests run it, offline",
}


def _definitions(path: Path) -> list[str]:
    """Top-level undecorated ``def``/``class`` names and module-level
    assigned names of one file; dunder names are Python's own."""
    names = []
    for node in ast.parse(path.read_text(), str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            if not node.decorator_list:
                names.append(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [
                node.target]
            for target in targets:
                names += [n.id for n in ast.walk(target)
                          if isinstance(n, ast.Name)]
    return [n for n in names if not (n.startswith("__") and n.endswith("__"))]


def _loaded(path: Path) -> set[str]:
    """Every name one file reads: a ``Name`` in load context, an
    attribute, or an import alias; a package ``__init__``'s re-exports
    read nothing."""
    reexport = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
            found.add(node.id)
        elif isinstance(node, ast.Attribute):
            found.add(node.attr)
        elif isinstance(node, ast.ImportFrom) and not reexport:
            found |= {alias.name for alias in node.names}
    return found


def _unread_definitions(known: dict[str, Path]) -> set[str]:
    """``module.name`` of every definition in a reached module whose name
    no file of the package or the entry points loads.  A matching name
    anywhere counts, so the check may miss a dead definition but never
    flags a used one."""
    loaded = set().union(*(_loaded(p) for p in [*known.values(), *_roots()]))
    return {
        f"{mod}.{name}"
        for mod in _reached(known)
        for name in _definitions(known[mod])
        if name not in loaded
    }


def test_every_reached_definition_is_read_or_allowed():
    unread = _unread_definitions(_package_modules())
    stray = sorted(unread - ALLOWED_DEFS.keys())
    assert not stray, (
        "package definitions nothing outside tests reads (call them, "
        "delete them, or allow-list them with a reason): " + ", ".join(stray)
    )


def test_definition_allow_list_is_not_stale():
    """A definition allow-list entry must still be unread."""
    stale = sorted(ALLOWED_DEFS.keys() - _unread_definitions(_package_modules()))
    assert not stale, "stale definition allow-list entries: " + ", ".join(stale)
