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
