"""Every engine module is reachable from a program entry point.

Walks ``import`` statements with ``ast`` — module-level and
function-local — from the daemon, the HTTP API, the contract, the
tools and the Spark entry script, and compares the set of
``bgpexplorer_spark`` modules no walk reaches against a fixed list.
The comparison is equality: deleting one of the listed modules must
also shrink the list, and a module that loses its last caller fails
here instead of lingering.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "bgpexplorer_spark"

ENTRY_POINTS = [
    ROOT / PKG / "daemon.py",
    ROOT / PKG / "api.py",
    ROOT / PKG / "contract.py",
    *sorted((ROOT / "tools").glob("*.py")),
    ROOT / "__spark_entry__.py",
]

# no daemon, endpoint, tool or contract path imports these yet; each is
# removed from this list together with its module
KNOWN_UNREACHABLE = {
    "operators.dedup",
    "operators.text",
    "operators.png",
    "operators.mp3",
    "operators.mp4",
}


def _engine_modules() -> dict[str, Path]:
    """Dotted name (``operators.rib``; a package by its own name) → file."""
    out = {}
    for f in (ROOT / PKG).rglob("*.py"):
        parts = f.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = f
    return out


def _imported(path: Path, modules: dict[str, Path]) -> set[str]:
    """Engine modules one file imports, with the packages they sit in."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            # ``from pkg import mod`` imports the submodule pkg.mod
            names.update(f"{node.module}.{a.name}" for a in node.names)
    hit = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in modules:
                hit.add(prefix)
    return hit


def unreachable_modules() -> set[str]:
    modules = _engine_modules()
    todo = list(ENTRY_POINTS)
    seen = {m for m, f in modules.items() if f in todo}
    done: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in done:
            continue
        done.add(path)
        for mod in _imported(path, modules) - seen:
            seen.add(mod)
            todo.append(modules[mod])
    return {m[len(PKG) + 1:] for m in modules if m != PKG and m not in seen}


def test_every_engine_module_is_reachable():
    assert unreachable_modules() == KNOWN_UNREACHABLE
