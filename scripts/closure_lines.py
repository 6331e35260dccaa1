"""Print the line count of the crawl engine's import closure.

The closure is every ``docrawl_spark`` module reachable by import from
``plans/crawl``, ``plans/wave`` and ``sources/seen_index``. Imports are
read from the AST, so function-local imports count, and importing a
module pulls in the ``__init__`` of each subpackage on its path. The
top-level ``docrawl_spark/__init__.py`` is not counted.

Run from anywhere: ``python3 scripts/closure_lines.py``. Prints one
integer, the sum of the closure modules' line counts.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "docrawl_spark"
ROOT = Path(__file__).resolve().parent.parent
ENTRIES = [f"{PKG}.plans.crawl", f"{PKG}.plans.wave", f"{PKG}.sources.seen_index"]


def module_path(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def with_packages(name: str) -> list[str]:
    """``a.b.c`` → ``[a.b, a.b.c]``: the module plus the subpackages
    Python initialises on the way to it (the top package excluded)."""
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(2, len(parts) + 1)]


def imports_of(name: str, path: Path) -> set[str]:
    is_pkg = path.name == "__init__.py"
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_pkg]
                mod = ".".join(anchor + ([node.module] if node.module else []))
            else:
                mod = node.module or ""
            out.add(mod)
            # ``from pkg import sub`` imports the submodule ``pkg.sub``
            out.update(f"{mod}.{a.name}" for a in node.names)
    return {m for m in out if m.split(".")[0] == PKG and module_path(m)}


def closure() -> dict[str, Path]:
    todo = [m for e in ENTRIES for m in with_packages(e)]
    found: dict[str, Path] = {}
    while todo:
        name = todo.pop()
        if name in found:
            continue
        path = module_path(name)
        found[name] = path
        for dep in imports_of(name, path):
            todo.extend(with_packages(dep))
    return found


def line_count() -> int:
    return sum(len(p.read_text().splitlines()) for p in closure().values())


def main() -> None:
    print(line_count())


if __name__ == "__main__":
    main()
