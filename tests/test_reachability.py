"""Every module under ufo_dedup_spark/ must be reachable from production code.

Follows imports statically (AST, no Spark), including the lazy imports
inside function bodies, from the entry points that run the engine: the
pipeline, the query registry, the scripts, perfbench, bench.py and the
driver entry. A module that only tests import is dead weight: either a
pipeline stage, a query or a benchmark reaches it, or it is deleted.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "ufo_dedup_spark"


def _roots() -> list[Path]:
    return [
        ROOT / PKG / "pipeline.py",
        ROOT / PKG / "queries.py",
        *sorted((ROOT / "scripts").glob("*.py")),
        *sorted(
            p for p in (ROOT / "perfbench").glob("*.py")
            if not p.name.startswith("test_")
        ),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def _module_path(name: str) -> Path | None:
    """Repo file for a dotted module name (package -> its __init__.py)."""
    base = ROOT.joinpath(*name.split("."))
    if base.with_suffix(".py").is_file():
        return base.with_suffix(".py")
    if (base / "__init__.py").is_file():
        return base / "__init__.py"
    return None


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imported(path: Path) -> set[str]:
    """Dotted names one file imports, with every parent package: importing
    ``a.b.c`` runs ``a/__init__.py`` and ``a/b/__init__.py`` too."""
    pkg = _module_name(path).split(".")
    if path.name != "__init__.py":
        pkg = pkg[:-1]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            names.add(mod)
            # `from pkg import sub` imports the submodule when it is one
            names.update(f"{mod}.{a.name}" for a in node.names)
    out = set()
    for n in names:
        parts = n.split(".")
        out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return out


def reached_modules() -> set[str]:
    seen: set[Path] = set()
    todo = list(_roots())
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported(path):
            target = _module_path(name)
            if target is not None and target not in seen:
                todo.append(target)
    return {_module_name(p) for p in seen}


def test_every_package_module_is_reached():
    modules = {_module_name(p) for p in (ROOT / PKG).rglob("*.py")}
    unreached = sorted(modules - reached_modules())
    assert not unreached, (
        f"modules only tests reach (wire them into a pipeline stage, a "
        f"query or perfbench, or delete them): {unreached}"
    )


def test_scripts_import_their_own_checkout():
    """A script that puts a fixed path on sys.path imports whichever
    checkout lives there, not its own: a parent-commit copy or a fresh
    clone would silently run another tree's package. Paths must be derived
    from ``__file__``."""
    fixed = []
    for path in sorted((ROOT / "scripts").glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"
                and any(
                    isinstance(a, ast.Constant) and isinstance(a.value, str)
                    for a in node.args
                )
            ):
                fixed.append(f"{path.name}:{node.lineno}")
    assert not fixed, f"string-literal sys.path entries: {fixed}"
