"""Every ``snowflake_cdc_spark`` module has a caller outside the tests.

Walks the imports with ``ast`` (function-level imports included) from the
program's entry points: the package ``__init__``/``__main__``,
``__spark_entry__.py``, every ``queries*.py``, ``bench.py``,
``perfbench/*.py`` and ``tools/*.py``. A module that none of them
reaches, and that is not on the public-API list below, is code only its
own tests call: delete it with its tests, or wire it into a caller.

``find_orphans(root)`` takes the repo root, so it can be pointed at a
copy of the tree.
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "snowflake_cdc_spark"

# Modules users import directly; they and what they import are reachable.
PUBLIC_API = [
    "controller",
    "catalog",
    "typemap",
    "sinks.snowflake",
    "sinks.duckdb_shim",
    "plans.config",
    "sources.json_cdc",
    "sources.raw_zone",
    "streaming.convergence",
    "streaming.evolution",
]


def _module_name(root: Path, path: Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules(root: Path) -> dict[str, Path]:
    return {
        _module_name(root, p): p
        for p in sorted((root / PKG).rglob("*.py"))
        if "__pycache__" not in p.parts
    }


def _entry_points(root: Path) -> list[Path]:
    pkg = root / PKG
    files = [pkg / "__init__.py", pkg / "__main__.py", root / "__spark_entry__.py"]
    files += sorted(pkg.glob("queries*.py"))
    files.append(root / "bench.py")
    files += sorted((root / "perfbench").glob("*.py"))
    files += sorted((root / "tools").glob("*.py"))
    return [p for p in files if p.is_file()]


def _imports(path: Path) -> set[str]:
    """Dotted names ``path`` imports anywhere in its body. For
    ``from a import b`` both ``a`` and ``a.b`` are named: ``b`` may be a
    submodule. The package uses absolute imports only."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out.update(f"{node.module}.{a.name}" for a in node.names)
    return out


def find_orphans(root: Path) -> list[str]:
    modules = _package_modules(root)
    public = {f"{PKG}.{m}" for m in PUBLIC_API}
    todo = _entry_points(root) + [modules[m] for m in sorted(public) if m in modules]
    seen = {_module_name(root, p) for p in todo if p.is_relative_to(root / PKG)}
    while todo:
        for imp in _imports(todo.pop()):
            parts = imp.split(".")
            # importing a.b.c runs the __init__ of a and a.b as well
            for dotted in (".".join(parts[:i]) for i in range(1, len(parts) + 1)):
                if dotted in modules and dotted not in seen:
                    seen.add(dotted)
                    todo.append(modules[dotted])
    return sorted(m for m in modules if m not in seen and m not in public)


def test_finder_flags_a_planted_orphan(tmp_path):
    """The walk follows function-level imports and package inits, and
    flags the one module nothing imports."""
    pkg = tmp_path / PKG
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("")
    (pkg / "queries.py").write_text(
        "def q():\n    from snowflake_cdc_spark.sub import used\n"
    )
    (pkg / "sub" / "used.py").write_text("import snowflake_cdc_spark.sub.helper\n")
    (pkg / "sub" / "helper.py").write_text("")
    (pkg / "sub" / "orphan.py").write_text("")
    assert find_orphans(tmp_path) == [f"{PKG}.sub.orphan"]


def test_public_api_modules_exist():
    modules = _package_modules(Path(__file__).resolve().parents[1])
    assert [m for m in PUBLIC_API if f"{PKG}.{m}" not in modules] == []


def test_no_orphan_modules():
    assert find_orphans(Path(__file__).resolve().parents[1]) == []
