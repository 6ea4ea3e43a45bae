"""Every package module is reached by an import chain from a production
entry point: the CLI, the gate queries (``__spark_entry__.py``), the bench
lines (``bench.py``, ``bench_extra.py``), the perfbench workloads or the
spark-submit launcher.  A module only tests import is dead code.

The walk is static (AST imports, including those inside functions) and
needs no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "mysql_data_quality_spark"
ENTRY_POINTS = (
    f"{PACKAGE}/cli.py",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "perfbench/workloads.py",
    "scripts/run_pipeline.py",
)
#: the Iceberg sink has no caller yet; it is the table format the
#: checkpointed pipeline is meant to write once the Iceberg jar is present
UNREACHED_ON_PURPOSE = {f"{PACKAGE}/pipeline/iceberg_sink.py"}


def _module_file(dotted: str) -> Path | None:
    base = ROOT / Path(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _with_packages(dotted: str) -> list[str]:
    """``a.b.c`` → the modules importing it runs: ``a``, ``a.b``, ``a.b.c``."""
    parts = dotted.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(path: Path) -> list[str]:
    """Dotted names of the modules ``path`` imports (package modules and
    sibling files of a script)."""
    names = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names += [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module:
            # ``from pkg import mod`` imports a submodule when one exists
            names += [node.module] + [
                f"{node.module}.{a.name}" for a in node.names
            ]
    found = []
    for name in names:
        if name.split(".")[0] == PACKAGE:
            found += _with_packages(name)
        elif (path.parent / f"{name}.py").is_file():
            found.append(str((path.parent / name).relative_to(ROOT)))
    return found


def _reached() -> set[Path]:
    todo = [ROOT / p for p in ENTRY_POINTS]
    seen: set[Path] = set()
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imports(path):
            target = _module_file(name.replace("/", "."))
            if target is not None and target not in seen:
                todo.append(target)
    return seen


def test_every_package_module_is_reached():
    reached = {str(p.relative_to(ROOT)) for p in _reached()}
    modules = {
        str(p.relative_to(ROOT)) for p in (ROOT / PACKAGE).rglob("*.py")
    }
    assert modules - reached == UNREACHED_ON_PURPOSE

