"""Every package module is imported, directly or not, by an entry point.

The walk reads `import` / `from` statements with `ast` (function-local ones
included, plus `importlib.import_module("...")` string literals) starting
from the entry points below. A module that only tests, scripts or other
unreached modules import is dead code: delete it or wire it in.
No Spark session is needed.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "spark_deal_observer_spark"

ENTRY_POINTS = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    ROOT / PKG / "api.py",
    ROOT / PKG / "streaming" / "ingest.py",
    ROOT / PKG / "streaming" / "egress.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]

KEPT_UNREACHED = {
    # ROADMAP item 4 builds the per-tick records on MetricsRecorder.
    f"{PKG}.streaming.telemetry",
    # ROADMAP item 8 wires with_retries into the egress poster.
    f"{PKG}.streaming.transport",
    # ROADMAP item 11's benchmark change re-points perfbench's enrichment
    # round at enrich_tick; until then only tests call it.
    f"{PKG}.streaming.enrichment",
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (ROOT / PKG).rglob("*.py")}


def _imported_names(path: Path, module: str) -> set[str]:
    """Dotted names that `path` imports, relative ones resolved."""
    is_pkg = path.name == "__init__.py"
    package = module if is_pkg else module.rpartition(".")[0]
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = package
            for _ in range(node.level - 1):
                base = base.rpartition(".")[0]
            if node.level:
                base = f"{base}.{node.module}" if node.module else base
            else:
                base = node.module
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
        elif (
            isinstance(node, ast.Call)
            and getattr(node.func, "attr", getattr(node.func, "id", None))
            == "import_module"
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
        ):
            names.add(node.args[0].value)
    return names


def reached_modules() -> set[str]:
    modules = _package_modules()
    reached: set[str] = set()
    todo = [(p, _module_name(p)) for p in ENTRY_POINTS]
    while todo:
        path, module = todo.pop()
        for name in _imported_names(path, module):
            # Importing a.b.c also runs a/__init__.py and a/b/__init__.py.
            parts = name.split(".")
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in reached:
                    reached.add(prefix)
                    todo.append((modules[prefix], prefix))
    return reached


def test_every_package_module_is_reached_from_an_entry_point():
    reached = reached_modules()
    # The walk must see through api.py → plans.registry (relative
    # imports) → operators imported inside query builders.
    assert {f"{PKG}.plans.registry", f"{PKG}.operators.state"} <= reached
    unreached = set(_package_modules()) - reached - KEPT_UNREACHED
    assert not unreached, sorted(unreached)
