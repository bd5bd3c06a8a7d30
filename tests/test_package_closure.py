"""Package shape checks, read from source with ``ast`` (no Spark).

1. The import closure of the deployed entry points (the monitor, the
   monitoring run, the metrics store, the alert sinks and ``ml/``) is
   exactly ``DEPLOYED_CLOSURE``, so a new import into the monitor's path
   is a reviewed change of this list.
2. Every package module is imported by non-test code — the package
   itself, ``__spark_entry__.py``, ``bench.py``, ``tools/`` or
   ``perfbench/`` — or is itself a deployed entry point (``ml/`` is
   deployed whole), so a module that only tests reach is caught.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "churn_model_evaluation_platform_spark"

ENTRY_POINTS = [
    f"{PKG}.streaming.monitor",
    f"{PKG}.plans.pipeline",
    f"{PKG}.operators.metrics",
    f"{PKG}.sources.alerts",
    f"{PKG}.ml",
    f"{PKG}.ml.parity",
    f"{PKG}.ml.registry",
    f"{PKG}.ml.tpe",
    f"{PKG}.ml.training",
]

# Package ``__init__`` modules are listed too: importing a submodule
# runs them.
DEPLOYED_CLOSURE = {
    PKG,
    f"{PKG}.functions",
    f"{PKG}.functions.hashing",
    f"{PKG}.functions.stats",
    f"{PKG}.ml",
    f"{PKG}.ml.parity",
    f"{PKG}.ml.registry",
    f"{PKG}.ml.tpe",
    f"{PKG}.ml.training",
    f"{PKG}.operators",
    f"{PKG}.operators.drift",
    f"{PKG}.operators.metrics",
    f"{PKG}.operators.prep",
    f"{PKG}.operators.quality",
    f"{PKG}.plans",
    f"{PKG}.plans.pipeline",
    f"{PKG}.schema",
    f"{PKG}.sources",
    f"{PKG}.sources.alerts",
    f"{PKG}.sources.lifecycle",
    f"{PKG}.streaming",
    f"{PKG}.streaming.file_stream",
    f"{PKG}.streaming.monitor",
}


def _package_modules() -> dict[str, Path]:
    out = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = list(path.relative_to(ROOT).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


MODULES = _package_modules()


def _imports(path: Path, name: str | None) -> set[str]:
    """Package modules that ``path`` imports anywhere in its body (local
    imports included), plus the packages whose ``__init__`` runs.
    ``name`` is the file's dotted module name (None outside the package:
    such files import the package absolutely)."""
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".") if name else []
                anchor = anchor[: len(anchor) - node.level + (1 if is_pkg else 0)]
                base = ".".join(anchor + ([base] if base else []))
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            parts = t.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in MODULES:
                    found.add(mod)
    return found


def _closure(start: list[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(start)
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo.extend(_imports(MODULES[mod], mod) - seen)
    return seen


def test_deployed_closure_is_the_reviewed_list():
    assert _closure(ENTRY_POINTS) == DEPLOYED_CLOSURE


def test_every_package_module_has_a_non_test_importer():
    outside = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    outside += sorted((ROOT / "tools").glob("*.py"))
    outside += sorted((ROOT / "perfbench").glob("*.py"))
    imported = set(ENTRY_POINTS)
    for path in outside:
        if not path.name.startswith("test_"):
            imported |= _imports(path, None)
    for mod, path in MODULES.items():
        imported |= _imports(path, mod) - {mod}
    orphans = sorted(
        m for m, p in MODULES.items()
        if p.name != "__init__.py" and m not in imported
    )
    assert orphans == []
