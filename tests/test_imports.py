"""Import hygiene, checked without a Spark session.

- Every ``crossbar_data_process_spark`` import in the repository resolves
  to a module or a top-level name that exists. The files are parsed with
  ``ast``, so imports inside functions that no test calls are checked too.
- Importing the gold build does not load the query registry.
- The package modules that no benchmark workload imports are exactly a
  pinned list, so a new module lands together with a workload that runs
  it, and each deletion of unmeasured code shrinks the list.
"""

from __future__ import annotations

import ast
import os
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "crossbar_data_process_spark"


def _source_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PKG, "scripts", "kgbench", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _module_file(module: str) -> Path | None:
    base = ROOT.joinpath(*module.split("."))
    for f in (base.with_suffix(".py"), base / "__init__.py"):
        if f.is_file():
            return f
    return None


def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level: defs, classes, assignments and imports,
    including those under top-level ``if``/``try``/``with`` blocks."""
    names: set[str] = set()

    def visit(stmts):
        for node in stmts:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            names.add(n.id)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    names.add((a.asname or a.name).split(".")[0])
            for field in ("body", "orelse", "finalbody", "handlers"):
                if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    visit(getattr(node, field, []) or [])

    visit(ast.parse(path.read_text()).body)
    return names


def _unresolved_imports() -> tuple[int, list[str]]:
    files = _source_files()
    bad = []
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), filename=str(f))):
            where = f"{f.relative_to(ROOT)}:{getattr(node, 'lineno', '?')}"
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.split(".")[0] == PKG and _module_file(a.name) is None:
                        bad.append(f"{where}: import {a.name}")
            elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
                if node.module.split(".")[0] != PKG:
                    continue
                mod_file = _module_file(node.module)
                if mod_file is None:
                    bad.append(f"{where}: from {node.module}")
                    continue
                names = _top_level_names(mod_file)
                for a in node.names:
                    if a.name == "*" or a.name in names:
                        continue
                    if _module_file(f"{node.module}.{a.name}") is None:
                        bad.append(f"{where}: from {node.module} import {a.name}")
    return len(files), bad


def test_every_package_import_resolves():
    n_files, bad = _unresolved_imports()
    assert n_files > 100, n_files
    assert not bad, "\n".join(bad)


def test_gold_build_does_not_load_the_query_registry():
    probe = (
        "import sys\n"
        f"import {PKG}.plans.gold\n"
        f"assert '{PKG}.plans.gold' in sys.modules\n"
        f"print('{PKG}.plans.queries' in sys.modules)\n"
    )
    env = {**os.environ, "PYTHONPATH": str(ROOT)}
    out = subprocess.run(
        [sys.executable, "-c", probe],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "False", out.stdout


# Package modules that neither kgbench workload reaches by static import.
# Deleting one of them shrinks this list; a new module must be reached by
# a workload rather than be added here.
_UNMEASURED_MODULES = {
    "functions.ec",
    "operators.diff",
    "operators.pq",
    "operators.rangejoin",
    "operators.skew",
    "parallel",
    "plans.queries",
    "sources.disgenet",
    "sources.landing",
}


def _package_imports(path: Path) -> set[str]:
    """Package modules ``path`` imports anywhere in its body: ``import m``,
    ``from m import x`` and, where ``m.x`` is itself a module, ``m.x``."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names if a.name.split(".")[0] == PKG}
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] != PKG:
                continue
            out.add(node.module)
            for a in node.names:
                if _module_file(f"{node.module}.{a.name}") is not None:
                    out.add(f"{node.module}.{a.name}")
    return out


def _workload_reachable_modules() -> set[str]:
    """Modules reachable from ``kgbench/*.py`` plus ``scripts/kg_build.py``
    (kgbench imports ``kg_build`` by name). Reaching a module also runs
    its parent packages' ``__init__``, so those are reached too."""
    seen: set[str] = set()
    todo: list[Path] = sorted((ROOT / "kgbench").glob("*.py"))
    todo.append(ROOT / "scripts" / "kg_build.py")
    while todo:
        for module in _package_imports(todo.pop()):
            parts = module.split(".")
            for i in range(1, len(parts) + 1):
                name = ".".join(parts[:i])
                f = _module_file(name)
                if name not in seen and f is not None:
                    seen.add(name)
                    todo.append(f)
    return seen


def test_unmeasured_modules_are_pinned():
    reached = _workload_reachable_modules()
    unreached = set()
    for f in (ROOT / PKG).rglob("*.py"):
        module = ".".join(f.relative_to(ROOT).with_suffix("").parts)
        module = module.removesuffix(".__init__")
        if module not in reached:
            unreached.add(module.removeprefix(f"{PKG}."))
    assert unreached == _UNMEASURED_MODULES, (
        f"unreached but not pinned: {sorted(unreached - _UNMEASURED_MODULES)}; "
        f"pinned but reached or gone: {sorted(_UNMEASURED_MODULES - unreached)}"
    )
