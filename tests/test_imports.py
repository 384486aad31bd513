"""Import hygiene, checked without a Spark session.

- Every ``crossbar_data_process_spark`` import in the repository resolves
  to a module or a top-level name that exists. The files are parsed with
  ``ast``, so imports inside functions that no test calls are checked too.
- Importing the gold build does not load the query registry.
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
