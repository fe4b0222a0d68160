"""Every library name the scripts, the bench and the benchmark harness
import must exist, and so must every script module that the scripts,
the bench and the tests import. Those files are not all imported by the
test suite, so a renamed or removed name would otherwise only fail when
someone next runs them. Spark-free: it imports library modules (which
import pyspark) but starts no session, and it resolves script imports
from the scripts' source without running them."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _imports(files, package: str):
    """(path, line, module, name) for every ``from <package>... import
    name`` in ``files``."""
    for path in sorted(files):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] == package
            ):
                for alias in node.names:
                    yield path.relative_to(ROOT), node.lineno, node.module, alias.name


def _library_imports():
    scripts = [*ROOT.glob("scripts/*.py"), ROOT / "bench.py"]
    return _imports([*scripts, *ROOT.glob("perfbench/*.py")], "file_appender_spark")


def _script_imports():
    files = [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", *ROOT.glob("tests/*.py")]
    return _imports(files, "scripts")


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def _top_level_names(path: Path) -> set[str]:
    names: set[str] = set()
    for node in ast.parse(path.read_text(), filename=str(path)).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _script_resolves(module: str, name: str) -> bool:
    """``from scripts import name`` needs scripts/name.py; ``from
    scripts.x import name`` needs scripts/x.py to define ``name``."""
    if module == "scripts":
        return (ROOT / "scripts" / f"{name}.py").is_file()
    path = ROOT / Path(*module.split(".")).with_suffix(".py")
    return path.is_file() and name in _top_level_names(path)


def _unresolved(found, resolves) -> list[str]:
    return [
        f"{path}:{line}: from {module} import {name}"
        for path, line, module, name in found
        if not resolves(module, name)
    ]


def test_script_library_imports_resolve():
    found = list(_library_imports())
    assert found, "no library imports found — the file globs are stale"
    missing = _unresolved(found, _resolves)
    assert not missing, "unresolved library imports:\n" + "\n".join(missing)


def test_script_module_imports_resolve():
    found = list(_script_imports())
    assert found, "no script imports found — the file globs are stale"
    missing = _unresolved(found, _script_resolves)
    assert not missing, "unresolved script imports:\n" + "\n".join(missing)
