"""Every library name the scripts, the bench and the benchmark harness
import must exist. Those files are not imported by the test suite, so
a renamed or removed library name would otherwise only fail when
someone next runs them. Spark-free: it imports library modules (which
import pyspark) but starts no session."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _library_imports():
    files = sorted(
        [*ROOT.glob("scripts/*.py"), ROOT / "bench.py", *ROOT.glob("perfbench/*.py")]
    )
    for path in files:
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] == "file_appender_spark"
            ):
                for alias in node.names:
                    yield path.relative_to(ROOT), node.lineno, node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_script_library_imports_resolve():
    found = list(_library_imports())
    assert found, "no library imports found — the file globs are stale"
    missing = [
        f"{path}:{line}: from {module} import {name}"
        for path, line, module, name in found
        if not _resolves(module, name)
    ]
    assert not missing, "unresolved library imports:\n" + "\n".join(missing)
