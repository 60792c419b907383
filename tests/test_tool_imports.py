"""``bench.py`` and every ``tools/*.py`` compile, and every module they
import exists: installed, or a file in the repo or in ``tools/``.

The walk covers imports inside function bodies, which importing the script
would not run, so a script that still names a deleted module fails here.

Run alone: ``python -m pytest tests/test_tool_imports.py -q``.
"""

from __future__ import annotations

import ast
import glob
import importlib.util
import os
import py_compile

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = [os.path.join(ROOT, "bench.py")] + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
)


def _repo_file(module: str) -> bool:
    for base in (ROOT, os.path.join(ROOT, "tools")):
        path = os.path.join(base, *module.split("."))
        if os.path.isfile(path + ".py") or os.path.isfile(
            os.path.join(path, "__init__.py")
        ):
            return True
    return False


def _resolves(module: str) -> bool:
    top = module.split(".")[0]
    if _repo_file(top):
        return _repo_file(module)
    return importlib.util.find_spec(top) is not None


def _imported_modules(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                yield node.lineno, alias.name
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.lineno, node.module


@pytest.mark.parametrize(
    "path", SCRIPTS, ids=[os.path.basename(p) for p in SCRIPTS]
)
def test_script_compiles_and_imports_resolve(path, tmp_path):
    py_compile.compile(path, cfile=str(tmp_path / "out.pyc"), doraise=True)
    with open(path) as fh:
        tree = ast.parse(fh.read(), filename=path)
    missing = [
        f"line {line}: {module}"
        for line, module in _imported_modules(tree)
        if not _resolves(module)
    ]
    assert not missing, missing


def test_import_of_missing_module_in_function_body_is_caught():
    tree = ast.parse(
        "import os\n"
        "def f():\n"
        "    import no_such_tool\n"
        "    from uma_etl_iis_loader_spark.operators import jpeg\n"
        "    from uma_etl_iis_loader_spark.no_such_module import x\n"
    )
    assert [m for _, m in _imported_modules(tree) if not _resolves(m)] == [
        "no_such_tool",
        "uma_etl_iis_loader_spark.no_such_module",
    ]
