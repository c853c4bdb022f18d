"""Static import check for the entrypoints outside the package: every
``rdfa_spark`` / ``tests`` module that a script, kgbench, the driver
entry or a bench harness imports must exist and define each name
taken from it, so deleting a module or a name cannot leave a broken
importer behind.  No Spark session is started."""

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "kgbench", "*.py"))
    + [os.path.join(ROOT, f) for f in
       ("__spark_entry__.py", "bench.py", "bench_extra.py")])


def _checked(module: str) -> bool:
    # scripts that put tests/ on sys.path import test modules by
    # their bare name
    top = module.split(".")[0]
    return top in ("rdfa_spark", "tests") or os.path.isfile(
        os.path.join(ROOT, "tests", top + ".py"))


def _imports(path):
    """-> [(lineno, module, [names])] for every absolute import of a
    checked module, at any depth (scripts import inside main())."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and _checked(node.module):
            out.append((node.lineno, node.module,
                        [a.name for a in node.names if a.name != "*"]))
        elif isinstance(node, ast.Import):
            out += [(node.lineno, a.name, []) for a in node.names
                    if _checked(a.name)]
    return out


def test_sources_found():
    assert len(SOURCES) > 5 and all(map(os.path.isfile, SOURCES))


@pytest.mark.parametrize("path", SOURCES,
                         ids=lambda p: os.path.relpath(p, ROOT))
def test_script_imports_resolve(path):
    missing = []
    for lineno, module, names in _imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError as exc:
            missing.append(f"{lineno}: {module} ({exc})")
            continue
        for name in names:
            if hasattr(mod, name):
                continue
            try:    # a submodule named in the import list
                importlib.import_module(f"{module}.{name}")
            except ImportError:
                missing.append(f"{lineno}: {module}.{name}")
    assert not missing, f"{os.path.relpath(path, ROOT)}: {missing}"
