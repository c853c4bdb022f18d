"""Static import check for the entrypoints outside the package: every
``rdfa_spark`` / ``tests`` module that a script, kgbench, the driver
entry or a bench harness imports must exist and define each name
taken from it, and every keyword argument such an entrypoint passes
to a callable imported from ``rdfa_spark`` must be a parameter of
that callable, so deleting a module, a name or a parameter cannot
leave a broken caller behind.  No Spark session is started."""

import ast
import glob
import importlib
import inspect
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


def _bad_keywords(source: str, filename: str) -> list[str]:
    """-> ["<line>: <callable>(<keyword>=)"] for every call of a name
    imported from ``rdfa_spark`` (or an attribute of an imported
    ``rdfa_spark`` module) with a keyword its signature lacks; a
    class is checked against its constructor, and a callable taking
    ``**kwargs`` accepts any keyword."""
    tree = ast.parse(source, filename)
    names, modules = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module.split(".")[0] == "rdfa_spark":
            for a in node.names:
                names[a.asname or a.name] = (node.module, a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and a.name.split(".")[0] == "rdfa_spark":
                    modules[a.asname] = a.name
    bad = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call) or not any(
                k.arg for k in node.keywords):
            continue
        f = node.func
        if isinstance(f, ast.Name) and f.id in names:
            module, attr = names[f.id]
        elif (isinstance(f, ast.Attribute)
              and isinstance(f.value, ast.Name)
              and f.value.id in modules):
            module, attr = modules[f.value.id], f.attr
        else:
            continue
        obj = getattr(importlib.import_module(module), attr, None)
        if not callable(obj):
            continue
        params = inspect.signature(obj).parameters
        if any(p.kind is p.VAR_KEYWORD for p in params.values()):
            continue
        bad += [f"{node.lineno}: {attr}({k.arg}=)" for k in node.keywords
                if k.arg and (k.arg not in params or params[k.arg].kind
                              is inspect.Parameter.POSITIONAL_ONLY)]
    return bad


@pytest.mark.parametrize("path", SOURCES,
                         ids=lambda p: os.path.relpath(p, ROOT))
def test_script_keywords_are_parameters(path):
    with open(path) as f:
        bad = _bad_keywords(f.read(), path)
    assert not bad, f"{os.path.relpath(path, ROOT)}: {bad}"


def test_keyword_check_flags_unknown_keyword():
    src = ("from rdfa_spark.pipeline.cc import connected_components\n"
           "import rdfa_spark.pipeline.materialize as mat\n"
           "connected_components(e, src='a', max_iter=3)\n"
           "mat.ResumableExtraction(s, 'o', n_batches=2, workers=4)\n")
    assert _bad_keywords(src, "<src>") == [
        "3: connected_components(max_iter=)",
        "4: ResumableExtraction(workers=)"]
