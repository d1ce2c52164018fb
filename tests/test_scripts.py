"""The scripts under ``scripts/`` and the examples under ``examples/``:
each compiles, every name it imports from this repository resolves and
every keyword argument it passes to a function imported from there is
one that function's ``def`` accepts (read from the source, no Spark).
Each script also takes its own directory off the head of ``sys.path``,
and ``profile.py`` runs end to end. Also from the source: every
module-level function of the package reads each of its parameters, and
every package module uses each name it imports."""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
PACKAGE = sorted(
    glob.glob(
        os.path.join(REPO, "air_quality_etl_pipeline_spark", "**", "*.py"),
        recursive=True,
    )
)
EXAMPLES = sorted(glob.glob(os.path.join(REPO, "examples", "*.py")))

#: the directory each in-repo module the scripts import is found under
#: (``profile.py`` puts ``perfbench`` on its path to import the tracer)
ROOTS = {
    "air_quality_etl_pipeline_spark": REPO,
    "__spark_entry__": REPO,
    "bench": REPO,
    "tracing": os.path.join(REPO, "perfbench"),
}


def _module_file(module: str) -> str | None:
    """Source file of an in-repo *module*; None for any other module."""
    root = ROOTS.get(module.split(".")[0])
    if root is None:
        return None
    base = os.path.join(root, *module.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(path):
            return path
    raise AssertionError(f"module {module} not found")


def _top_level_names(path: str) -> set[str]:
    """Names a module binds outside its functions and classes."""
    names: set[str] = set()

    def visit(node) -> None:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            return
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.stmt, ast.excepthandler)):
                visit(child)

    with open(path) as f:
        visit(ast.parse(f.read()))
    return names


def _find_def(path: str, name: str) -> ast.FunctionDef | None:
    """The top-level ``def`` of *name* in the module at *path*,
    following in-repo re-exports; None for a class or anything else."""
    with open(path) as f:
        tree = ast.parse(f.read())
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return node
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            for a in node.names:
                if (a.asname or a.name) == name:
                    src = _module_file(node.module)
                    return src and _find_def(src, a.name)
    return None


def _check_imports(path: str) -> tuple[ast.Module, list[tuple[ast.AST, str, str]]]:
    """Compile *path* and assert every name it imports from this
    repository exists. Returns its tree and the ``(node, module file,
    name)`` of each reference bound by those imports: a name imported
    from a module, or an attribute of an imported module."""
    with open(path) as f:
        source = f.read()
    compile(source, path, "exec")
    tree = ast.parse(source)
    modules: dict[str, str] = {}  # local name -> module file
    names: dict[str, tuple[str, str]] = {}  # local name -> (file, name)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                mod = _module_file(a.name)
                if mod:
                    modules[a.asname or a.name] = mod
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = _module_file(node.module)
            if mod is None:
                continue
            defined = _top_level_names(mod)
            for a in node.names:
                sub = os.path.join(os.path.dirname(mod), a.name + ".py")
                if mod.endswith("__init__.py") and os.path.exists(sub):
                    modules[a.asname or a.name] = sub
                else:
                    assert a.name in defined, f"{node.module}.{a.name}"
                    names[a.asname or a.name] = (mod, a.name)
    refs = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            mod = modules[node.value.id]
            assert node.attr in _top_level_names(mod), (
                f"{node.value.id}.{node.attr}"
            )
            refs.append((node, mod, node.attr))
        elif isinstance(node, ast.Name) and node.id in names:
            refs.append((node, *names[node.id]))
    return tree, refs


def _check_call_keywords(path: str) -> None:
    """Every call of a function imported from this repository passes
    only keywords its ``def`` accepts (any, when it takes ``**``)."""
    tree, refs = _check_imports(path)
    funcs = {id(node): (mod, name) for node, mod, name in refs}
    for call in ast.walk(tree):
        if not isinstance(call, ast.Call) or id(call.func) not in funcs:
            continue
        mod, name = funcs[id(call.func)]
        fn = _find_def(mod, name)
        if fn is None or fn.args.kwarg is not None:
            continue
        accepted = {a.arg for a in fn.args.args + fn.args.kwonlyargs}
        for kw in call.keywords:
            assert kw.arg is None or kw.arg in accepted, (
                f"{os.path.basename(path)}:{call.lineno}: "
                f"{name}() takes no keyword {kw.arg!r}"
            )


def _unread_parameters(path: str) -> list[str]:
    """``name(param)`` for each parameter of a module-level, undecorated
    function in *path* that its body (nested functions included) never
    reads. Methods, nested callbacks and decorated functions keep the
    signature their protocol or registry fixes, so they are skipped."""
    with open(path) as f:
        tree = ast.parse(f.read())
    unread = []
    for fn in tree.body:
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if fn.decorator_list:
            continue
        a = fn.args
        params = [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]
        params += [p.arg for p in (a.vararg, a.kwarg) if p is not None]
        read = {
            n.id
            for stmt in fn.body
            for n in ast.walk(stmt)
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
        }
        unread += [f"{fn.name}({p})" for p in params if p not in read]
    return unread


def test_package_functions_read_every_parameter():
    unread = [
        f"{os.path.relpath(path, REPO)}: {u}"
        for path in PACKAGE
        for u in _unread_parameters(path)
    ]
    assert PACKAGE
    assert not unread, "parameters never read:\n" + "\n".join(unread)


def _unused_imports(path: str) -> list[str]:
    """``name (line N)`` for each name *path* imports and never reads.
    An import on a line marked ``# noqa: F401`` is kept on purpose (a
    registry side-effect import or a re-export) and is skipped, as are
    names listed in ``__all__``."""
    with open(path) as f:
        source = f.read()
    lines = source.splitlines()
    tree = ast.parse(source)
    imported: dict[str, int] = {}
    exported: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for a in node.names:
                marked = {lines[node.lineno - 1], lines[a.lineno - 1]}
                if not any(re.search(r"noqa:[^#]*F401", ln) for ln in marked):
                    imported[(a.asname or a.name).split(".")[0]] = a.lineno
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            exported |= {
                c.value for c in ast.walk(node.value) if isinstance(c, ast.Constant)
            }
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [
        f"{name} (line {line})"
        for name, line in sorted(imported.items())
        if name not in read and name not in exported
    ]


def test_package_modules_use_every_import():
    unused = [
        f"{os.path.relpath(path, REPO)}: {u}"
        for path in PACKAGE
        for u in _unused_imports(path)
    ]
    assert not unused, "imported but never used:\n" + "\n".join(unused)


def test_scripts_exist():
    assert SCRIPTS and EXAMPLES


@pytest.mark.parametrize("script", SCRIPTS, ids=os.path.basename)
def test_script_imports_resolve(script):
    with open(script) as f:
        tree = ast.parse(f.read())
    # scripts/profile.py would shadow the standard library module that
    # pyspark imports for any script that leaves this directory first
    assert any(
        isinstance(node, ast.Assign)
        and ast.unparse(node.targets[0]) in ("sys.path[0]", "sys.path[:1]")
        for node in tree.body
    ), "replace sys.path[0] before importing pyspark"
    _check_imports(script)


@pytest.mark.parametrize("example", EXAMPLES, ids=os.path.basename)
def test_example_imports_resolve(example):
    _check_imports(example)


@pytest.mark.parametrize(
    "path",
    SCRIPTS + EXAMPLES,
    ids=lambda p: os.path.relpath(p, REPO),
)
def test_calls_pass_accepted_keywords(path):
    _check_call_keywords(path)


def test_profile_script_splits_layers(sf_dir, tmp_path):
    """A rebuild-per-call query shows its builder's jobs; a pure one
    shows none and plans the same way in every sample; neither build
    leaves a CacheManager entry."""
    out = tmp_path / "profile.json"
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "scripts", "profile.py"),
            "silver_filter_dedup",
            "orders_gini",
            "--sf", sf_dir,
            "--samples", "2",
            "--out", str(out),
        ],
        capture_output=True,
        text=True,
        cwd=tmp_path,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        per_query = {
            m["name"]
            for m in json.load(f)["per_layer"]
            if m["name"].split(".")[0] in ("build_s", "build_jobs", "catalyst", "plan", "exec", "python")
        }
    profile = json.loads(out.read_text())
    assert profile["cache_entries"] == 0
    queries = profile["queries"]
    for name, q in queries.items():
        assert per_query <= q["per_layer"].keys(), name
    assert queries["orders_gini"]["per_layer"]["build_jobs"] >= 1
    for q in queries.values():
        assert q["per_layer"]["cache_entries"] == 0
    pure = queries["silver_filter_dedup"]
    assert pure["per_layer"]["build_jobs"] == 0
    assert len(pure["plan_digests"]) == 1
