"""The scripts under ``scripts/``: each compiles, takes its own
directory off the head of ``sys.path`` and every name it imports from
this repository resolves (read from the source, no Spark), and
``profile.py`` runs end to end."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))

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


def test_scripts_exist():
    assert SCRIPTS


@pytest.mark.parametrize("script", SCRIPTS, ids=os.path.basename)
def test_script_imports_resolve(script):
    with open(script) as f:
        source = f.read()
    compile(source, script, "exec")
    tree = ast.parse(source)
    # scripts/profile.py would shadow the standard library module that
    # pyspark imports for any script that leaves this directory first
    assert any(
        isinstance(node, ast.Assign)
        and ast.unparse(node.targets[0]) in ("sys.path[0]", "sys.path[:1]")
        for node in tree.body
    ), "replace sys.path[0] before importing pyspark"
    modules: dict[str, str] = {}  # local name -> module file
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                path = _module_file(a.name)
                if path:
                    modules[a.asname or a.name] = path
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            path = _module_file(node.module)
            if path is None:
                continue
            defined = _top_level_names(path)
            for a in node.names:
                sub = os.path.join(os.path.dirname(path), a.name + ".py")
                if path.endswith("__init__.py") and os.path.exists(sub):
                    modules[a.asname or a.name] = sub
                else:
                    assert a.name in defined, f"{node.module}.{a.name}"
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
        ):
            assert node.attr in _top_level_names(modules[node.value.id]), (
                f"{node.value.id}.{node.attr}"
            )


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
