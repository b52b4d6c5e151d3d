"""Regrowth guard: every module under ``sources/`` and ``streaming/`` is
part of what the engine serves, or is named below with the reason it is
kept. A module that only its own tests import is deleted, not kept.
And every engine import in the scripts and entry points still resolves."""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "datawarehouse_project_spark"

#: Modules kept although nothing below imports them, and why.
KEPT_UNREACHED = {
    "sources.catalog_ddl": (
        "catalog-resolved star tables and a durable parquet copy of the "
        "fact; ROADMAP item 8 serves the fact from Spark's cache instead "
        "and keeps this for a fact that outlives the session"
    ),
    "sources.fact_maintenance": (
        "delta maintenance of a durable fact; ROADMAP item 8 recomputes the "
        "cached fact on a source change instead and keeps this for when "
        "that recompute costs too much"
    ),
    "streaming.windows": "SURVEY §2.8's sanctioned upgrade path",
}


def _module(path: str) -> str:
    rel = os.path.relpath(path, ROOT)[: -len(".py")].replace(os.sep, ".")
    return rel.removesuffix(".__init__")


def _imports(path: str, nodes) -> set[str]:
    """Every dotted name the import statements among ``nodes`` of the
    file at ``path`` may refer to."""
    me = _module(path).split(".")
    pkg = me if path.endswith("__init__.py") else me[:-1]
    out = set()
    for node in nodes:
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = pkg[: len(pkg) - node.level + 1] if node.level else []
            mod = ".".join(base + ([node.module] if node.module else []))
            out.add(mod)
            out.update(f"{mod}.{a.name}" for a in node.names)
    return out


def _tree(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read())


def test_every_source_and_streaming_module_is_reached():
    """A module counts as reached when an engine module imports it at
    module level, or when ``bench.py``, ``__spark_entry__.py`` or a
    perfbench module imports it anywhere. An import inside an engine
    function does not count: it serves that one function, which may
    itself be reached only from tests (an off-window row, an option no
    caller passes)."""
    reached = set()
    for path in glob.glob(f"{ROOT}/{PKG}/**/*.py", recursive=True):
        reached |= _imports(path, _tree(path).body) - {_module(path)}
    entries = [f"{ROOT}/bench.py", f"{ROOT}/__spark_entry__.py"] + [
        p
        for p in glob.glob(f"{ROOT}/perfbench/*.py")
        if not os.path.basename(p).startswith("test_")
    ]
    for path in entries:
        reached |= _imports(path, ast.walk(_tree(path)))

    modules = {
        _module(p).removeprefix(f"{PKG}.")
        for family in ("sources", "streaming")
        for p in glob.glob(f"{ROOT}/{PKG}/{family}/*.py")
        if not p.endswith("__init__.py")
    }
    assert set(KEPT_UNREACHED) <= modules, "a kept module no longer exists"
    unreached = sorted(
        m for m in modules - set(KEPT_UNREACHED) if f"{PKG}.{m}" not in reached
    )
    assert unreached == [], (
        f"reached by no engine module, entry point or perfbench: {unreached}; "
        "delete them, or name them in KEPT_UNREACHED with a reason"
    )


def _top_level_names(tree: ast.Module) -> set[str]:
    """Names a module binds outside its function and class bodies."""
    names, stack = set(), list(tree.body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        else:
            stack.extend(c for c in ast.iter_child_nodes(node) if isinstance(c, ast.stmt))
    return names


def test_script_and_entry_imports_resolve():
    """Every ``from datawarehouse_project_spark… import name`` in
    ``scripts/``, ``bench.py`` and ``__spark_entry__.py`` names an engine
    module that exists and a name it defines (or a submodule), so a
    deletion in the engine cannot leave a script that fails on import."""
    entries = glob.glob(f"{ROOT}/scripts/*.py") + [
        f"{ROOT}/bench.py",
        f"{ROOT}/__spark_entry__.py",
    ]
    dangling = []
    for path in entries:
        for node in ast.walk(_tree(path)):
            if not (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").split(".")[0] == PKG
            ):
                continue
            base = os.path.join(ROOT, *node.module.split("."))
            src = next(
                (p for p in (f"{base}.py", f"{base}/__init__.py") if os.path.exists(p)),
                None,
            )
            where = f"{os.path.relpath(path, ROOT)}:{node.lineno}"
            if src is None:
                dangling.append(f"{where} {node.module}")
                continue
            defined = _top_level_names(_tree(src))
            for a in node.names:
                sub = os.path.join(base, a.name)
                if a.name not in defined and not (
                    os.path.exists(f"{sub}.py") or os.path.isdir(sub)
                ):
                    dangling.append(f"{where} {node.module}.{a.name}")
    assert dangling == [], f"imports that no longer resolve: {dangling}"
