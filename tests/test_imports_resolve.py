"""Every ``text2nkg_spark`` import in the repo resolves.

A function-level import fails only when its function runs, so deleting a
module (or a name from one) can leave an import that no other test
reaches.  This walks the AST of every ``.py`` file under
``text2nkg_spark/``, ``jobs/`` and ``tests/``, plus ``__spark_entry__.py``,
without importing anything or starting Spark, and checks each
``text2nkg_spark`` import, at module level or inside a function:

* the imported module's file exists;
* each name of ``from text2nkg_spark.x import a`` is a submodule of ``x``
  or is bound at the top level of ``x``.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "text2nkg_spark"


def _sources() -> list[str]:
    out = [os.path.join(REPO, "__spark_entry__.py")]
    for top in (PKG, "jobs", "tests"):
        for d, _, files in os.walk(os.path.join(REPO, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".py")]
    return sorted(out)


def _module_path(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(p):
            return p
    return None


def _parse(path: str) -> ast.Module:
    with open(path) as f:
        return ast.parse(f.read(), path)


def _target_names(t: ast.expr) -> set[str]:
    if isinstance(t, ast.Name):
        return {t.id}
    if isinstance(t, ast.Tuple):  # SUB_L, SUB_R = ...
        return set().union(*map(_target_names, t.elts))
    return set()


def _top_level_names(stmts: list[ast.stmt]) -> set[str]:
    """Names a module binds outside any function or class body (the
    bodies of top-level ``if``/``try``/``with`` blocks included)."""
    names: set[str] = set()
    for s in stmts:
        if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef,
                          ast.ClassDef)):
            names.add(s.name)
        elif isinstance(s, ast.Assign):
            for t in s.targets:
                names |= _target_names(t)
        elif isinstance(s, ast.AnnAssign):
            names |= _target_names(s.target)
        elif isinstance(s, ast.Import):
            names |= {a.asname or a.name.split(".")[0] for a in s.names}
        elif isinstance(s, ast.ImportFrom):
            names |= {a.asname or a.name for a in s.names}
        else:
            for field in ("body", "orelse", "finalbody"):
                names |= _top_level_names(getattr(s, field, []))
            for h in getattr(s, "handlers", []):
                names |= _top_level_names(h.body)
    return names


def unresolved_imports() -> list[str]:
    """``file:line: what`` for every ``text2nkg_spark`` import that does
    not resolve."""
    bound: dict[str, set[str]] = {}
    bad: list[str] = []
    for path in _sources():
        where = os.path.relpath(path, REPO)
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Import):
                pairs = [(a.name, None) for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                pairs = [(node.module or "", a.name) for a in node.names]
            else:
                continue
            for module, name in pairs:
                if module != PKG and not module.startswith(PKG + "."):
                    continue
                mpath = _module_path(module)
                if mpath is None:
                    bad.append(f"{where}:{node.lineno}: no module {module}")
                    continue
                if name is None:
                    continue
                if mpath not in bound:
                    bound[mpath] = _top_level_names(_parse(mpath).body)
                if (name not in bound[mpath]
                        and _module_path(f"{module}.{name}") is None):
                    bad.append(f"{where}:{node.lineno}: {module} has no "
                               f"{name}")
    return list(dict.fromkeys(bad))  # one line per missing module import


def test_every_text2nkg_import_resolves():
    # a walk that silently found no file would pass the last assert
    srcs = _sources()
    for f in ("__spark_entry__.py", "jobs/run_extraction.py",
              "tests/test_pipeline_e2e.py", f"{PKG}/plans/pipeline.py"):
        assert os.path.join(REPO, f) in srcs, f
    assert unresolved_imports() == []
