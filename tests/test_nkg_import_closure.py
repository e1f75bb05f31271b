"""The NKG system imports none of the non-NKG operator modules.

The NKG system is ``plans/pipeline.py`` (``run_pipeline``), its job
``jobs/run_extraction.py`` and the stream in ``streaming/ingest.py``.
This walks their ``text2nkg_spark`` imports statically (module level and
inside functions, plus each imported package's ``__init__``), without
importing anything or starting Spark, so the non-NKG operator modules can
be deleted without touching what the system reaches.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "text2nkg_spark"

ROOTS = (
    os.path.join(PKG, "plans", "pipeline.py"),
    os.path.join(PKG, "streaming", "ingest.py"),
    os.path.join("jobs", "run_extraction.py"),
)

NON_NKG = {
    f"{PKG}.operators.{m}" for m in (
        "dedup", "similarity", "graph", "temporal", "textstats", "sketches",
        "sampling", "profile", "merge", "joins", "multimodal")
}


def _module_path(module: str) -> str | None:
    base = os.path.join(REPO, *module.split("."))
    for p in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.exists(p):
            return p
    return None


def _imported_modules(path: str) -> set[str]:
    """Every ``text2nkg_spark`` module an import anywhere in ``path`` loads,
    with the packages on the way (their ``__init__`` runs too)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            # ``from pkg import mod`` loads the submodule ``pkg.mod``
            names.update(f"{node.module}.{a.name}" for a in node.names)
    out: set[str] = set()
    for name in names:
        if name != PKG and not name.startswith(PKG + "."):
            continue
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if _module_path(prefix) is not None:
                out.add(prefix)
    return out


def nkg_import_closure() -> set[str]:
    seen: set[str] = set()
    todo = [os.path.join(REPO, r) for r in ROOTS]
    while todo:
        for module in _imported_modules(todo.pop()) - seen:
            seen.add(module)
            todo.append(_module_path(module))
    return seen


def test_nkg_system_reaches_no_non_nkg_operator_module():
    closure = nkg_import_closure()
    # a walk that silently found nothing would pass the last assert
    for module in (f"{PKG}.plans.pipeline", f"{PKG}.plans.manifest",
                   f"{PKG}.operators.extraction", f"{PKG}.decode_core",
                   f"{PKG}.operators.canonicalize", f"{PKG}.session"):
        assert module in closure, module
    assert closure & NON_NKG == set()
