"""Every engine name a script references must exist: the scripts under
scripts/ and perfbench/, bench.py and the __spark_entry__.py entry
point.

A deletion or rename in the engine package otherwise leaves a script
broken until someone runs it (for perfbench/, until the benchmark
runs). Each script is parsed (not run); the names it imports with
``from flume_hive_batch_sink_spark… import …`` and every
``alias.attr`` on an alias bound to an engine module are looked up in
the imported modules.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path
from types import ModuleType

import pytest

PKG = "flume_hive_batch_sink_spark"
REPO = Path(__file__).resolve().parent.parent
SCRIPTS = [
    *sorted((REPO / "scripts").glob("*.py")),
    *sorted((REPO / "perfbench").glob("*.py")),
    REPO / "bench.py",
    REPO / "__spark_entry__.py",
]
_MISSING = object()


def _lookup(module: str, name: str):
    """What ``from module import name`` binds: an attribute of the
    module, else its submodule ``name``; _MISSING if neither exists."""
    try:
        mod = importlib.import_module(module)
    except ModuleNotFoundError:
        return _MISSING
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return _MISSING


def _missing_refs(src: str) -> list[str]:
    """Engine names referenced by ``src`` that do not exist."""
    tree = ast.parse(src)
    missing: list[str] = []
    modules: dict[str, ModuleType] = {}  # script-side name -> engine module
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] != PKG:
                    continue
                try:
                    mod = importlib.import_module(a.name)
                except ModuleNotFoundError:
                    missing.append(a.name)
                    continue
                if a.asname:
                    modules[a.asname] = mod
                else:
                    modules[PKG] = importlib.import_module(PKG)
        elif (
            isinstance(node, ast.ImportFrom)
            and node.level == 0
            and (node.module or "").split(".")[0] == PKG
        ):
            for a in node.names:
                obj = _lookup(node.module, a.name)
                if obj is _MISSING:
                    missing.append(f"{node.module}.{a.name}")
                elif isinstance(obj, ModuleType):
                    modules[a.asname or a.name] = obj
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in modules
            and not hasattr(modules[node.value.id], node.attr)
        ):
            missing.append(f"{modules[node.value.id].__name__}.{node.attr}")
    return missing


def _script_id(path: Path) -> str:
    """scripts/ files by bare name, everything else by repo path."""
    rel = path.relative_to(REPO)
    return rel.name if rel.parts[0] == "scripts" else str(rel)


@pytest.mark.parametrize("script", SCRIPTS, ids=_script_id)
def test_script_references_existing_engine_names(script):
    assert _missing_refs(script.read_text()) == []


def test_checker_reports_stale_names():
    src = (
        f"from {PKG}.llm import similarity as S\n"
        f"from {PKG}.llm.similarity import cosine_pairs, llm_ann_pq\n"
        f"from {PKG} import registry\n"
        "S._PQ_INT64_KERNELS = True\n"
        "S._centroid_probes\n"
        "registry.QUERIES\n"
    )
    assert _missing_refs(src) == [
        f"{PKG}.llm.similarity.cosine_pairs",
        f"{PKG}.llm.similarity._PQ_INT64_KERNELS",
    ]
