"""Scripts under scripts/ call only engine API that exists.

Static check (ast, no Spark session): every ``entity_resolver_spark`` import
in a script resolves, every attribute read on an imported engine module
resolves, and every keyword passed to ``EngineConfig(...)`` or
``replace(cfg, ...)`` — and every attribute read on a variable bound to one
— is an ``EngineConfig`` field. Catches kept scripts that still call a
deleted pass, helper or config knob.
"""

from __future__ import annotations

import ast
import dataclasses
import importlib
import types
from pathlib import Path

import pytest

from entity_resolver_spark.config import EngineConfig

SCRIPTS = sorted((Path(__file__).resolve().parents[1] / "scripts").glob("*.py"))
PKG = "entity_resolver_spark"
CFG_FIELDS = {f.name for f in dataclasses.fields(EngineConfig)}


def _resolve(module: str, name: str):
    """The object ``from module import name`` binds, or None if missing."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _is_cfg_call(node: ast.AST) -> bool:
    if not isinstance(node, ast.Call):
        return False
    f = node.func
    name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return name in ("EngineConfig", "replace")


def _problems(path: Path) -> list[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    out: list[str] = []
    modules: dict[str, types.ModuleType] = {}  # alias -> engine module
    cfg_vars: set[str] = set()

    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for a in node.names:
                obj = _resolve(node.module, a.name)
                if obj is None:
                    out.append(f"{node.lineno}: {node.module}.{a.name} does not exist")
                elif isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG) and a.asname:
                    modules[a.asname] = importlib.import_module(a.name)
        elif isinstance(node, ast.Assign) and _is_cfg_call(node.value):
            cfg_vars.update(t.id for t in node.targets if isinstance(t, ast.Name))

    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            base = node.value.id
            if base in modules and not hasattr(modules[base], node.attr):
                out.append(f"{node.lineno}: {base}.{node.attr} does not exist")
            if base in cfg_vars and not (
                node.attr in CFG_FIELDS or hasattr(EngineConfig, node.attr)
            ):
                out.append(f"{node.lineno}: EngineConfig has no field {node.attr}")
        elif _is_cfg_call(node):
            for kw in node.keywords:
                if kw.arg is not None and kw.arg not in CFG_FIELDS:
                    out.append(f"{node.lineno}: EngineConfig has no field {kw.arg}")
    return out


def test_scripts_exist():
    assert SCRIPTS, "no scripts found"


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_engine_api_resolves(path):
    assert _problems(path) == []
