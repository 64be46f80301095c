"""The scripts under tools/ import engine helpers by name, often inside
functions, so a renamed or deleted helper breaks them only when someone
runs them. This resolves every engine import in tools/*.py without
starting Spark."""
from __future__ import annotations

import ast
import importlib
import os

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
PKG = "imdbmapreduce_spark"


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
        if name is not None and not hasattr(mod, name):
            # `from pkg import submodule` names a module, not an attribute
            importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_every_engine_import_in_tools_resolves():
    seen, missing = 0, []
    for fname in sorted(f for f in os.listdir(TOOLS) if f.endswith(".py")):
        path = os.path.join(TOOLS, fname)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        # ast.walk also reaches the imports nested inside functions
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                if (node.module or "").split(".")[0] != PKG:
                    continue
                targets = [(node.module, a.name) for a in node.names]
            elif isinstance(node, ast.Import):
                targets = [(a.name, None) for a in node.names if a.name.split(".")[0] == PKG]
            else:
                continue
            for module, name in targets:
                seen += 1
                if not _resolves(module, name):
                    missing.append(f"{fname}:{node.lineno} {module} {name}")
    assert seen > 10, "premise: the tools import engine helpers"
    assert not missing


def test_no_tool_puts_a_literal_path_on_sys_path():
    """A tool that puts a fixed checkout on ``sys.path`` imports that
    checkout's engine even when it runs from another copy, so an A/B run
    from a second checkout would time the wrong code. Every tool derives
    its root from ``__file__`` instead."""
    literal, seen = [], 0
    for fname in sorted(f for f in os.listdir(TOOLS) if f.endswith(".py")):
        path = os.path.join(TOOLS, fname)
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            func = getattr(node, "func", None)
            if not (
                isinstance(node, ast.Call)
                and isinstance(func, ast.Attribute)
                and func.attr in ("insert", "append")
                and ast.unparse(func.value) == "sys.path"
            ):
                continue
            seen += 1
            if any(isinstance(a, ast.Constant) and isinstance(a.value, str) for a in node.args):
                literal.append(f"{fname}:{node.lineno}")
    assert seen > 5, "premise: the tools put their checkout on sys.path"
    assert not literal, f"literal sys.path entries: {literal}"
