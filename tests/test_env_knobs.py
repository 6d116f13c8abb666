"""The package's environment-variable inventory is pinned.

Every env var the package reads is a knob that changes behaviour without a
constructor argument or a config field, and no test sees it unless it sets
it. A new one must be added here on purpose; one that nothing sets should be
deleted (or become a constructor argument) rather than accumulate.
"""

from __future__ import annotations

import ast
import os

import observability_platform___databricks_etl_pipeline_spark as pkg

EXPECTED = {
    "SPARK_GRAFT_CPUS",  # session sizing (local[N], shuffle partitions)
    "SPARK_DRIVER_MEM",  # session driver heap
    "CDC_GATE_WAL_SUFFIX",  # pins the oracle gate's SQL text across processes
    "CDC_TIMING",  # per-batch phase timing print
    "CDC_WRITE_MODE",  # cow | mor default for CDCEngine
}


def _is_os_environ(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_name(node: ast.AST) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal: {ast.unparse(node)}>"


def _env_reads(tree: ast.AST) -> set[str]:
    """Names read via ``os.environ.get(...)``, ``os.environ[...]`` or
    ``os.getenv(...)``."""
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
            f = node.func
            environ_get = f.attr == "get" and _is_os_environ(f.value)
            getenv = f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            if environ_get or getenv:
                names.add(_env_name(node.args[0]))
        elif isinstance(node, ast.Subscript) and _is_os_environ(node.value):
            names.add(_env_name(node.slice))
    return names


def test_env_knob_inventory_is_pinned():
    root = os.path.dirname(pkg.__file__)
    found: set[str] = set()
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".py"):
                with open(os.path.join(dirpath, fn), encoding="utf-8") as f:
                    found |= _env_reads(ast.parse(f.read()))
    assert found == EXPECTED, (
        f"new env knobs: {sorted(found - EXPECTED)}; gone: {sorted(EXPECTED - found)}"
    )
