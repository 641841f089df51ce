"""Environment census: the ``ROVE_*`` variables the package reads are a
fixed, reviewed set. Layout and partitioning are decisions of the code,
not of the environment, so a new variable has to be added here on
purpose."""

from __future__ import annotations

import ast
from pathlib import Path

import rove_spark

ALLOWED = {"ROVE_ICEBERG_JAR", "ROVE_WAREHOUSE", "ROVE_ROTATION_EPOCH"}


def _is_environ(node: ast.AST) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _env_names(tree: ast.AST) -> set[str]:
    """String keys read through ``os.environ[...]``, ``os.environ.get``/
    ``setdefault``/``pop`` and ``os.getenv``."""
    names = set()
    for node in ast.walk(tree):
        key = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr in {"get", "setdefault", "pop"} and _is_environ(f.value))
                or f.attr == "getenv"
            ):
                key = node.args[0]
        if isinstance(key, ast.Constant) and isinstance(key.value, str):
            names.add(key.value)
    return names


def test_rove_env_vars_are_the_reviewed_set():
    root = Path(rove_spark.__file__).parent
    read = set()
    for path in root.rglob("*.py"):
        read |= _env_names(ast.parse(path.read_text(), filename=str(path)))
    assert {n for n in read if n.startswith("ROVE_")} == ALLOWED
