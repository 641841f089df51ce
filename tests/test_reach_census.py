"""Reachability census: every top-level function, class and constant in
``rove_spark/`` is reached from code that runs outside the test suite, or
is allowlisted below with the reason it stays.

Entry code is ``bench.py``, ``__spark_entry__.py``, ``perfbench/*.py``,
``scripts/*.py`` and the package's own module-level statements (imports,
registrations). A reached definition's body reaches further names, to a
fixpoint. A name counts as referenced through ``Name``, ``Attribute`` and
import nodes, and through string constants (perfbench patches functions
by name, e.g. ``tracer.patch(engine, "build_tiers", ...)``); docstring
text does not count. Matching is by bare name, so the census errs towards
"reached". AST only: nothing is imported and no Spark session starts.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

# Reached only from tests or docs, kept on purpose.
ALLOWED = {
    "rove_spark.operators.dedup.with_shingles": "reference that test_dedup.py "
    "compares the fused shingle/minhash path against",
    "rove_spark.operators.dedup.with_minhash": "reference that test_dedup.py "
    "compares the fused shingle/minhash path against",
    "rove_spark.operators.dedup.exact_dedup": "reference in "
    "test_dedup.py::test_lsh_on_documents_table",
    "rove_spark.operators.gorilla.encode_timestamps": "per-chunk reference the "
    "grouped entry builders are compared with (test_gorilla.py)",
    "rove_spark.operators.gorilla.encode_values": "per-chunk reference the "
    "grouped entry builders are compared with (test_gorilla.py)",
    "rove_spark.operators.gridfill.find_misaligned": "the alignment contract "
    "SPEC.md states",
    "rove_spark.operators.gridfill.snap_to_grid": "the alignment contract "
    "SPEC.md states",
    "rove_spark.operators.rollup.histogram_quantile": "read side of the "
    "histogram tier (STATUS.md)",
    "rove_spark.operators.rollup.compact_tier_increments": "operator API "
    "(README.md); ROADMAP.md item 2 enumerates its crash points",
}


def _docstrings(tree: ast.AST) -> set[int]:
    out = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (
                isinstance(first, ast.Expr)
                and isinstance(first.value, ast.Constant)
                and isinstance(first.value.value, str)
            ):
                out.add(id(first.value))
    return out


def _refs(nodes, docstrings: set[int]) -> set[str]:
    names = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.update(node.name.split("."))
            elif isinstance(node, ast.ImportFrom) and node.module:
                names.update(node.module.split("."))
            elif (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in docstrings
            ):
                names.add(node.value)
                names.update(node.value.split("."))
    return names


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign)
        else []
    )
    names = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name) and not node.id.startswith("__"):
                names.append(node.id)
    return names


def unreached(root: Path) -> set[str]:
    """Dotted names of the ``rove_spark`` definitions entry code never
    reaches."""
    defs: dict[str, tuple[str, ast.stmt, set[int]]] = {}
    roots: set[str] = set()
    for path in sorted((root / "rove_spark").rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        docs = _docstrings(tree)
        module = ".".join(path.relative_to(root).with_suffix("").parts)
        for stmt in tree.body:
            names = _defined(stmt)
            for name in names:
                defs[f"{module}.{name}"] = (name, stmt, docs)
            if not names:
                roots |= _refs([stmt], docs)
    entries = [root / "bench.py", root / "__spark_entry__.py"]
    entries += sorted((root / "perfbench").glob("*.py")) + sorted((root / "scripts").glob("*.py"))
    for path in entries:
        tree = ast.parse(path.read_text(), filename=str(path))
        roots |= _refs([tree], _docstrings(tree))
    reached: set[str] = set()
    frontier = roots
    while frontier:
        new = {k for k, (name, _, _) in defs.items() if name in frontier and k not in reached}
        reached |= new
        frontier = set()
        for k in new:
            _, stmt, docs = defs[k]
            frontier |= _refs([stmt], docs)
    return set(defs) - reached


def test_every_definition_is_reached_or_allowlisted():
    got = unreached(ROOT)
    assert not got - ALLOWED.keys(), (
        f"reached only from tests (delete them, or allowlist each with its reason): "
        f"{sorted(got - ALLOWED.keys())}"
    )
    assert not ALLOWED.keys() - got, (
        f"allowlisted but now reached or gone (drop the entry): {sorted(ALLOWED.keys() - got)}"
    )


def test_census_flags_a_test_only_helper(tmp_path):
    """A helper named only in a test and in docstrings is unreached; one
    named by entry code, directly or as a string, is reached."""
    ops = tmp_path / "rove_spark" / "operators"
    ops.mkdir(parents=True)
    (ops / "ops.py").write_text(
        '"""Mentions only_tested in prose."""\n'
        "def used():\n    return helper()\n\n"
        "def helper():\n    return 1\n\n"
        "def patched():\n    pass\n\n"
        "def only_tested():\n    \"\"\"See only_tested.\"\"\"\n    return used()\n"
    )
    (tmp_path / "tests").mkdir()
    (tmp_path / "tests" / "test_ops.py").write_text(
        "from rove_spark.operators.ops import only_tested\n"
    )
    (tmp_path / "scripts").mkdir()
    (tmp_path / "scripts" / "run.py").write_text(
        "from rove_spark.operators import ops\n"
        "ops.used()\n"
        'setattr(ops, "patched", None)\n'
    )
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "bench.py").write_text("")
    (tmp_path / "__spark_entry__.py").write_text("")
    assert unreached(tmp_path) == {"rove_spark.operators.ops.only_tested"}
