"""Doc file census: every file the docs point a reader at must exist, so
deleting or renaming a file cannot leave a doc pointing at nothing.

- ``scripts/<file>`` paths named in README.md and CLAUDE.md;
- every entry of README.md's layout tree;
- root documents (``NAME.md``) and top-level ``plans/...`` paths named in
  README.md, CLAUDE.md and DESIGN.md;
- package modules (``operators/<name>.py``, likewise ``sources``,
  ``plans``, ``functions``, ``streaming``; with or without a leading
  ``rove_spark/``) named in README.md, CLAUDE.md, DESIGN.md, STATUS.md and
  SPEC.md.
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPT_PATH = re.compile(r"(?<![\w/.-])scripts/([\w.-]+)")
# a tree entry: a name at indent 0-8 in steps of two; description lines
# sit further right
TREE_ENTRY = re.compile(r"^((?:  ){0,4})([\w.-]+/|[\w-]+\.\w+)(?:\s|$)")
PACKAGE_PATH = re.compile(
    r"(?<![\w/.-])(?:rove_spark/)?((?:operators|sources|plans|functions|streaming)/\w+\.py)"
)
ROOT_DOC_PATH = re.compile(r"(?<![\w/.-])([A-Z][A-Z0-9_]*\.md|plans/[\w.-]+(?:/[\w.-]+)*)")


def _exists(rel: str) -> bool:
    path = ROOT / rel
    return path.is_dir() if rel.endswith("/") else path.exists()


def _layout_tree(readme: str) -> list[str]:
    """Repo-relative paths of README's ``## Layout`` tree, directories
    ending in ``/``."""
    block = readme.split("## Layout", 1)[1].split("```")[1]
    parents: list[str] = []
    paths = []
    for line in block.splitlines():
        m = TREE_ENTRY.match(line)
        if not m:
            continue
        del parents[len(m.group(1)) // 2 :]
        paths.append("".join(parents) + m.group(2))
        if m.group(2).endswith("/"):
            parents.append(m.group(2))
    return paths


@pytest.mark.parametrize("doc", ["README.md", "CLAUDE.md"])
def test_named_scripts_exist(doc):
    named = set(SCRIPT_PATH.findall((ROOT / doc).read_text()))
    assert named, f"{doc} names no scripts/ file; the census would check nothing"
    missing = sorted(n for n in named if not (ROOT / "scripts" / n).is_file())
    assert not missing, f"{doc} names missing scripts: {missing}"


def test_layout_tree_entries_exist():
    paths = _layout_tree((ROOT / "README.md").read_text())
    assert "rove_spark/plans/engine.py" in paths and "scripts/run_job.py" in paths, paths
    missing = [p for p in paths if not _exists(p)]
    assert not missing, f"README.md's layout tree names missing files: {missing}"


@pytest.mark.parametrize("doc", ["README.md", "CLAUDE.md", "DESIGN.md"])
def test_named_root_docs_and_plans_exist(doc):
    named = set(ROOT_DOC_PATH.findall((ROOT / doc).read_text()))
    assert named, f"{doc} names no root document; the census would check nothing"
    missing = sorted(n for n in named if not _exists(n))
    assert not missing, f"{doc} names missing files: {missing}"


def _missing_package_paths(text: str) -> list[str]:
    return sorted(
        {p for p in PACKAGE_PATH.findall(text) if not (ROOT / "rove_spark" / p).is_file()}
    )


@pytest.mark.parametrize("doc", ["README.md", "CLAUDE.md", "DESIGN.md", "STATUS.md", "SPEC.md"])
def test_named_package_modules_exist(doc):
    missing = _missing_package_paths((ROOT / doc).read_text())
    assert not missing, f"{doc} names missing rove_spark modules: {missing}"


def test_package_module_census_sees_status_paths():
    """The pattern finds STATUS.md's module paths and flags a deleted one."""
    status = (ROOT / "STATUS.md").read_text()
    assert "sources/switch.py" in PACKAGE_PATH.findall(status)
    assert _missing_package_paths(status + " `sources/frost.py`, `operators/jpeg.py`") == [
        "operators/jpeg.py",
        "sources/frost.py",
    ]
