"""Doc command census: every ``scripts/<file>`` path that README.md and
CLAUDE.md name must exist, so deleting or renaming a script cannot leave
a documented run command pointing at nothing."""

from __future__ import annotations

import re
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SCRIPT_PATH = re.compile(r"(?<![\w/.-])scripts/([\w.-]+)")


@pytest.mark.parametrize("doc", ["README.md", "CLAUDE.md"])
def test_named_scripts_exist(doc):
    named = set(SCRIPT_PATH.findall((ROOT / doc).read_text()))
    assert named, f"{doc} names no scripts/ file; the census would check nothing"
    missing = sorted(n for n in named if not (ROOT / "scripts" / n).is_file())
    assert not missing, f"{doc} names missing scripts: {missing}"
