"""Every script under tools/ and jobs/ imports cleanly: a library name a
script still uses cannot be deleted or renamed without this failing."""

import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parents[1]
SCRIPTS = sorted([*REPO.glob("tools/*.py"), *REPO.glob("jobs/*.py")])


def test_scripts_found():
    assert len(SCRIPTS) >= 10


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_script_imports(path):
    spec = importlib.util.spec_from_file_location(f"_script_{path.parent.name}_{path.stem}", path)
    spec.loader.exec_module(importlib.util.module_from_spec(spec))
