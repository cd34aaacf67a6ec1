"""Every measurement/gate script and bench.py imports cleanly (no
dangling imports of deleted scripts or helpers); main() is not run."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted(p.stem for p in (REPO / "scripts").glob("*.py") if p.stem != "__init__")


@pytest.mark.parametrize("name", SCRIPTS)
def test_script_imports(name):
    importlib.import_module(f"scripts.{name}")


def test_bench_imports():
    spec = importlib.util.spec_from_file_location("bench", REPO / "bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert callable(mod.main)
