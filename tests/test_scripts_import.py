"""Every measurement/gate script and bench.py imports cleanly (no
dangling imports of deleted scripts or helpers); main() is not run.
A script that writes a fixture parses its arguments first."""

from __future__ import annotations

import importlib
import importlib.util
import subprocess
import sys
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


def _listing(d: Path):
    return {p.name: p.stat().st_mtime_ns for p in d.iterdir()} if d.exists() else None


@pytest.mark.parametrize("arg, code", [("--help", 0), ("--no-such-option", 2)])
def test_gen_degenerate_tables_parses_args_before_writing(arg, code):
    """`--help` prints usage and an unknown option is refused, both
    before the fixture directory is touched."""
    fixture = REPO / ".scale" / "sf0.001-degenerate"
    before = _listing(fixture)
    res = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "gen_degenerate_tables.py"), arg],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=REPO,
    )
    assert res.returncode == code, res.stderr[-2000:]
    assert "usage" in (res.stdout + res.stderr)
    assert _listing(fixture) == before
