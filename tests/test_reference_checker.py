"""The ported reference checker on the 3-file fixture: one config in
its own process, timed by scripts/timing.py, diffed against goldens."""

from __future__ import annotations

import os
import string

from scripts.run_reference_checker import run_config

from .test_invindex import GOLDEN_SMALL


def test_checker_config_is_correct_and_scored_by_min(small_corpus_dir, tmp_path):
    golden = tmp_path / "golden"
    golden.mkdir()
    for ch in string.ascii_lowercase:
        (golden / f"{ch}.txt").write_text("".join(f"{ln}\n" for ln in GOLDEN_SMALL.get(ch, [])))
    res = run_config(1, 1, os.path.join(small_corpus_dir, "manifest.txt"), str(golden))
    assert res["correct"], res
    assert len(res["samples"]) == 2
    assert res["pipeline_s"] == min(res["samples"])
    assert res["wall_s"] > res["pipeline_s"]
