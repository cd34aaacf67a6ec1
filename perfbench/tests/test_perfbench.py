"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import child  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())

END_TO_END = {"setup_s": "s", "warm_s": "s", "input_mb_per_s": "MB/s"}
PER_LAYER_UNITS = {
    "registry.import_s": "s", "session.get_spark_s": "s", "queries.build_s": "s",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.task_cpu_s": "s",
    "exec.gc_s": "s", "exec.core_idle_frac": "ratio", "exec.driver_gap_s": "s",
    "exec.scan_bytes": "B", "exec.scan_rows": "count", "exec.scan_time_s": "s",
    "exec.shuffle_write_bytes": "B", "exec.shuffle_records": "count",
    "exec.fetch_wait_s": "s", "exec.spill_disk_bytes": "B",
    "exec.peak_exec_mem_bytes": "B", "exec.max_task_over_median": "ratio",
    "exec.exchanges": "count", "exec.broadcast_joins": "count",
    "exec.sort_merge_joins": "count", "exec.python_eval_nodes": "count",
    "mem.jvm_peak_rss_mb": "MB", "sources.manifest_scan_s": "s",
    "operators.invindex.words_s": "s", "operators.invindex.index_s": "s",
    "sinks.spark_write_s": "s", "sinks.concat_s": "s",
    "operators.invindex.tokens": "count", "operators.invindex.words_distinct": "count",
    "sinks.bytes_out": "B", "sinks.write_amp": "ratio",
    "operators.dedup.exact_s": "s", "operators.dedup.shingle_s": "s",
    "operators.dedup.guard_s": "s", "operators.dedup.signature_s": "s",
    "operators.dedup.band_s": "s", "operators.dedup.candidate_s": "s",
    "operators.dedup.verify_s": "s", "operators.textstats.quality_s": "s",
    "operators.pipeline.snapshot_write_s": "s", "operators.dedup.shingle_rows": "count",
    "operators.dedup.guarded_rows": "count", "operators.dedup.band_rows": "count",
    "operators.dedup.candidate_pairs": "count", "operators.dedup.verified_pairs": "count",
    "operators.dedup.verify_yield": "ratio", "operators.pipeline.lsh_executions": "count",
    "trace.overhead_s": "s",
}


# --- metric names and units -----------------------------------------------------

def test_end_to_end_metrics_pinned():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == END_TO_END
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_per_layer_metrics_pinned():
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == PER_LAYER_UNITS
    assert len(SPEC["per_layer"]) == len(PER_LAYER_UNITS)  # no duplicates


def test_workloads_match_runner():
    assert tuple(w["name"] for w in SPEC["workloads"]) == run.WORKLOADS
    assert SPEC["command"] == ["python3", "perfbench/run.py"]


def test_end_to_end_values_cover_spec():
    result = {"setup_s": 5.0, "warm_s": 2.0}
    values = run.end_to_end(result, input_bytes=4_000_000)
    assert set(values) == set(END_TO_END)
    assert values["input_mb_per_s"] == pytest.approx(2.0)


# --- generator determinism ----------------------------------------------------

def test_text_corpus_deterministic(tmp_path):
    digests = [
        gen.text_corpus(seed, tmp_path / f"{seed}-{i}", n_files=6, total_tokens=3000, vocab=400)
        ["digest"]
        for i, seed in enumerate((7, 7, 8))
    ]
    assert digests[0] == digests[1]
    assert digests[0] != digests[2]


def test_documents_deterministic(tmp_path):
    a = gen.documents(7, tmp_path / "a", n_docs=300)
    b = gen.documents(7, tmp_path / "b", n_docs=300)
    c = gen.documents(8, tmp_path / "c", n_docs=300)
    assert a["digest"] == b["digest"] != c["digest"]
    assert pq.read_table(tmp_path / "a" / "documents.parquet").num_rows == 300


# --- output checks feed fail_ratio ------------------------------------------------

def _iteration(problems: list[str]) -> dict:
    return {"phase": "window", "wall_s": 1.0, "error": None, "problems": problems}


def test_reference_rendering(tmp_path):
    (tmp_path / "a.txt").write_text("The sky.\n")
    (tmp_path / "b.txt").write_text("the Sun\t42 sky-high\n")
    (tmp_path / "m.txt").write_text("2\na.txt\nb.txt\n")
    files = oracle.letter_files(tmp_path / "m.txt")
    assert files["t"] == b"the:[1 2]\n"
    assert files["s"] == b"sky:[1]\nskyhigh:[2]\nsun:[2]\n"
    assert files["x"] == b""


def test_flipped_byte_counts_as_failure(tmp_path):
    corpus = tmp_path / "corpus"
    gen.text_corpus(3, corpus, n_files=4, total_tokens=2000, vocab=300)
    expected = oracle.letter_files(corpus / "manifest.txt")
    oracle.write_letter_files(expected, tmp_path / "expected")
    oracle.write_letter_files(expected, tmp_path / "out")
    good = oracle.check_letter_files(tmp_path / "out", tmp_path / "expected")
    assert good == []

    victim = next(ch for ch, data in expected.items() if data)
    data = bytearray(expected[victim])
    data[0] ^= 0x01
    (tmp_path / "out" / f"{victim}.txt").write_bytes(bytes(data))
    bad = oracle.check_letter_files(tmp_path / "out", tmp_path / "expected")
    assert bad == [f"{victim}.txt differs"]
    assert run.count_failures([_iteration(good), _iteration(bad)]) == 1


def _snapshot(path: Path, doc_ids: list[int]) -> None:
    langs = ["en" if i % 2 else "de" for i in doc_ids]
    pq.write_to_dataset(
        pa.table({"doc_id": pa.array(doc_ids, pa.int64()), "lang": langs}),
        str(path), partition_cols=["lang"],
    )


def test_dropped_doc_id_counts_as_failure(tmp_path):
    expected = [1, 2, 5, 8, 13]
    _snapshot(tmp_path / "good", expected)
    assert oracle.check_snapshot(tmp_path / "good", expected, len(expected)) == []

    _snapshot(tmp_path / "bad", expected[:-1])
    bad = oracle.check_snapshot(tmp_path / "bad", expected, len(expected))
    assert len(bad) == 1 and "missing [13]" in bad[0]
    assert run.count_failures([_iteration([]), _iteration(bad)]) == 1


def test_raised_iteration_counts_as_failure():
    raised = {"phase": "cold", "wall_s": 1.0, "error": "boom", "problems": []}
    assert run.count_failures([raised, _iteration([])]) == 1


# --- trace helpers --------------------------------------------------------------

def test_covered_merges_and_clips_intervals():
    assert layers._covered([(0, 2), (1, 3), (5, 6), (9, 20)], 0.5, 10) == pytest.approx(4.5)


def test_timing_metric_parse():
    assert layers.timing_metric_s("53 ms") == pytest.approx(0.053)
    total = "total (min, med, max (stageId: taskId))\n1.2 s (15 ms, 243 ms, 0.9 s)"
    assert layers.timing_metric_s(total) == pytest.approx(1.2)


def test_plan_digest_ignores_expression_ids():
    a = "== Physical Plan ==\n* Project (2)\n+- Scan parquet  (1)\n\n(1) Scan\nOutput [1]: [x#12L]"
    b = "== Physical Plan ==\n* Project (7)\n+- Scan parquet  (3)\n\n(3) Scan\nOutput [1]: [x#99L]"
    c = "== Physical Plan ==\n* Filter (2)\n+- Scan parquet  (1)\n"
    assert layers.plan_digest(a) == layers.plan_digest(b) != layers.plan_digest(c)


def test_time_on_cpu_removes_stolen_share(monkeypatch):
    monkeypatch.setattr(child.os, "cpu_count", lambda: 4)
    assert child.on_cpu_s(3.0, 2.0) == pytest.approx(2.5)
    assert child.on_cpu_s(3.0, None) == 3.0  # steal not measured
