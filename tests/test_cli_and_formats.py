"""Reference-compatible CLI + format-agnostic ingestion + failure modes."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from apd_map_reduce_spark.queries.relational import events_hourly
from apd_map_reduce_spark.sources.files import read_json
from apd_map_reduce_spark.sources.tables import load_table

from .conftest import SF_SMOKE
from .test_invindex import GOLDEN_SMALL

# The tree under test, wherever it is checked out.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cli_matches_golden(small_corpus_dir, tmp_path):
    """`python -m apd_map_reduce_spark 2 2 manifest` — the reference
    binary's CLI shape — produces the golden letter files."""
    out = str(tmp_path / "cli_out")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "apd_map_reduce_spark",
            "2",
            "2",
            os.path.join(small_corpus_dir, "manifest.txt"),
            "--out",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    for ch, want in GOLDEN_SMALL.items():
        with open(os.path.join(out, f"{ch}.txt")) as fh:
            assert [ln.rstrip("\n") for ln in fh if ln.strip()] == want


def test_cli_empty_manifest_writes_empty_letter_files(tmp_path):
    """An empty manifest file holds no entries, like one whose count
    line is 0: the CLI succeeds and writes all 26 letter files, empty."""
    manifest = tmp_path / "manifest.txt"
    manifest.write_text("")
    out = tmp_path / "cli_out"
    res = subprocess.run(
        [sys.executable, "-m", "apd_map_reduce_spark", "1", "1", str(manifest), "--out", str(out)],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=ROOT,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    files = sorted(os.listdir(out))
    assert files == [f"{chr(c)}.txt" for c in range(ord("a"), ord("z") + 1)]
    assert all(os.path.getsize(out / f) == 0 for f in files)


def test_cli_rejects_bad_args():
    res = subprocess.run(
        [sys.executable, "-m", "apd_map_reduce_spark", "0", "2", "nope.txt"],
        capture_output=True,
        text=True,
        timeout=120,
        cwd=ROOT,
    )
    assert res.returncode != 0
    assert "M and R must be >= 1" in res.stderr


def test_events_hourly_from_json_lines(spark, tmp_path, monkeypatch):
    """The same query runs unchanged over a JSON-lines copy of events —
    source format is orthogonal to query semantics."""
    d = str(tmp_path / "events_json")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).write.mode("overwrite").json(d)

    schema = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE, props STRING"
    back = read_json(spark, d, schema)

    import apd_map_reduce_spark.queries.relational as rel

    monkeypatch.setattr(rel, "_t", lambda s, sf, name: back if name == "events" else load_table(s, sf, name))
    from_json = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in rel.events_hourly(spark, SF_SMOKE).collect()
    }
    monkeypatch.undo()
    from_parquet = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in events_hourly(spark, SF_SMOKE).collect()
    }
    assert from_json == from_parquet


def test_missing_table_fails_cleanly(spark):
    from pyspark.sql.utils import AnalysisException

    with pytest.raises(AnalysisException):
        load_table(spark, "/root/testdata/sf_nope", "orders").count()


def test_cli_query_list_and_run(capsys):
    from apd_map_reduce_spark.__main__ import main

    assert main(["query", "list"]) == 0
    out = capsys.readouterr().out
    assert "corpus_inverted_index\toracle" in out
    assert main(["query", "definitely_not_a_query"]) == 2


def test_jsonl_shards_roundtrip_and_determinism(spark, tmp_path):
    from apd_map_reduce_spark.sinks import write_jsonl_shards
    from apd_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out1, out2 = str(tmp_path / "s1"), str(tmp_path / "s2")
    write_jsonl_shards(docs, out1, n_shards=8)
    write_jsonl_shards(docs, out2, n_shards=8)

    back = spark.read.json(out1)
    assert back.count() == docs.count()
    orig = {(r.doc_id, r.text) for r in docs.select("doc_id", "text").collect()}
    got = {(r.doc_id, r.text) for r in back.select("doc_id", "text").collect()}
    assert got == orig

    # deterministic shard membership: same seed -> same bytes per shard
    import os

    def shard_map(base):
        m = {}
        for d in sorted(os.listdir(base)):
            if not d.startswith("shard="):
                continue
            lines = []
            for f in sorted(os.listdir(os.path.join(base, d))):
                if f.endswith(".txt"):
                    with open(os.path.join(base, d, f), encoding="utf-8") as fh:
                        lines.extend(fh.read().splitlines())
            m[d] = sorted(lines)
        return m

    m1, m2 = shard_map(out1), shard_map(out2)
    assert m1 == m2
    assert len(m1) == 8


def test_orc_roundtrip_matches_parquet_with_pushdown(spark, tmp_path):
    """ORC round-trip: identical values to the parquet path, and the
    selective filter is pushed into the ORC scan (PushedFilters), same
    as the parquet posture."""
    from apd_map_reduce_spark.sources.files import read_orc
    from apd_map_reduce_spark.sources.tables import load_table

    from .conftest import SF_SMOKE

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    d = str(tmp_path / "events_orc")
    events.write.mode("overwrite").orc(d)
    back = read_orc(spark, d)
    assert back.count() == events.count()
    from_orc = {
        r.event_id: (r.user_id, r.event_type, r.value)
        for r in back.filter(back.event_type == "purchase").collect()
    }
    from_parquet = {
        r.event_id: (r.user_id, r.event_type, r.value)
        for r in events.filter(events.event_type == "purchase").collect()
    }
    assert from_orc == from_parquet
    plan = (
        back.filter(back.event_type == "purchase")
        .select("event_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "event_type" in pushed and "purchase" in pushed, (
        "the equality filter must be INSIDE the pushed list (an empty "
        "PushedFilters: [] with event_type only in ReadSchema is a "
        "pushdown regression):\n" + plan[:800]
    )
    # column pruning: only the two needed columns reach the scan
    schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "event_id" in schema and "event_type" in schema
    assert "value" not in schema and "user_id" not in schema, schema
