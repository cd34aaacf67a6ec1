"""One fresh benchmark process: set up a session, then run one workload
as a single closed-loop client, one iteration at a time.

    python3 perfbench/child.py --workload W --inputs DIR --work DIR
        --seconds S --trace 0|1 --result FILE

The parent sets PERFBENCH_T0 to its monotonic clock and PERFBENCH_STEAL0
to the machine's stolen CPU time just before the spawn, so ``setup_s``
runs from interpreter start to a usable session: process start,
``import apd_map_reduce_spark.registry`` and ``get_spark``, taken as
time on CPU like every iteration (below). Then:

* cold    — the first iteration (Catalyst planning, codegen, JIT);
* warm-up — the workload's ``warmup`` iterations;
* window  — iterations for ``--seconds`` and at least the workload's
  ``min_window``; ``warm_s`` is their median time on CPU (below).

Warm-up and window are counted in iterations, not seconds, and the
warm-up has no early exit, so every run puts its window at the same
point of the JIT's warm-up curve. The counts keep every run inside the
benchmark's time budget (4 + 22 × workloads runs in 3420 s on 4 cores).

Each iteration also records the CPU time the hypervisor took from the
machine while it ran (``steal_s``, summed over CPUs, from /proc/stat).
On a shared host the slow runs are the ones with more of it: a busy
neighbour can take a fifth of every CPU for a whole run. An iteration's
time on CPU is its wall time less that stolen time per CPU, i.e. its
wall time scaled by the share of the machine it was given; it scales
with the program's own time, so a change of the program moves it as it
moves the wall time. Without /proc/stat it is the wall time.

With ``--trace 1`` the warm-up is followed, instead of the window, by
pairs of one untraced and one traced iteration (layer wrappers,
Catalyst phase listener, status-store capture; installed for the traced
iteration only), then by the workload's stage split, which materializes
each prefix of the workload's DAG with a noop sink; a stage's self time
is its cumulative time minus its predecessor's. Tracing overhead is the
traced median minus the untraced median of those pairs.

Outputs are checked after every iteration, outside the timed interval.
The result, one JSON object, goes to ``--result``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

T0 = float(os.environ.get("PERFBENCH_T0", time.monotonic()))
STEAL0 = os.environ.get("PERFBENCH_STEAL0")
HERE = Path(__file__).resolve().parent

MIN_TRACE_PAIRS = 2


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def observed_noop(df) -> tuple[float, float]:
    """(wall seconds, row count) of a noop write of `df`; the count is
    observed during the write, so it costs no second pass."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    wall = timed(lambda: noop(df.observe(obs, F.count(F.lit(1)).alias("n"))))
    return wall, float(obs.get["n"])


class Workload:
    """One iteration is `run()`; `check()` lists output problems."""

    warmup = 0
    min_window = 3

    def __init__(self, spark, inputs: Path, work: Path) -> None:
        self.spark, self.inputs, self.work = spark, inputs, work

    def prepare(self) -> None:
        """Per-iteration reset, outside the timed interval."""

    def run(self) -> None:
        raise NotImplementedError

    def check(self) -> list[str]:
        raise NotImplementedError

    def wrap_layers(self, spans) -> None:
        """Time the workload's query-construction calls into spans' `build`."""

    def stage_split(self, traced: dict) -> dict:
        """Per-stage metrics; `traced` holds the traced iterations' medians."""
        raise NotImplementedError


class InvindexCli(Workload):
    """The reference CLI: ``python -m apd_map_reduce_spark 2 2 manifest``."""

    warmup = 4
    min_window = 4

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.manifest = self.inputs / "corpus" / "manifest.txt"
        self.out = self.work / "letters"

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self) -> None:
        from apd_map_reduce_spark.__main__ import main

        with contextlib.redirect_stdout(io.StringIO()):
            rc = main(["2", "2", str(self.manifest), "--out", str(self.out)])
        if rc != 0:
            raise RuntimeError(f"CLI exited {rc}")

    def check(self) -> list[str]:
        from oracle import check_letter_files

        return check_letter_files(self.out, self.inputs / "expected")

    def wrap_layers(self, spans) -> None:
        from apd_map_reduce_spark.operators import invindex
        from apd_map_reduce_spark.sources import manifest

        spans.wrap(manifest, "parse_manifest", "build")
        spans.wrap(manifest, "read_corpus", "build")
        spans.wrap(invindex, "inverted_index", "build")
        spans.wrap(invindex, "write_letter_files", "sink")

    def stage_split(self, traced: dict) -> dict:
        from apd_map_reduce_spark.operators.invindex import inverted_index, words
        from apd_map_reduce_spark.sources.manifest import (
            MANIFEST_SCHEMA, parse_manifest, read_corpus,
        )

        spark = self.spark

        def corpus():
            rows = parse_manifest(str(self.manifest))
            return read_corpus(
                spark, spark.createDataFrame(rows, MANIFEST_SCHEMA),
                paths=[p for _, p in rows],
            )

        cum, rows = {}, {}
        for name, build in (("sources", corpus), ("words", lambda: words(corpus())),
                            ("index", lambda: inverted_index(corpus()))):
            samples = [observed_noop(build()) for _ in range(3)]
            cum[name] = statistics.median(s[0] for s in samples)
            rows[name] = samples[0][1]
        # The sink, from the traced CLI iterations: its Spark write
        # execution, and the rest of write_letter_files (the concat).
        final = sum(p.stat().st_size for p in self.out.glob("*.txt"))
        spark_bytes = traced["exec.output_bytes"]
        return {
            "sources.manifest_scan_s": cum["sources"],
            "operators.invindex.words_s": cum["words"] - cum["sources"],
            "operators.invindex.index_s": cum["index"] - cum["words"],
            "sinks.spark_write_s": traced["write_exec_s"] - cum["index"],
            "sinks.concat_s": traced["sink_call_s"] - traced["write_exec_s"],
            "operators.invindex.tokens": rows["words"],
            "operators.invindex.words_distinct": rows["index"],
            "sinks.bytes_out": float(final),
            "sinks.write_amp": (spark_bytes + final) / final if final else 0.0,
        }


class CleanSnapshot(Workload):
    """``operators.pipeline.materialize_clean_snapshot`` over `documents`."""

    min_window = 3

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.out = self.work / "snapshot"
        self.expected = json.loads((self.inputs / "expected.json").read_text())
        self.returned = -1

    def docs(self):
        from apd_map_reduce_spark.sources.tables import load_table

        return load_table(self.spark, str(self.inputs / "tables"), "documents")

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        self.returned = -1

    def run(self) -> None:
        from apd_map_reduce_spark.operators.pipeline import materialize_clean_snapshot

        self.returned = materialize_clean_snapshot(self.docs(), str(self.out))

    def check(self) -> list[str]:
        from oracle import check_snapshot

        return check_snapshot(self.out, self.expected, self.returned)

    def wrap_layers(self, spans) -> None:
        from apd_map_reduce_spark.operators import pipeline
        from apd_map_reduce_spark.sources import tables

        spans.wrap(tables, "load_table", "build")
        spans.wrap(pipeline, "clean_corpus", "build")

    def stage_split(self, traced: dict) -> dict:
        """Prefixes of minhash_lsh_pairs' DAG, built from the public
        dedup functions, and the quality branch. The snapshot write's
        self time comes from the traced iterations: the parquet write
        execution minus the `count()` execution of the same DataFrame."""
        from apd_map_reduce_spark.operators import dedup
        from apd_map_reduce_spark.operators.pipeline import NEAR_DUP_THRESHOLD
        from apd_map_reduce_spark.operators.textstats import quality_score
        from apd_map_reduce_spark.session import release_caches

        docs = self.docs

        def guarded():
            return dedup.stop_shingle_filter(dedup.doc_shingle_hashes(docs()))

        def signature():
            return dedup.minhash_signatures(docs(), sh=guarded())

        prefixes = {
            "exact": lambda: dedup.dedup_exact(docs()),
            "shingle": lambda: dedup.doc_shingle_hashes(docs()),
            "guard": guarded,
            "signature": signature,
            "band": lambda: dedup.band_relation(signature()),
            "candidate": lambda: dedup.lsh_candidate_pairs(docs(), shf=guarded()),
            "verify": lambda: dedup.minhash_lsh_pairs(docs(), threshold=NEAR_DUP_THRESHOLD),
            "quality": lambda: quality_score(docs()),
        }
        cum, rows = {}, {}
        for name, build in prefixes.items():
            cum[name], rows[name] = observed_noop(build())
            release_caches(self.spark)
        return {
            "operators.dedup.exact_s": cum["exact"],
            "operators.dedup.shingle_s": cum["shingle"],
            "operators.dedup.guard_s": cum["guard"] - cum["shingle"],
            "operators.dedup.signature_s": cum["signature"] - cum["guard"],
            "operators.dedup.band_s": cum["band"] - cum["signature"],
            "operators.dedup.candidate_s": cum["candidate"] - cum["band"],
            "operators.dedup.verify_s": cum["verify"] - cum["candidate"],
            "operators.textstats.quality_s": cum["quality"],
            "operators.pipeline.snapshot_write_s": (
                traced["write_exec_s"] - traced["count_exec_s"]
            ),
            "operators.dedup.shingle_rows": rows["shingle"],
            "operators.dedup.guarded_rows": rows["guard"],
            "operators.dedup.band_rows": rows["band"],
            "operators.dedup.candidate_pairs": rows["candidate"],
            "operators.dedup.verified_pairs": rows["verify"],
            "operators.dedup.verify_yield": (
                rows["verify"] / rows["candidate"] if rows["candidate"] else 0.0
            ),
        }


WORKLOADS = {"invindex_cli": InvindexCli, "clean_snapshot": CleanSnapshot}


def env_stamp(spark) -> dict:
    import platform

    return {
        "master": spark.sparkContext.master,
        "cores": spark.sparkContext.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "dials": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
    }


def steal_ticks() -> int | None:
    """Host-stolen CPU time so far, summed over CPUs, in clock ticks."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def stolen_since(ticks0: int | None) -> float | None:
    """Seconds of CPU time stolen since `ticks0`, summed over CPUs."""
    ticks = steal_ticks()
    if ticks is None or ticks0 is None:
        return None
    return (ticks - ticks0) / os.sysconf("SC_CLK_TCK")


def on_cpu_s(wall_s: float, steal_s: float | None) -> float:
    """Wall time less the CPU time the hypervisor took from each CPU, on
    average, during it (`steal_s` summed over CPUs; None: not measured)."""
    return wall_s - (steal_s or 0.0) / os.cpu_count()


class Runner:
    """Runs iterations of one workload and records each of them."""

    def __init__(self, workload: Workload, spark) -> None:
        self.w, self.spark = workload, spark
        self.iterations: list[dict] = []

    def iterate(self, phase: str, tracer=None) -> float:
        from apd_map_reduce_spark.session import release_caches

        self.w.prepare()
        if tracer is not None:
            tracer.before()
        start = time.time()
        steal0 = steal_ticks()
        t0 = time.perf_counter()
        error = None
        try:
            self.w.run()
        except Exception as exc:  # noqa: BLE001 - a failed iteration is counted
            error = "".join(traceback.format_exception_only(exc)).strip()[-500:]
        wall = time.perf_counter() - t0
        steal = stolen_since(steal0)
        end = time.time()
        problems = [] if error else self.w.check()
        rec = {"phase": phase, "wall_s": wall, "error": error, "problems": problems[:5]}
        if steal is not None:
            rec["steal_s"] = steal
        if tracer is not None:
            rec["plan_digests"] = tracer.after(start, end)
        release_caches(self.spark)
        self.iterations.append(rec)
        return wall

    def loop(self, phase: str, seconds: float, min_iters: int) -> list[float]:
        walls: list[float] = []
        t_end = time.perf_counter() + seconds
        while len(walls) < min_iters or time.perf_counter() < t_end:
            walls.append(self.iterate(phase))
        return walls


class Tracer:
    """Per-iteration layer metrics: spans, Catalyst phases, status store.
    The hooks are installed for one traced iteration at a time."""

    def __init__(self, spark, workload: Workload) -> None:
        from layers import PhaseListener, Spans, StatusCapture

        self.workload = workload
        self.capture = StatusCapture(spark)
        self.listener = PhaseListener(spark)
        self.spans = Spans()
        self.samples: list[dict] = []

    def before(self) -> None:
        self.workload.wrap_layers(self.spans)
        self.listener.active = True
        self.mark = self.capture.mark()
        self.n_actions = len(self.listener.actions)

    def after(self, start: float, end: float) -> list[str]:
        from layers import PHASES

        try:
            stats = self.capture.collect(self.mark, start, end)  # drains the bus
        finally:
            self.listener.active = False
            self.spans.close()
        actions = self.listener.actions[self.n_actions:]
        rec = {f"exec.{k}": v for k, v in stats.items() if k != "plan_digests"}
        for p in PHASES:
            rec[f"catalyst.{p}_s"] = sum(a.get(p, 0.0) for a in actions)
        rec["queries.build_s"] = self.spans.totals.pop("build", 0.0)
        rec["sink_call_s"] = self.spans.totals.pop("sink", 0.0)
        rec["write_exec_s"] = sum(a["duration_s"] for a in actions if a["func"] != "count")
        rec["count_exec_s"] = sum(a["duration_s"] for a in actions if a["func"] == "count")
        self.samples.append(rec)
        return stats["plan_digests"]

    def medians(self) -> dict:
        return {k: statistics.median(s[k] for s in self.samples) for k in self.samples[0]}


def trace_layers(spark, w: Workload, r: Runner, seconds: float) -> dict:
    from layers import jvm_peak_rss_mb

    tracer = Tracer(spark, w)
    untraced, traced = [], []
    t_end = time.perf_counter() + seconds
    while len(traced) < MIN_TRACE_PAIRS or time.perf_counter() < t_end:
        untraced.append(r.iterate("untraced"))
        traced.append(r.iterate("traced", tracer))
    medians = tracer.medians()
    layers = {k: v for k, v in medians.items() if "." in k}
    layers["operators.pipeline.lsh_executions"] = layers.pop("exec.band_joins")
    layers.update(w.stage_split(medians))
    layers["mem.jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    layers["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    return layers


def run_workload(spark, args) -> dict:
    args.work.mkdir(parents=True, exist_ok=True)
    w = WORKLOADS[args.workload](spark, args.inputs, args.work)
    r = Runner(w, spark)
    out = {"cold_s": r.iterate("cold"), "warmup_iters": len(r.loop("warmup", 0, w.warmup))}
    if args.trace:
        out["layers"] = trace_layers(spark, w, r, args.seconds)
    else:
        r.loop("window", args.seconds, w.min_window)
        window = [it for it in r.iterations if it["phase"] == "window"]
        out["warm_s"] = statistics.median(
            on_cpu_s(it["wall_s"], it.get("steal_s")) for it in window
        )
        out["warm_wall_s"] = statistics.median(it["wall_s"] for it in window)
    out["iterations"] = r.iterations
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", type=Path, required=True)
    ap.add_argument("--work", type=Path, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--result", type=Path, required=True)
    args = ap.parse_args()

    t = time.monotonic()
    import apd_map_reduce_spark.registry  # noqa: F401 - the library surface
    from apd_map_reduce_spark.session import get_spark

    import_s = time.monotonic() - t
    t = time.monotonic()
    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    setup_wall = time.monotonic() - T0
    setup_steal = stolen_since(int(STEAL0) if STEAL0 else None)
    result = {
        "setup_s": on_cpu_s(setup_wall, setup_steal),
        "setup_wall_s": setup_wall,
        "setup_steal_s": setup_steal,
        "import_s": import_s,
        "get_spark_s": time.monotonic() - t,
    }
    sys.path.insert(0, str(HERE))
    jvm = spark.sparkContext._gateway.proc
    try:
        result.update(run_workload(spark, args))
        result["env"] = env_stamp(spark)
    finally:
        spark.stop()
        jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        jvm.wait(timeout=60)
    args.result.write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
