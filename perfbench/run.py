"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N    # every workload

Run from the repository root. The run generates the workload's inputs
from the seed under ``.perfbench/`` (and reads and writes nothing
outside the root), computes the expected outputs, then starts one
fresh process on ``local[<cores>]`` that sets up a session, runs the
workload (``perfbench/child.py``) and checks its outputs. With ``--trace 0`` the last stdout line is a JSON object whose
metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` they are its per-layer metrics. Every run also writes a
full artifact (environment, input digests, plan digests, every
iteration) to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
from child import steal_ticks  # noqa: E402

WORKLOADS = ("invindex_cli", "clean_snapshot")
# Input sizes; a change here is a change of the benchmark.
TEXT_FILES, TEXT_TOKENS, TEXT_VOCAB = 355, 680_000, 35_000
CLEAN_DOCS = 1_000
RUN_LIMIT_S = 170
DRIVER_MEM = "2g"
GEN_VERSION = 1


def spec() -> dict:
    return json.loads((HERE.parent / "BENCHMARK.json").read_text())


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --- inputs -------------------------------------------------------------------

def make_inputs(workload: str, seed: int, root: Path) -> dict:
    """Generate the workload's inputs and expected outputs for `seed`
    into `root`, or reuse what an earlier run of this seed made there."""
    meta_path = root / "meta.json"
    key = {"workload": workload, "seed": seed, "version": GEN_VERSION}
    if meta_path.is_file():
        meta = json.loads(meta_path.read_text())
        if meta["key"] == key:
            return meta
    shutil.rmtree(root, ignore_errors=True)
    if workload == "invindex_cli":
        info = gen.text_corpus(seed, root / "corpus", TEXT_FILES, TEXT_TOKENS, TEXT_VOCAB)
        oracle.write_letter_files(
            oracle.letter_files(root / "corpus" / "manifest.txt"), root / "expected"
        )
        size = f"{TEXT_FILES} text files, {info['bytes'] / 1e6:.2f} MB"
    else:
        info = gen.documents(seed, root / "tables", CLEAN_DOCS)
        expected = oracle.clean_doc_ids(root / "tables" / "documents.parquet")
        (root / "expected.json").write_text(json.dumps(expected))
        size = f"{CLEAN_DOCS} documents, {info['bytes'] / 1e6:.2f} MB parquet"
    meta = {"key": key, "input_bytes": info["bytes"], "digest": info["digest"], "size": size}
    meta_path.write_text(json.dumps(meta))
    return meta


# --- processes ------------------------------------------------------------------

def child_env(work: Path) -> dict:
    tmp = work / "tmp"
    (tmp / "spark").mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cores()),
        # Under the 8g default the driver JVM of clean_snapshot grows past
        # 6 GB resident; 2g keeps a run small and changes no output.
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # The wide AQE start (256 initial shuffle partitions) is sized for
        # multi-GB exchanges; on these MB-scale inputs it doubles the cost
        # of a clean_snapshot iteration, which would leave that workload
        # too few warm iterations per run for a steady median.
        SPARK_GRAFT_AQE_WIDE_START="0",
        PYTHONPATH=os.pathsep.join(filter(None, [os.getcwd(), env.get("PYTHONPATH")])),
        PYSPARK_PYTHON=sys.executable,
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(tmp / "spark"),
        # A heap fixed at its maximum from the start: no run depends on
        # when the collector chose to grow it.
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData'
            f' -Xms{DRIVER_MEM}" pyspark-shell'
        ),
    )
    return env


def run_child(args: list[str], work: Path, result: Path, deadline: float) -> dict:
    """Run child.py in its own process group; kill the group at `deadline`."""
    result.unlink(missing_ok=True)
    env = child_env(work)
    steal0 = steal_ticks()
    if steal0 is not None:
        env["PERFBENCH_STEAL0"] = str(steal0)
    env["PERFBENCH_T0"] = repr(time.monotonic())
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "child.py"), *args, "--result", str(result)],
        env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
        start_new_session=True,
    )
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise RuntimeError(f"child timed out: {' '.join(args)}") from None
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)  # the JVM, if it outlived the child
    if proc.returncode != 0 or not result.is_file():
        tail = err.decode(errors="replace")[-2000:]
        raise RuntimeError(f"child failed ({proc.returncode}): {tail}")
    return json.loads(result.read_text())


# --- metrics --------------------------------------------------------------------

def count_failures(iterations: list[dict]) -> int:
    """Iterations that raised or whose output was wrong."""
    return sum(1 for it in iterations if it["error"] or it["problems"])


def end_to_end(child: dict, input_bytes: int) -> dict:
    return {
        "setup_s": child["setup_s"],
        "warm_s": child["warm_s"],
        "input_mb_per_s": input_bytes / 1e6 / child["warm_s"],
    }


def per_layer(child: dict) -> dict:
    values = dict(child["layers"])
    values["registry.import_s"] = child["import_s"]
    values["session.get_spark_s"] = child["get_spark_s"]
    return values


def source_digest(root: Path) -> str:
    h = hashlib.sha256()
    for p in sorted((root / "apd_map_reduce_spark").rglob("*.py")):
        h.update(p.relative_to(root).as_posix().encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


def git_sha(root: Path) -> str | None:
    if not (root / ".git").exists():
        return None  # an exported tree: source_digest identifies it
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    root = Path.cwd()
    work = root / ".perfbench"
    inputs_dir = work / "inputs" / workload / f"seed{seed}"
    inputs = make_inputs(workload, seed, inputs_dir)
    child = run_child(
        ["--workload", workload, "--inputs", str(inputs_dir),
         "--work", str(work / "out" / workload), "--seconds", str(seconds),
         "--trace", str(trace)],
        work, work / "child.json", deadline,
    )
    attempted = len(child["iterations"])
    failed = count_failures(child["iterations"])
    spec_metrics = spec()["per_layer" if trace else "end_to_end"]
    values = per_layer(child) if trace else end_to_end(child, inputs["input_bytes"])
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec_metrics
    }
    artifact = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "input": inputs, "env": child["env"], "git_sha": git_sha(root),
        "source_digest": source_digest(root),
        "attempted": attempted, "failed": failed, "fail_ratio": failed / attempted,
        "iters": sum(1 for it in child["iterations"] if it["phase"] == "window"),
        "metrics": metrics,
        "child": child, "run_wall_s": time.monotonic() - t_start,
    }
    out = work / "results" / f"{workload}-seed{seed}-trace{trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(artifact, indent=1))
    artifact["path"] = str(out.relative_to(root))
    return artifact


def summary(a: dict) -> str:
    parts = [f"{k}={v['value']:.4g} {v['unit']}" for k, v in a["metrics"].items()]
    child = a["child"]
    parts += [f"cold_s={child['cold_s']:.4g} s"]
    if "warm_wall_s" in child:
        parts += [f"warm_wall_s={child['warm_wall_s']:.4g} s"]
    parts += [f"iters={a['iters']} count", f"fail_ratio={a['fail_ratio']:.3g} ratio"]
    return f"{a['workload']} seed={a['seed']} trace={a['trace']}: " + ", ".join(parts)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=spec()["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (Path.cwd() / "apd_map_reduce_spark" / "__init__.py").is_file():
        print("run from the repository root: apd_map_reduce_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, os.getcwd())  # the program, for its oracle SQL
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = []
    for name in names:
        a = run_one(name, args.seed, args.seconds, args.trace)
        print(summary(a))
        print(f"artifact: {a['path']}")
        for it in a["child"]["iterations"]:
            if it["error"] or it["problems"]:
                print(f"failed {it['phase']} iteration: {it['error'] or it['problems']}")
        results.append(a)
    attempted = sum(a["attempted"] for a in results)
    failed = sum(a["failed"] for a in results)
    if len(results) == 1:
        metrics = results[0]["metrics"]
    else:
        metrics = {f"{a['workload']}.{k}": v for a in results for k, v in a["metrics"].items()}
    print(json.dumps(
        {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    ))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
