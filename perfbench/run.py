"""Benchmark of record for the word-count engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Generates the workload's inputs from
the seed (cached under .perfbench/cache), starts a fresh worker process
on local[nproc] that sets up the engine, runs the workload's job in a
closed loop with one client for S measured seconds and checks every
output, then prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones (spans are written to .perfbench/traces). See
perfbench/README.md for the workloads, metrics and layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

# Generated input sizes per workload.
SIZES = {
    "wc_wide_vocab": {"vocab": 1_000_000, "tokens": 2_000_000, "files": 8},
    "curate_docs": {"n_docs": 250},
    "lakehouse_upsert": {"rows": 100_000, "batches": 200},
}
WORKER_TIMEOUT_S = 170
CACHE_ENTRIES = 8


def make_inputs(workload: str, seed: int, size: dict, cache: str) -> dict:
    if workload.startswith("wc_"):
        return gen.text_corpus(cache, seed, **size)
    if workload == "curate_docs":
        return gen.documents(cache, seed, **size)
    return gen.keyed_table(cache, seed, **size)


def prune_cache(cache: str, keep: str) -> None:
    """Keep the ``CACHE_ENTRIES`` most recently used input sets."""
    os.utime(keep)
    entries = sorted((os.path.join(cache, e) for e in os.listdir(cache)), key=os.path.getmtime)
    for old in entries[:-CACHE_ENTRIES]:
        shutil.rmtree(old, ignore_errors=True)


def wait_group_gone(pgid: int, limit_s: float = 20.0) -> None:
    """Kill what is left of the worker's process group (the JVM) and
    wait until no process of the group remains."""
    deadline = time.monotonic() + limit_s
    try:
        os.killpg(pgid, 9)
        while time.monotonic() < deadline:
            os.killpg(pgid, 0)
            time.sleep(0.05)
    except ProcessLookupError:
        pass


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "mapreduce_wordcounter_spark", "session.py")):
        print(f"error: no engine package under {ROOT}; run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)

    state = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(state, "cache")
    work = os.path.join(state, "runs", f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(state, "traces"), exist_ok=True)
    for sub in ("tmp", "spark-local", "index"):
        os.makedirs(os.path.join(work, sub))

    spec = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "root": ROOT,
        "work": work,
        "inputs": make_inputs(args.workload, args.seed, SIZES[args.workload], cache),
        "out": os.path.join(work, "result.json"),
        "spans_out": os.path.join(state, "traces", f"{args.workload}-seed{args.seed}.json"),
    }
    prune_cache(cache, spec["inputs"]["dir"])
    cpus = str(os.cpu_count() or 4)
    env = dict(
        os.environ,
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM="1g",
        # Initial heap = maximum heap: otherwise whether G1 grows the heap
        # during a run decides peak RSS, which then swings by ~40%.
        SPARK_SUBMIT_OPTS="-Xms1g",
        SPARK_GRAFT_INDEX_DIR=os.path.join(work, "index"),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
        PYTHONHASHSEED="0",
    )
    log_path = os.path.join(work, "worker.log")
    spec_path = os.path.join(work, "spec.json")
    try:
        with open(log_path, "w") as log:
            spec["t_spawn"] = time.monotonic()
            with open(spec_path, "w") as fh:
                json.dump(spec, fh)
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), spec_path],
                cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                code = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = "timeout"
            wait_group_gone(proc.pid)
            proc.wait()
        if code != 0 or not os.path.isfile(spec["out"]):
            with open(log_path, errors="replace") as fh:
                sys.stderr.write(fh.read()[-4000:])
            print(f"error: worker failed ({code})", file=sys.stderr)
            return 1
        with open(spec["out"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for err in res["errors"]:
        print(f"check failed: {err}", file=sys.stderr)
    if args.trace:
        metrics = {m["name"]: {"value": float(res["per_layer"].get(m["name"], 0.0)), "unit": m["unit"]} for m in declared["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res["end_to_end"][m["name"]]), "unit": m["unit"]} for m in declared["end_to_end"]}
    print(f"# {args.workload} seed={args.seed} job_s={res['jobs']} job_cpu_s={res['job_cpu']} failed_frac={res['failed'] / max(1, res['attempted']):.4f}")
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
