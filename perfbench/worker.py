"""One benchmark run in a fresh process: set up, measure, check.

Started by ``run.py`` with a JSON spec; writes its result JSON to the
spec's ``out`` path. Everything here talks to the engine only through
its public functions: ``session.get_spark``, ``registry.all_queries``
and the registered ``(spark, sf_dir) -> DataFrame`` callables,
``cli.count_words`` and ``VersionedTable``.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

from spans import Tracer, plan_counters, tasks_in_group

CURATE_QUERIES = ["dedup_exact", "lsh_verified_pairs", "quality_score_gopher", "tf_idf", "pipeline_curate"]
READS_PER_COMMIT = 3
CHECKPOINT_INTERVAL = 2
# Untimed jobs run before measuring: the first one on a workload's inputs
# compiles its plans, and the JIT keeps speeding the next ones up; timing
# that transition makes the per-run median swing. wc settles for 8 s of
# job time (several jobs). A curate_docs job takes ~15 s cold, ~7 s the
# second and third time and ~6 s from the fourth: the JVM's C2 compiler
# threads keep ~1.5 cores busy for the first ~45 s of a run. It settles
# with three jobs and measures two. A lakehouse_upsert commit replays the
# deltas written since the last checkpoint (one every CHECKPOINT_INTERVAL
# commits), so commit time rises and falls with that period; its job is
# one whole period, so every job times the same mix of commits. Its first
# two periods are slower than later ones: it settles with two and
# measures three.
WC_SETTLE_S = 8.0
CURATE_SETTLE_JOBS = 3
CURATE_MEASURE_JOBS = 2
LAKEHOUSE_SETTLE_PERIODS = 2
LAKEHOUSE_MEASURE_PERIODS = 3


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile that still has at
    least ten samples beyond it; (0, max) when there are too few."""
    n = len(values)
    if n < 11:
        return 0.0, max(values)
    pct = 100.0 * (n - 10) / n
    return pct, float(np.percentile(values, pct))


def process_tree() -> list[int]:
    """This process and every descendant (the JVM), from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def peak_rss_mb() -> float:
    """Sum of VmHWM (peak resident set) over the process tree."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024.0


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds used so far by ``pids``. Time a
    hypervisor takes away from the guest (steal) is not in it."""
    ticks = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            ticks += int(f[11]) + int(f[12])
        except OSError:
            pass
    return ticks / os.sysconf("SC_CLK_TCK")


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Column-order and row-order independent form; array cells become
    tuples (the comparison tests/test_oracle_parity.py makes)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].map(lambda v: isinstance(v, (list, tuple, np.ndarray))).any():
            df[c] = df[c].map(lambda v: tuple(v.tolist() if hasattr(v, "tolist") else v) if v is not None else None)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Same rows as a multiset; NULL equals NULL."""
    a, b = canon(a), canon(b)
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    return all(
        x == y or (x != x and y != y)
        for c in a.columns
        for x, y in zip(a[c].tolist(), b[c].tolist())
    )


class Run:
    """State of one run: set-up time, job timings, checked operations,
    spans and per-layer values."""

    def __init__(self, spec: dict):
        self.spec = spec
        self.tracer = Tracer(f"{spec['workload']}-{spec['seed']}")
        self.setup_s = 0.0
        self.jobs: list[tuple[float, float, bool]] = []  # (wall s, CPU s, traced)
        self.pids: list[int] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layer: dict[str, float] = {}

    def op(self, ok: bool, what: str) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)

    def settle(self, job, seconds: float, least: int = 1) -> None:
        """Run untimed, unchecked jobs, at least ``least`` of them and
        until ``seconds`` of job time."""
        used, n = 0.0, 0
        while n < least or used < seconds:
            used += job(-1, False)[0]
            n += 1

    def measure(self, job, least: int = 1) -> None:
        """Closed loop, one client: run jobs back to back while the next
        one, expected to take as long as the last, still ends within the
        run length, and at least ``least`` jobs. In a traced run every
        other job is traced, so the untraced ones give the overhead; it
        runs at least two jobs."""
        budget, used, last, i = self.spec["seconds"], 0.0, 0.0, 0
        least = max(least, 2 if self.spec["trace"] else 1)
        self.pids = process_tree()
        while i < least or used + last <= budget:
            traced = bool(self.spec["trace"]) and i % 2 == 0
            self.tracer.enabled = traced
            last, cpu = job(i, traced)
            self.tracer.enabled = False
            used += last
            self.jobs.append((last, cpu, traced))
            i += 1

    def stopwatch(self):
        """Start timing a job; the returned function gives the wall
        seconds and the engine's CPU seconds since."""
        t0, c0 = time.perf_counter(), cpu_s(self.pids)
        return lambda: (time.perf_counter() - t0, cpu_s(self.pids) - c0)


def timed(run: Run, name: str, layer: str, fn):
    """``fn()`` inside a span; returns (result, seconds)."""
    with run.tracer.span(name, layer):
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t


def release(spark) -> None:
    """Drop cached relations between jobs: the engine's pins and
    Spark's cache."""
    from mapreduce_wordcounter_spark.session import release_pinned

    release_pinned()
    spark.catalog.clearCache()


def traced_group(spark, i: int) -> str:
    group = f"job{i}"
    spark.sparkContext.setJobGroup(group, "traced job")
    return group


# ----------------------------------------------------------------------- wc


def wc(run: Run, spark, inputs: dict) -> None:
    """Word count over text files through ``cli.count_words``; the
    result must equal the generator's per-word counts."""
    from mapreduce_wordcounter_spark.cli import count_words

    want: dict = {}

    def job(i: int, traced: bool) -> float:
        group = traced_group(spark, i) if traced and not run.layer else None
        watch = run.stopwatch()
        try:
            with run.tracer.span("job", "job"):
                df, _ = timed(run, "build_s.count_words", "build", lambda: count_words(spark, inputs["files"]))
                pdf, _ = timed(run, "exec_s.count_words", "exec", df.toPandas)
                if group:
                    run.layer.update(plan_counters(df), **{"plan.tasks": tasks_in_group(spark.sparkContext, group)})
        except Exception as exc:  # a job that raises is a failed operation
            run.op(False, f"job {i}: {exc!r}"[:300])
            return watch()
        took = watch()
        release(spark)
        if i < 0:
            return took
        if not want:
            expected = pd.read_parquet(inputs["expected"])
            want.update(zip(expected["word"].tolist(), expected["cnt"].tolist()))
        got = dict(zip(pdf["word"].tolist(), pdf["cnt"].tolist()))
        run.op(got == want, f"job {i}: (word, cnt) differs from the generated counts")
        return took

    run.settle(job, WC_SETTLE_S)
    run.measure(job)
    if run.layer:
        run.layer["agg.combine_ratio"] = run.layer["agg.partial_rows_out"] / max(1, run.layer["generate.rows_out"])


# ------------------------------------------------------------------ curate


def curate(run: Run, spark, inputs: dict) -> None:
    """The curation chain of registry queries over a generated
    ``documents`` table; each result must equal its DuckDB oracle, and
    planted exact copies must land in one ``dedup_exact`` group."""
    from mapreduce_wordcounter_spark import session
    from mapreduce_wordcounter_spark.registry import all_oracles, all_queries

    queries = all_queries()
    sf_dir = inputs["sf_dir"]
    want: dict = {}
    counted: dict = {}

    def oracles() -> dict:
        if not want:
            import duckdb

            con = duckdb.connect()
            path = os.path.join(sf_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            sql = all_oracles()
            want.update({q: con.execute(sql[q]).fetchdf() for q in CURATE_QUERIES})
            con.close()
            with open(inputs["planted"]) as fh:
                want["planted"] = json.load(fh)
            docs = pd.read_parquet(path, columns=["doc_id", "text"])
            want["text"] = dict(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        return want

    def job(i: int, traced: bool) -> float:
        group = traced_group(spark, i) if traced and not counted else None
        got: dict = {}
        watch = run.stopwatch()
        try:
            with run.tracer.span("job", "job"):
                for q in CURATE_QUERIES:
                    df, _ = timed(run, f"build_s.{q}", "build", lambda: queries[q](spark, sf_dir))
                    got[q], _ = timed(run, f"exec_s.{q}", "exec", df.toPandas)
                    if group:
                        for k, v in plan_counters(df).items():
                            counted[k] = counted.get(k, 0) + v
                if group:
                    counted["cache.pinned"] = len(session._PINNED_DFS)
                    counted["plan.tasks"] = tasks_in_group(spark.sparkContext, group)
        except Exception as exc:
            run.op(False, f"job {i}: {exc!r}"[:300])
            got = None
        took = watch()
        release(spark)
        if got is None or i < 0:
            return took
        ref = oracles()
        for q in CURATE_QUERIES:
            run.op(frames_equal(got[q], ref[q]), f"job {i}: {q} differs from its DuckDB oracle")
        run.op(_exact_copies_grouped(got["dedup_exact"], ref), f"job {i}: planted exact copies not grouped")
        if group:
            pairs = got["lsh_verified_pairs"]
            cand = queries["lsh_candidate_pairs"](spark, sf_dir).count()
            session.release_pinned()
            found = set(zip(pairs["doc_a"].tolist(), pairs["doc_b"].tolist()))
            near = [tuple(sorted(p)) for p in ref["planted"]["near_pairs"]]
            counted["lsh.candidate_pairs"] = cand
            counted["lsh.verified_pairs"] = len(pairs)
            counted["lsh.precision"] = len(pairs) / max(1, cand)
            counted["lsh.planted_recall"] = sum(p in found for p in near) / max(1, len(near))
        return took

    run.settle(job, 0.0, least=CURATE_SETTLE_JOBS)
    run.measure(job, least=CURATE_MEASURE_JOBS)
    if counted.get("generate.rows_out"):
        counted["agg.combine_ratio"] = counted["agg.partial_rows_out"] / counted["generate.rows_out"]
    run.layer.update(counted)


def _exact_copies_grouped(groups: pd.DataFrame, ref: dict) -> bool:
    """Each planted exact pair (a, b) has identical text, and the group
    of that text's sha256 keeps a doc_id no greater than min(a, b)."""
    text = ref["text"]
    keep = dict(zip(groups["content_hash"].tolist(), groups["keep_doc_id"].tolist()))
    for a, b in ref["planted"]["exact_pairs"]:
        h = hashlib.sha256(text[a].encode()).hexdigest()
        if text[a] != text[b] or keep.get(h, min(a, b) + 1) > min(a, b):
            return False
    return True


# --------------------------------------------------------------- lakehouse


def lakehouse(run: Run, spark, inputs: dict) -> None:
    """Upserts into a keyed VersionedTable: each cycle commits one
    clustered batch with ``merge_into`` and then makes range reads with
    ``read_pruned``; a job is one checkpoint period of cycles. Every read
    and the final snapshot must equal the key -> value model."""
    from pyspark.sql import functions as F

    from mapreduce_wordcounter_spark.sources.versioned import VersionedTable

    path = os.path.join(run.spec["work"], "table")
    base = pd.read_parquet(inputs["base"])
    space = inputs["key_space"]
    model = np.zeros(space + 2, dtype=np.int64)
    present = np.zeros(space + 2, dtype=bool)
    model[base["k"].to_numpy()] = base["v"].to_numpy()
    present[base["k"].to_numpy()] = True
    vt = VersionedTable(path, stats_col="k", checkpoint_interval=CHECKPOINT_INTERVAL)
    files = max(4, len(base) // 25000)
    vt.create(spark.createDataFrame(base).repartitionByRange(files, "k").sortWithinPartitions("k"))
    batches = {b: g[["k", "v"]] for b, g in pd.read_parquet(inputs["batches"]).groupby("batch")}

    rng = np.random.default_rng(run.spec["seed"] + 1)
    width = max(2, space // 200)
    commits: list[float] = []
    reads: list[float] = []
    versions = [vt.latest_version()]

    def cycle(i: int, traced: bool) -> tuple[float, float]:
        n = len(versions)
        batch = batches[(n - 1) % len(batches)]
        src = spark.createDataFrame(batch.rename(columns={"k": "s_k", "v": "nv"}))
        ranges = [(lo, lo + width) for lo in rng.integers(0, space - width, size=READS_PER_COMMIT).tolist()]
        group = traced_group(spark, i) if traced and not run.layer else None
        before = vt.snapshot() if group else None
        got = []
        watch = run.stopwatch()
        try:
            with run.tracer.span("job", "job"):
                v, t = timed(run, "versioned.merge_into_s", "versioned", lambda: vt.merge_into(
                    spark, src, key="k", source_key="s_k",
                    update_set={"v": F.col("nv")},
                    insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
                ))
                if i >= 0:
                    commits.append(t)
                for lo, hi in ranges:
                    def read(lo=lo, hi=hi):
                        df = vt.read_pruned(spark, lo, hi).filter(F.col("k").between(lo, hi))
                        return df, df.toPandas()
                    (df, pdf), t = timed(run, "versioned.read_pruned_s", "versioned", read)
                    if i >= 0:
                        reads.append(t)
                    got.append((lo, hi, df, pdf))
        except Exception as exc:
            run.op(False, f"cycle {n}: {exc!r}"[:300])
            return watch()
        took = watch()
        release(spark)
        versions.append(v)
        keys = batch["k"].to_numpy()
        model[keys] = batch["v"].to_numpy()
        present[keys] = True
        if i < 0:
            return took
        for lo, hi, _, pdf in got:
            ks = np.nonzero(present[lo:hi + 1])[0] + lo
            run.op(_rows_equal(pdf, ks, model[ks]), f"cycle {n}: read [{lo}, {hi}] differs from the model")
        if group:
            after, _ = timed(run, "versioned.snapshot_s", "versioned", vt.snapshot)
            old, new = set(before["files"]), set(after["files"])
            rows = before.get("rows") or {}
            scanned = [len(df.inputFiles()) for _, _, df, _ in got]
            run.layer.update({
                "plan.tasks": tasks_in_group(spark.sparkContext, group),
                "merge.files_rewritten": len(old - new),
                "merge.files_carried": len(old & new),
                "merge.rows_rewritten_per_matched":
                    sum(rows.get(f, 0) for f in old - new) / max(1, int((keys % 2 == 0).sum())),
                "read.files_scanned": sum(scanned) / len(scanned),
                "read.prune_ratio": 1.0 - sum(scanned) / (len(scanned) * max(1, len(new))),
            })
        return took

    def job(i: int, traced: bool) -> tuple[float, float]:
        """One checkpoint period: CHECKPOINT_INTERVAL cycles, starting
        right after a checkpoint (or the create at version 0)."""
        took = [cycle(i, traced) for _ in range(CHECKPOINT_INTERVAL)]
        return sum(t for t, _ in took), sum(c for _, c in took)

    run.settle(job, 0.0, least=LAKEHOUSE_SETTLE_PERIODS)
    run.measure(job, least=LAKEHOUSE_MEASURE_PERIODS)
    final = vt.read(spark).toPandas()
    ks = np.nonzero(present)[0]
    run.op(_rows_equal(final, ks, model[ks]), "final snapshot differs from the model")
    snap = vt.snapshot()
    live = sum(os.path.getsize(os.path.join(path, f)) for f in snap["files"])
    stored = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
    run.layer["storage_amp"] = stored / max(1, live)
    for name, xs in (("commit", commits), ("read", reads)):
        pct, val = tail(xs)
        run.layer.update({f"{name}_s_p50": statistics.median(xs), f"{name}_s_tail": val,
                          f"{name}_s_tail_pct": pct, f"{name}_n": len(xs)})
    ckpts = [int(f[1:6]) for f in os.listdir(vt.snap_dir) if f.endswith(".checkpoint.json")]
    run.layer["versioned.deltas_since_checkpoint"] = snap["version"] - max(ckpts, default=0)
    run.layer["versioned.retries"] = sum(1 for a, b in zip(versions, versions[1:]) if b != a + 1)


def _rows_equal(pdf: pd.DataFrame, keys: np.ndarray, vals: np.ndarray) -> bool:
    pdf = pdf.sort_values("k")
    return np.array_equal(pdf["k"].to_numpy(), keys) and np.array_equal(pdf["v"].to_numpy(), vals)


# -------------------------------------------------------------------- main


WORKLOADS = {
    "wc_wide_vocab": wc,
    "curate_docs": curate,
    "lakehouse_upsert": lakehouse,
}


def main(spec_path: str) -> int:
    with open(spec_path) as fh:
        spec = json.load(fh)
    run = Run(spec)
    sys.path.insert(0, spec["root"])
    run.tracer.enabled = bool(spec["trace"])
    with run.tracer.span("session.get_spark_s", "session"):
        from mapreduce_wordcounter_spark.session import get_spark

        spark = get_spark("perfbench")
    with run.tracer.span("registry.all_queries_s", "registry"):
        from mapreduce_wordcounter_spark.registry import all_queries

        all_queries()
    with run.tracer.span("warmup", "warmup"):
        spark.range(200_000).selectExpr("id % 1000 AS k").groupBy("k").count().toPandas()
    run.setup_s = time.monotonic() - spec["t_spawn"]
    run.tracer.enabled = False
    WORKLOADS[spec["workload"]](run, spark, spec["inputs"])

    untraced = [t for t, _, tr in run.jobs if not tr] or [t for t, _, _ in run.jobs]
    traced = [t for t, _, tr in run.jobs if tr]
    cpu = [c for _, c, tr in run.jobs if not tr] or [c for _, c, _ in run.jobs]
    result = {
        "attempted": run.attempted,
        "failed": run.failed,
        "errors": run.errors,
        "jobs": [round(t, 4) for t, _, _ in run.jobs],
        "job_cpu": [round(c, 2) for _, c, _ in run.jobs],
        "end_to_end": {
            "setup_s": run.setup_s,
            "job_cpu_s_p50": statistics.median(cpu),
            "job_s_p50": statistics.median(untraced),
            "peak_rss_mb": peak_rss_mb(),
        },
    }
    if spec["trace"]:
        layer = dict(run.layer)
        n_traced = max(1, len(traced))
        for name in {s["name"] for s in run.tracer.spans}:
            if name in ("session.get_spark_s", "registry.all_queries_s"):
                layer[name] = sum(run.tracer.durations(name))
            elif name.startswith(("build_s.", "exec_s.")):
                layer[name] = sum(run.tracer.durations(name)) / n_traced
            elif name.startswith("versioned."):
                layer[name] = statistics.median(run.tracer.durations(name))
        selfs = run.tracer.self_times()
        for lay in ("session", "registry", "warmup"):
            layer[f"self_s.{lay}"] = selfs.get(lay, 0.0)
        for lay in ("job", "build", "exec", "versioned"):
            layer[f"self_s.{lay}"] = selfs.get(lay, 0.0) / n_traced
        if traced and untraced:
            layer["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
            layer["trace.overhead_frac"] = layer["trace.overhead_s"] / statistics.median(untraced)
        layer["failed_frac"] = run.failed / max(1, run.attempted)
        result["per_layer"] = layer
        run.tracer.dump(spec["spans_out"])
    with open(spec["out"], "w") as fh:
        json.dump(result, fh)
    # No spark.stop(): run.py kills the JVM's process group and waits for
    # it, which costs less than an orderly shutdown.
    os._exit(0)


if __name__ == "__main__":
    main(sys.argv[1])
