"""Metadata-first VersionedTable (sources/versioned.py): reads use the
data schema each manifest records instead of inferring it from file
footers, MERGE picks its probe candidates on the driver, and the Spark
job budget of a commit and of a pruned read stays pinned."""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import functions as F

from mapreduce_wordcounter_spark.sources.versioned import VersionedTable


def _clustered(spark, tmp_path, n=400, files=4, **kw):
    """Keys 0..n-1 (value = key * 1.0) in ``files`` range-clustered
    files with [min, max] stats on ``k``: file i holds keys
    [i*n/files, (i+1)*n/files)."""
    vt = VersionedTable(str(tmp_path / "t"), stats_col="k", **kw)
    vt.create(
        spark.range(n)
        .select(F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
        .repartitionByRange(files, "k")
        .sortWithinPartitions("k")
    )
    return vt


def _upsert(spark, vt, keys, bump=1000.0):
    src = spark.createDataFrame(
        [(k, bump + k) for k in keys], "s_k bigint, nv double"
    )
    return vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
    )


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, jobs run)."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred_schema(spark, vt, version=None):
    """What ``mergeSchema`` footer inference gives over a snapshot."""
    files = [os.path.join(vt.path, f) for f in vt.snapshot(version)["files"]]
    return spark.read.option("mergeSchema", "true").parquet(*files).schema


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# -- job budget ------------------------------------------------------------


def test_job_budget_merge_and_pruned_read(spark, tmp_path):
    """A 1% clustered upsert into a 4-file stats_col table runs at most
    10 Spark jobs; a pruned read collected to pandas runs exactly one;
    building a read runs none. Guards against metadata-only jobs
    (schema inference, candidate joins) creeping back in."""
    vt = _clustered(spark, tmp_path, n=4000)
    keys = list(range(1000, 1040, 2)) + list(range(9000, 9020))  # 20 + 20
    _, merge_jobs = _jobs(spark, lambda: _upsert(spark, vt, keys))
    assert merge_jobs <= 10, merge_jobs
    pdf, read_jobs = _jobs(
        spark,
        lambda: vt.read_pruned(spark, 1000, 1020)
        .filter(F.col("k").between(1000, 1020))
        .toPandas(),
    )
    assert read_jobs == 1, read_jobs
    assert len(pdf) == 21
    assert pdf.set_index("k")["v"][1000] == 2000.0
    _, build_jobs = _jobs(spark, lambda: vt.read(spark))
    assert build_jobs == 0, build_jobs


# -- recorded data schema --------------------------------------------------


def test_recorded_schema_append_evolution(spark, tmp_path):
    """An append adding a column: the latest read shows NULL for old
    rows with the column order footer inference gives, and time
    travel to the version before it has no such column."""
    vt = _clustered(spark, tmp_path, n=40, files=2)
    vt.append(
        spark.createDataFrame([(100, 1.5, "gold")], "k bigint, v double, tag string")
    )
    latest = vt.read(spark)
    assert latest.columns == ["k", "v", "tag"]
    assert latest.schema == _inferred_schema(spark, vt)
    tags = {r["k"]: r["tag"] for r in latest.collect()}
    assert tags[100] == "gold" and tags[5] is None and len(tags) == 41
    old = vt.read(spark, 0)
    assert old.columns == ["k", "v"]
    assert old.schema == _inferred_schema(spark, vt, 0)
    # a pruned read of pre-evolution files only still has the column
    pruned = vt.read_pruned(spark, 0, 5)
    assert pruned.columns == ["k", "v", "tag"]
    assert {r["tag"] for r in pruned.collect()} == {None}
    assert json.loads(vt.snapshot()["data_schema"])["type"] == "struct"


def test_recorded_schema_merge_evolve(spark, tmp_path):
    """merge_full(evolve=True) records the evolved schema the same way."""
    vt = _clustered(spark, tmp_path, n=40, files=2)
    src = spark.createDataFrame(
        [(1, "gold"), (100, "new")], "s_k bigint, tier string"
    )
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[{"action": "update", "set": {"tier": F.col("tier")}}],
        not_matched=[{"insert": {
            "k": F.col("s_k"), "v": F.lit(0.5), "tier": F.col("tier")}}],
        evolve=True,
    )
    latest = vt.read(spark)
    assert latest.columns == ["k", "v", "tier"]
    assert latest.schema == _inferred_schema(spark, vt)
    got = {r["k"]: (r["v"], r["tier"]) for r in latest.collect()}
    assert got[1] == (1.0, "gold") and got[100] == (0.5, "new")
    assert got[30] == (30.0, None) and len(got) == 41
    assert vt.read(spark, 0).columns == ["k", "v"]


def test_legacy_manifests_without_recorded_schema(spark, tmp_path):
    """A table whose manifests and checkpoints carry no recorded schema
    (written before it existed) reads the same rows and schema through
    footer inference."""
    vt = _clustered(spark, tmp_path, n=40, files=2, checkpoint_interval=2)
    vt.append(
        spark.createDataFrame([(100, 1.5, "gold")], "k bigint, v double, tag string")
    )  # v1
    _upsert(spark, vt, [3, 200])  # v2: checkpoint
    _upsert(spark, vt, [4])  # v3: delta on top of the checkpoint
    want = {v: (vt.read(spark, v).schema, _rows(vt.read(spark, v))) for v in range(4)}
    stripped = 0
    for name in os.listdir(vt.snap_dir):
        if not name.endswith(".json"):
            continue
        p = os.path.join(vt.snap_dir, name)
        with open(p) as fh:
            m = json.load(fh)
        if m.pop("data_schema", None) is not None:
            stripped += 1
        with open(p, "w") as fh:
            json.dump(m, fh)
    assert stripped >= 5  # 4 manifests + the v2 checkpoint root
    legacy = VersionedTable(vt.path, stats_col="k", checkpoint_interval=2)
    for v, (schema, rows) in want.items():
        assert legacy.snapshot(v)["data_schema"] is None
        df = legacy.read(spark, v)
        assert df.schema == schema, v
        assert _rows(df) == rows, v
    pruned = legacy.read_pruned(spark, 0, 10).filter(F.col("k") <= 10)
    assert _rows(pruned) == [r for r in want[3][1] if r[0] <= 10]


def test_rollback_before_evolution_reads_old_schema(spark, tmp_path):
    """Rolling back past an additive evolution restores the target's
    data schema, not the union with the later commits."""
    vt = _clustered(spark, tmp_path, n=40, files=2)
    before = _rows(vt.read(spark, 0))
    vt.append(
        spark.createDataFrame([(100, 1.5, "gold")], "k bigint, v double, tag string")
    )
    v = vt.rollback(0)
    df = vt.read(spark, v)
    assert df.columns == ["k", "v"]
    assert df.schema == _inferred_schema(spark, vt, v)
    assert _rows(df) == before
    assert vt.snapshot(v)["data_schema"] == vt.snapshot(0)["data_schema"]


def test_clone_carries_recorded_schema(spark, tmp_path):
    """A shallow clone's v0 records the source snapshot's data schema."""
    vt = _clustered(spark, tmp_path, n=40, files=2)
    vt.append(
        spark.createDataFrame([(100, 1.5, "gold")], "k bigint, v double, tag string")
    )
    dst = vt.clone_to(str(tmp_path / "clone"))
    assert dst.snapshot()["data_schema"] == vt.snapshot()["data_schema"]
    assert _rows(dst.read(spark)) == _rows(vt.read(spark))


# -- MERGE candidate selection ---------------------------------------------


def test_merge_far_apart_clusters_rewrites_only_matched_files(spark, tmp_path):
    """Source keys in two far-apart clusters: the driver-side candidate
    range spans all four files, but the exact probe rewrites only the
    two holding matches — the two in between carry by reference."""
    vt = _clustered(spark, tmp_path)
    v0 = vt.snapshot(0)
    by_lo = sorted(v0["files"], key=lambda f: v0["stats"][f][0])
    assert [v0["stats"][f] for f in by_lo] == [
        [0, 99], [100, 199], [200, 299], [300, 399]
    ]
    _upsert(spark, vt, [5, 7, 350, 355])
    v1 = set(vt.snapshot(1)["files"])
    assert set(by_lo) - v1 == {by_lo[0], by_lo[3]}  # rewritten
    assert set(by_lo) & v1 == {by_lo[1], by_lo[2]}  # carried
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert len(got) == 400
    for k in (5, 7, 350, 355):
        assert got[k] == 1000.0 + k
    assert got[6] == 6.0 and got[354] == 354.0


def test_merge_on_non_stats_key_probes_every_file(spark, tmp_path):
    """Stats prune only a merge keyed on the stats column: merging on
    another column must still find its match wherever it lives (no
    phantom insert of an existing key)."""
    vt = VersionedTable(str(tmp_path / "t"), stats_col="g")
    vt.create(
        spark.range(100)
        .select(
            F.col("id").alias("k"),
            (F.lit(99) - F.col("id")).alias("g"),
            (F.col("id") * 1.0).alias("v"),
        )
        .repartitionByRange(4, "k")
    )
    src = spark.createDataFrame([(5, 500.0)], "s_k bigint, nv double")
    vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "g": F.lit(0), "v": F.col("nv")},
    )
    rows = vt.read(spark).filter(F.col("k") == 5).collect()
    assert [(r["g"], r["v"]) for r in rows] == [(94, 500.0)]
    assert vt.read(spark).count() == 100


def test_merge_keys_not_comparable_with_stats_probe_every_file(spark, tmp_path):
    """String source keys against bigint stats: the driver cannot
    compare them, so every file is probed; Spark's join still matches
    and only the two files holding the keys rewrite."""
    vt = _clustered(spark, tmp_path)
    v0 = set(vt.snapshot(0)["files"])
    src = spark.createDataFrame([("5", 9.0), ("350", 9.0)], "s_k string, nv double")
    vt.merge_full(
        spark, src, key="k", source_key="s_k",
        matched=[{"action": "update", "set": {"v": F.col("nv")}}],
    )
    assert len(v0 - set(vt.snapshot(1)["files"])) == 2
    got = {r["k"]: r["v"] for r in vt.read(spark).collect()}
    assert got[5] == got[350] == 9.0 and got[6] == 6.0 and len(got) == 400


def test_merge_with_null_only_source_keys_rewrites_nothing(spark, tmp_path):
    """No non-NULL source key: no file is probed or rewritten; the NULL
    key row is inserted."""
    vt = _clustered(spark, tmp_path)
    v0 = set(vt.snapshot(0)["files"])
    src = spark.createDataFrame([(None, 1.0)], "s_k bigint, nv double")
    vt.merge_into(
        spark, src, key="k", source_key="s_k",
        update_set={"v": F.col("nv")},
        insert_exprs={"k": F.col("s_k"), "v": F.col("nv")},
    )
    assert v0 <= set(vt.snapshot(1)["files"])
    assert vt.read(spark).filter(F.col("k").isNotNull()).count() == 400
