"""Merge-on-read: replay equality with the oracle, exactly-once,
compaction invariance, O(batch) write behavior."""

import os
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table

from tests.conftest import final_state_oracle, normalize


@pytest.fixture(scope="module")
def log(spark):
    return changelog(spark, 3000, n_convs=60, turns_per_conv=8, seed=21)


def _run(spark, log, root, batch_size=700, n_buckets=8):
    t = create_transcripts_table(spark, os.path.join(root, f"t_{batch_size}"), n_buckets=n_buckets)
    cp = CheckpointStore(os.path.join(root, f"cp_{batch_size}"))
    CdcPipeline(spark, t, cp, changelog=log).run(end_lsn=3000, batch_size=batch_size)
    return t


def test_mor_matches_oracle(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor"))
    got = normalize(_run(spark, log, root).read().toPandas())
    pd.testing.assert_frame_equal(got, normalize(final_state_oracle(log.toPandas())))


def test_mor_batch_slicing_invariance(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_slice"))
    a = normalize(_run(spark, log, root, batch_size=500).read().toPandas())
    b = normalize(_run(spark, log, root, batch_size=1700).read().toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_mor_exactly_once_replay(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_once"))
    t = _run(spark, log, root)
    cp = CheckpointStore(os.path.join(root, "cp2"))
    pipe = CdcPipeline(spark, t, cp, changelog=log)
    results = pipe.run(end_lsn=3000, batch_size=700, start_lsn=0)
    assert all(r.get("skipped") for r in results)


def test_mor_appends_not_rewrites(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_files"))
    t = _run(spark, log, root)
    # every batch's delta files survive in the manifest (append-only)
    snaps = t.meta["snapshots"]
    assert len(snaps) >= 4
    per_snapshot_files = [sum(len(v) for v in s["files"].values()) for s in snaps]
    assert per_snapshot_files == sorted(per_snapshot_files)  # monotone growth


def test_mor_compaction_preserves_state(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_compact"))
    t = _run(spark, log, root)
    before = normalize(t.read().toPandas())
    t.compact()
    after = normalize(t.refresh().read().toPandas())
    pd.testing.assert_frame_equal(before, after)
    # compaction folded every bucket to a single file set
    files = t.meta["snapshots"][-1]["files"]
    assert all(len(v) <= 2 for v in files.values())


@pytest.mark.parametrize("case", ["mor", "compacted", "pre_rescale", "mor_ranges"])
def test_bucket_subset_scans_partition_the_resolve(spark, log, tmp_path_factory, case):
    """The `scan(buckets=...)` contract: each bucket's pruned scan
    returns only that bucket's rows, the per-bucket scans partition the
    full resolve exactly, and one bucket's pruned scan equals the full
    resolve restricted to that bucket. Checked on a MOR table, the
    same table compacted (one-bucket files only), a pre-rescale MOR
    snapshot read after the layout changed (its bucket keys name
    buckets of its own 8-bucket function), and a 32-bucket MOR table,
    more buckets than writer tasks, whose delta files each hold a
    bucket range."""
    root = str(tmp_path_factory.mktemp(f"subset_{case}"))
    t = _run(spark, log, root, n_buckets=32 if case == "mor_ranges" else 8)
    as_of = None
    if case == "compacted":
        t.compact()
        assert all(len(b) == 1 for b, _p, _sid in t.files())
    if case == "pre_rescale":
        as_of = t.meta["current_snapshot_id"]
        t.rescale_buckets(3)
    if case == "mor_ranges":
        assert any(len(b) > 1 for b, _p, _sid in t.files())
    full = t.scan(resolve=True, as_of_snapshot=as_of)
    per_bucket = 0
    for b in range(t.files(as_of).n_buckets):
        sub = t.scan(buckets=[b], resolve=True, as_of_snapshot=as_of)
        assert sub.filter(f"_bucket != {b}").count() == 0
        per_bucket += sub.count()
    assert per_bucket == full.count()
    for b in (0, 5):
        got = t.scan(buckets=[b], resolve=True, with_tombstones=False, as_of_snapshot=as_of)
        want = full.filter(f"_bucket = {b}").filter("op IS NULL OR op != 'D'")
        want = normalize(want.drop("_bucket").toPandas())
        assert len(want) > 0
        pd.testing.assert_frame_equal(normalize(got.drop("_bucket").toPandas()), want)


def test_in_memory_metadata_backend(spark, log, tmp_path_factory):
    """The metadata-IO abstraction is real: the same merge pipeline
    runs against the dict-backed fake (no metadata files on disk) and
    converges to the same state; refresh() through a second handle
    sharing the store sees the committed snapshots."""
    from silk_spark.schema import TableSchema
    from silk_spark.sources.io import InMemoryMetadataIO
    from silk_spark.sources.lake import LakeTable
    from silk_spark.streaming.pipeline import KEYS, VERSION_ORDER, transcripts_schema

    root = str(tmp_path_factory.mktemp("mem_io"))
    store = InMemoryMetadataIO()
    t = LakeTable.create(
        spark, os.path.join(root, "t"), transcripts_schema(),
        key_cols=list(KEYS), version_cols=list(VERSION_ORDER),
        n_buckets=8, meta_io=store,
    )
    cp = CheckpointStore(os.path.join(root, "cp"))
    CdcPipeline(spark, t, cp, changelog=log).run(end_lsn=3000, batch_size=700)
    assert not os.path.exists(os.path.join(root, "t", "metadata", "version-hint.text"))
    want = normalize(final_state_oracle(log.toPandas()))
    got = normalize(t.read().toPandas())
    pd.testing.assert_frame_equal(got, want)
    # second handle on the shared store sees the same committed state
    t2 = LakeTable(spark, os.path.join(root, "t"), meta_io=store)
    assert t2.meta["current_snapshot_id"] == t.meta["current_snapshot_id"]


def test_mor_compaction_keeps_tombstones_by_default(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_tomb"))
    t = _run(spark, log, root)
    t.compact()
    t.refresh()
    with_t = t.scan(with_tombstones=True).count()
    without_t = t.scan(with_tombstones=False).count()
    assert with_t > without_t  # deletes retained as tombstones


def test_mor_commit_one_file_per_writer_task(spark, log, tmp_path_factory):
    """A MOR delta commit runs one writer task per core, min(n_buckets,
    defaultParallelism), and each task writes ONE file: disjoint bucket
    ranges, every row (by its stored and its recomputed `_bucket`)
    inside its file's range and sorted by (_bucket, key), and
    `partition_stats` keyed by manifest key with each file's rows."""
    import pyarrow.parquet as pq

    from silk_spark.sources.lake import bucket_of, manifest_key
    from silk_spark.streaming.pipeline import project_changes

    n_buckets = 64
    parts = spark.sparkContext.defaultParallelism
    assert parts < n_buckets
    t = create_transcripts_table(
        spark, str(tmp_path_factory.mktemp("mor_tasks")), n_buckets=n_buckets
    )
    sc = spark.sparkContext
    group = "mor-write-tasks"
    sc.setJobGroup(group, "bucketed MOR commit")
    try:
        summary = t.merge_batch(project_changes(log), "b-0")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    write_stage = max(tracker.getJobInfo(jobs[-1]).stageIds)
    assert tracker.getStageInfo(write_stage).numTasks == min(n_buckets, parts)

    entries = sorted(t.files(), key=lambda e: e[0].start)
    assert len(entries) == parts
    assert all(a.stop <= b.start for (a, _p, _s), (b, _q, _t) in zip(entries, entries[1:]))
    assert sorted(t.current_snapshot()["files"]) == sorted(summary["partition_stats"])
    for buckets, path, _sid in entries:
        rows = pq.read_table(path, columns=["_bucket", "conv_id", "turn_idx"]).to_pylist()
        assert summary["partition_stats"][manifest_key(buckets)] == len(rows) > 0
        assert {r["_bucket"] for r in rows} <= set(buckets)
        assert all(bucket_of(r["conv_id"], "string", n_buckets) == r["_bucket"] for r in rows)
        order = [(r["_bucket"], r["conv_id"], r["turn_idx"]) for r in rows]
        assert order == sorted(order)
    assert sum(summary["partition_stats"].values()) == summary["rows_in_batch"] == log.count()
    by_file = t.scan(resolve=False).select("_bucket", F.input_file_name().alias("f")).distinct()
    ranges = {os.path.normpath(p): b for b, p, _sid in entries}
    for r in by_file.collect():
        assert r["_bucket"] in ranges[os.path.normpath(r["f"].removeprefix("file:"))]


def test_driver_murmur3_matches_spark_hash(spark):
    """`spark_hash_int` (the driver's Murmur3_x86_32.hashInt, seed 42)
    equals Spark's `hash` on random ints, the function `repartition`
    places an int expression by."""
    import random

    from silk_spark.sources.lake import spark_hash_int

    rng = random.Random(4243)
    values = [0, 1, -1, 2**31 - 1, -(2**31)] + [rng.randint(-(2**31), 2**31 - 1) for _ in range(300)]
    df = spark.createDataFrame(list(enumerate(values)), "i int, v int")
    want = [r.h for r in df.orderBy("i").select(F.hash("v").alias("h")).collect()]
    assert [spark_hash_int(v) for v in values] == want


@pytest.mark.parametrize("n_buckets,k", [(64, 4), (64, 8), (10, 4), (3, 3)])
def test_writer_tasks_get_an_even_contiguous_bucket_split(spark, n_buckets, k):
    """Over the write exchange, bucket b lands in task b * k //
    n_buckets: with 64 buckets on 4 tasks every task receives exactly
    16 buckets, where hashing the bucket id gave 11/21/16/16."""
    from silk_spark.sources.lake import to_writer_tasks

    buckets = spark.range(n_buckets).selectExpr("CAST(id AS INT) AS _bucket")
    placed = to_writer_tasks(buckets, n_buckets, k).select("_bucket", F.spark_partition_id().alias("t"))
    got = {r["_bucket"]: r["t"] for r in placed.collect()}
    assert got == {b: b * k // n_buckets for b in range(n_buckets)}
    if n_buckets % k == 0:
        assert sorted(Counter(got.values()).values()) == [n_buckets // k] * k


@pytest.fixture(scope="module")
def ranged(spark, log, tmp_path_factory):
    """A 32-bucket MOR table with more buckets than writer tasks: two
    delta commits, a compaction (one base file per bucket), then three
    range-delta commits. Returns the table and the compaction's id."""
    n_buckets = 32
    assert spark.sparkContext.defaultParallelism < n_buckets
    root = str(tmp_path_factory.mktemp("mor_ranged"))
    t = create_transcripts_table(spark, os.path.join(root, "t"), n_buckets=n_buckets)
    pipe = CdcPipeline(spark, t, None, changelog=log)
    pipe.run(end_lsn=1400, batch_size=700)
    base = t.compact()["snapshot_id"]
    pipe.run(end_lsn=3000, batch_size=700)
    return t, base


def _path(p: str) -> str:
    return os.path.normpath(p.removeprefix("file:"))


def test_lookup_reads_base_bucket_and_covering_range_deltas(log, ranged):
    """On an uncompacted MOR table a lookup reads exactly its bucket's
    base file plus the delta files whose range holds that bucket, and
    returns the oracle's rows."""
    from silk_spark.sources.lake import bucket_of

    t, base = ranged
    fs = t.files()
    base_paths = t.files(base).paths()
    assert any(len(b) > 1 for b, p, _sid in fs if p not in base_paths)
    want = final_state_oracle(log.toPandas())
    for conv in sorted(set(want["conv_id"]))[:5]:
        b = bucket_of(conv, "string", fs.n_buckets)
        covering = {_path(p) for r, p, _sid in fs if b in r}
        base_files = [p for r, p, _sid in t.files(base) if b in r]
        assert len(base_files) == 1 and _path(base_files[0]) in covering
        assert len(covering) > 1
        got = t.lookup(conv)
        assert {_path(p) for p in got.inputFiles()} == covering
        pd.testing.assert_frame_equal(
            normalize(got.toPandas()), normalize(want[want["conv_id"] == conv])
        )


def test_read_changes_across_range_deltas(ranged, log):
    """`read_changes` over two range-delta commits returns exactly the
    change rows of their batches."""
    t, _base = ranged
    sid = {s.get("batch_id"): s["snapshot_id"] for s in t.history()}
    got = t.read_changes(sid["lsn-1400-2100"], sid["lsn-2800-3000"]).toPandas()
    want = log.filter("lsn >= 2100 AND lsn < 3000").toPandas()
    cols = ["conv_id", "turn_idx", "role", "text", "ts", "lsn", "op"]
    pd.testing.assert_frame_equal(
        got[cols].sort_values("lsn").reset_index(drop=True),
        want[cols].sort_values("lsn").reset_index(drop=True),
        check_dtype=False,
    )


def test_tiny_mor_batch_commits_only_nonempty_files(spark, log, tmp_path_factory):
    """Five rows on a 64-bucket table, none in the first writer task's
    buckets: Spark writes a zero-row file for that empty task, and the
    commit keeps only the files that hold rows."""
    from silk_spark.sources.lake import bucket_of
    from silk_spark.streaming.pipeline import project_changes

    n_buckets, parts = 64, spark.sparkContext.defaultParallelism
    first_task = range(0, -(-n_buckets // parts))
    lsns = [
        r.lsn
        for r in log.select("conv_id", "lsn").orderBy("lsn").limit(200).collect()
        if bucket_of(r.conv_id, "string", n_buckets) not in first_task
    ][:5]
    t = create_transcripts_table(
        spark, str(tmp_path_factory.mktemp("mor_tiny")), n_buckets=n_buckets
    )
    summary = t.merge_batch(project_changes(log.filter(F.col("lsn").isin(lsns))), "tiny")
    fs = t.files()
    assert 1 <= len(fs.entries) <= 5
    assert summary["rows_in_batch"] == sum(summary["partition_stats"].values()) == 5
    assert all(n > 0 for n in summary["partition_stats"].values())
    on_disk = {
        _path(os.path.join(dp, f))
        for dp, _dn, fn in os.walk(t.data_dir)
        for f in fn
        if f.endswith(".parquet")
    }
    assert on_disk == {_path(p) for p in fs.paths()}
    assert t.scan(resolve=False).count() == 5


def test_create_transcripts_table_accepts_only_mor(spark, tmp_path):
    with pytest.raises(ValueError, match="merge-on-read"):
        create_transcripts_table(spark, str(tmp_path / "t"), merge_mode="cow")
