"""Merge-on-read mode: replay equality with COW, exactly-once,
compaction invariance, O(batch) write behavior."""

import os

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table

from tests.conftest import final_state_oracle, normalize


@pytest.fixture(scope="module")
def log(spark):
    return changelog(spark, 3000, n_convs=60, turns_per_conv=8, seed=21)


def _run(spark, log, root, mode, batch_size=700):
    t = create_transcripts_table(spark, os.path.join(root, f"t_{mode}_{batch_size}"), n_buckets=8, merge_mode=mode)
    cp = CheckpointStore(os.path.join(root, f"cp_{mode}_{batch_size}"))
    CdcPipeline(spark, t, cp, changelog=log).run(end_lsn=3000, batch_size=batch_size)
    return t


def test_mor_matches_oracle_and_cow(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor"))
    t_mor = _run(spark, log, root, "mor")
    t_cow = _run(spark, log, root, "cow")
    want = normalize(final_state_oracle(log.toPandas()))
    got_mor = normalize(t_mor.read().toPandas())
    got_cow = normalize(t_cow.read().toPandas())
    pd.testing.assert_frame_equal(got_mor, want)
    pd.testing.assert_frame_equal(got_cow, want)


def test_mor_batch_slicing_invariance(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_slice"))
    a = normalize(_run(spark, log, root, "mor", batch_size=500).read().toPandas())
    b = normalize(_run(spark, log, root, "mor", batch_size=1700).read().toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_mor_exactly_once_replay(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_once"))
    t = _run(spark, log, root, "mor")
    cp = CheckpointStore(os.path.join(root, "cp2"))
    pipe = CdcPipeline(spark, t, cp, changelog=log)
    results = pipe.run(end_lsn=3000, batch_size=700, start_lsn=0)
    assert all(r.get("skipped") for r in results)


def test_mor_appends_not_rewrites(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_files"))
    t = _run(spark, log, root, "mor")
    # every batch's delta files survive in the manifest (append-only)
    snaps = t.meta["snapshots"]
    assert len(snaps) >= 4
    per_snapshot_files = [sum(len(v) for v in s["files"].values()) for s in snaps]
    assert per_snapshot_files == sorted(per_snapshot_files)  # monotone growth


def test_mor_compaction_preserves_state(spark, log, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("mor_compact"))
    t = _run(spark, log, root, "mor")
    before = normalize(t.read().toPandas())
    t.compact()
    after = normalize(t.refresh().read().toPandas())
    pd.testing.assert_frame_equal(before, after)
    # compaction folded every bucket to a single file set
    files = t.meta["snapshots"][-1]["files"]
    assert all(len(v) <= 2 for v in files.values())


@pytest.mark.parametrize("case", ["mor", "cow", "pre_rescale"])
def test_bucket_subset_scans_partition_the_resolve(spark, log, tmp_path_factory, case):
    """The `scan(buckets=...)` contract: each bucket's pruned scan
    returns only that bucket's rows, the per-bucket scans partition the
    full resolve exactly, and one bucket's pruned scan equals the full
    resolve restricted to that bucket. Checked on a MOR table, a COW
    table, and a pre-rescale MOR snapshot read after the layout changed
    (its bucket keys name buckets of its own 8-bucket function)."""
    root = str(tmp_path_factory.mktemp(f"subset_{case}"))
    t = _run(spark, log, root, "cow" if case == "cow" else "mor")
    as_of = None
    if case == "pre_rescale":
        as_of = t.meta["current_snapshot_id"]
        t.rescale_buckets(3)
    full = t.scan(resolve=True, as_of_snapshot=as_of)
    per_bucket = 0
    for b in range(8):
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
        n_buckets=8, merge_mode="mor", meta_io=store,
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
    t = _run(spark, log, root, "mor")
    t.compact()
    t.refresh()
    with_t = t.scan(with_tombstones=True).count()
    without_t = t.scan(with_tombstones=False).count()
    assert with_t > without_t  # deletes retained as tombstones


def test_mor_commit_one_file_per_bucket_from_per_core_write_tasks(spark, log, tmp_path_factory):
    """A bucketed MOR commit writes exactly one file per touched bucket,
    and its write stage runs one task per core: min(n_buckets,
    defaultParallelism), not one task per bucket and not the one or two
    tasks AQE coalesces a small batch's shuffle into."""
    from silk_spark.streaming.pipeline import project_changes

    n_buckets = 64
    parts = spark.sparkContext.defaultParallelism
    assert parts < n_buckets
    t = create_transcripts_table(
        spark, str(tmp_path_factory.mktemp("mor_tasks")), n_buckets=n_buckets, merge_mode="mor"
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
    files = t.current_snapshot()["files"]
    assert sorted(files) == sorted(summary["partition_stats"])
    assert len(files) > parts
    assert all(len(fs) == 1 for fs in files.values())
