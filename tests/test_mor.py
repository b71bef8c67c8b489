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


def test_unpartitioned_delta_layout(spark, log, tmp_path_factory):
    """Zero-shuffle MOR layout: deltas append as scanned under manifest
    key '*'; final state equals the bucketed layout; bucket-subset
    scans still see global-delta rows; compact() re-clusters into
    buckets and drops the '*' entry."""
    root = str(tmp_path_factory.mktemp("mor_unpart"))
    t = create_transcripts_table(
        spark, os.path.join(root, "t"), n_buckets=8, merge_mode="mor",
        delta_layout="unpartitioned",
    )
    cp = CheckpointStore(os.path.join(root, "cp"))
    CdcPipeline(spark, t, cp, changelog=log).run(end_lsn=3000, batch_size=700)
    assert "*" in t.meta["snapshots"][-1]["files"]
    want = normalize(final_state_oracle(log.toPandas()))
    got = normalize(t.read().toPandas())
    pd.testing.assert_frame_equal(got, want)
    # bucket-subset scan honors its contract: only the requested
    # bucket's rows come back (global '*' deltas are read for
    # completeness but out-of-scope keys — whose base files were
    # pruned and would resolve stale — are filtered out), and the
    # per-bucket scans partition the full resolve exactly
    full_df = t.scan(resolve=True)
    full = full_df.count()
    per_bucket = 0
    for b in range(8):
        sub = t.scan(buckets=[b], resolve=True)
        assert sub.filter(f"_bucket != {b}").count() == 0
        per_bucket += sub.count()
    assert per_bucket == full
    # value-level: one bucket's pruned scan == full resolve restricted
    # to that bucket (catches delta-only stale resolution)
    sub0 = normalize(
        t.scan(buckets=[0], resolve=True, with_tombstones=False).drop("_bucket").toPandas()
    ) if t.scan(buckets=[0], resolve=True, with_tombstones=False).count() else None
    want0 = normalize(
        full_df.filter("_bucket = 0").filter("op is null or op != 'D'").drop("_bucket").toPandas()
    ) if sub0 is not None else None
    if sub0 is not None:
        pd.testing.assert_frame_equal(sub0, want0)
    # compaction folds into bucketed layout
    t.compact()
    files = t.refresh().meta["snapshots"][-1]["files"]
    assert "*" not in files and len(files) > 0
    pd.testing.assert_frame_equal(normalize(t.read().toPandas()), want)


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
