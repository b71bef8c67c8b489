"""End-to-end replay equality (the correctness gate from BASELINE.json):

apply the full synthetic change log in K micro-batches and assert the
final table equals the single-pass pandas oracle -- per-turn text
equality under stable (conv_id, turn_idx) ordering -- then replay
batches (exactly-once) and slice differently (batching invariance).
"""

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table
from tests.conftest import final_state_oracle, normalize

N_EVENTS = 4000


@pytest.fixture()
def log(spark):
    return changelog(spark, N_EVENTS, n_convs=80, turns_per_conv=8, seed=42)


def _run(spark, log, tmp_path, batch_size, name):
    table = create_transcripts_table(spark, str(tmp_path / f"tbl_{name}"), n_buckets=8)
    cp = CheckpointStore(str(tmp_path / f"cp_{name}"))
    pipe = CdcPipeline(spark, table, cp, changelog=log)
    pipe.run(end_lsn=N_EVENTS, batch_size=batch_size)
    return table, cp, pipe


def test_replay_matches_oracle(spark, log, tmp_path):
    table, cp, _ = _run(spark, log, tmp_path, batch_size=500, name="a")
    got = normalize(table.read().toPandas())
    want = final_state_oracle(log.toPandas())
    pd.testing.assert_frame_equal(got, want)
    # lineage: every batch produced a manifest with partition stats
    manifests = cp.all_manifests()
    assert len(manifests) == 8
    assert all(m["rows_applied"] > 0 for m in manifests)
    assert all(m["partition_stats"] for m in manifests)


def test_exactly_once_duplicate_batch_replay(spark, log, tmp_path):
    table, cp, pipe = _run(spark, log, tmp_path, batch_size=500, name="b")
    before = normalize(table.read().toPandas())
    snap_before = table.meta["current_snapshot_id"]
    # replay the whole log again: every batch id already committed -> no-op
    results = pipe.run(end_lsn=N_EVENTS, batch_size=500, start_lsn=0)
    assert all(r.get("skipped") for r in results)
    table.refresh()
    assert table.meta["current_snapshot_id"] == snap_before
    after = normalize(table.read().toPandas())
    pd.testing.assert_frame_equal(before, after)


def test_path_mode_matches_dataframe_mode(spark, log, tmp_path):
    """changelog_path slicing (footer-stats file pruning + bounds-join,
    the codegen-stable production path) must produce the identical
    final state as literal-filter DataFrame slicing, including when a
    batch range touches no file (empty slice commits a no-op)."""
    log_dir = str(tmp_path / "logp")
    log.repartitionByRange(4, "lsn").write.parquet(log_dir)
    table = create_transcripts_table(spark, str(tmp_path / "tbl_p"), n_buckets=8)
    cp = CheckpointStore(str(tmp_path / "cp_p"))
    pipe = CdcPipeline(spark, table, cp, changelog_path=log_dir)
    # run past the end: [N, N+500) prunes to zero files
    pipe.run(end_lsn=N_EVENTS + 500, batch_size=500)
    ref, _, _ = _run(spark, log, tmp_path, batch_size=500, name="pref")
    pd.testing.assert_frame_equal(
        normalize(table.read().toPandas()), normalize(ref.read().toPandas())
    )


def test_path_mode_sees_files_appended_between_runs(spark, log, tmp_path):
    """The documented resume/tail pattern: one CdcPipeline instance,
    log files appended between run() calls. The footer-stats index
    must refresh per run (and only stat NEW files), or later slices
    silently return empty frames while checkpoints commit the range —
    permanent data loss."""
    log_dir = str(tmp_path / "logg")
    first = log.filter("lsn < 2000")
    rest = log.filter("lsn >= 2000")
    first.repartitionByRange(2, "lsn").write.parquet(log_dir)
    # MOR: rows_in_batch counts raw batch rows (no in-batch dedup), so
    # the applied-row accounting below is exact
    table = create_transcripts_table(
        spark, str(tmp_path / "tbl_g"), n_buckets=8
    )
    cp = CheckpointStore(str(tmp_path / "cp_g"))
    pipe = CdcPipeline(spark, table, cp, changelog_path=log_dir)
    pipe.run(end_lsn=2000, batch_size=500)
    indexed_before = {p for p, _, _ in pipe._file_index}
    # the tail lands AFTER the first run — same pipeline instance
    rest.repartitionByRange(2, "lsn").write.mode("append").parquet(log_dir)
    results = pipe.run(end_lsn=N_EVENTS, batch_size=500)
    assert sum(r.get("rows_in_batch", 0) for r in results) == rest.count()
    # incremental: previously-indexed paths were reused, new ones added
    assert indexed_before < {p for p, _, _ in pipe._file_index}
    got = normalize(table.read().toPandas())
    want = final_state_oracle(log.toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_batching_invariance(spark, log, tmp_path):
    t1, _, _ = _run(spark, log, tmp_path, batch_size=250, name="c1")
    t2, _, _ = _run(spark, log, tmp_path, batch_size=2000, name="c2")
    a = normalize(t1.read().toPandas())
    b = normalize(t2.read().toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_crash_resume(spark, log, tmp_path):
    table = create_transcripts_table(spark, str(tmp_path / "tbl_r"), n_buckets=8)
    cp = CheckpointStore(str(tmp_path / "cp_r"))
    pipe = CdcPipeline(spark, table, cp, changelog=log)
    # crash after 3 of 8 batches
    pipe.run(end_lsn=N_EVENTS, batch_size=500, stop_after=3)
    assert pipe.resume_lsn() == 1500
    # restart: resume from the table's ledger, finish the log
    pipe2 = CdcPipeline(spark, table.refresh(), cp, changelog=log)
    results = pipe2.run(end_lsn=N_EVENTS, batch_size=500)
    assert not any(r.get("skipped") for r in results)
    got = normalize(table.read().toPandas())
    want = final_state_oracle(log.toPandas())
    pd.testing.assert_frame_equal(got, want)

