"""Structured Streaming face: drain a changelog dir via foreachBatch,
final state must equal the batch pipeline's (slicing-invariance)."""

import os
import shutil

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table
from silk_spark.streaming.stream import run_stream_to_completion, stream_changelog

from tests.conftest import final_state_oracle, normalize


@pytest.fixture
def workdir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream"))
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_matches_oracle_and_batch(spark, workdir):
    n = 2000
    log = changelog(spark, n, n_convs=40, turns_per_conv=8, seed=11)
    log_dir = os.path.join(workdir, "log")
    # several files so maxFilesPerTrigger yields multiple micro-batches
    log.repartition(6).write.parquet(log_dir)

    table = create_transcripts_table(spark, os.path.join(workdir, "t_stream"), n_buckets=8)
    ckpt = CheckpointStore(os.path.join(workdir, "cp_stream"))
    run_stream_to_completion(
        spark, log_dir, table, ckpt, os.path.join(workdir, "ssc"), timeout_sec=300
    )

    got = normalize(table.read().toPandas())
    want = final_state_oracle(log.toPandas())
    pd.testing.assert_frame_equal(got, normalize(want))

    # same state as the offset-driven batch pipeline
    t2 = create_transcripts_table(spark, os.path.join(workdir, "t_batch"), n_buckets=8)
    cp2 = CheckpointStore(os.path.join(workdir, "cp_batch"))
    CdcPipeline(spark, t2, cp2, changelog=log).run(end_lsn=n, batch_size=700)
    batch_state = normalize(t2.read().toPandas())
    pd.testing.assert_frame_equal(got, batch_state)

    # lineage manifests written per non-empty micro-batch
    assert len(ckpt.all_manifests()) >= 1


def test_stream_with_reconcile_pre_merge(spark, workdir):
    """The join-and-score reconcile hook runs inside the STREAMING loop
    too (same pre_merge contract as CdcPipeline): a planted off-by-one
    near-duplicate turn is canonicalized before MERGE, so the final
    table carries one winner on the canonical key."""
    from pyspark.sql import functions as F

    from silk_spark.operators.reconcile import reconcile_near_dups

    n = 1000
    log = changelog(spark, n, n_convs=20, turns_per_conv=8, seed=23)
    # plant: an extra event duplicating (conv, turn 2) at turn 3 with
    # near-identical text and the HIGHEST version → after reconcile it
    # must win on turn 2, and no row may exist at planted turn 3
    base = log.filter("conv_id = 'conv-00000000' and turn_idx = 2").limit(1)
    planted = base.select(
        (F.col("lsn") + n).alias("lsn"),
        (F.col("offset") + n).alias("offset"),
        F.lit("U").alias("op"),
        "conv_id",
        F.lit(3).cast("int").alias("turn_idx"),
        "role",
        F.concat(F.col("text"), F.lit("!")).alias("text"),
        "tool",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "schema_version",
    )
    full = log.select(planted.columns).unionByName(planted)
    log_dir = os.path.join(workdir, "log_rec")
    full.repartition(4).write.parquet(log_dir)

    table = create_transcripts_table(spark, os.path.join(workdir, "t_rec"), n_buckets=8)
    ckpt = CheckpointStore(os.path.join(workdir, "cp_rec"))
    q = stream_changelog(
        spark, log_dir, table, ckpt, os.path.join(workdir, "ssc_rec"),
        max_files_per_trigger=100,  # one micro-batch: planted pair co-arrives
        pre_merge=reconcile_near_dups,
    )
    q.awaitTermination(300)
    if q.isActive:
        q.stop()

    rows = {
        r["turn_idx"]: r["text"]
        for r in table.read().filter("conv_id = 'conv-00000000'").collect()
    }
    want = planted.first()
    assert rows[2] == want["text"]  # planted near-dup won on the canonical key
    original_turn3 = {
        r["turn_idx"] for r in log.filter(
            "conv_id = 'conv-00000000' and turn_idx = 3"
        ).collect()
    }
    if not original_turn3:
        assert 3 not in rows


def test_fresh_stream_checkpoint_on_existing_table_applies_new_data(spark, workdir):
    """Resetting the stream checkpoint (a fresh dir on a table an earlier
    query already fed) restarts Spark's batch counter at 0. The new
    query's batches must not collide with the old query's ledger ids and
    be skipped: the appended tail has to land."""
    log = changelog(spark, 3000, n_convs=40, turns_per_conv=8, seed=31)
    log_dir = os.path.join(workdir, "log_reset")
    log.filter("lsn < 2000").repartitionByRange(10, "lsn").write.parquet(log_dir)
    table = create_transcripts_table(spark, os.path.join(workdir, "t_reset"), n_buckets=8)
    ckpt = CheckpointStore(os.path.join(workdir, "cp_reset"))

    def drain(stream_dir, files_per_trigger):
        q = stream_changelog(
            spark, log_dir, table, ckpt, os.path.join(workdir, stream_dir),
            max_files_per_trigger=files_per_trigger,
        )
        q.awaitTermination(300)
        if q.isActive:
            q.stop()

    drain("ssc_run1", 1)  # ten one-file micro-batches
    log.filter("lsn >= 2000").repartitionByRange(5, "lsn").write.mode(
        "append"
    ).parquet(log_dir)
    drain("ssc_run2", 100)  # fresh checkpoint dir: batch counter back at 0

    got = normalize(table.read().toPandas())
    want = final_state_oracle(log.toPandas())
    pd.testing.assert_frame_equal(got, normalize(want))
