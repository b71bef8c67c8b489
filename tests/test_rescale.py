"""Partition evolution: LakeTable.rescale_buckets.

The 100 TB growth path — widen the hash-bucket layout without
disturbing state, idempotency, time travel, or the running pipeline.
"""

import os

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table
from tests.conftest import final_state_oracle, normalize

N_EVENTS = 3000


@pytest.fixture()
def log(spark):
    return changelog(spark, N_EVENTS, n_convs=60, turns_per_conv=8, seed=7)


def _pipeline(spark, log, tmp_path, name, **table_kw):
    table = create_transcripts_table(spark, str(tmp_path / f"t_{name}"), **table_kw)
    cp = CheckpointStore(str(tmp_path / f"cp_{name}"))
    return table, CdcPipeline(spark, table, cp, changelog=log)


class TestRescale:
    def test_state_preserved_and_layout_switched(self, spark, log, tmp_path):
        table, pipe = _pipeline(spark, log, tmp_path, "a", n_buckets=8)
        pipe.run(end_lsn=N_EVENTS, batch_size=1000)
        before = normalize(table.read().toPandas())

        summary = table.rescale_buckets(32)
        assert summary["operation"] == "rescale"
        assert summary["n_buckets"] == 32
        assert table.meta["n_buckets"] == 32
        # manifest keys are all real buckets in the new layout
        keys = set(table.current_snapshot()["files"])
        assert keys <= {str(b) for b in range(32)}
        assert len(keys) > 8  # data actually spread into the wider layout
        after = normalize(table.read().toPandas())
        pd.testing.assert_frame_equal(before, after)

    def test_merges_continue_in_new_layout_and_replay_skips(self, spark, log, tmp_path):
        table, pipe = _pipeline(spark, log, tmp_path, "b", n_buckets=8)
        pipe.run(end_lsn=2000, batch_size=1000)
        table.rescale_buckets(16)
        # tail the rest of the log after the rescale
        pipe.run(end_lsn=N_EVENTS, batch_size=1000, start_lsn=2000)
        got = normalize(table.read().toPandas())
        want = final_state_oracle(log.toPandas())
        pd.testing.assert_frame_equal(got, want)
        # exactly-once across the rescale: pre-rescale batches still skip
        assert all(
            r.get("skipped")
            for r in pipe.run(end_lsn=2000, batch_size=1000, start_lsn=0)
        )
        # post-rescale merge snapshots record the new layout
        assert table.current_snapshot()["n_buckets"] == 16

    def test_time_travel_across_rescale(self, spark, log, tmp_path):
        table, pipe = _pipeline(spark, log, tmp_path, "c", n_buckets=8)
        pipe.run(end_lsn=2000, batch_size=1000)
        pre_snap = table.meta["current_snapshot_id"]
        pre_state = normalize(table.read().toPandas())
        table.rescale_buckets(32)
        pipe.run(end_lsn=N_EVENTS, batch_size=1000, start_lsn=2000)
        # the pre-rescale snapshot reads back bit-identical (its manifest
        # keys are interpreted with the OLD bucket function)
        pd.testing.assert_frame_equal(
            normalize(table.read(as_of_snapshot=pre_snap).toPandas()), pre_state
        )

    def test_lookup_after_rescale(self, spark, log, tmp_path):
        table, pipe = _pipeline(spark, log, tmp_path, "d", n_buckets=8)
        pipe.run(end_lsn=N_EVENTS, batch_size=1500)
        table.rescale_buckets(16)
        full = table.read().toPandas()
        conv = full["conv_id"].iloc[0]
        got = table.lookup(conv).toPandas()
        want = full[full["conv_id"] == conv]
        assert len(got) == len(want) > 0
        assert sorted(got["turn_idx"]) == sorted(want["turn_idx"])

    def test_lookup_as_of_rescaled_snapshot_hashes_its_layout(self, spark, log, tmp_path):
        """A time-travel lookup of a pre-rescale snapshot hashes the key
        with that snapshot's layout: `bucket_of` names a bucket inside
        the range of every file holding its rows, and the lookup returns
        them all."""
        from pyspark.sql import functions as F

        from silk_spark.sources.lake import bucket_of

        table, pipe = _pipeline(spark, log, tmp_path, "lk", n_buckets=8)
        pipe.run(end_lsn=N_EVENTS, batch_size=1500)
        pre_snap = table.meta["current_snapshot_id"]
        table.rescale_buckets(3)
        full = table.read(as_of_snapshot=pre_snap).toPandas()
        ranges = {os.path.normpath(p): b for b, p, _sid in table.files(pre_snap)}
        on_disk = {}
        for r in (
            table.scan(resolve=False, as_of_snapshot=pre_snap)
            .select("conv_id", F.input_file_name().alias("f"))
            .distinct()
            .collect()
        ):
            on_disk.setdefault(r.conv_id, []).append(ranges[os.path.normpath(r.f.removeprefix("file:"))])
        for conv in sorted(set(full["conv_id"]))[:6]:
            assert all(bucket_of(conv, "string", 8) in b for b in on_disk[conv])
            got = table.lookup(conv, as_of_snapshot=pre_snap).toPandas()
            assert len(got) == (full["conv_id"] == conv).sum() > 0
            assert len(table.lookup(conv).toPandas()) == len(got)

    def test_rollback_across_rescale_restores_layout(self, spark, log, tmp_path):
        table, pipe = _pipeline(spark, log, tmp_path, "e", n_buckets=8)
        pipe.run(end_lsn=2000, batch_size=1000)
        pre_snap = table.meta["current_snapshot_id"]
        pre_state = normalize(table.read().toPandas())
        table.rescale_buckets(32)
        table.rollback(pre_snap)
        assert table.meta["n_buckets"] == 8
        pd.testing.assert_frame_equal(normalize(table.read().toPandas()), pre_state)
        # pipeline keeps working in the restored layout
        pipe.run(end_lsn=N_EVENTS, batch_size=1000, start_lsn=2000)
        pd.testing.assert_frame_equal(
            normalize(table.read().toPandas()), final_state_oracle(log.toPandas())
        )

    def test_noop_and_validation(self, spark, log, tmp_path):
        table, pipe = _pipeline(spark, log, tmp_path, "g", n_buckets=8)
        pipe.run(end_lsn=1000, batch_size=1000)
        snap = table.meta["current_snapshot_id"]
        res = table.rescale_buckets(8)
        assert res.get("noop") and table.meta["current_snapshot_id"] == snap
        with pytest.raises(ValueError):
            table.rescale_buckets(0)
