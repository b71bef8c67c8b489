"""LakeTable.verify(): manifest integrity checks (the table fsck)."""

import os

import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table


@pytest.fixture()
def table(spark, tmp_path):
    log = changelog(spark, 1200, n_convs=30, turns_per_conv=6, seed=3)
    t = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    CdcPipeline(spark, t, CheckpointStore(str(tmp_path / "cp")), changelog=log).run(
        end_lsn=1200, batch_size=400
    )
    return t


class TestVerify:
    def test_healthy_table(self, spark, table):
        res = table.verify(check_all_snapshots=True)
        assert res["ok"], res["errors"]
        assert res["files_checked"] > 0

    def test_healthy_after_expire_with_tag(self, spark, table):
        snaps = [s["snapshot_id"] for s in table.history()]
        table.tag("old", snaps[0])
        table.expire_snapshots(keep_last=1)
        res = table.verify(check_all_snapshots=True)
        assert res["ok"], res["errors"]

    def test_detects_missing_file(self, spark, table):
        _b, path, _sid = next(iter(table.files()))
        os.remove(path)
        res = table.verify()
        assert not res["ok"]
        assert any("missing file" in e for e in res["errors"])

    def test_detects_dangling_tag_and_ledger_gap(self, spark, table):
        meta = dict(table.meta)
        meta["tags"] = {"ghost": 9999}
        meta["committed_batches"] = meta["committed_batches"][1:]  # drop one
        table._write_meta(meta, version=table._meta_version + 1)
        res = table.verify(check_all_snapshots=True)
        assert not res["ok"]
        assert any("ghost" in e for e in res["errors"])
        assert any("idempotency ledger" in e for e in res["errors"])

    def test_dangling_current_pointer_reports_not_crashes(self, spark, table):
        """fsck's default mode must REPORT a dangling current pointer
        (one of the corruption classes it exists for), not die with a
        KeyError trying to load it."""
        meta = dict(table.meta)
        meta["current_snapshot_id"] = 424242
        table._write_meta(meta, version=table._meta_version + 1)
        res = table.verify()  # default check_all_snapshots=False path
        assert not res["ok"]
        assert any("not in snapshot log" in e for e in res["errors"])

    def test_rollback_then_verify_all_snapshots_is_healthy(self, spark, table):
        """rollback() removes rolled-past batch_ids from the ledger by
        design while their snapshots stay time-travelable — fsck must
        not flag those as ledger gaps."""
        snaps = [s["snapshot_id"] for s in table.history()]
        table.rollback(snaps[1])
        res = table.verify(check_all_snapshots=True)
        assert res["ok"], res["errors"]

    def test_real_ledger_gap_still_detected_after_rollback(self, spark, table):
        """The rollback exemption must not swallow genuine gaps: drop a
        batch that is part of the CURRENT lineage (at/before the
        rollback target) and fsck must still flag it."""
        snaps = [s["snapshot_id"] for s in table.history()]
        table.rollback(snaps[1])
        meta = dict(table.meta)
        kept_batch = next(
            s["batch_id"] for s in meta["snapshots"] if s["snapshot_id"] == snaps[0]
        )
        meta["committed_batches"] = [
            b for b in meta["committed_batches"] if b != kept_batch
        ]
        table._write_meta(meta, version=table._meta_version + 1)
        res = table.verify(check_all_snapshots=True)
        assert not res["ok"]
        assert any("idempotency ledger" in e for e in res["errors"])
