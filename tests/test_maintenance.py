"""Table maintenance: snapshot expiry, orphan-file removal, rollback —
the operations that keep a 10^10-event table's metadata and storage
bounded (Iceberg expire_snapshots / remove_orphan_files /
rollback_to_snapshot analogues). Commit-before-delete ordering means a
crash can only ever leave extra unreferenced files, never lose a
referenced one."""

import os

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table

from tests.conftest import final_state_oracle, normalize

N_EVENTS = 2400


@pytest.fixture(scope="module")
def log(spark):
    return changelog(spark, N_EVENTS, n_convs=40, turns_per_conv=8, seed=91)


@pytest.fixture()
def table(spark, log, tmp_path):
    """Fresh MOR table with 4 committed batches per test (maintenance
    mutates storage, so no sharing)."""
    t = create_transcripts_table(
        spark, str(tmp_path / "t"), n_buckets=8
    )
    cp = CheckpointStore(str(tmp_path / "cp"))
    CdcPipeline(spark, t, cp, changelog=log).run(end_lsn=N_EVENTS, batch_size=600)
    return t


def _data_files(t):
    return sorted(
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(t.data_dir)
        for f in fn
        if f.endswith(".parquet")
    )


def _assert_state_equals_oracle(t, log, hi=N_EVENTS):
    got = normalize(t.read().toPandas())
    want = normalize(
        final_state_oracle(log.filter(log.lsn < hi).toPandas())
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


class TestExpire:
    def test_shared_mor_deltas_survive_expiry(self, table, log):
        """MOR manifests are cumulative: the current snapshot references
        every delta file, so expiring history deletes NO data."""
        before = _data_files(table)
        res = table.expire_snapshots(keep_last=1)
        assert res["expired_snapshots"] == [1, 2, 3]
        assert res["files_deleted"] == 0
        assert _data_files(table) == before
        assert [s["snapshot_id"] for s in table.history()] == [4]
        _assert_state_equals_oracle(table, log)

    def test_expired_snapshot_not_time_travelable(self, table):
        table.expire_snapshots(keep_last=2)
        with pytest.raises(KeyError):
            table.read(as_of_snapshot=1)
        assert table.read(as_of_snapshot=4).count() > 0

    def test_expire_after_compact_reclaims_deltas(self, table, log):
        """compact() rewrites everything; expiring down to it deletes
        every pre-compact delta file and the state is unchanged."""
        table.compact()
        n_before = len(_data_files(table))
        res = table.expire_snapshots(keep_last=1)
        assert res["expired_snapshots"] == [1, 2, 3, 4]
        assert res["files_deleted"] > 0
        assert len(_data_files(table)) == n_before - res["files_deleted"]
        _assert_state_equals_oracle(table, log)
        # every remaining file is referenced (idempotent follow-up sweeps)
        assert table.remove_orphans()["files_deleted"] == 0
        assert table.expire_snapshots(keep_last=1)["expired_snapshots"] == []

    def test_current_snapshot_always_retained(self, table):
        res = table.expire_snapshots(keep_last=1)
        assert 4 not in res["expired_snapshots"]
        assert table.meta["current_snapshot_id"] == 4


class TestOrphans:
    def test_lost_commit_race_dir_swept(self, table, log):
        """A wholly-unreferenced snap dir (the CAS loser's write) is
        removed, markers and all; referenced files are untouched."""
        orphan_dir = os.path.join(table.data_dir, "snap-9-deadbeef")
        os.makedirs(orphan_dir)
        ref = _data_files(table)
        # a real parquet file, just never committed to any manifest
        import shutil

        shutil.copy(ref[0], os.path.join(orphan_dir, "part-0.parquet"))
        open(os.path.join(orphan_dir, "_SUCCESS"), "w").close()

        res = table.remove_orphans()
        assert res["files_deleted"] == 1
        assert not os.path.exists(orphan_dir)
        assert _data_files(table) == ref
        _assert_state_equals_oracle(table, log)

    def test_clean_table_noop(self, table):
        assert table.remove_orphans()["files_deleted"] == 0


class TestRollback:
    def test_rollback_restores_old_state(self, table, log):
        table.rollback(2)
        _assert_state_equals_oracle(table, log, hi=1200)
        h = table.history()
        assert h[-1]["operation"] == "rollback"
        assert h[-1]["rolled_back_to"] == 2
        # the rolled-past snapshots remain time-travelable until expired
        assert table.read(as_of_snapshot=4).count() > 0

    def test_rollback_reopens_batches_for_replay(self, spark, table, log, tmp_path):
        """Batches after the rollback target leave the idempotency
        ledger, so replaying the log re-applies exactly those and
        converges back to the full state (exactly-once interplay)."""
        table.rollback(2)
        assert table.committed_batches() == {"lsn-0-600", "lsn-600-1200"}
        cp = CheckpointStore(str(tmp_path / "cp2"))
        results = CdcPipeline(spark, table, cp, changelog=log).run(
            end_lsn=N_EVENTS, batch_size=600, start_lsn=0
        )
        skipped = [r.get("skipped", False) for r in results]
        assert skipped == [True, True, False, False]
        _assert_state_equals_oracle(table, log)

    def test_resume_after_rollback_reapplies_reopened_batches(
        self, spark, table, log, tmp_path
    ):
        """A plain resume (no start_lsn, the checkpoint dir the table was
        fed with) after rollback() picks up at the first reopened batch,
        not past it, and converges back to the full state."""
        table.rollback(2)
        pipe = CdcPipeline(spark, table, CheckpointStore(str(tmp_path / "cp")), changelog=log)
        assert pipe.resume_lsn() == 1200
        results = pipe.run(end_lsn=N_EVENTS, batch_size=600)
        assert [r.get("skipped", False) for r in results] == [False, False]
        _assert_state_equals_oracle(table, log)

    def test_resume_stops_at_first_ledger_gap(self, spark, log, tmp_path):
        t = create_transcripts_table(spark, str(tmp_path / "tg"), n_buckets=8)
        pipe = CdcPipeline(spark, t, CheckpointStore(str(tmp_path / "cpg")), changelog=log)
        pipe.run(end_lsn=600, batch_size=600)
        pipe.run(end_lsn=1800, batch_size=600, start_lsn=1200)
        assert pipe.resume_lsn() == 600
        pipe.run(end_lsn=N_EVENTS, batch_size=600)
        assert pipe.resume_lsn() == N_EVENTS
        _assert_state_equals_oracle(t, log)

    def test_rollback_unknown_snapshot_raises(self, table):
        with pytest.raises(KeyError):
            table.rollback(42)


class TestLookup:
    def test_point_lookup_matches_full_scan(self, table):
        full = table.read().toPandas()
        conv = full["conv_id"].iloc[0]
        got = normalize(table.lookup(conv).toPandas())
        want = normalize(full[full["conv_id"] == conv])
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    def test_lookup_missing_key_is_empty(self, table):
        assert table.lookup("conv-no-such-key").count() == 0

    def test_lookup_prunes_to_one_bucket(self, table):
        """After compaction the lookup plan's file scan covers exactly
        one bucket's files — strictly fewer than the full table's."""
        table.compact()
        conv = table.read().toPandas()["conv_id"].iloc[0]

        def path(p):
            return os.path.normpath(p.removeprefix("file:"))

        lookup_files = {path(p) for p in table.lookup(conv).inputFiles()}
        full_files = {path(p) for p in table.read().inputFiles()}
        files_by_bucket: dict[int, set] = {}
        for b, p, _sid in table.files():
            files_by_bucket.setdefault(b, set()).add(path(p))
        assert lookup_files < full_files
        assert any(lookup_files == fs for fs in files_by_bucket.values())
        assert table.lookup(conv).count() > 0

    def test_driver_bucket_matches_bucket_expr(self, spark):
        """`bucket_of` (the lookup's driver-side hash) equals the
        writer's `bucket_expr` for random keys of every supported key
        type and several layouts; other key types raise."""
        import random

        from pyspark.sql import functions as F

        from silk_spark.sources.lake import bucket_expr, bucket_of

        rng = random.Random(4242)
        alphabet = "abcxyz-_ 0189κόσμεß"
        keys = {
            "string": ["", "conv-00000001"]
            + ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 40))) for _ in range(150)],
            "int": [0, -1, 2**31 - 1, -(2**31)] + [rng.randint(-(2**31), 2**31 - 1) for _ in range(150)],
            "bigint": [0, -1, 2**63 - 1, -(2**63)] + [rng.randint(-(2**63), 2**63 - 1) for _ in range(150)],
        }
        for dtype, values in keys.items():
            df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], f"i int, k {dtype}")
            for n in (1, 7, 64, 4096):
                got = [bucket_of(v, dtype, n) for v in values]
                want = [r.b for r in df.orderBy("i").select(bucket_expr("k", n).alias("b")).collect()]
                assert got == want, (dtype, n)
        for dtype in ("double", "date", "timestamp", "binary"):
            with pytest.raises(TypeError):
                bucket_of(1, dtype, 8)
