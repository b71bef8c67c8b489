"""Snapshot tags: durable named refs (Iceberg tag semantics).

Tags pin snapshots against expiry and resolve anywhere a snapshot id
is accepted (scan/read, read_changes, snapshot_diff).
"""

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table
from tests.conftest import normalize

N_EVENTS = 2000


@pytest.fixture()
def table(spark, tmp_path):
    log = changelog(spark, N_EVENTS, n_convs=40, turns_per_conv=6, seed=11)
    t = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    pipe = CdcPipeline(spark, t, CheckpointStore(str(tmp_path / "cp")), changelog=log)
    pipe.run(end_lsn=N_EVENTS, batch_size=500)  # 4 snapshots
    return t


class TestTags:
    def test_tag_and_read_by_name(self, spark, table):
        snaps = [s["snapshot_id"] for s in table.history()]
        mid = snaps[1]
        res = table.tag("validated", mid)
        assert res == {"tag": "validated", "snapshot_id": mid}
        assert table.tags() == {"validated": mid}
        pd.testing.assert_frame_equal(
            normalize(table.read(as_of_snapshot="validated").toPandas()),
            normalize(table.read(as_of_snapshot=mid).toPandas()),
        )

    def test_tag_defaults_to_current(self, spark, table):
        cur = table.meta["current_snapshot_id"]
        assert table.tag("head")["snapshot_id"] == cur

    def test_expiry_retains_tagged_snapshot(self, spark, table):
        snaps = [s["snapshot_id"] for s in table.history()]
        old = snaps[0]
        table.tag("pinned", old)
        state = normalize(table.read(as_of_snapshot="pinned").toPandas())
        table.expire_snapshots(keep_last=1)
        left = {s["snapshot_id"] for s in table.history()}
        assert old in left  # pinned survived
        assert snaps[1] not in left  # untagged middle snapshot expired
        pd.testing.assert_frame_equal(
            normalize(table.read(as_of_snapshot="pinned").toPandas()), state
        )
        # drop the tag -> next expiry reclaims it
        table.delete_tag("pinned")
        table.expire_snapshots(keep_last=1)
        assert old not in {s["snapshot_id"] for s in table.history()}
        with pytest.raises(KeyError):
            table.read(as_of_snapshot="pinned")

    def test_diff_and_changes_accept_tags(self, spark, table):
        snaps = [s["snapshot_id"] for s in table.history()]
        table.tag("a", snaps[0])
        table.tag("b", snaps[-1])
        d1 = table.snapshot_diff("a", "b").count()
        d2 = table.snapshot_diff(snaps[0], snaps[-1]).count()
        assert d1 == d2
        c1 = table.read_changes("a", "b").count()
        c2 = table.read_changes(snaps[0], snaps[-1]).count()
        assert c1 == c2 > 0

    def test_unknown_tag_and_retag(self, spark, table):
        with pytest.raises(KeyError):
            table.read(as_of_snapshot="nope")
        with pytest.raises(KeyError):
            table.delete_tag("nope")
        snaps = [s["snapshot_id"] for s in table.history()]
        table.tag("t", snaps[0])
        table.tag("t", snaps[1])  # retag moves the ref
        assert table.tags()["t"] == snaps[1]
