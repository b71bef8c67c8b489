"""Time travel (`as_of_snapshot`), incremental changelog reads
(`read_changes`: Iceberg incremental append scan over MOR delta
files), and engine-level `snapshot_diff` — all pure metadata/manifests
work on immutable snapshots: no data is copied to look backwards."""

import os

import pandas as pd
import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table

from tests.conftest import final_state_oracle, normalize


@pytest.fixture(scope="module")
def log(spark):
    return changelog(spark, 2400, n_convs=40, turns_per_conv=8, seed=33)


def _slice(log, lo, hi):
    return log.filter((log.lsn >= lo) & (log.lsn < hi))


@pytest.fixture(scope="module", params=["mor"])
def table(request, spark, log, tmp_path_factory):
    """A table with 4 committed batches of 600 events."""
    root = str(tmp_path_factory.mktemp(f"tt_{request.param}"))
    t = create_transcripts_table(spark, os.path.join(root, "t"), n_buckets=8)
    cp = CheckpointStore(os.path.join(root, "cp"))
    CdcPipeline(spark, t, cp, changelog=log).run(end_lsn=2400, batch_size=600)
    return t


def test_history_lists_every_commit(table):
    h = table.history()
    assert [s["snapshot_id"] for s in h] == [1, 2, 3, 4]
    assert all("files" not in s for s in h)
    assert {s["batch_id"] for s in h} == {
        "lsn-0-600", "lsn-600-1200", "lsn-1200-1800", "lsn-1800-2400"
    }


def test_read_as_of_matches_prefix_replay(spark, table, log):
    """State at snapshot k == oracle replay of the first k batches."""
    for k, hi in [(1, 600), (2, 1200), (3, 1800)]:
        got = normalize(table.read(as_of_snapshot=k).toPandas())
        want = normalize(final_state_oracle(_slice(log, 0, hi).toPandas()))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_read_as_of_current_equals_read(table):
    cur = table.meta["current_snapshot_id"]
    a = normalize(table.read().toPandas())
    b = normalize(table.read(as_of_snapshot=cur).toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_as_of_unknown_snapshot_raises(table):
    with pytest.raises(KeyError):
        table.read(as_of_snapshot=99)


def test_read_changes_is_exact_batch_slice(spark, table, log):
    """Files added in (1, 3] hold exactly the change events of
    batches 2 and 3 (the incremental-scan contract)."""
    got = table.read_changes(1, 3).toPandas()
    # the pipeline projects off changelog bookkeeping (offset,
    # schema_version) before merge — compare on the table columns
    want = _slice(log, 600, 1800).drop("offset", "schema_version").toPandas()
    cols = sorted(set(want.columns) & set(got.columns))
    assert set(cols) >= {"conv_id", "turn_idx", "role", "text", "ts", "lsn", "op"}
    pd.testing.assert_frame_equal(
        got[cols].sort_values("lsn").reset_index(drop=True),
        want[cols].sort_values("lsn").reset_index(drop=True),
        check_dtype=False,
    )


def test_read_changes_empty_range(table):
    assert table.read_changes(2, 2).count() == 0


def test_read_changes_rejects_rewrites(spark, table):
    table.compact()
    with pytest.raises(ValueError, match="snapshot_diff"):
        table.read_changes(4)  # compact snapshot (5) is in range
    # ...but ranges entirely before the compact still work
    assert table.read_changes(3, 4).count() == 600


def test_snapshot_diff_tracks_inserts_updates_deletes(spark, table, log):
    """Diff 1 -> 4 == comparing the two oracle states key-by-key."""
    diff = table.snapshot_diff(1, 4).toPandas()
    old = final_state_oracle(_slice(log, 0, 600).toPandas())
    new = final_state_oracle(_slice(log, 0, 2400).toPandas())
    ok = {(r.conv_id, r.turn_idx) for r in old.itertuples()}
    nk = {(r.conv_id, r.turn_idx) for r in new.itertuples()}
    oldmap = {(r.conv_id, r.turn_idx): r.text for r in old.itertuples()}
    newmap = {(r.conv_id, r.turn_idx): r.text for r in new.itertuples()}
    want_i = nk - ok
    want_d = ok - nk
    want_u = {k for k in ok & nk if oldmap[k] != newmap[k]}
    got = {(r.conv_id, r.turn_idx): r._3 for r in diff[["conv_id", "turn_idx", "_change_type"]].itertuples()}
    assert {k for k, v in got.items() if v == "I"} == want_i
    assert {k for k, v in got.items() if v == "D"} == want_d
    # U keys by text change are a subset of all U (ts/lsn also change)
    assert want_u <= {k for k, v in got.items() if v == "U"}
    # before/after carry the actual row images
    for r in diff.itertuples():
        k = (r.conv_id, r.turn_idx)
        if r._3 == "D":
            assert r.after is None and r.before["text"] == oldmap[k]
        elif r._3 == "I":
            assert r.before is None and r.after["text"] == newmap[k]


def test_snapshot_diff_self_is_empty(table):
    assert table.snapshot_diff(2, 2).count() == 0
