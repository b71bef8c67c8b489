"""`LakeTable.files`, the one reader of the file manifest, is also its
one format check. A manifest it cannot read makes every read raise
ValueError instead of skipping files (a bucket-pruned read would
silently drop their rows), and `verify()` reports it without raising.

Hand-edited metadata docs, each applied to every snapshot of a healthy
4-bucket MOR table: a bucket key that is neither a bucket "<b>" nor an
inclusive range "<lo>-<hi>" of the layout (the removed unpartitioned
"*" deltas, lo > hi, hi past the last bucket, a non-numeric bound), a
bare-string entry, a snapshot without `n_buckets`."""

import json
import re

import pytest

from silk_spark.checkpoint import CheckpointStore
from silk_spark.datagen import changelog
from silk_spark.sources.io import InMemoryMetadataIO
from silk_spark.sources.lake import LakeTable
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table


def _bucket_key(key: str):
    def edit(snap: dict) -> dict:
        files = dict(snap["files"])
        files[key] = files.pop(next(iter(files)))
        return {**snap, "files": files}

    return edit


def _bare_string_entry(snap: dict) -> dict:
    files = dict(snap["files"])
    b = next(iter(files))
    files[b] = [files[b][0][0]] + files[b][1:]
    return {**snap, "files": files}


def _no_n_buckets(snap: dict) -> dict:
    return {k: v for k, v in snap.items() if k != "n_buckets"}


CORRUPTIONS = {
    "star_bucket_key": (_bucket_key("*"), "manifest key '\\*' is not a bucket"),
    "range_lo_above_hi": (_bucket_key("3-1"), "manifest key '3-1' is not a bucket"),
    "range_past_last_bucket": (_bucket_key("2-4"), "manifest key '2-4' is not a bucket"),
    "range_non_numeric_bound": (_bucket_key("0-x"), "manifest key '0-x' is not a bucket"),
    "bare_string_entry": (_bare_string_entry, "is not \\[path, schema_id\\]"),
    "no_n_buckets": (_no_n_buckets, "records no bucket count"),
}


@pytest.fixture(scope="module")
def source(spark, tmp_path_factory):
    """A healthy 4-bucket MOR table of three delta commits."""
    root = tmp_path_factory.mktemp("manifest_format")
    log = changelog(spark, 1200, n_convs=30, turns_per_conv=6, seed=5)
    t = create_transcripts_table(spark, str(root / "t"), n_buckets=4)
    CdcPipeline(spark, t, CheckpointStore(str(root / "cp")), changelog=log).run(
        end_lsn=1200, batch_size=400
    )
    return t


def _handle(spark, source, edit=None) -> LakeTable:
    """A handle on the source table's data whose metadata doc (in an
    in-memory store) has `edit` applied to every snapshot."""
    meta = json.loads(json.dumps(source.meta))
    if edit is not None:
        meta["snapshots"] = [edit(s) for s in meta["snapshots"]]
    store = InMemoryMetadataIO()
    store.try_create("v0.metadata.json", json.dumps(meta))
    store.write_atomic("version-hint.text", "0")
    return LakeTable(spark, source.root, meta_io=store)


def test_healthy_manifest_reads(spark, source):
    t = _handle(spark, source)
    first = t.history()[0]["snapshot_id"]
    conv = t.read().first()["conv_id"]
    assert t.scan().count() > 0
    assert t.lookup(conv).count() > 0
    assert t.read_changes(first).count() > 0
    assert t.verify(check_all_snapshots=True)["ok"]


@pytest.mark.parametrize("corruption", sorted(CORRUPTIONS))
def test_unreadable_manifest_raises_and_verify_reports(spark, source, corruption):
    edit, message = CORRUPTIONS[corruption]
    t = _handle(spark, source, edit)
    first = t.history()[0]["snapshot_id"]
    with pytest.raises(ValueError, match=message):
        t.scan()
    with pytest.raises(ValueError, match=message):
        t.scan(buckets=[0])
    with pytest.raises(ValueError, match=message):
        t.lookup("conv-00000001")
    with pytest.raises(ValueError, match=message):
        t.read_changes(first)
    for check_all in (False, True):
        res = t.verify(check_all_snapshots=check_all)
        assert not res["ok"]
        assert any(re.search(message, e) for e in res["errors"]), res["errors"]


def test_read_changes_rejects_copy_on_write_merges(spark, source):
    """A "merge" snapshot, which copy-on-write tables of earlier
    versions committed, rewrote its buckets' files: its added files are
    not the batch's change rows, so read_changes must refuse it."""
    t = _handle(spark, source, lambda s: {**s, "operation": "merge"})
    with pytest.raises(ValueError, match="snapshot_diff"):
        t.read_changes(t.history()[0]["snapshot_id"])
