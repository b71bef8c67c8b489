"""Optimistic multi-writer commits: the CAS on the versioned metadata
doc (io.py try_create) must let exactly one of two racing writers win,
fail the loser cleanly (no clobber), and let a retry re-apply on top.
Mirrors Iceberg's HadoopTableOperations commit protocol."""

import os

import pandas as pd
import pytest

from silk_spark.datagen import changelog
from silk_spark.sources.io import (
    CommitConflictError,
    InMemoryMetadataIO,
    LocalMetadataIO,
)
from silk_spark.sources.lake import LakeTable
from silk_spark.streaming.pipeline import create_transcripts_table

from tests.conftest import final_state_oracle, normalize


@pytest.fixture(scope="module")
def log(spark):
    return changelog(spark, 1200, n_convs=30, turns_per_conv=6, seed=77)


def _slice(log, lo, hi):
    return log.filter((log.lsn >= lo) & (log.lsn < hi))


# ---------- backend unit semantics ----------


@pytest.mark.parametrize("backend", ["local", "memory"])
def test_try_create_is_create_if_absent(tmp_path, backend):
    io = LocalMetadataIO(str(tmp_path / "m")) if backend == "local" else InMemoryMetadataIO()
    assert io.try_create("v1.metadata.json", "first") is True
    assert io.try_create("v1.metadata.json", "second") is False
    # loser must not have clobbered the winner's document
    assert io.read("v1.metadata.json") == "first"
    # unconditional publish still works for the hint file
    io.write_atomic("version-hint.text", "1")
    io.write_atomic("version-hint.text", "2")
    assert io.read("version-hint.text") == "2"


# ---------- two-writer table races ----------


def _two_handles(spark, root, meta_io=None):
    t1 = create_transcripts_table(spark, root, n_buckets=4, meta_io=meta_io)
    t2 = LakeTable(spark, root, meta_io=meta_io if meta_io is not None else None)
    t2.refresh()  # both handles now hold version 0
    return t1, t2


def test_second_committer_fails_cleanly_not_clobbers(spark, log, tmp_path_factory):
    root = os.path.join(str(tmp_path_factory.mktemp("cas")), "t")
    t1, t2 = _two_handles(spark, root)
    t1.merge_batch(_slice(log, 0, 400), batch_id="b0")
    with pytest.raises(CommitConflictError):
        t2.merge_batch(_slice(log, 400, 800), batch_id="b1")
    # the winner's commit is intact: state == oracle of events [0, 400)
    want = normalize(final_state_oracle(_slice(log, 0, 400).toPandas()))
    got = normalize(t1.refresh().read().toPandas())
    pd.testing.assert_frame_equal(got, want)
    # loser recovers with refresh + re-apply; both batches now present
    t2.refresh()
    t2.merge_batch(_slice(log, 400, 800), batch_id="b1")
    want = normalize(final_state_oracle(_slice(log, 0, 800).toPandas()))
    got = normalize(t2.refresh().read().toPandas())
    pd.testing.assert_frame_equal(got, want)


def test_commit_retries_auto_resolve(spark, log, tmp_path_factory):
    store = InMemoryMetadataIO()
    root = os.path.join(str(tmp_path_factory.mktemp("cas_retry")), "t")
    t1, t2 = _two_handles(spark, root, meta_io=store)
    t1.merge_batch(_slice(log, 0, 400), batch_id="b0")
    # stale handle, but commit_retries lets it refresh + re-apply itself
    summary = t2.merge_batch(_slice(log, 400, 800), batch_id="b1", commit_retries=2)
    assert not summary.get("skipped")
    want = normalize(final_state_oracle(_slice(log, 0, 800).toPandas()))
    got = normalize(t1.refresh().read().toPandas())
    pd.testing.assert_frame_equal(got, want)
    # the retry re-applied the caller's frame: the `_bucket` layout
    # column leaks into neither the schema nor the changelog read
    assert "_bucket" not in t1.schema.names()
    assert sorted(t1.read_changes(1).columns) == sorted(log.columns)


def test_retry_skips_already_committed_batch_id(spark, log, tmp_path_factory):
    """If the conflicting commit WAS this batch (e.g. a speculatively
    re-run driver), the retry lands on the idempotency check and skips."""
    root = os.path.join(str(tmp_path_factory.mktemp("cas_idem")), "t")
    t1, t2 = _two_handles(spark, root)
    t1.merge_batch(_slice(log, 0, 400), batch_id="b0")
    summary = t2.merge_batch(_slice(log, 0, 400), batch_id="b0", commit_retries=1)
    assert summary.get("skipped")
    assert len(t2.meta["snapshots"]) == 1


def test_stale_hint_forward_probe(spark, log, tmp_path_factory):
    """A committer that crashed between the CAS and the hint write must
    not hide its (committed) version: readers probe forward."""
    root = os.path.join(str(tmp_path_factory.mktemp("cas_hint")), "t")
    t = create_transcripts_table(spark, root, n_buckets=4)
    t.merge_batch(_slice(log, 0, 400), batch_id="b0")
    t.merge_batch(_slice(log, 400, 800), batch_id="b1")
    # simulate the crash window: hint rolled back to v0
    t.meta_io.write_atomic("version-hint.text", "0")
    fresh = LakeTable(spark, root)
    assert fresh.meta["current_snapshot_id"] == 2
    assert set(fresh.committed_batches()) == {"b0", "b1"}
    # and the NEXT commit from the recovered state does not collide
    fresh.merge_batch(_slice(log, 800, 1200), batch_id="b2")
    want = normalize(final_state_oracle(_slice(log, 0, 1200).toPandas()))
    got = normalize(fresh.refresh().read().toPandas())
    pd.testing.assert_frame_equal(got, want)


# ---------- two real OS processes racing through the filesystem CAS ----------

_WRITER_CODE = """
import os, sys, time, json
sys.path.insert(0, {repo!r})
from silk_spark.session import get_spark
from silk_spark.sources.lake import LakeTable

root, wid, log_path, lo, hi, step = (
    sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]), int(sys.argv[5]), int(sys.argv[6])
)
spark = get_spark(f"cas-writer-{{wid}}", cpus=2, shuffle_partitions=4)
t = LakeTable(spark, root)
log = spark.read.parquet(log_path)
# barrier: both writers loaded Spark + the table before either commits,
# so the commit loops genuinely overlap
open(os.path.join(root, f"ready-{{wid}}"), "w").close()
while not os.path.exists(os.path.join(root, "go")):
    time.sleep(0.05)
applied = []
for b_lo in range(lo, hi, step):
    batch = log.filter((log.lsn >= b_lo) & (log.lsn < b_lo + step))
    s = t.merge_batch(batch, batch_id=f"{{wid}}-{{b_lo}}", commit_retries=20)
    applied.append({{"batch": f"{{wid}}-{{b_lo}}", "skipped": bool(s.get("skipped")),
                    "snapshot": s.get("snapshot_id")}})
print("@OK@" + json.dumps(applied), flush=True)
spark.stop()
"""


def test_two_process_cas_race(spark, tmp_path_factory):
    """Two real OS processes (separate JVMs, separate table handles)
    interleave merge commits against ONE table directory through the
    filesystem CAS. Exactly one writer wins each metadata version
    (link(2) create-if-absent), every loser's retry lands via
    refresh + re-apply, and the final state equals the single-writer
    oracle over all batches."""
    import subprocess
    import sys

    base = str(tmp_path_factory.mktemp("cas_proc"))
    root = os.path.join(base, "t")
    log = changelog(spark, 1600, n_convs=40, turns_per_conv=6, seed=13)
    log_path = os.path.join(base, "log")
    log.write.parquet(log_path)
    create_transcripts_table(spark, root, n_buckets=4)

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = _WRITER_CODE.format(repo=repo)
    procs = {
        wid: subprocess.Popen(
            [sys.executable, "-c", code, root, wid, log_path, str(lo), str(800 + lo), "200"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        )
        for wid, lo in (("a", 0), ("b", 800))
    }
    import time as _time

    deadline = _time.monotonic() + 240
    while _time.monotonic() < deadline and not all(
        os.path.exists(os.path.join(root, f"ready-{w}")) for w in procs
    ):
        _time.sleep(0.2)
    open(os.path.join(root, "go"), "w").close()
    results = {}
    for wid, p in procs.items():
        out, err = p.communicate(timeout=240)
        assert p.returncode == 0, f"writer {wid} failed:\n{err[-3000:]}"
        payload = [l for l in out.splitlines() if l.startswith("@OK@")]
        assert payload, f"writer {wid} produced no result:\n{err[-2000:]}"
        import json

        results[wid] = json.loads(payload[0][len("@OK@"):])

    # no writer's batch was skipped (disjoint ids) and all 8 landed
    t = LakeTable(spark, root)
    ledger = set(t.meta["committed_batches"])
    for wid, applied in results.items():
        assert all(not a["skipped"] for a in applied)
        assert {a["batch"] for a in applied} <= ledger
    assert len(ledger) == 8

    # exactly one winner per metadata version: the CAS files are the
    # versions themselves; contiguous, no gaps, one per commit
    metas = sorted(
        int(f[1:].split(".")[0])
        for f in os.listdir(os.path.join(root, "metadata"))
        if f.startswith("v") and f.endswith(".metadata.json")
    )
    assert metas == list(range(metas[0], metas[0] + len(metas)))  # v0 = create
    # snapshots form one linear parent chain (no forks survived)
    snaps = t.meta["snapshots"]
    ids = [s["snapshot_id"] for s in snaps]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)
    for prev, s in zip(snaps, snaps[1:]):
        assert s["parent_id"] == prev["snapshot_id"]

    # final state == single-writer oracle over the full log
    want = normalize(final_state_oracle(log.toPandas()))
    got = normalize(t.read().toPandas())
    pd.testing.assert_frame_equal(got, want)


# ---------- a crash between the data write and the metadata CAS ----------


class CrashBeforeCasIO(LocalMetadataIO):
    """Local metadata IO whose next try_create, once armed, raises
    instead of creating: a committer that dies after writing its data
    files and before the CAS that would publish them."""

    armed = False

    def try_create(self, name: str, text: str) -> bool:
        if self.armed:
            self.armed = False
            raise OSError(f"injected crash before the CAS of {name}")
        return super().try_create(name, text)


def _parquet_files(root):
    return {
        os.path.join(dp, f)
        for dp, _dn, fn in os.walk(os.path.join(root, "data"))
        for f in fn
        if f.endswith(".parquet")
    }


@pytest.mark.parametrize("mode", ["mor"])
def test_crash_between_data_write_and_cas(spark, log, tmp_path_factory, mode):
    """The torn commit leaves the table, its ledger and verify()
    untouched; a resumed pipeline applies the batch exactly once; and
    remove_orphans() deletes exactly the torn commit's files."""
    from silk_spark.streaming.pipeline import CdcPipeline

    base = str(tmp_path_factory.mktemp(f"torn_{mode}"))
    root = os.path.join(base, "t")
    io = CrashBeforeCasIO(os.path.join(root, "metadata"))
    t = create_transcripts_table(spark, root, n_buckets=8, meta_io=io)
    CdcPipeline(spark, t, None, changelog=log).run(end_lsn=1200, batch_size=400, stop_after=1)
    before_meta = LakeTable(spark, root).meta
    before_files = _parquet_files(root)

    io.armed = True
    with pytest.raises(OSError, match="injected crash"):
        CdcPipeline(spark, t, None, changelog=log).run(end_lsn=1200, batch_size=400)
    torn = _parquet_files(root) - before_files
    assert torn  # the data write ran before the failed CAS

    fresh = LakeTable(spark, root)
    assert fresh.meta == before_meta
    assert t.meta == before_meta
    assert fresh.verify()["ok"]
    got = normalize(fresh.read().toPandas())
    pd.testing.assert_frame_equal(got, normalize(final_state_oracle(_slice(log, 0, 400).toPandas())))

    pipe = CdcPipeline(spark, t.refresh(), None, changelog=log)
    assert pipe.resume_lsn() == 400
    applied = pipe.run(end_lsn=1200, batch_size=400)
    assert [s["batch_id"] for s in applied] == ["lsn-400-800", "lsn-800-1200"]
    assert not any(s.get("skipped") for s in applied)
    ledger = LakeTable(spark, root).meta["committed_batches"]
    assert ledger == ["lsn-0-400", "lsn-400-800", "lsn-800-1200"]
    want = normalize(final_state_oracle(log.toPandas()))
    pd.testing.assert_frame_equal(normalize(t.read().toPandas()), want)

    live = _parquet_files(root) - torn
    assert t.remove_orphans() == {"files_deleted": len(torn)}
    assert _parquet_files(root) == live
    assert t.verify(check_all_snapshots=True)["ok"]
    pd.testing.assert_frame_equal(normalize(t.read().toPandas()), want)
