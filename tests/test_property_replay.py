"""Property-based replay equality (hypothesis).

The reference pins merge semantics with hand-picked logs; these
properties assert them for ARBITRARY adversarial logs — key
collisions, same-timestamp races decided by lsn, delete-then-revive
chains, every batch split:

  * final table state == single-pass pandas oracle, for BOTH merge
    modes (COW bucket rewrite, MOR delta + scan-time resolve);
  * batching invariance: any batch_size produces the same state;
  * latest_by_key (the dedup window) == pandas max-by reduction.

Logs are tiny (<= 60 events over a 4x3 key grid) so each example is
seconds; adversarial coverage comes from hypothesis' shrinking search,
not volume.
"""

from __future__ import annotations

import shutil
import tempfile

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from silk_spark.checkpoint import CheckpointStore
from silk_spark.operators.dedup import latest_by_key
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table
from tests.conftest import final_state_oracle, normalize

# one event: (conv 0-3, turn 0-2, op, ts-offset 0-5, text-token 0-2)
_EVENT = st.tuples(
    st.integers(0, 3),
    st.integers(0, 2),
    st.sampled_from(["I", "U", "D"]),
    st.integers(0, 5),
    st.integers(0, 2),
)

_LOG = st.lists(_EVENT, min_size=1, max_size=60)

_EPOCH = pd.Timestamp("2024-01-01")


def _log_pdf(events: list[tuple]) -> pd.DataFrame:
    rows = []
    for lsn, (conv, turn, op, ts_off, tok) in enumerate(events):
        dele = op == "D"
        rows.append(
            {
                "lsn": lsn,
                "offset": lsn,
                "op": op,
                "conv_id": f"conv-{conv:08d}",
                "turn_idx": turn,
                "role": None if dele else "user",
                "text": None if dele else f"text token-{tok}",
                "tool": None,
                # deliberately NON-monotone in lsn: same-ts races must
                # be decided by the lsn tie-break
                "ts": _EPOCH + pd.Timedelta(seconds=ts_off),
                "schema_version": 1,
            }
        )
    return pd.DataFrame(rows)


def _log_df(spark, pdf: pd.DataFrame):
    return spark.createDataFrame(
        pdf,
        schema="lsn long, offset long, op string, conv_id string, turn_idx int, "
        "role string, text string, tool string, ts timestamp, schema_version int",
    )


def _replay(spark, log_df, n_events: int, batch_size: int) -> pd.DataFrame:
    root = tempfile.mkdtemp(prefix="silk_prop_")
    try:
        table = create_transcripts_table(spark, f"{root}/t", n_buckets=4)
        pipe = CdcPipeline(spark, table, CheckpointStore(f"{root}/cp"), changelog=log_df)
        pipe.run(end_lsn=n_events, batch_size=batch_size)
        return normalize(table.read().toPandas())
    finally:
        shutil.rmtree(root, ignore_errors=True)


@pytest.mark.usefixtures("spark")
class TestReplayProperties:
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(events=_LOG)
    def test_replay_any_log_matches_oracle(self, spark, events):
        pdf = _log_pdf(events)
        # batch split chosen from the log itself so shrinking explores
        # 1-event batches and the one-shot apply alike
        batch_size = max(1, len(events) // 3)
        got = _replay(spark, _log_df(spark, pdf), len(events), batch_size)
        want = final_state_oracle(pdf)
        # check_dtype=False: Spark round-trips turn_idx as int32, the
        # hand-built pandas oracle as int64 — values are the contract
        pd.testing.assert_frame_equal(got, want, check_dtype=False)

    @settings(
        max_examples=20,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(events=_LOG)
    def test_latest_by_key_matches_pandas(self, spark, events):
        """The dedup window alone (no table I/O): max-by-(ts, lsn) per
        key over an arbitrary log equals the pandas reduction."""
        pdf = _log_pdf(events)
        got = (
            latest_by_key(_log_df(spark, pdf), keys=("conv_id", "turn_idx"), order=("ts", "lsn"))
            .toPandas()
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        want = (
            pdf.sort_values(["ts", "lsn"], kind="mergesort")
            .drop_duplicates(subset=["conv_id", "turn_idx"], keep="last")
            .sort_values(["conv_id", "turn_idx"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(
            got[["conv_id", "turn_idx", "lsn", "op", "text"]],
            want[["conv_id", "turn_idx", "lsn", "op", "text"]],
            check_dtype=False,
        )


@pytest.mark.usefixtures("spark")
class TestCrashResumeProperty:
    @settings(
        max_examples=6,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        events=_LOG,
        stop_after=st.integers(0, 5),
        dup_tail=st.booleans(),
    )
    def test_crash_resume_any_point_matches_oracle(
        self, spark, events, stop_after, dup_tail
    ):
        """Crash after an ARBITRARY number of batches, resume with a
        FRESH pipeline + table handle (checkpoint-driven), optionally
        replay a duplicate tail on top (at-least-once upstream): the
        final state must equal the single-pass oracle and the
        duplicate tail must be skipped batch-for-batch."""
        import os

        pdf = _log_pdf(events)
        n = len(events)
        batch_size = max(1, n // 4)
        log_df = _log_df(spark, pdf)
        root = tempfile.mkdtemp(prefix="silk_prop_cr_")
        try:
            table = create_transcripts_table(spark, os.path.join(root, "t"), n_buckets=4)
            cp = CheckpointStore(os.path.join(root, "cp"))
            CdcPipeline(spark, table, cp, changelog=log_df).run(
                end_lsn=n, batch_size=batch_size, stop_after=stop_after or None
            )
            # fresh handles: resume must come from the checkpoint alone
            from silk_spark.sources.lake import LakeTable

            t2 = LakeTable(spark, os.path.join(root, "t"))
            CdcPipeline(spark, t2, cp, changelog=log_df).run(
                end_lsn=n, batch_size=batch_size
            )
            if dup_tail:
                dup = CdcPipeline(spark, t2.refresh(), cp, changelog=log_df).run(
                    end_lsn=n, batch_size=batch_size, start_lsn=0
                )
                assert all(r.get("skipped") for r in dup)
            got = normalize(t2.refresh().read().toPandas())
            want = final_state_oracle(pdf)
            pd.testing.assert_frame_equal(got, want, check_dtype=False)
        finally:
            shutil.rmtree(root, ignore_errors=True)
