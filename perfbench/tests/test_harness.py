"""Self-tests of the benchmark harness.

    python3 -m pytest perfbench/tests -q

The percentile rule and the oracle need only DuckDB; the log and
reconcile tests start a small local Spark session."""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path[:0] = [BENCH, os.path.dirname(BENCH)]

import harness  # noqa: E402
import oracle  # noqa: E402


# ---------- percentiles ----------


def test_median_reports_sample_count():
    assert harness.percentile([3.0, 1.0, 2.0], 50) == {"value": 2.0, "n": 3}


def test_p90_needs_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    p90 = harness.percentile(values, 90)
    assert p90 == {"value": 90.0, "n": 100}
    assert sum(v > p90["value"] for v in values) == harness.MIN_BEYOND
    with pytest.raises(ValueError):
        harness.percentile(values[:99], 90)


def test_p90_of_few_samples_falls_back_to_marked_max():
    values = [3.0, 1.0, 2.0, 5.0]
    with pytest.raises(ValueError):
        harness.percentile(values, 90)
    assert harness.percentile(values, 90, or_max=True) == {"value": 5.0, "n": 4, "stat": "max"}


def test_percentile_rejects_no_samples():
    with pytest.raises(ValueError):
        harness.percentile([], 50)


# ---------- tracer ----------


def test_tracer_self_time_excludes_children():
    tr = harness.Tracer()
    tr.enabled = True
    tr.batch = "c0"
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"] and inner["batch"] == "c0"
    child = inner["end"] - inner["start"]
    assert tr.self_time(outer) == pytest.approx(outer["end"] - outer["start"] - child)


def test_disabled_tracer_records_nothing():
    tr = harness.Tracer()
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


# ---------- oracle ----------

LOG_ROWS = [
    # lsn, op, conv_id, turn_idx, role, text, tool, ts (seconds)
    (0, "I", "conv-1", 0, "user", "turn 0 of conversation 1: a b c d", None, 10),
    (1, "I", "conv-1", 1, "assistant", "turn 1 of conversation 1: e f g h", None, 11),
    (2, "U", "conv-1", 0, "user", "turn 0 of conversation 1: a b c d!", None, 12),
    (3, "I", "conv-2", 0, "user", "turn 0 of conversation 2: a a a a", "search", 13),
    (4, "D", "conv-1", 1, None, None, None, 14),
    # jittered ts: lsn 5 is older than lsn 3 and must lose
    (5, "U", "conv-2", 0, "user", "stale", None, 9),
]


@pytest.fixture()
def con(tmp_path):
    c = oracle.connect(str(tmp_path), 1)
    c.execute(
        "CREATE TABLE log AS SELECT lsn, op, conv_id, turn_idx, role, text, tool, "
        "to_timestamp(ts)::TIMESTAMP AS ts FROM (VALUES "
        + ", ".join(
            "(" + ", ".join("NULL" if v is None else repr(v) for v in r) + ")" for r in LOG_ROWS
        )
        + ") AS t(lsn, op, conv_id, turn_idx, role, text, tool, ts)"
    )
    return c


def _expected(con):
    return con.execute(oracle.expected_latest()).fetch_arrow_table()


def test_oracle_keeps_latest_and_drops_tombstones(con):
    rows = _expected(con).to_pylist()
    assert sorted((r["conv_id"], r["turn_idx"], r["lsn"]) for r in rows) == [
        ("conv-1", 0, 2),
        ("conv-2", 0, 3),
    ]


def test_oracle_accepts_matching_table(con):
    got = _expected(con)
    assert oracle.compare(con, got, oracle.expected_latest())["ok"]


def test_oracle_flags_one_altered_row(con):
    got = _expected(con).to_pylist()
    got[0]["text"] = got[0]["text"] + "?"
    import pyarrow as pa

    res = oracle.compare(con, pa.Table.from_pylist(got), oracle.expected_latest())
    assert not res["ok"] and res["missing"] == 1 and res["extra"] == 1


def test_reconcile_reference_remaps_near_duplicate_turn(con):
    # within one batch, turn 1's text is one edit from turn 0's, so
    # the record moves onto turn 0 and, being newer, wins there
    con.execute(
        "INSERT INTO log VALUES (6, 'I', 'conv-3', 0, 'user', 'same text', NULL, "
        "TIMESTAMP '2000-01-01'), (7, 'I', 'conv-3', 1, 'user', 'same text!', NULL, "
        "TIMESTAMP '2000-01-02')"
    )
    sql = oracle.expected_reconciled(con, [(0, 6), (6, 8)])
    rows = con.execute(f"SELECT conv_id, turn_idx, lsn FROM ({sql}) WHERE conv_id = 'conv-3'").fetchall()
    assert rows == [("conv-3", 0, 7)]
    # across batches nothing is remapped
    sql = oracle.expected_reconciled(con, [(0, 7), (7, 8)])
    rows = con.execute(
        f"SELECT conv_id, turn_idx, lsn FROM ({sql}) WHERE conv_id = 'conv-3' ORDER BY lsn"
    ).fetchall()
    assert rows == [("conv-3", 0, 6), ("conv-3", 1, 7)]


# ---------- log digest ----------


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from silk_spark.session import get_spark

    tmp = tmp_path_factory.mktemp("spark")
    session = get_spark(
        "perfbench-selftest",
        cpus=2,
        shuffle_partitions=2,
        extra_conf={"spark.local.dir": str(tmp)},
    )
    yield session
    session.stop()


def _digest(spark, root, seed):
    import workloads

    log = workloads.ChangeLog(spark, str(root), seed, schema_cut_lsn=1_000)
    log.extend(2_000)
    con = oracle.connect(str(root), 1)
    return oracle.log_digest(con, log.files())


def test_same_seed_same_digest_other_seed_other_digest(spark, tmp_path):
    import workloads

    a = _digest(spark, tmp_path / "a", 7)
    b = _digest(spark, tmp_path / "b", 7)
    c = _digest(spark, tmp_path / "c", 8)
    assert a == b
    assert a != c
    assert a.startswith(f"{workloads.FILE_ROWS}:")


# ---------- near-duplicates and the reconcile reference ----------


def _remapped(con) -> int:
    """Records the reference moved to another turn."""
    return con.execute(
        "SELECT count(*) FROM remapped JOIN log USING (lsn) "
        "WHERE remapped.turn_idx <> log.turn_idx"
    ).fetchone()[0]


def test_near_dups_restate_previous_event_one_turn_later():
    import pyarrow as pa
    import workloads

    n = 20 * workloads.NEAR_DUP_EVERY
    log = pa.table(
        {
            "lsn": pa.array(range(n), pa.int64()),
            "op": ["I"] * n,
            "conv_id": [f"conv-{i:08d}" for i in range(n)],
            "turn_idx": pa.array([i % 7 for i in range(n)], pa.int32()),
            "text": [f"text {i}" for i in range(n)],
        }
    )
    out = workloads.near_dups(log, seed=5).to_pylist()
    changed = [i for i, (a, b) in enumerate(zip(log.to_pylist(), out)) if a != b]
    assert changed
    for i in changed:
        prev = out[i - 1]
        assert out[i]["conv_id"] == prev["conv_id"]
        assert out[i]["turn_idx"] == prev["turn_idx"] + 1
        assert out[i]["text"] == prev["text"] + "~"
    assert workloads.near_dups(log, seed=5) == workloads.near_dups(log, seed=5)


def _batch(spark, records):
    """near_dup_turns records as one change-log batch of inserts."""
    from pyspark.sql import functions as F

    rows = records.orderBy("rec_id").select("conv_id", "turn_idx", "text").collect()
    return spark.createDataFrame(
        [
            (i, "I", r.conv_id, r.turn_idx, "user", r.text, None, 1_000 + i)
            for i, r in enumerate(rows)
        ],
        "lsn bigint, op string, conv_id string, turn_idx int, role string, text string, "
        "tool string, ts_s bigint",
    ).select("*", F.timestamp_seconds("ts_s").alias("ts")).drop("ts_s")


def test_reconcile_matches_reference_on_true_pairs(spark, tmp_path):
    # the program's remap on the join-and-score fixture, whose pairs
    # are true near-duplicates, against the reference replay; an
    # identity reconcile must be flagged
    from silk_spark.datagen import near_dup_turns
    from silk_spark.operators.reconcile import reconcile_near_dups

    records, _ = near_dup_turns(spark, n_pairs=60, n_distractors=120, seed=3)
    batch = _batch(spark, records).cache()
    con = oracle.connect(str(tmp_path), 1)
    con.register("batch_rows", batch.toArrow())
    con.execute("CREATE TABLE log AS SELECT * FROM batch_rows")
    oracle.expected_reconciled(con, [(0, batch.count())])
    assert _remapped(con) > 0
    got = reconcile_near_dups(batch).toArrow()
    assert oracle.compare(con, got, "SELECT * FROM remapped")["ok"]
    assert not oracle.compare(con, batch.toArrow(), "SELECT * FROM remapped")["ok"]


def test_benchmark_log_has_remaps_the_program_finds(spark, tmp_path):
    import workloads
    from silk_spark.operators.reconcile import reconcile_near_dups

    log = workloads.ChangeLog(spark, str(tmp_path / "log"), 11, schema_cut_lsn=1_000)
    log.extend(2_000)
    con = oracle.connect(str(tmp_path), 1)
    oracle.load_log(con, log.files(), log.end)
    oracle.expected_reconciled(con, [(0, log.end)])
    assert _remapped(con) > 0
    batch = spark.read.parquet(log.dir)
    got = reconcile_near_dups(batch).toArrow()
    assert oracle.compare(con, got, "SELECT * FROM remapped")["ok"]
