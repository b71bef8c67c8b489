"""Join-and-score reconciliation before merge + write-crash atomicity."""

import os

import pytest
from pyspark.sql import functions as F

from silk_spark.checkpoint import CheckpointStore
from silk_spark.operators.reconcile import near_dup_mapping, reconcile_near_dups
from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table

ROWS = [
    # conv, turn, role, text, ts_off, lsn, op — turn 6 is a near-dup
    # resend of turn 5 (edit distance 1, adjacent index)
    ("c1", 5, "user", "hello world", 0, 1, "I"),
    ("c1", 6, "user", "hello world!", 5, 2, "I"),
    # distinct turn, far text: NOT reconciled
    ("c1", 7, "assistant", "completely different reply", 10, 3, "I"),
    # another conv: identical turn resent with same idx (plain dedup)
    ("c2", 0, "user", "hi", 0, 4, "I"),
    ("c2", 0, "user", "hi", 1, 5, "U"),
]


@pytest.fixture
def batch(spark):
    from silk_spark.datagen import EPOCH0

    df = spark.createDataFrame(
        [(c, t, r, x, o, l, op) for c, t, r, x, o, l, op in ROWS],
        "conv_id string, turn_idx int, role string, text string, off int, lsn bigint, op string",
    )
    return df.select(
        "conv_id", "turn_idx", "role", "text",
        F.timestamp_seconds(F.lit(EPOCH0) + F.col("off")).alias("ts"),
        "lsn", "op",
        F.lit(None).cast("string").alias("tool"),
    )


def test_mapping_targets_adjacent_near_dup(spark, batch):
    m = {(r.conv_id, r.turn_idx, r.lsn): r.canonical_turn for r in near_dup_mapping(batch).collect()}
    assert m == {("c1", 6, 2): 5}  # only the resend maps; c2 pair is same-key


def test_reconcile_then_merge_collapses_resend(spark, batch, tmp_path):
    t = create_transcripts_table(spark, str(tmp_path / "t"), n_buckets=4)
    cp = CheckpointStore(str(tmp_path / "cp"))
    pipe = CdcPipeline(
        spark, t, cp, changelog=batch, pre_merge=reconcile_near_dups
    )
    pipe.run(end_lsn=10, batch_size=10)
    rows = {(r.conv_id, r.turn_idx): r for r in t.read().collect()}
    # resend won (later ts) under the canonical turn 5; no turn 6 row
    assert ("c1", 6) not in rows
    assert rows[("c1", 5)].text == "hello world!"
    assert rows[("c1", 7)].text == "completely different reply"
    assert rows[("c2", 0)].text == "hi" and rows[("c2", 0)].lsn == 5


def test_without_reconcile_both_rows_survive(spark, batch, tmp_path):
    t = create_transcripts_table(spark, str(tmp_path / "t2"), n_buckets=4)
    cp = CheckpointStore(str(tmp_path / "cp2"))
    CdcPipeline(spark, t, cp, changelog=batch).run(end_lsn=10, batch_size=10)
    keys = {(r.conv_id, r.turn_idx) for r in t.read().collect()}
    assert ("c1", 5) in keys and ("c1", 6) in keys


def test_hot_conversation_candidates_bounded(spark):
    """One conversation holding 50% of a batch must NOT cost O(m²)
    candidate pairs: (conv, turn-bucket) blocking bounds the join to
    in-window neighborhoods (each turn sees only versions of itself
    and the adjacent turn)."""
    from silk_spark.operators.reconcile import window_candidates

    m_turns, versions = 200, 2
    hot = [("hot", t, f"text of turn {t} v{v}", 10 * t + v) for t in range(m_turns) for v in range(versions)]
    cold = [(f"c{i}", 0, f"cold text {i}", 100000 + i) for i in range(m_turns * versions)]
    rec = spark.createDataFrame(
        hot + cold, "c string, turn int, text string, lsn bigint"
    )
    m = m_turns * versions  # hot-conversation records in the batch
    n_cand = window_candidates(rec, turn_window=1).count()
    # per turn: v*v pairs to the next turn -> ~m*v total; require far
    # below the O(m^2)=160k of a bare conv_id join
    assert n_cand <= 10 * m, n_cand
    # and recall is intact: every adjacent-turn pair is present
    got = window_candidates(rec, turn_window=1)
    adjacent = got.filter(F.col("right_turn") == F.col("left_turn") + 1).count()
    assert adjacent == (m_turns - 1) * versions * versions


@pytest.fixture
def corpus(spark):
    """Near-dup resends on the next turn index, plus several versions of
    one (c, turn) under different lsns (row multiplicity)."""
    rows, lsn = [], 0
    for c in range(20):
        for t in range(30):
            rows.append(
                (f"c{c}", t, f"turn {t} of conversation {c} says something", lsn)
            )
            lsn += 1
            if (t + c) % 4 == 0:  # near-dup resend on the next turn idx
                rows.append(
                    (f"c{c}", t + 1,
                     f"turn {t} of conversation {c} says something!", lsn)
                )
                lsn += 1
            if t % 7 == 0:  # same (c, turn), second version, new lsn
                rows.append(
                    (f"c{c}", t, f"turn {t} of conversation {c} says other", lsn)
                )
                lsn += 1
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, lsn bigint"
    )


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_mapping_matches_brute_force_reference(corpus):
    """Every in-window pair (right turn − left turn == 1, same conv)
    within levenshtein 2, best target per (conv, turn, lsn) by
    (lev, left_turn) — enumerated in pure Python over all pairs."""
    recs = [tuple(r) for r in corpus.collect()]
    best = {}
    for lc, lt, ltext, _ in recs:
        for rc, rt, rtext, rlsn in recs:
            if lc != rc or not 0 < rt - lt <= 1:
                continue
            lev = _levenshtein(ltext, rtext)
            key = (rc, rt, rlsn)
            if lev <= 2 and (lev, lt) < best.get(key, (3, 0)):
                best[key] = (lev, lt)
    want = sorted((*k, lt) for k, (_, lt) in best.items())
    got = sorted(map(tuple, near_dup_mapping(corpus).collect()))
    assert len(want) > 0
    assert got == want


def _reconcile_reference(rows, window, threshold=2):
    """reconcile_near_dups by enumeration: a row with conv, turn, lsn
    and text set moves to the turn of its best candidate — a row of the
    same conv with text set and a turn in [turn − window, turn − 1],
    within levenshtein `threshold` — by (lev, turn); nulls never match
    (as in an equi-join on conv and a candidate filter on text)."""
    out = []
    for c, t, x, lsn in rows:
        best = None
        if None not in (c, t, x, lsn):
            for lc, lt, lx, _ in rows:
                if lc == c and lt is not None and lx is not None and t - window <= lt < t:
                    lev = _levenshtein(lx, x)
                    if lev <= threshold and (best is None or (lev, lt) < best):
                        best = (lev, lt)
        out.append((c, t if best is None else best[1], x, lsn))
    return out


def test_reconcile_matches_brute_force_with_nulls_and_hot_block(spark):
    """turn_window=2 over short random texts (many near pairs), rows
    with a null conv_id, turn, text or lsn, and one hot block holding
    many lsn versions of each of a few turns."""
    import random

    rng = random.Random(2024)
    rows, lsn = [], 0

    def text():
        return "".join(rng.choice("ab") for _ in range(rng.randint(1, 4)))

    for _ in range(400):
        rows.append((
            rng.choice(["c0", "c1", "c2", "c3", None]),
            rng.choice([*range(10), None]),
            rng.choice([text(), text(), text(), None]),
            rng.choice([lsn, lsn, lsn, None]),
        ))
        lsn += 1
    for t in (4, 5, 6):
        for _ in range(40):
            rows.append(("hot", t, text(), lsn))
            lsn += 1
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string, lsn bigint")
    got = reconcile_near_dups(df, turn_window=2).collect()
    want = _reconcile_reference(rows, window=2)

    def order(r):
        return tuple((v is None, v) for v in r)

    assert sorted(map(tuple, got), key=order) == sorted(want, key=order)
    assert sum(a != b for a, b in zip(rows, want)) > 50  # remaps happen


def test_crash_mid_write_leaves_table_consistent(spark, batch, tmp_path):
    """A snap dir written without a metadata commit (crash between the
    data write and the atomic version-hint flip) must be invisible;
    re-applying the batch afterwards converges normally."""
    t = create_transcripts_table(spark, str(tmp_path / "t3"), n_buckets=4)
    cp = CheckpointStore(str(tmp_path / "cp3"))
    # simulate the torn write: orphan data files, metadata untouched
    orphan = os.path.join(t.data_dir, "snap-1", "_bucket=0")
    os.makedirs(orphan)
    with open(os.path.join(orphan, "part-00000-dead.parquet"), "wb") as f:
        f.write(b"not a real parquet file")
    assert t.read().count() == 0  # orphan is not in any committed manifest
    CdcPipeline(spark, t, cp, changelog=batch).run(end_lsn=10, batch_size=10)
    assert t.read().count() == 4  # c1:5,6,7 + c2:0
