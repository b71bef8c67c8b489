"""Join-and-score reconciliation of near-duplicate turn records.

The north-star stage (BASELINE.json): before a micro-batch MERGEs,
records that are *the same turn observed twice* — same conversation,
turn index off by one, text within a small edit distance (retries,
editor resends, at-least-once upstreams) — are canonicalized onto one
key so the max-by-(ts, lsn) dedup resolves them like any other
duplicate. This is Silk's matcher applied inside the CDC stream:

    block on (conv, turn-block)  →  GenerateLinks' CacheLoader/Index
    candidate list per block     →  Matcher partition scoring
    levenshtein + confidence     →  Comparison (names-benchmark rule:
                                    threshold 2, config.xml)
    best-link-per-record         →  Filter.scala:33-50 top-1
    canonical turn on the record →  the link's "owl:sameAs" applied

Reference: rule/execution/GenerateLinks.scala:63-132, Matcher.scala:
254-291, Filter.scala:33-50; distance semantics Comparison.scala:71-78.

One pass: the batch is read once and shuffled once, on (conv_id,
turn-block) with block width W = turn_window. Each record goes into
the exchange as a probe of its own block and as a candidate offered to
the next block (and to its own block when W > 1), so every record with
a turn in [turn − W, turn − 1] sits in the probe's partition. A window
over the partition collects the candidates' (turn, text); each probe
keeps the best in-window candidate by (levenshtein, turn) and carries
its canonical turn straight out: no candidate join, no remap join.
Blocking on (conv, turn-block), never bare conv_id, keeps a hot
conversation with m records in a batch at O(m · records-per-block)
work spread over its blocks, not O(m²) in one task.

`window_candidates` and `near_dup_mapping` are the pairs view and the
mapping view of that blocked frame: what the stage scores and what it
remaps. Rows with a null conv_id, turn or text never match, and a
record with a null lsn is never remapped. Single-pass (no transitive
closure): each record maps to its best lower-keyed match — chains
A<-B<-C resolve over successive batches, which is the
at-least-once-friendly behavior we want.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Written as SQL expression strings, not Column functions: built from
# Column calls, one blocked frame took ~0.25 s of driver time (about
# 1000 Py4J round trips) on a 4-core host, against ~0.07 s from
# strings, and every micro-batch pays it.


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _blocked(df: DataFrame, turn_window: int, conv: str, turn: str, text: str) -> DataFrame:
    """Every row of `df` once, as a probe in its (conv, turn-block)
    partition, plus `_cands`: the (t, x) turn and text of every record
    of the same conversation with t in [turn − W, turn − 1] (null for a
    probe with a null conv, turn or text). One exchange, one sort: a
    candidate copy carries only conv and its (t, x), the row itself
    crosses once."""
    w = max(int(turn_window), 1)
    c, t, x = _q(conv), _q(turn), _q(text)
    blk = f"CAST(FLOOR({t} / {w}) AS BIGINT)"
    ok = f"({c} IS NOT NULL AND {t} IS NOT NULL AND {x} IS NOT NULL)"
    offered = [f"{blk} + 1"] + ([blk] if w > 1 else [])
    copies = ", ".join(
        [f"named_struct('probe', true, 'blk', {blk})"]
        + [f"IF({ok}, named_struct('probe', false, 'blk', {b}), NULL)" for b in offered]
    )
    return (
        df.selectExpr("*", f"explode(filter(array({copies}), y -> y IS NOT NULL)) AS _cp")
        .selectExpr(
            c,
            *(f"IF(_cp.probe, {_q(n)}, NULL) AS {_q(n)}" for n in df.columns if n != conv),
            "_cp.probe AS _probe",
            f"collect_list(IF(_cp.probe, NULL, named_struct('t', {t}, 'x', {x})))"
            f" OVER (PARTITION BY {c}, _cp.blk) AS _cands",
        )
        .where("_probe")
        .selectExpr(
            *map(_q, df.columns),
            f"IF({ok}, filter(_cands, e -> e.t BETWEEN {t} - {w} AND {t} - 1), NULL) AS _cands",
        )
    )


def _linked(
    df: DataFrame, text_threshold: float, turn_window: int, conv: str, turn: str, lsn: str, text: str
) -> DataFrame:
    """`_blocked` probes with `canonical_turn`: the turn of the best
    candidate within levenshtein `text_threshold` — closest text, then
    smallest turn — or null. Each row is scored on its own: within a
    batch an lsn names one log event."""
    k = int(text_threshold)
    scored = (
        f"filter(transform(_cands, e -> named_struct('lev', levenshtein(e.x, {_q(text)}, {k}), "
        "'t', e.t)), s -> s.lev >= 0)"
    )
    return _blocked(df, turn_window, conv, turn, text).selectExpr(
        "*", f"IF({_q(lsn)} IS NULL, NULL, array_min({scored}).t) AS canonical_turn"
    )


def window_candidates(rec: DataFrame, turn_window: int = 1) -> DataFrame:
    """The pairs view: one row per candidate pair (right_turn −
    left_turn ∈ (0, turn_window], same conversation) that the blocked
    frame scores. A task's pair count is bounded by its block's row
    count — the skew fix for conversations that dominate a batch (Silk
    MultiPassBlocking, silk-rules/.../methods/MultiPassBlocking.scala:
    13-21, applied to a numeric range).

    `rec` needs columns (c, turn, lsn, text); emits c, left_turn,
    left_text, right_turn, right_lsn, right_text."""
    return _blocked(rec, turn_window, "c", "turn", "text").selectExpr(
        "c",
        "inline(transform(_cands, e -> named_struct('left_turn', e.t, 'left_text', e.x)))",
        "turn AS right_turn",
        "lsn AS right_lsn",
        "text AS right_text",
    )


def near_dup_mapping(
    batch: DataFrame,
    text_threshold: float = 2.0,
    turn_window: int = 1,
    keys=("conv_id", "turn_idx"),
    text_col: str = "text",
    version_cols=("ts", "lsn"),
) -> DataFrame:
    """The mapping view: (conv_id, turn_idx, lsn) -> canonical_turn,
    one row per record that near-duplicates an earlier turn in the same
    batch."""
    conv, turn = keys
    lsn = version_cols[-1]
    cols = [_q(conv), _q(turn), _q(lsn)]
    return (
        _linked(batch.selectExpr(*cols, _q(text_col)), text_threshold, turn_window, conv, turn, lsn, text_col)
        .where("canonical_turn IS NOT NULL")
        .selectExpr(*cols, "canonical_turn")
        .distinct()
    )


def reconcile_near_dups(
    batch: DataFrame,
    text_threshold: float = 2.0,
    turn_window: int = 1,
    keys=("conv_id", "turn_idx"),
    text_col: str = "text",
    version_cols=("ts", "lsn"),
) -> DataFrame:
    """Rewrite near-duplicate records onto their canonical turn key;
    the downstream max-by-version dedup then keeps one winner per
    reconciled turn. Schema is unchanged."""
    conv, turn = keys
    lsn = version_cols[-1]
    linked = _linked(batch, text_threshold, turn_window, conv, turn, lsn, text_col)
    # the pairs and mapping views of this plan, left lazy: this path
    # never runs them, a traced run (perfbench --trace) counts them
    window_candidates(
        batch.selectExpr(
            f"{_q(conv)} AS c", f"{_q(turn)} AS turn", f"{_q(lsn)} AS lsn", f"{_q(text_col)} AS text"
        ),
        turn_window,
    )
    near_dup_mapping(batch, text_threshold, turn_window, keys, text_col, version_cols)
    return linked.selectExpr(
        *(
            f"coalesce(canonical_turn, {_q(n)}) AS {_q(n)}" if n == turn else _q(n)
            for n in batch.columns
        )
    )
