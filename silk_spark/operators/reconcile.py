"""Join-and-score reconciliation of near-duplicate turn records.

The north-star stage (BASELINE.json): before a micro-batch MERGEs,
records that are *the same turn observed twice* — same conversation,
turn index off by one, text within a small edit distance (retries,
editor resends, at-least-once upstreams) — are canonicalized onto one
key so the max-by-(ts, lsn) dedup resolves them like any other
duplicate. This is Silk's matcher applied inside the CDC stream:

    block on conv_id (salted)  →  GenerateLinks' CacheLoader/Index
    candidate equi-join        →  Matcher partition scoring
    levenshtein + confidence   →  Comparison (names-benchmark rule:
                                  threshold 2, config.xml)
    best-link-per-record       →  Filter.scala:33-50 top-1
    remap to canonical key     →  the link's "owl:sameAs" applied

Reference: rule/execution/GenerateLinks.scala:63-132, Matcher.scala:
254-291, Filter.scala:33-50; distance semantics Comparison.scala:71-78.

Scale: candidates are blocked on (conv_id, turn-bucket), never bare
conv_id — a hot conversation with m records in a batch costs
O(m · records-per-bucket), not O(m²): the left side emits its bucket
and the next one (bucket width = turn_window), the right side its own
bucket, so every in-window pair shares a block by construction.
Scoring is built-in levenshtein (codegen). The remap join is left to
AQE, which broadcasts the mapping iff its runtime size is small.
Single-pass (no transitive closure): each record maps to its
best lower-keyed match — chains A<-B<-C resolve over successive
batches, which is the at-least-once-friendly behavior we want.

The candidate join carries the turn text through the (conv,
turn-bucket) exchange and scores in the same pass: one
bandwidth-bound exchange beat three batch re-scans plus two text-fetch
joins on both short and transcript-scale texts (BASELINE.md round-5
A/B).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def window_candidates(rec: DataFrame, turn_window: int = 1) -> DataFrame:
    """Candidate pairs (right_turn − left_turn ∈ (0, turn_window]) via
    composite (conv, turn-bucket) blocking. With bucket width W =
    turn_window, a qualifying right row's bucket is the left row's
    bucket g or g+1, so the left side explodes to {g, g+1} and the
    equi-join on (c, _tb) has provable recall 1.0 while keeping each
    task's pair count bounded by the per-bucket row count — the skew
    fix for conversations that dominate a batch (Silk MultiPassBlocking
    /root/reference/silk-rules/.../methods/MultiPassBlocking.scala:13-21
    applied to a numeric range).

    `rec` needs columns (c, turn, plus payload); emits left_*/right_*."""
    w = max(int(turn_window), 1)
    g = F.floor(F.col("turn") / w).cast("bigint")
    l = rec.select(
        F.col("c"),
        F.col("turn").alias("left_turn"),
        F.col("text").alias("left_text"),
        F.explode(F.array(g, g + 1)).alias("_tb"),
    )
    r = rec.select(
        F.col("c"),
        F.col("turn").alias("right_turn"),
        F.col("lsn").alias("right_lsn"),
        F.col("text").alias("right_text"),
        g.alias("_tb"),
    )
    return (
        l.join(r, ["c", "_tb"])
        .filter(
            (F.col("right_turn") > F.col("left_turn"))
            & (F.col("right_turn") <= F.col("left_turn") + w)
        )
        .drop("_tb")
    )


def near_dup_mapping(
    batch: DataFrame,
    text_threshold: float = 2.0,
    turn_window: int = 1,
    keys=("conv_id", "turn_idx"),
    text_col: str = "text",
    version_cols=("ts", "lsn"),
) -> DataFrame:
    """Mapping (conv_id, turn_idx, lsn) -> canonical_turn_idx for
    records that near-duplicate an earlier turn in the same batch."""
    conv, turn = keys
    lsn = version_cols[-1]
    rec = batch.select(
        F.col(conv).alias("c"),
        F.col(turn).alias("turn"),
        F.col(lsn).alias("lsn"),
        F.col(text_col).alias("text"),
    ).filter(F.col("text").isNotNull())
    # Deliberately NO explicit |length diff| pre-filter here: Catalyst
    # folds every post-join predicate into the join condition in the
    # order added, so an extra band conjunct lands AHEAD of the cheap
    # turn-range checks and the generated code then runs levenshtein on
    # every same-block pair before range-rejecting it — measured 4x
    # slower on a 2.6M-event batch (216 s vs 51 s). The 3-arg
    # levenshtein already length-short-circuits internally, and here it
    # is evaluated LAST in the join condition (after the integer range
    # conjuncts), which is exactly the ordering we want.
    pairs = window_candidates(rec, turn_window)
    scored = pairs.withColumn(
        "lev",
        F.levenshtein(F.col("left_text"), F.col("right_text"), int(text_threshold)),
    ).filter(F.col("lev") >= 0)
    # best canonical target per duplicate record: closest text, then
    # smallest turn (deterministic)
    w = Window.partitionBy("c", "right_turn", "right_lsn").orderBy(
        F.col("lev").asc(), F.col("left_turn").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("c").alias(conv),
            F.col("right_turn").alias(turn),
            F.col("right_lsn").alias(lsn),
            F.col("left_turn").alias("canonical_turn"),
        )
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
    mapping = near_dup_mapping(
        batch, text_threshold, turn_window, keys, text_col, version_cols
    )
    # no forced broadcast: the mapping is usually tiny, but a
    # pathological batch could overflow the driver — AQE picks
    # broadcast-hash at runtime from the mapping's actual size
    out = batch.join(mapping, on=[conv, turn, lsn], how="left")
    return out.withColumn(
        turn, F.coalesce(F.col("canonical_turn"), F.col(turn))
    ).drop("canonical_turn").select(*batch.columns)
