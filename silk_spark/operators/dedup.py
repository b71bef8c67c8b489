"""Per-key latest-version dedup: the CDC analogue of Silk's
best-link-per-source filter (reference: silk-rules/.../rule/execution/
Filter.scala:33-50 keeps the top-confidence link per source entity;
here we keep the top-(ts, lsn) event per (conv_id, turn_idx)).

Two physical strategies, same semantics:

* ``latest_by_key`` (default, the scale path): groupBy + ``max_by`` over a
  version struct. Catalyst plans this as a hash aggregate with a
  map-side partial aggregate, so duplicate-heavy change streams are
  collapsed BEFORE the shuffle -- at 10^10 events this is the
  difference between shuffling the whole log and shuffling ~|keys|.

* ``latest_by_key_window``: window row_number()==1. Kept for parity
  tests; requires a full sort per partition and has no partial agg,
  so it is strictly worse at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from silk_spark.schema import quote


def latest_by_key(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order: Sequence[str] = ("ts", "lsn"),
) -> DataFrame:
    """Keep the single latest row per key, max-by the `order` tuple
    (lexicographic struct comparison). Output column set == input's."""
    keys = list(keys)
    cols = df.columns
    payload = ", ".join(quote(c) for c in cols if c not in keys)
    version = ", ".join(quote(c) for c in order)
    # SQL strings, not per-column Column calls (a Py4J round trip each)
    agg = df.groupBy(*keys).agg(
        F.expr(f"max_by(struct({payload}), struct({version})) AS _latest")
    )
    return agg.selectExpr(
        *(quote(c) if c in keys else f"_latest.{quote(c)} AS {quote(c)}" for c in cols)
    )


def latest_by_key_window(
    df: DataFrame,
    keys: Sequence[str] = ("conv_id", "turn_idx"),
    order: Sequence[str] = ("ts", "lsn"),
) -> DataFrame:
    """Window-based variant (row_number over desc order) for parity checks."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
