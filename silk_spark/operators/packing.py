"""Sequence packing — greedy context-window assembly for training.

Tokenized documents are concatenated into fixed-capacity context
windows ("packs") so short documents don't waste padded positions —
the standard pre-training batch-construction step (T5's "pack
sequences until the window is full", GPT-style document packing).

Distributed form: packing is inherently sequential WITHIN a window
stream but embarrassingly parallel ACROSS streams, so documents are
deterministically sharded into `n_chunks` streams (doc_id mod — a
stable shard, not a range sample, so the oracle can reproduce it),
each stream is greedily packed IN doc_id ORDER by one Arrow-batched
``applyInPandas`` group (bounded state: one group = one stream), and
pack ids are globalized as ``chunk * 2^40 + local``. Greedy rule:
a document starts a new pack when adding it would exceed
``capacity``; an over-capacity document gets a pack of its own
(callers split/truncate upstream if that is not acceptable).

Determinism is the load-bearing property (same packs across runs,
partitionings, engines): the DuckDB oracle replays the identical
greedy recurrence as a recursive CTE per stream (the dedup_clusters
oracle pattern). At 10^10 docs the shuffle is one hash exchange of
(doc_id, n_tokens) pairs — token counts, never text — and per-stream
state is O(1).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_PACK_STRIDE = 1 << 40
_INTEGER_TYPES = ("tinyint", "smallint", "int", "bigint")


def _whitespace_tokens(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), r"\s+"), lambda x: x != "")


def pack_sequences(
    df: DataFrame,
    capacity: int = 512,
    n_chunks: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_tokens, pack_id) — every document assigned to a
    context window. See module docstring for the exact greedy rule
    and the determinism contract. `id_col` must be an integer column:
    it is sharded with pmod and packed as a bigint."""
    id_type = df.select(id_col).dtypes[0][1]
    if id_type not in _INTEGER_TYPES:
        raise TypeError(
            f"pack_sequences: id column {id_col!r} is {id_type}, not an integer type"
        )
    cap = int(capacity)

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        packs = []
        pack, acc = 0, 0
        for n in pdf["n_tokens"]:
            n = int(n)
            if acc > 0 and acc + n > cap:
                pack += 1
                acc = 0
            acc += n
            packs.append(pack)
        chunk = int(pdf["_chunk"].iloc[0]) if len(pdf) else 0
        pdf["pack_id"] = [chunk * _PACK_STRIDE + p for p in packs]
        return pdf[["doc_id", "n_tokens", "pack_id"]]

    base = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(_whitespace_tokens(F.col(text_col))).alias("n_tokens"),
        F.pmod(F.col(id_col), F.lit(int(n_chunks))).alias("_chunk"),
    )
    return base.groupBy("_chunk").applyInPandas(
        _pack, schema="doc_id bigint, n_tokens bigint, pack_id bigint"
    )


def pack_summary(packed: DataFrame, capacity: int = 512) -> DataFrame:
    """Per-pack fill statistics from pack_sequences output:
    (pack_id, n_docs, tokens, fill_ratio)."""
    return packed.groupBy("pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
        F.round(F.sum("n_tokens") / F.lit(float(capacity)), 6).alias("fill_ratio"),
    )
