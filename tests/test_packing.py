"""Sequence packing: the greedy recurrence, over-capacity solo packs,
and partitioning invariance (determinism is the contract — the
text_pack oracle replays the same recurrence in DuckDB)."""

import pytest
from pyspark.sql import functions as F

from silk_spark.operators.packing import pack_sequences, pack_summary


def _assign(spark, rows, capacity, n_chunks=1):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = pack_sequences(df, capacity=capacity, n_chunks=n_chunks)
    return {r["doc_id"]: (r["pack_id"], r["n_tokens"]) for r in out.collect()}


class TestPackSequences:
    def test_greedy_boundaries(self, spark):
        rows = [
            (1, "a b c"),          # 3 tokens -> pack 0 (acc 3)
            (2, "d e f g"),        # 4 -> pack 0 (acc 7)
            (3, "h i j k"),        # 4 -> would be 11 > 8 -> pack 1
            (4, "l m n o p q r s"),# 8 -> would be 12 > 8 -> pack 2 (exact fit alone)
            (5, "t"),              # 1 -> 8+1 > 8 -> pack 3
        ]
        got = _assign(spark, rows, capacity=8)
        assert [got[i][0] for i in (1, 2, 3, 4, 5)] == [0, 0, 1, 2, 3]

    def test_string_id_column_rejected_up_front(self, spark):
        """The shard is pmod(id, n_chunks) and ids are packed as bigint:
        a string id column raises a TypeError naming it, not an
        executor-side error inside the packing UDF."""
        df = spark.createDataFrame([("d1", "a b"), ("d2", "c")], "doc_id string, text string")
        with pytest.raises(TypeError, match="'doc_id'"):
            pack_sequences(df, capacity=8).collect()

    def test_overcapacity_doc_gets_solo_pack(self, spark):
        rows = [
            (1, " ".join("w%d" % i for i in range(20))),  # 20 > cap 8
            (2, "a b"),
        ]
        got = _assign(spark, rows, capacity=8)
        assert got[1][0] != got[2][0] and got[1][1] == 20

    def test_partitioning_invariant_and_summary(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        a = pack_sequences(docs, capacity=128, n_chunks=8)
        b = pack_sequences(docs.repartition(13), capacity=128, n_chunks=8)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        summ = pack_summary(a, capacity=128)
        bad = summ.join(
            a.groupBy("pack_id").agg(F.count("*").alias("n")), "pack_id"
        ).filter(F.col("n_docs") != F.col("n"))
        assert bad.count() == 0
        # no pack of >1 doc exceeds capacity (only solo over-cap packs may)
        assert summ.filter((F.col("n_docs") > 1) & (F.col("tokens") > 128)).count() == 0
