"""IncrementalDeduper: the probe-and-extend MinHash index must equal
batch-global LSH over any batch split — the order-independence
property the module docstring proves — for BOTH state backends."""

import pytest
from pyspark.sql import functions as F

from silk_spark.operators.dedup_suite import minhash_lsh_pairs, release_persisted
from silk_spark.operators.incremental_dedup import IncrementalDeduper


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


def _pairs(df):
    return {(r["left_id"], r["right_id"], r["jaccard"]) for r in df.collect()}


class TestIncrementalEqualsGlobal:
    def test_in_memory_state_three_batches(self, spark, docs):
        batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
        inc = _pairs(IncrementalDeduper(spark, threshold=0.5).process_batches(batches))
        glob = _pairs(minhash_lsh_pairs(docs, threshold=0.5))
        release_persisted(spark)
        assert inc == glob and len(glob) > 0

    def test_parquet_state_and_batch_order_invariance(self, spark, docs, tmp_path):
        batches = [docs.filter(F.col("doc_id") % 2 == i) for i in range(2)]
        d = IncrementalDeduper(spark, threshold=0.5, state_dir=str(tmp_path / "s1"))
        fwd = _pairs(d.process_batches(batches))
        d2 = IncrementalDeduper(spark, threshold=0.5, state_dir=str(tmp_path / "s2"))
        rev = _pairs(d2.process_batches(list(reversed(batches))))
        glob = _pairs(minhash_lsh_pairs(docs, threshold=0.5))
        release_persisted(spark)
        assert fwd == rev == glob

    def test_cross_batch_pair_is_split_across_steps(self, spark):
        """A planted near-dup split across two batches must surface in
        the SECOND batch's output (index probe), not the first's."""
        a = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
            "doc_id bigint, text string",
        )
        b = spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
            "doc_id bigint, text string",
        )
        d = IncrementalDeduper(spark, threshold=0.5)
        first = d.process_batch(a).collect()
        second = d.process_batch(b).collect()
        assert first == []
        assert [(r["left_id"], r["right_id"]) for r in second] == [(1, 2)]


class TestStateParams:
    def test_reopen_with_other_band_params_raises(self, spark, tmp_path):
        """Parquet state built under one (num_perm, bands, seed,
        shingle_n) must refuse a probe under another — the band ids
        would not match and every cross-batch pair would be missed —
        while a reopen under the same parameters still finds them."""
        a = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
            "doc_id bigint, text string",
        )
        b = spark.createDataFrame(
            [(2, "alpha beta gamma delta epsilon zeta eta theta iota lambda")],
            "doc_id bigint, text string",
        )
        state = str(tmp_path / "s")
        IncrementalDeduper(spark, threshold=0.5, state_dir=state).process_batch(a)
        for other in ({"bands": 16}, {"num_perm": 64}, {"seed": 7}, {"shingle_n": 4}):
            with pytest.raises(ValueError, match="cross-batch"):
                IncrementalDeduper(spark, threshold=0.5, state_dir=state, **other).process_batch(b)
        again = IncrementalDeduper(spark, threshold=0.5, state_dir=state).process_batch(b)
        assert [(r["left_id"], r["right_id"]) for r in again.collect()] == [(1, 2)]
