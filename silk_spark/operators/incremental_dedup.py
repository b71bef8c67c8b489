"""Incremental corpus deduplication — probe-and-extend MinHash index.

Batch-global dedup (dedup_suite.minhash_lsh_pairs) answers "which
pairs in THIS corpus are near-duplicates"; an ingest pipeline needs
the online form: as each micro-batch of documents arrives, which of
them near-duplicate ANYTHING seen so far? Re-running global LSH over
corpus-so-far per batch is O(total·batches); the standard engine
design keeps the LSH BAND INDEX as persistent state and probes it
with each batch:

    per batch B against state (index I over corpus C):
      1. band rows of B       — zero-shuffle signature kernel
      2. within-batch pairs   — self-join of B's band rows
      3. cross pairs          — B's band rows ⋈ I  (old_id, new_id)
      4. exact-Jaccard verify — shingles of B + shingles of the
                                CANDIDATE-pruned slice of C only
      5. extend state         — I += B's band rows, C += B

EQUIVALENCE: two docs collide in LSH iff they share a band — a
pairwise property independent of arrival order — and the verify is
exact, so the union of per-batch outputs over any batch split equals
the global minhash_lsh_pairs pair set exactly (pinned by tests and by
the dedup_incremental oracle, which is the same SQL as the global
query's). Reference analogue: Silk's EntityCache is exactly this
persisted-block-index pattern for linking
(silk-core/.../execution/GenerateLinks.scala:63-132 loads cached
blocks and matches new partitions against them).

Scale shape: the per-batch cost is |B| signature work (embarrassingly
parallel Arrow kernels) + one equi-join of |B|·bands rows against the
index. With parquet-backed state the index is written partitioned by
pmod(_block, index_buckets), so the probe join prunes to the
partitions B's bands actually touch and row-group band-id stats prune
within them; B's band rows are the small side (AQE broadcasts them),
so the index is never shuffled — the probe reads, filters, joins.
Verification never rescans old text wholesale: candidate old ids are
LEFT-SEMI joined into the corpus state first (bucket/row-group
pruning applies), and only that slice is re-shingled.

Parquet state records the parameters its band ids depend on (num_perm,
bands, seed, shingle_n, signature impl) in `params.json` on the first
batch; reopening it under any other values raises, because probing
with incompatible band ids would silently miss every cross-batch pair.

In-memory state (state_dir=None) keeps the same plan shapes with
lazily-unioned frames — the test/driver-query mode; at 10^10 docs use
state_dir (or swap MetadataIO-style storage in at the two _read/_append
seams).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silk_spark.operators.dedup_suite import (
    _parallel,
    _signature_impl,
    minhash_banded,
    shingle_frame,
    verify_pairs_exact,
)


class IncrementalDeduper:
    """See module docstring. One instance = one logical corpus."""

    def __init__(
        self,
        spark: SparkSession,
        threshold: float = 0.5,
        num_perm: int = 128,
        bands: int = 32,
        shingle_n: int = 3,
        text_col: str = "text",
        id_col: str = "doc_id",
        seed: int = 42,
        state_dir: "str | None" = None,
        index_buckets: int = 64,
    ) -> None:
        self.spark = spark
        self.threshold = float(threshold)
        self.num_perm = num_perm
        self.bands = bands
        self.shingle_n = shingle_n
        self.text_col = text_col
        self.id_col = id_col
        self.seed = seed
        self.state_dir = state_dir
        self.index_buckets = index_buckets
        self._mem_bands: "DataFrame | None" = None
        self._mem_corpus: "DataFrame | None" = None

    # -- state seams (parquet-backed or in-memory lazy unions) -------------

    def _bands_path(self) -> str:
        return os.path.join(self.state_dir, "bands")

    def _corpus_path(self) -> str:
        return os.path.join(self.state_dir, "corpus")

    def _check_params(self, batch: DataFrame) -> None:
        """Record the band-id parameters with new parquet state, or
        raise if existing state was built under other ones."""
        if self.state_dir is None:
            return
        want = {
            "num_perm": self.num_perm,
            "bands": self.bands,
            "seed": self.seed,
            "shingle_n": self.shingle_n,
            "signature_impl": _signature_impl(batch),
        }
        path = os.path.join(self.state_dir, "params.json")
        if os.path.exists(path):
            with open(path) as f:
                have = json.load(f)
            if have != want:
                raise ValueError(
                    f"dedup state {self.state_dir} was built with {have}; "
                    f"probing it with {want} would miss every cross-batch pair"
                )
            return
        os.makedirs(self.state_dir, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(want, f)
        os.replace(path + ".tmp", path)

    def _read_bands(self) -> "DataFrame | None":
        if self.state_dir is None:
            return self._mem_bands
        # existence check, NOT try/except-Exception: a transient read
        # error must propagate — swallowing it would silently treat
        # the whole prior corpus as absent and emit wrong (missing)
        # cross-batch pairs
        if not os.path.isdir(self._bands_path()):
            return None  # first batch: no state yet
        return self.spark.read.parquet(self._bands_path()).select("id", "_block")

    def _read_corpus(self) -> "DataFrame | None":
        if self.state_dir is None:
            return self._mem_corpus
        if not os.path.isdir(self._corpus_path()):
            return None
        return self.spark.read.parquet(self._corpus_path())

    def _append_state(self, banded: DataFrame, batch: DataFrame) -> None:
        if self.state_dir is None:
            # localCheckpoint (lazy) truncates the union's lineage on
            # first materialization: without it, batch k's probe
            # recomputes every prior batch's signature kernel through
            # the accumulated union — O(k²) signature work across a
            # run (the in-memory analogue of what the parquet state
            # gives for free)
            bands = (
                banded if self._mem_bands is None
                else self._mem_bands.unionByName(banded)
            )
            self._mem_bands = bands.localCheckpoint(eager=False)
            corpus = (
                batch if self._mem_corpus is None
                else self._mem_corpus.unionByName(batch)
            )
            self._mem_corpus = corpus.localCheckpoint(eager=False)
            return
        # band index partitioned by a band-id bucket: the probe join's
        # dynamic partition pruning reads only buckets the batch
        # touches, and parquet row-group min/max on _block prunes
        # within a bucket
        (
            banded.withColumn(
                "_bucket", F.pmod(F.col("_block"), F.lit(self.index_buckets))
            )
            .write.mode("append")
            .partitionBy("_bucket")
            .parquet(self._bands_path())
        )
        batch.write.mode("append").parquet(self._corpus_path())

    # -- the per-batch step ------------------------------------------------

    def process_batch(self, batch: DataFrame) -> DataFrame:
        """Near-dup pairs INVOLVING this batch: (left_id, right_id,
        jaccard) with left_id < right_id — within-batch pairs plus
        batch-vs-corpus pairs. Extends the state afterwards. The
        returned frame is computed EAGERLY (the state must not mutate
        under a lazy plan), small by construction (verified dups
        only), and cached."""
        self._check_params(batch)
        batch = batch.select(
            F.col(self.id_col).alias("doc_id"), F.col(self.text_col).alias("text")
        )
        banded_new = minhash_banded(
            batch, self.num_perm, self.bands, self.shingle_n,
            "text", "doc_id", self.seed,
        )
        sh_new = shingle_frame(
            _parallel(batch), self.shingle_n, "text", "doc_id", hashed=True
        )
        ln = banded_new.select(F.col("id").alias("left_id"), "_block")
        rn = banded_new.select(F.col("id").alias("right_id"), "_block")
        within = (
            ln.join(rn, "_block")
            .filter(F.col("left_id") < F.col("right_id"))
            .select("left_id", "right_id")
        )
        cand = within
        shingles = sh_new
        old_bands = self._read_bands()
        if old_bands is not None:
            probe = (
                old_bands.select(F.col("id").alias("left_id"), "_block")
                .join(rn, "_block")
                .filter(F.col("left_id") != F.col("right_id"))
                .select("left_id", "right_id")
            )
            cand = cand.unionByName(probe)
            corpus = self._read_corpus()
            old_ids = probe.select(F.col("left_id").alias("doc_id")).distinct()
            # candidate-pruned old-side re-shingle: semi-join first so
            # only texts that can matter are rescanned
            old_slice = corpus.join(old_ids, "doc_id", "left_semi")
            shingles = shingles.unionByName(
                shingle_frame(old_slice, self.shingle_n, "text", "doc_id", hashed=True)
            )
        cand = cand.dropDuplicates(["left_id", "right_id"])
        dups = verify_pairs_exact(cand, shingles, self.threshold).select(
            F.least("left_id", "right_id").alias("left_id"),
            F.greatest("left_id", "right_id").alias("right_id"),
            "jaccard",
        )
        dups = dups.localCheckpoint(eager=True)  # pin BEFORE state grows
        self._append_state(banded_new, batch)
        return dups

    def process_batches(self, batches: "list[DataFrame]") -> DataFrame:
        """Run a sequence of batches; union of per-batch dup pairs —
        equals the global minhash_lsh_pairs set over the concatenated
        corpus (see module docstring)."""
        outs = [self.process_batch(b) for b in batches]
        res = outs[0]
        for o in outs[1:]:
            res = res.unionByName(o)
        return res.dropDuplicates(["left_id", "right_id"])
