"""silk-spark: a PySpark-native CDC / incremental-ingest engine.

A from-scratch re-expression of the capabilities of the Silk Link
Discovery Framework (reference: /root/reference, Scala) on Apache
Spark: change-log tail -> per-key dedup -> blocked similarity
join-and-score -> idempotent merge-on-read MERGE into a lake table,
with schema evolution, per-batch lineage and crash-resume.

Architecture is Spark-first (DataFrame/SQL + Catalyst), NOT a port:
  - dedup             = groupBy + max_by (map-side partial agg), not a thread pool
  - blocking/matching = explode(block ids) + equi-join, not partition x partition loops
  - best-link filter  = window row_number top-k
  - caches/spill      = Spark shuffle, not file entity caches
  - MERGE             = merge-on-read bucketed parquet snapshots, compacted
                        copy-on-write (Iceberg semantics; swap in `MERGE INTO`
                        on a real Iceberg catalog unchanged)
"""

__version__ = "0.1.0"

from silk_spark.session import get_spark  # noqa: F401
