"""Structured Streaming face of the CDC engine.

``readStream`` over the append-only changelog directory →
``foreachBatch`` → the exact same ``apply_batch`` as the offset-driven
loop (streaming/pipeline.py). Correctness does not depend on
micro-batch boundaries: the max-by-(ts,lsn) dedup + version-resolved
MERGE make any slicing of the log converge to the same state, and the
Structured Streaming checkpoint adds its own exactly-once batch-id
guard on top of the table's committed-batch set (double protection —
either alone suffices). A batch's ledger id is the streaming query's id
plus Spark's batch counter: the query id persists in the stream
checkpoint, so a restart on the same checkpoint dir replays onto the
same ids, and a fresh checkpoint dir gets new ids instead of colliding
with (and being skipped as) the previous query's batches.

Watermarks are deliberately unused (SURVEY.md §2.13): late/duplicate
events are resolved by version comparison at merge time, not by
dropping them, so replay determinism holds without event-time state.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from silk_spark.checkpoint import CheckpointStore
from silk_spark.sources.lake import LakeTable
from silk_spark.streaming.pipeline import apply_batch

CHANGELOG_DDL = (
    "lsn bigint, offset bigint, op string, conv_id string, turn_idx int, "
    "role string, text string, tool string, ts timestamp, schema_version int"
)


def changelog_schema() -> StructType:
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(CHANGELOG_DDL)


def stream_changelog(
    spark: SparkSession,
    changelog_dir: str,
    table: LakeTable,
    checkpoints: CheckpointStore,
    stream_checkpoint_dir: str,
    max_files_per_trigger: int = 8,
    trigger_available_now: bool = True,
    pre_merge=None,
) -> StreamingQuery:
    """Tail new changelog parquet files and MERGE each micro-batch.

    `trigger_available_now=True` drains everything currently in the
    directory and stops (batch-style catch-up); False → continuous
    tail with the default processing-time trigger.

    `pre_merge` is the same optional DataFrame->DataFrame hook the
    offset-driven loop takes (CdcPipeline) — e.g. the join-and-score
    reconciliation (operators/reconcile.reconcile_near_dups) applied
    to every streaming micro-batch before MERGE.
    """
    src = (
        spark.readStream.schema(changelog_schema())
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(changelog_dir)
    )

    def handle(batch_df, batch_id: int) -> None:
        # one job for emptiness and bounds
        bounds = batch_df.agg(
            F.count(F.lit(1)).alias("n"), F.min("lsn").alias("lo"), F.max("lsn").alias("hi")
        ).first()
        if bounds["n"] == 0:
            return
        if bounds["lo"] is None:  # skipping would silently drop the batch
            raise ValueError(f"stream batch {batch_id} has rows but no lsn")
        if pre_merge is not None:
            batch_df = pre_merge(batch_df)
        # set by Spark on the thread that runs this query's batches
        query_id = batch_df.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        if not query_id:  # an unkeyed id could collide with an applied batch
            raise RuntimeError("foreachBatch ran without a streaming query id")
        apply_batch(
            table,
            batch_df,
            f"stream-{query_id}-{batch_id}",
            checkpoints,
            int(bounds["lo"]),
            int(bounds["hi"]) + 1,
        )

    writer = src.writeStream.foreachBatch(handle).option(
        "checkpointLocation", stream_checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_stream_to_completion(
    spark: SparkSession,
    changelog_dir: str,
    table: LakeTable,
    checkpoints: CheckpointStore,
    stream_checkpoint_dir: str,
    timeout_sec: int = 600,
) -> None:
    """Drain the current changelog directory and block until done."""
    q = stream_changelog(
        spark, changelog_dir, table, checkpoints, stream_checkpoint_dir,
        trigger_available_now=True,
    )
    q.awaitTermination(timeout_sec)
    if q.isActive:
        q.stop()
