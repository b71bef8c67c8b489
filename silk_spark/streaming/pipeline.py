"""Micro-batch CDC ingest loop: changelog tail -> dedup -> MERGE -> lineage manifest.

The offset-driven loop is the batch face of the engine; see
`streaming/stream.py` for the Structured Streaming (`foreachBatch`)
face, which calls the exact same `apply_batch`. Reference analogue:
GenerateLinks' load -> match -> filter -> output orchestration
(/root/reference/silk-rules/src/main/scala/org/silkframework/rule/
execution/GenerateLinks.scala:63-132), with activity resume replaced
by idempotent snapshot commits: the resume offset is read back from
the table's own ledger of committed batch ids, so it moves with every
commit and every rollback.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from silk_spark.checkpoint import BatchManifest, CheckpointStore
from silk_spark.schema import ColumnSpec, TableSchema, empty_frame
from silk_spark.sources.lake import KEYS, VERSION_ORDER, LakeTable

# columns the table stores; changelog bookkeeping (offset, schema_version)
# stays in the log. `op` is kept as a tombstone marker; ts+lsn are the
# version tuple that makes MERGE order-insensitive across batches.
TRANSCRIPT_TABLE_COLUMNS = [
    ("conv_id", "string"),
    ("turn_idx", "int"),
    ("role", "string"),
    ("text", "string"),
    ("ts", "timestamp"),
    ("lsn", "bigint"),
    ("op", "string"),
]


def transcripts_schema(with_tool: bool = False) -> TableSchema:
    cols = [ColumnSpec(i + 1, n, t) for i, (n, t) in enumerate(TRANSCRIPT_TABLE_COLUMNS)]
    if with_tool:
        cols.append(ColumnSpec(len(cols) + 1, "tool", "string"))
    return TableSchema(0, cols)


def create_transcripts_table(
    spark: SparkSession,
    root: str,
    n_buckets: int = 32,
    with_tool: bool = False,
    merge_mode: str = "mor",
    meta_io=None,
) -> LakeTable:
    """A transcripts table. Every `LakeTable` is merge-on-read;
    `merge_mode` stays for callers that still name it, and anything
    but "mor" raises ValueError."""
    if merge_mode != "mor":
        raise ValueError(f"merge_mode {merge_mode!r}: every table is merge-on-read ('mor')")
    return LakeTable.create(
        spark,
        root,
        transcripts_schema(with_tool),
        key_cols=KEYS,
        version_cols=VERSION_ORDER,
        n_buckets=n_buckets,
        meta_io=meta_io,
    )


def project_changes(batch: DataFrame) -> DataFrame:
    """Project raw changelog events onto the table's merge columns.
    Schema-v1 events (no `tool`) simply lack the column; the lake's
    registry evolves when v2 events first arrive."""
    cols = [c for c, _ in TRANSCRIPT_TABLE_COLUMNS]
    if "tool" in batch.columns:
        cols.append("tool")
    return batch.select(*cols)


def lsn_batch_id(lo: int, hi: int) -> str:
    """Ledger id of the offset loop's batch over lsn range [lo, hi)."""
    return f"lsn-{lo}-{hi}"


def lsn_batch_range(batch_id: str) -> tuple[int, int] | None:
    """(lo, hi) of an `lsn_batch_id`; None for any other ledger id
    (stream batches, compactions, bootstrap overwrites)."""
    m = re.fullmatch(r"lsn-(\d+)-(\d+)", batch_id)
    return (int(m[1]), int(m[2])) if m else None


def ledger_resume_lsn(table: LakeTable) -> int:
    """First lsn the table's ledger does not cover: its committed
    `lsn-{lo}-{hi}` ranges are walked up from the lowest, so a range
    that rollback() reopened resumes at the gap it left."""
    ranges = sorted(
        r for r in map(lsn_batch_range, table.refresh().committed_batches()) if r
    )
    if not ranges:
        return 0
    end = ranges[0][0]
    for lo, hi in ranges:
        if lo > end:
            break
        end = max(end, hi)
    return end


def apply_batch(
    table: LakeTable,
    batch: DataFrame,
    batch_id: str,
    checkpoints: CheckpointStore | None = None,
    start_lsn: int = -1,
    end_lsn: int = -1,
) -> dict:
    """Apply one deduped micro-batch idempotently; write lineage manifest."""
    summary = table.merge_batch(project_changes(batch), batch_id)
    if checkpoints is not None and not summary.get("skipped"):
        checkpoints.write(
            BatchManifest(
                batch_id=batch_id,
                start_lsn=start_lsn,
                end_lsn=end_lsn,
                rows_applied=summary["rows_in_batch"],
                rows_deleted=summary["rows_deleted"],
                partition_stats=summary["partition_stats"],
                snapshot_id=summary["snapshot_id"],
                schema_id=summary["schema_id"],
                committed_at_lsn=end_lsn,
            )
        )
    return summary


def lsn_file_index(
    path: str,
    col: str = "lsn",
    known: dict[str, tuple[int, int]] | None = None,
) -> list[tuple[str, int, int]]:
    """(file, min_lsn, max_lsn) from parquet footer stats — the
    driver-side file-pruning index for an append-only log dir.
    Thread-pooled local metadata reads, no Spark job.

    `known` maps already-indexed paths to their (min, max) stats so a
    refresh only reads footers of files appended since the last call —
    the driver cost of tailing a growing log is O(new files), not
    O(all files). (Log files are immutable once written — binlog/WAL
    shape — so cached stats never go stale.)"""
    import os
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    known = known or {}
    paths = sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )

    def stats(p: str) -> tuple[str, int, int]:
        md = pq.ParquetFile(p).metadata
        idx = next(
            i for i in range(md.num_columns) if md.schema.column(i).name == col
        )
        mns, mxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mns.append(st.min)
            mxs.append(st.max)
        return p, min(mns), max(mxs)

    new_paths = [p for p in paths if p not in known]
    with ThreadPoolExecutor(max_workers=16) as pool:
        fresh = dict((p, (mn, mx)) for p, mn, mx in pool.map(stats, new_paths))
    return [(p, *(known.get(p) or fresh[p])) for p in paths]


class CdcPipeline:
    """Offset-range micro-batch loop over a changelog DataFrame/path.

    The changelog is assumed append-only and lsn-ordered (binlog/WAL
    shape); a batch is the half-open lsn range [start, end).

    Batch slicing, path mode: files are pruned DRIVER-SIDE from a
    footer-stats index and the exact bounds are applied via a join
    against a one-row bounds relation — NOT literal filters. Literal
    lsn bounds embed in the generated Java source, so every batch
    would Janino-compile (and JIT) a fresh class: a measured
    ~0.5–0.7 s/batch SERIAL term that caps scaling efficiency. The
    bounds-join keeps the generated source batch-invariant (bounds are
    broadcast DATA, not code) while the file index replaces the lost
    parquet pushdown at file granularity. The bounds row is a SQL
    `VALUES` relation, local to the JVM: built with `createDataFrame`
    it was a Python RDD, and every batch opened with a 4-task
    Python-worker stage (0.25–0.35 s) to broadcast two numbers.
    """

    def __init__(
        self,
        spark: SparkSession,
        table: LakeTable,
        checkpoints: CheckpointStore,
        changelog: DataFrame | None = None,
        changelog_path: str | None = None,
        pre_merge=None,
    ):
        """`pre_merge` is an optional DataFrame->DataFrame hook applied
        to every batch before the MERGE — e.g. the join-and-score
        reconciliation (operators/reconcile.reconcile_near_dups)."""
        self.spark = spark
        self.table = table
        self.checkpoints = checkpoints
        self._changelog = changelog
        self._changelog_path = changelog_path
        self.pre_merge = pre_merge
        self._file_index: list[tuple[str, int, int]] | None = None
        self._log_cols: list[tuple[str, str]] | None = None

    def _log(self) -> DataFrame:
        if self._changelog is not None:
            return self._changelog
        return self.spark.read.parquet(self._changelog_path)

    def refresh_file_index(self) -> None:
        """(Re)build the footer-stats index, reading only footers of
        files appended since the last refresh. Called at the start of
        every run() — a pipeline instance tailing a growing log must
        see files that landed after its previous run (the cached index
        would otherwise silently return empty slices for lsn ranges
        the ledger then commits: permanent data loss)."""
        if self._changelog_path is None:
            return
        known = (
            {p: (mn, mx) for p, mn, mx in self._file_index}
            if self._file_index
            else None
        )
        self._file_index = lsn_file_index(self._changelog_path, known=known)
        if self._log_cols is None:
            self._log_cols = [
                (f.name, f.dataType.simpleString()) for f in self._log().schema.fields
            ]

    def _batch_frame(self, lo: int, hi: int) -> DataFrame:
        """The [lo, hi) slice with a batch-invariant generated plan."""
        if self._changelog is not None:
            # caller-supplied frame (tests, streaming face): literal
            # filter — correctness identical, plan recompiles per batch
            return self._changelog.filter((F.col("lsn") >= lo) & (F.col("lsn") < hi))
        if self._file_index is None or (
            self._file_index and hi > max(mx for _, _, mx in self._file_index) + 1
        ):
            # also refresh mid-run when a requested range extends past
            # the indexed coverage (log grew while we were applying)
            self.refresh_file_index()
        files = [p for p, mn, mx in self._file_index if mx >= lo and mn < hi]
        if not files:
            return empty_frame(self.spark, self._log_cols)
        ddl = ", ".join(f"{n} {t}" for n, t in self._log_cols)
        df = self.spark.read.schema(ddl).parquet(*files)
        bounds = self.spark.sql(
            f"SELECT * FROM VALUES (CAST({int(lo)} AS BIGINT), CAST({int(hi)} AS BIGINT))"
            " AS b(_lo, _hi)"
        )
        return (
            df.join(
                F.broadcast(bounds),
                (df["lsn"] >= F.col("_lo")) & (df["lsn"] < F.col("_hi")),
            )
            .drop("_lo", "_hi")
        )

    def resume_lsn(self) -> int:
        return ledger_resume_lsn(self.table)

    def run(
        self,
        end_lsn: int,
        batch_size: int,
        start_lsn: int | None = None,
        stop_after: int | None = None,
        compact_every: int | None = None,
    ) -> list[dict]:
        """Process [start_lsn, end_lsn) in `batch_size` slices; resume
        from the table's ledger (resume_lsn) when start_lsn is None.
        `stop_after` simulates a crash after k batches (for resume tests).
        `compact_every` folds MOR delta files every k applied batches —
        bounds read amplification on a long-running tail (file count
        per bucket stays <= k + 1)."""
        self.refresh_file_index()  # pick up files appended since the last run
        start = self.resume_lsn() if start_lsn is None else start_lsn
        results = []
        batch_no = 0
        applied = 0
        lo = start
        while lo < end_lsn:
            hi = min(lo + batch_size, end_lsn)
            batch_id = lsn_batch_id(lo, hi)
            batch = self._batch_frame(lo, hi)
            if self.pre_merge is not None:
                batch = self.pre_merge(batch)
            summary = apply_batch(
                self.table, batch, batch_id, self.checkpoints, lo, hi
            )
            results.append(summary)
            batch_no += 1
            if not summary.get("skipped"):
                applied += 1
                if compact_every and applied % compact_every == 0:
                    self.table.compact()
            lo = hi
            if stop_after is not None and batch_no >= stop_after:
                break
        return results
