"""Independent DuckDB reference for the benchmark's final tables.

The reference never calls `silk_spark`: it replays the consumed
change log (parquet files written by the benchmark) with plain SQL.

* `expected_latest`: max-by-(ts, lsn) per (conv_id, turn_idx) over
  the log prefix, tombstones dropped — the live table of a plain CDC
  ingest.
* `expected_reconciled`: the same after replaying the near-duplicate
  remap rule per micro-batch: a record with text moves onto the
  previous turn of its conversation when that turn, within the same
  batch, holds a text at Levenshtein distance <= 2; among several
  candidates the smallest (distance, left turn) wins. Remaps are
  single pass: they use the turns as logged, not already-remapped ones.
"""

from __future__ import annotations

import duckdb

COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn", "op"]

# canonical projection both sides are compared in: timestamps as
# epoch microseconds so time-zone typing cannot differ
_CANON = (
    "conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, role, text, tool, "
    "epoch_us(ts) AS ts_us, CAST(lsn AS BIGINT) AS lsn, op"
)


def connect(temp_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{temp_dir}'")
    con.execute(f"SET threads = {threads}")
    return con


def load_log(con, files: list[str], end_lsn: int) -> None:
    """Materialize the consumed log prefix [0, end_lsn) as table `log`."""
    con.execute("DROP TABLE IF EXISTS log")
    con.execute(
        "CREATE TABLE log AS SELECT lsn, op, conv_id, turn_idx, role, text, tool, ts "
        "FROM read_parquet(?) WHERE lsn < ?",
        [files, end_lsn],
    )


def log_digest(con, files: list[str]) -> str:
    """Order-independent digest of a log: row count and the xor of row
    hashes."""
    n, x = con.execute(
        "SELECT count(*), bit_xor(hash(lsn, \"offset\", op, conv_id, turn_idx, role, "
        "text, tool, ts, schema_version)) FROM read_parquet(?)",
        [files],
    ).fetchone()
    return f"{n}:{(x or 0):016x}"


def _latest(source: str) -> str:
    return (
        f"SELECT {', '.join(COLUMNS)} FROM ("
        f"  SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx"
        f"    ORDER BY ts DESC, lsn DESC) AS rn FROM {source})"
        " WHERE rn = 1 AND op <> 'D'"
    )


def expected_latest(where: str = "TRUE", source: str = "log") -> str:
    """SQL of the reference live table over the rows of `source` (`log`,
    or `remapped` after `expected_reconciled`) matching `where`."""
    return _latest(f"(SELECT * FROM {source} WHERE {where})")


def expected_reconciled(con, batches: list[tuple[int, int]]) -> str:
    """SQL of the reference live table when every batch [lo, hi) in
    `batches` was reconciled before its merge."""
    con.execute("DROP TABLE IF EXISTS batches")
    con.execute("CREATE TABLE batches (b INTEGER, lo BIGINT, hi BIGINT)")
    con.executemany(
        "INSERT INTO batches VALUES (?, ?, ?)",
        [(i, lo, hi) for i, (lo, hi) in enumerate(batches)],
    )
    con.execute("DROP TABLE IF EXISTS remapped")
    con.execute(
        """
        CREATE TABLE remapped AS
        WITH ev AS (
            SELECT log.*, batches.b FROM log JOIN batches
              ON log.lsn >= batches.lo AND log.lsn < batches.hi
        ),
        rec AS (
            SELECT DISTINCT b, conv_id, turn_idx, text FROM ev WHERE text IS NOT NULL
        ),
        pair AS (
            SELECT r.b, r.conv_id, r.turn_idx AS rt, r.text AS rtext, l.turn_idx AS lt,
                   levenshtein(l.text, r.text) AS lev
            FROM rec r JOIN rec l
              ON l.b = r.b AND l.conv_id = r.conv_id
             AND r.turn_idx > l.turn_idx AND r.turn_idx <= l.turn_idx + 1
        ),
        best AS (
            SELECT b, conv_id, rt, rtext, lt AS canon FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY b, conv_id, rt, rtext ORDER BY lev, lt) AS rn
                FROM pair WHERE lev <= 2)
            WHERE rn = 1
        )
        SELECT ev.lsn, ev.op, ev.conv_id,
               coalesce(best.canon, ev.turn_idx) AS turn_idx,
               ev.role, ev.text, ev.tool, ev.ts
        FROM ev LEFT JOIN best
          ON ev.b = best.b AND ev.conv_id = best.conv_id
         AND ev.turn_idx = best.rt AND ev.text = best.rtext
        """
    )
    return _latest("remapped")


def compare(con, got, expected_sql: str) -> dict:
    """Compare `got` (an Arrow table or pandas frame with COLUMNS) with
    the rows of `expected_sql`, as multisets.
    Returns {"ok", "missing", "extra", "rows"}."""
    con.register("got_rows", got)
    try:
        con.execute(f"CREATE OR REPLACE TEMP VIEW want_rows AS {expected_sql}")
        missing = con.execute(
            f"SELECT count(*) FROM (SELECT {_CANON} FROM want_rows "
            f"EXCEPT ALL SELECT {_CANON} FROM got_rows)"
        ).fetchone()[0]
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {_CANON} FROM got_rows "
            f"EXCEPT ALL SELECT {_CANON} FROM want_rows)"
        ).fetchone()[0]
        rows = con.execute("SELECT count(*) FROM want_rows").fetchone()[0]
    finally:
        con.unregister("got_rows")
    return {"ok": missing == 0 and extra == 0, "missing": missing, "extra": extra, "rows": rows}
