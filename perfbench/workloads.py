"""The three workloads of the CDC ingest benchmark and their traced
variant.

Every workload builds the table the CLI's `init` builds by default
(MOR, bucketed deltas, 64 buckets), feeds it a change log produced by
`silk_spark.datagen.changelog` from the run's seed, and checks the
final table against the DuckDB reference in `oracle.py`.

* bulk_ingest      closed loop, 500k-event batches, no reconcile
* reconcile_ingest closed loop, 50k-event batches, the CLI's
                   `--reconcile` hook before every merge
* tail_lookup      open loop at 10k events/s: event i is due at
                   t0 + i / rate; each cycle applies everything due,
                   then runs point lookups; compact() every 2 commits;
                   a fixed number of commits set by `seconds`

The program sees only the generated log; the lookup keys and the
schedule come from the benchmark. One event in NEAR_DUP_EVERY of the
log is rewritten into a near-duplicate of the event before it (see
`near_dups`), so the reconcile hook has records to remap and the
reference has remaps to check.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracle
from harness import StageCounters, Tracer, mean, percentile

# the conceptual log: events are generated on demand, file by file,
# outside every timed interval; FILE_ROWS-event files keep the slice
# read's file pruning meaningful for small tail batches
LOG_TOTAL = 10_000_000
FILE_ROWS = 125_000
N_CONVS = 20_000
TURNS = 50
BUCKETS = 64  # `silk-spark init --buckets` default
WARMUP_BATCH = 25_000
PRIME_S = 2.0  # open loop: seconds of events already due at its start
MIN_BATCHES = 2  # closed loops
NOMINAL_BATCH_S = 4.0  # closed loops: run `seconds` / this many batches
LOOKUPS_PER_COMMIT = 3
COMPACT_EVERY = 2  # open loop: commits per compaction
NOMINAL_PERIOD_S = 8.0  # open loop: run `seconds` / this many compaction periods
# full reads after the loop: the first is the read's JIT warm-up and
# untimed, scan_s is the median of the rest. Successive reads of the
# final table kept getting faster (2.2, 1.6, 1.4 s), the first one most,
# also after a warm-up read of the smaller table in set-up
SCANS = 3
NEAR_DUP_EVERY = 64


@dataclass(frozen=True)
class Spec:
    why: str
    batch: int = 0  # closed loop batch size (events)
    reconcile: bool = False
    rate: float = 0.0  # open loop events per second (0 = closed loop)


SPECS = {
    "bulk_ingest": Spec(
        why="large batches without reconcile: slice read and MOR write dominate",
        batch=500_000,
    ),
    "reconcile_ingest": Spec(
        why="mid-size batches through the near-duplicate join-and-score hook",
        batch=50_000,
        reconcile=True,
    ),
    "tail_lookup": Spec(
        why="open-loop tail at a fixed rate with lookups and periodic compaction",
        rate=10_000.0,
    ),
}


class ChangeLog:
    """An append-only log directory, extended on demand with the files
    of one conceptual `changelog(seed)` log of LOG_TOTAL events."""

    def __init__(self, spark, root: str, seed: int, schema_cut_lsn: int):
        self.spark = spark
        self.dir = os.path.join(root, "log")
        self.seed = seed
        self.cut = schema_cut_lsn
        self.end = 0
        os.makedirs(self.dir)

    def extend(self, to_lsn: int) -> None:
        """Make [0, to_lsn) available, rounded up to whole files."""
        from pyspark.sql import functions as F

        from silk_spark.datagen import changelog

        if to_lsn <= self.end:
            return
        hi = min(-(-to_lsn // FILE_ROWS) * FILE_ROWS, LOG_TOTAL)
        # an event depends only on its lsn and the seed, so the prefix
        # [0, hi) of the log is generated on its own; the cut is placed
        # half an event past `cut` so that rounding keeps it there
        log = changelog(
            self.spark,
            hi,
            n_convs=N_CONVS,
            turns_per_conv=TURNS,
            seed=self.seed,
            schema_cut=(self.cut + 0.5) / hi,
            num_partitions=-(-hi // (FILE_ROWS // 4)),
        )
        new = log.filter(F.col("lsn") >= self.end).toArrow().sort_by("lsn")
        for lo in range(self.end, hi, FILE_ROWS):
            pq.write_table(
                near_dups(new.slice(lo - self.end, FILE_ROWS), self.seed),
                os.path.join(self.dir, f"{lo:012d}.parquet"),
            )
        self.end = hi

    def files(self) -> list[str]:
        return sorted(
            os.path.join(self.dir, f) for f in os.listdir(self.dir) if f.endswith(".parquet")
        )


def near_dups(log: pa.Table, seed: int) -> pa.Table:
    """Rewrite one event in NEAR_DUP_EVERY (seeded by lsn) into a
    near-duplicate of the event before it in `log` (an lsn-ordered
    slice): the same conversation, the next turn, and its text plus one
    character. Deletes and last turns are left alone. `changelog` texts
    carry their turn number and four words hashed from (conversation,
    turn), so on their own adjacent turns are almost never within the
    reconcile threshold."""
    lsn = log["lsn"].to_numpy().astype(np.uint64)
    mixed = (lsn + np.uint64(seed)) * np.uint64(0x9E3779B97F4A7C15)
    j = np.flatnonzero((mixed >> np.uint64(40)) % np.uint64(NEAR_DUP_EVERY) == 0)
    j = j[j > 0]
    op = log["op"].to_numpy(zero_copy_only=False)
    turn = log["turn_idx"].to_numpy().copy()
    j = j[(op[j - 1] != "D") & (op[j] != "D") & (turn[j - 1] < TURNS - 1)]
    conv = log["conv_id"].to_numpy(zero_copy_only=False).copy()
    text = log["text"].to_numpy(zero_copy_only=False).copy()
    conv[j] = conv[j - 1]
    turn[j] = turn[j - 1] + 1
    text[j] = [t + "~" for t in text[j - 1]]
    for name, values in (("conv_id", conv), ("turn_idx", turn), ("text", text)):
        i = log.schema.get_field_index(name)
        log = log.set_column(i, log.schema.field(i), pa.array(values, log.schema.field(i).type))
    return log


def lookup_keys(seed: int, n: int) -> list[str]:
    """Seeded conversation ids, skewed towards hot ones like the log."""
    rng = random.Random(seed * 7919 + 1)
    return ["conv-%08d" % int(rng.random() ** 3 * N_CONVS) for _ in range(n)]


class Ops:
    """Attempted / failed operation counts with failure types."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: dict[str, int] = {}

    def record(self, ok: bool, kind: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors[kind] = self.errors.get(kind, 0) + 1


def _files_bytes(entries) -> int:
    return sum(os.path.getsize(e[0] if isinstance(e, list) else e) for e in entries)


def _snapshot_files(table) -> list:
    snap = table.current_snapshot()
    return [e for fs in (snap or {}).get("files", {}).values() for e in fs]


class Workload:
    """One run: set-up, the timed phase, the post phase and the checks.

    With a tracer, batches alternate between traced and untraced so the
    run itself measures the tracing overhead."""

    def __init__(self, spark, root, name, seed, seconds, cores, tracer=None):
        self.spark = spark
        self.root = root
        self.spec = SPECS[name]
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.tracer = tracer
        self.ops = Ops()
        self.m: dict = {}  # end-to-end samples
        self.layer: dict = {}  # traced-run records
        self.batches: list[tuple[int, int]] = []
        self.cycle_walls: list[tuple[bool, float]] = []  # (traced, wall)
        self.lookups: list[tuple[str, int, object]] = []  # key, lsn bound, rows
        self.phases: dict[str, float] = {}  # wall seconds per phase, for the log

    def _phase(self, name: str, t: float) -> float:
        now = time.perf_counter()
        self.phases[name] = self.phases.get(name, 0.0) + now - t
        return now

    # ---------- phases ----------

    def setup(self, session_s: float) -> None:
        from silk_spark.checkpoint import CheckpointStore
        from silk_spark.streaming.pipeline import CdcPipeline, create_transcripts_table

        spec = self.spec
        # a small batch for codegen, then one of the timed size: the JIT
        # of the reconcile join keeps improving over the first big batch
        warm = [WARMUP_BATCH, spec.batch or WARMUP_BATCH]
        warm_end = sum(warm)
        # the v1 -> v2 schema cut lands inside the timed phase
        first = spec.batch or int(spec.rate * self.seconds / 3)
        self.log = ChangeLog(self.spark, self.root, self.seed, warm_end + first // 2)
        # input synthesis, not set-up: the warm-up events and the first
        # batch, or the whole open-loop schedule, in one job
        # (room for a host twice as slow as the one the run was sized on)
        tail_events = int(spec.rate * (self.seconds * 2 + 20 + PRIME_S))
        t = time.perf_counter()
        self.log.extend(warm_end + (spec.batch or tail_events))
        t = self._phase("generate", t)
        self.table = create_transcripts_table(
            self.spark, os.path.join(self.root, "table"), n_buckets=BUCKETS, merge_mode="mor"
        )
        self.pipe = CdcPipeline(
            self.spark,
            self.table,
            CheckpointStore(os.path.join(self.root, "checkpoints")),
            changelog_path=self.log.dir,
            pre_merge=self._pre_merge(),
        )
        # warm-up: JIT and codegen of the timed batches, lookups and
        # compactions, charged here; the final reads warm up on their own
        # (see SCANS)
        t1, lo = t, 0
        for size in warm:
            self.pipe.run(end_lsn=lo + size, batch_size=size)
            self.batches.append((lo, lo + size))
            lo += size
            t1 = self._phase(f"warm_batch{len(self.batches)}", t1)
        self.table.lookup(lookup_keys(self.seed, 1)[0]).toArrow()
        t1 = self._phase("warm_lookup", t1)
        self.table.compact()
        self._phase("warm_compact", t1)
        self.m["setup_s"] = session_s + time.perf_counter() - t
        self.base = warm_end

    def run(self) -> None:
        if self.spec.rate:
            self._open_loop()
        else:
            self._closed_loop()
        self._post()

    def _pre_merge(self):
        if self.tracer is None:
            if self.spec.reconcile:
                from silk_spark.operators.reconcile import reconcile_near_dups

                return reconcile_near_dups
            return None
        return self._traced_pre_merge

    def _cycle(self, n: int, lo: int, hi: int) -> float:
        """One pipeline.run over [lo, hi); returns its wall time."""
        # odd batches: the first batch still carries some JIT warm-up
        traced = self.tracer is not None and n % 2 == 1
        if self.tracer is not None:
            self.tracer.enabled = traced
            self.tracer.batch = f"c{n}"
            self.layer.setdefault("backlog", []).append((traced, hi - lo))
        t = time.perf_counter()
        with self._span("pipeline.run"):
            self.pipe.run(end_lsn=hi, batch_size=hi - lo)
        wall = time.perf_counter() - t
        self.batches.append((lo, hi))
        self.cycle_walls.append((traced, wall))
        return wall

    def _closed_loop(self) -> None:
        """`seconds` of batches at NOMINAL_BATCH_S each, at least
        MIN_BATCHES. The count follows from the arguments alone, so a
        faster program does the same work and leaves the same table to
        the read and the compaction."""
        batch = self.spec.batch
        keys = iter(lookup_keys(self.seed, 10_000))
        batches = max(MIN_BATCHES, round(self.seconds / NOMINAL_BATCH_S))
        lo, walls, lookups = self.base, [], []
        for n in range(batches):
            t = time.perf_counter()
            self.log.extend(lo + batch)  # outside the timed interval
            self._phase("generate", t)
            walls.append(self._cycle(n, lo, lo + batch))
            lo += batch
            # between batches: they add no time to any batch
            lookups += [self._lookup(next(keys)) for _ in range(LOOKUPS_PER_COMMIT)]
        self.end_lsn = lo
        self.m["ingest_events_per_s"] = {"value": (lo - self.base) / sum(walls), "n": batches}
        # closed loop: a batch's events are due when it is asked for, so
        # its freshness is its wall time; one sample per batch
        self.m["freshness"] = walls
        self.m["lookup"] = lookups

    def _open_loop(self) -> None:
        """Cycles of run() over everything due, lookups after each commit
        and compact() after every COMPACT_EVERY commits. The schedule
        starts PRIME_S early, so the first cycle meets a backlog as the
        later ones do. The loop runs `seconds` / NOMINAL_PERIOD_S whole
        compaction periods, at least one, and one more commit, which
        applies the events the last compaction delayed. The count
        follows from the arguments alone: a loop that ran until
        `seconds` had passed would, on a faster host or program, run
        more periods and leave a larger table to the final reads."""
        rate = self.spec.rate
        keys = iter(lookup_keys(self.seed, 10_000))
        fresh, lookups, compacts = [], [], []
        applied = self.base
        commits = COMPACT_EVERY * max(1, round(self.seconds / NOMINAL_PERIOD_S)) + 1
        t0 = time.perf_counter() - PRIME_S
        for n in range(1, commits + 1):
            due = self.base + int((time.perf_counter() - t0) * rate)
            if due > self.log.end:
                raise RuntimeError(f"the schedule ran past the generated log at lsn {due}")
            self._cycle(n - 1, applied, due)
            committed = time.perf_counter()
            # each event's freshness: its commit time minus its due time
            idx = np.arange(applied, due, dtype=np.float64)
            fresh.append(committed - (t0 + (idx - self.base) / rate))
            applied = due
            lookups += [self._lookup(next(keys)) for _ in range(LOOKUPS_PER_COMMIT)]
            if n % COMPACT_EVERY == 0:
                compacts.append(self._compact())
        self.end_lsn = applied
        # the delivered rate: events committed per second of schedule up
        # to the last commit. It stays near `rate` while the program
        # keeps up and falls below it when it cannot; it is not the
        # program's capacity, which an open loop does not measure
        self.m["ingest_events_per_s"] = {
            "value": (applied - self.base) / (committed - t0), "n": commits
        }
        self.m["freshness"] = np.concatenate(fresh).tolist()
        self.m["lookup"] = lookups
        self.m["compact"] = compacts

    def _post(self) -> None:
        if self.tracer is not None:
            self.tracer.enabled = True
            self.tracer.batch = "final"
            self._trace_dedup()
        t = time.perf_counter()
        walls = []
        for _ in range(SCANS):
            t1 = time.perf_counter()
            with self._span("lake.scan"):
                self.final_rows = self.table.read().toArrow()
            walls.append(time.perf_counter() - t1)
        self.scan_walls = walls
        self.m["scan"] = walls[1:]
        if not self.spec.rate:
            self.m["compact"] = [self._compact()]
        with self._span("lake.verify"):
            v = self.table.verify()
        self.ops.record(v["ok"], "verify")
        self._phase("scan_compact_verify", t)

    def _lookup(self, key: str) -> float:
        if self.tracer is not None:
            self.layer.setdefault("live_files", []).append(len(_snapshot_files(self.table)))
        t = time.perf_counter()
        with self._span("lake.lookup"):
            rows = self.table.lookup(key).toArrow()
        wall = time.perf_counter() - t
        self.lookups.append((key, self.batches[-1][1], rows))
        return wall

    def _compact(self) -> float:
        t = time.perf_counter()
        with self._span("lake.compact"):
            self.table.compact()
        wall = time.perf_counter() - t
        if self.tracer is not None:
            self.layer.setdefault("compact_bytes", []).append(
                _files_bytes(_snapshot_files(self.table))
            )
        return wall

    # ---------- checks ----------

    def check(self, con) -> dict:
        """Compare the final table and every lookup with the reference."""
        oracle.load_log(con, self.log.files(), self.end_lsn)
        want = (
            oracle.expected_reconciled(con, self.batches)
            if self.spec.reconcile
            else oracle.expected_latest()
        )
        con.execute(f"CREATE OR REPLACE TABLE want AS {want}")
        res = oracle.compare(con, self.final_rows, "SELECT * FROM want")
        self.ops.record(res["ok"], "table_mismatch")
        source = "remapped" if self.spec.reconcile else "log"
        for key, bound, rows in self.lookups:
            sql = oracle.expected_latest(f"conv_id = '{key}' AND lsn < {bound}", source)
            self.ops.record(oracle.compare(con, rows, sql)["ok"], "lookup_mismatch")
        for _ in self.batches:
            self.ops.record(True)
        return res

    # ---------- tracing ----------

    def _span(self, name: str):
        return nullcontext() if self.tracer is None else self.tracer.span(name)

    def _traced_pre_merge(self, batch):
        """Materialize the slice (and the reconcile output) so the
        read, reconcile and merge layers each get their own span."""
        from silk_spark.operators.reconcile import reconcile_near_dups

        if not self.tracer.enabled:
            return reconcile_near_dups(batch) if self.spec.reconcile else batch
        files = batch.inputFiles()
        with self.tracer.span("pipeline.slice_read"):
            sliced = batch.cache()
            rows = sliced.count()
        self._cached.append(sliced)
        self.layer.setdefault("slice", []).append(
            (rows, sum(pq.ParquetFile(f.removeprefix("file:")).metadata.num_rows for f in files))
        )
        if not self.spec.reconcile:
            return sliced
        self._stash.clear()
        with self.tracer.span("reconcile"):
            out = reconcile_near_dups(sliced).cache()
            out.count()
        self._cached.append(out)
        with self.tracer.span("trace.counters"):
            self.layer.setdefault("reconcile", []).append(
                (self._stash["window_candidates"].count(), self._stash["near_dup_mapping"].count())
            )
        return out

    def _trace_dedup(self) -> None:
        """latest_by_key over a materialized unresolved scan, and the
        MOR read amplification (unresolved rows / resolved rows)."""
        from silk_spark.operators.dedup import latest_by_key

        meta = self.table.meta
        with self.tracer.span("trace.counters"):
            unresolved = self.table.scan(resolve=False).cache()
            n_unresolved = unresolved.count()
            n_resolved = self.table.scan(resolve=True).count()
        with self.tracer.span("dedup.latest_by_key"):
            latest_by_key(unresolved, meta["key_cols"], meta["version_cols"]).write.format(
                "noop"
            ).mode("overwrite").save()
        unresolved.unpersist()
        self.layer["read_amplification"] = n_unresolved / max(n_resolved, 1)

    def install_tracing(self, counters: StageCounters) -> None:
        """Wrap the layers' public entry points with spans. The wrappers
        live on the classes and modules for the rest of the process."""
        import silk_spark.operators.reconcile as rec
        import silk_spark.streaming.pipeline as pipeline
        from silk_spark.checkpoint import CheckpointStore
        from silk_spark.schema import SchemaRegistry
        from silk_spark.sources.io import LocalMetadataIO
        from silk_spark.sources.lake import LakeTable

        tracer = self.tracer
        self._cached: list = []
        self._stash: dict = {}
        group = [None]

        def on_enter(rec_):
            prev = group[0]
            group[0] = f"{rec_['batch']}|{rec_['name']}"
            counters.set_group(group[0])

            def restore():
                group[0] = prev
                counters.set_group(prev)

            return restore

        tracer.on_enter = on_enter

        def spanned(owner, attr, name, after=None):
            fn = getattr(owner, attr)

            def wrapper(*a, **k):
                with tracer.span(name) as s:
                    out = fn(*a, **k)
                if s is not None and after is not None:
                    after(s, a, k, out)
                return out

            setattr(owner, attr, wrapper)

        def stash(owner, attr):
            fn = getattr(owner, attr)

            def wrapper(*a, **k):
                out = fn(*a, **k)
                self._stash[attr] = out
                return out

            setattr(owner, attr, wrapper)

        def meta_bytes(s, a, k, out):
            if a[1].endswith(".metadata.json"):
                s["bytes"] = len(a[2])

        def merge_files(s, a, k, out):
            if not out.get("skipped"):
                s["events"] = out["rows_in_batch"]
                s["bytes"] = _files_bytes(
                    [e for e in _snapshot_files(a[0]) if tuple(e) not in self._pre_files]
                )

        def release(s, a, k, out):
            for df in self._cached:
                df.unpersist()
            self._cached.clear()

        orig_merge = LakeTable.merge_batch

        def merge_batch(table, *a, **k):
            self._pre_files = {tuple(e) for e in _snapshot_files(table)}
            return orig_merge(table, *a, **k)

        LakeTable.merge_batch = merge_batch
        spanned(pipeline, "lsn_file_index", "pipeline.file_index")
        spanned(pipeline, "apply_batch", "pipeline.apply", after=release)
        spanned(LakeTable, "merge_batch", "lake.merge", after=merge_files)
        spanned(SchemaRegistry, "evolve", "schema.evolve")
        spanned(LocalMetadataIO, "try_create", "io.meta_write", after=meta_bytes)
        spanned(LocalMetadataIO, "write_atomic", "io.meta_write")
        spanned(CheckpointStore, "write", "checkpoint.write")
        stash(rec, "window_candidates")
        stash(rec, "near_dup_mapping")

    # ---------- results ----------

    def end_to_end(self, peak_rss_mb: float) -> dict:
        m = self.m
        fresh = m["freshness"]
        lookups = m["lookup"]
        return {
            "setup_s": ({"value": m["setup_s"], "n": 1}, "s"),
            "ingest_events_per_s": (m["ingest_events_per_s"], "1/s"),
            "freshness_p50_s": (percentile(fresh, 50), "s"),
            # a closed loop's few batches cannot carry a p90
            "freshness_p90_s": (percentile(fresh, 90, or_max=not self.spec.rate), "s"),
            "lookup_p50_s": (percentile(lookups, 50), "s"),
            "scan_s": (percentile(m["scan"], 50), "s"),
            "compact_s": (percentile(m["compact"], 50), "s"),
            "peak_rss_mb": ({"value": peak_rss_mb, "n": 1}, "MB"),
        }

    def per_layer(self, jobs: list[dict]) -> dict:
        """Per-layer metrics over the traced batches."""
        tr = self.tracer
        traced = {s["batch"] for s in tr.named("pipeline.run")}

        def in_run(s):
            """Inside a traced pipeline.run, not in a compaction or lookup."""
            p = s["parent"]
            while p is not None:
                if tr.spans[p]["name"] == "pipeline.run":
                    return True
                p = tr.spans[p]["parent"]
            return False

        def durations(name, self_time=False):
            return [
                tr.self_time(s) if self_time else s["end"] - s["start"]
                for s in tr.named(name)
                if in_run(s)
            ]

        def per_batch(name, self_time=False):
            return sum(durations(name, self_time)) / max(len(traced), 1)

        merges = [s for s in tr.named("lake.merge") if in_run(s) and "events" in s]
        events = sum(s["events"] for s in merges)
        commits = [s for s in tr.named("io.meta_write") if in_run(s) and "bytes" in s]
        slices = self.layer.get("slice", [])
        recs = self.layer.get("reconcile", [])
        cand = sum(c for c, _ in recs)
        remapped = sum(r for _, r in recs)
        batch_spans = {
            "pipeline.run", "pipeline.file_index", "pipeline.apply", "pipeline.slice_read",
            "reconcile", "lake.merge", "schema.evolve", "io.meta_write", "checkpoint.write",
        }
        bjobs = [
            j for j in jobs
            if j["group"] and j["group"].split("|")[0] in traced
            and j["group"].split("|")[1] in batch_spans
        ]
        rjobs = [j for j in bjobs if j["group"].split("|")[1] == "reconcile"]
        # run() wall without the benchmark's own counting jobs
        run_wall = sum(s["end"] - s["start"] for s in tr.named("pipeline.run")) - sum(
            durations("trace.counters")
        )
        nb = max(len(traced), 1)
        walls_on = [w for t, w in self.cycle_walls if t]
        walls_off = [w for t, w in self.cycle_walls if not t]
        return {
            "pipeline.file_index_s": (per_batch("pipeline.file_index"), "s"),
            "pipeline.backlog_events": (mean([b for t, b in self.layer["backlog"] if t]), "events"),
            "pipeline.slice_read_s": (per_batch("pipeline.slice_read"), "s"),
            "pipeline.slice_useful_ratio": (
                sum(r for r, _ in slices) / max(sum(f for _, f in slices), 1), "ratio"
            ),
            "reconcile.s": (per_batch("reconcile"), "s"),
            "reconcile.candidate_pairs": (cand / nb, "count"),
            "reconcile.remapped_records": (remapped / nb, "count"),
            "reconcile.useful_ratio": (remapped / cand if cand else 0.0, "ratio"),
            "reconcile.shuffle_write_bytes": (sum(j["shuffle_write"] for j in rjobs) / nb, "B"),
            "dedup.s": (last_duration(tr, "dedup.latest_by_key"), "s"),
            "lake.merge_s": (per_batch("lake.merge", self_time=True), "s"),
            "lake.data_bytes_per_event": (sum(s["bytes"] for s in merges) / max(events, 1), "B/event"),
            "lake.meta_bytes_per_commit": (mean([s["bytes"] for s in commits]), "B"),
            "io.meta_write_s": (per_batch("io.meta_write"), "s"),
            "checkpoint.write_s": (per_batch("checkpoint.write"), "s"),
            "schema.evolve_s": (per_batch("schema.evolve"), "s"),
            "lake.live_data_files": (mean(self.layer.get("live_files", [])), "count"),
            "lake.read_amplification": (self.layer["read_amplification"], "ratio"),
            "lake.compact_bytes_rewritten": (mean(self.layer.get("compact_bytes", [])), "B"),
            "session.jobs_per_batch": (len(bjobs) / nb, "count"),
            "session.tasks_per_batch": (sum(j["tasks"] for j in bjobs) / nb, "count"),
            "session.executor_busy_frac": (
                sum(j["run_ms"] for j in bjobs) / 1000 / max(run_wall * self.cores, 1e-9), "ratio"
            ),
            "session.shuffle_write_bytes_per_event": (
                sum(j["shuffle_write"] for j in bjobs) / max(events, 1), "B/event"
            ),
            "trace.overhead_frac": (
                statistics.median(walls_on) / statistics.median(walls_off) - 1
                if walls_on and walls_off else 0.0,
                "ratio",
            ),
        }


def last_duration(tracer: Tracer, name: str) -> float:
    spans = tracer.named(name)
    return spans[-1]["end"] - spans[-1]["start"] if spans else 0.0
