"""spark-submit entry point.

North-rule surface: `spark-submit --py-files silk_spark.zip -m` or

    spark-submit silk_spark/cli.py ingest \\
        --changelog /data/changelog --table /lake/transcripts \\
        --checkpoints /lake/_ckpt --end-lsn 10000000 --batch-size 1000000

Subcommands:
  init      create the transcripts LakeTable (merge-on-read: each
            batch appends delta files that `compact` folds)
  ingest    offset-driven micro-batch loop (resumes from the table's ledger)
  stream    Structured Streaming tail (availableNow drain)
  compact   fold the delta files into one file per bucket
  show      print table state summary + lineage (--as-of time-travels)
  history   commit history (snapshot summaries)
  changes   incremental changelog read between snapshots (merge appends)
  diff      row-level I/U/D diff between two snapshots
  rollback  point the table back at an earlier snapshot
  expire    expire old snapshots + delete their exclusive data files
  vacuum    delete orphan files (lost commit races, crashed expiries)
  curate    training-data curation pipeline over a documents table:
            exact + near dedup (survivorship), benchmark
            decontamination, lang/quality annotation, PII redaction,
            deterministic per-language sampling, sequence packing —
            each stage optional, per-stage row counts reported
"""

from __future__ import annotations

import argparse
import json


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="silk-spark")
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores (default: env/32)")
    sub = p.add_subparsers(dest="cmd", required=True)

    init = sub.add_parser("init", help="create the transcripts table")
    init.add_argument("--table", required=True)
    init.add_argument("--buckets", type=int, default=64)

    ing = sub.add_parser("ingest", help="offset-driven micro-batch ingest")
    ing.add_argument("--changelog", required=True, help="parquet dir of the change log")
    ing.add_argument("--table", required=True)
    ing.add_argument("--checkpoints", required=True)
    ing.add_argument("--end-lsn", type=int, required=True)
    ing.add_argument("--batch-size", type=int, required=True)
    ing.add_argument(
        "--start-lsn", type=int, default=None, help="default: resume from the table's ledger"
    )
    ing.add_argument("--compact-every", type=int, default=None)
    ing.add_argument(
        "--reconcile", action="store_true",
        help="join-and-score near-duplicate turn reconciliation before each MERGE",
    )

    st = sub.add_parser("stream", help="Structured Streaming tail (drain current files)")
    st.add_argument("--changelog", required=True)
    st.add_argument("--table", required=True)
    st.add_argument("--checkpoints", required=True)
    st.add_argument("--stream-checkpoint", required=True)
    st.add_argument("--timeout-sec", type=int, default=600)

    cp = sub.add_parser("compact", help="fold delta files")
    cp.add_argument("--table", required=True)
    cp.add_argument("--drop-tombstones", action="store_true")

    sh = sub.add_parser("show", help="table + lineage summary")
    sh.add_argument("--table", required=True)
    sh.add_argument("--as-of", type=int, default=None, help="time-travel snapshot id")

    hist = sub.add_parser("history", help="commit history (snapshot summaries)")
    hist.add_argument("--table", required=True)

    ch = sub.add_parser("changes", help="incremental changelog read (MOR appends)")
    ch.add_argument("--table", required=True)
    ch.add_argument("--from-snapshot", type=int, required=True)
    ch.add_argument("--to-snapshot", type=int, default=None)
    ch.add_argument("--out", required=True, help="parquet dir for the change rows")

    df = sub.add_parser("diff", help="row-level diff between two snapshots")
    df.add_argument("--table", required=True)
    df.add_argument("--from-snapshot", type=int, required=True)
    df.add_argument("--to-snapshot", type=int, default=None)
    df.add_argument("--out", required=True, help="parquet dir for I/U/D rows")

    rb = sub.add_parser("rollback", help="point the table back at a snapshot")
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-snapshot", type=int, required=True)

    rs = sub.add_parser("rescale", help="partition evolution: rewrite into a new bucket count")
    rs.add_argument("--table", required=True)
    rs.add_argument("--buckets", type=int, required=True)

    tg = sub.add_parser("tag", help="name a snapshot (durable ref; expiry retains it)")
    tg.add_argument("--table", required=True)
    tg.add_argument("--name", required=True)
    tg.add_argument("--snapshot", type=int, default=None, help="default: current")
    tg.add_argument("--delete", action="store_true")

    ex = sub.add_parser("expire", help="expire old snapshots + their files")
    ex.add_argument("--table", required=True)
    ex.add_argument("--keep-last", type=int, default=1)

    va = sub.add_parser("vacuum", help="delete orphan data files")
    va.add_argument("--table", required=True)

    cu = sub.add_parser(
        "curate",
        help="training-data curation pipeline over a documents table "
        "(dedup -> decontaminate -> annotate/redact -> sample -> pack)",
    )
    cu.add_argument("--in", dest="in_path", required=True, help="parquet docs dir")
    cu.add_argument("--out", required=True, help="output parquet dir")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--exact-dedup", action="store_true", help="drop exact duplicates (min-id survivor)")
    cu.add_argument("--near-dedup", action="store_true", help="drop near-dup cluster non-survivors")
    cu.add_argument("--threshold", type=float, default=0.5, help="near-dup shingle-Jaccard threshold")
    cu.add_argument("--decontaminate", default=None, help="benchmark parquet dir; drop overlapping docs")
    cu.add_argument("--window", type=int, default=8, help="decontamination span width (tokens)")
    cu.add_argument("--annotate", action="store_true", help="add lang / quality / n_tokens columns")
    cu.add_argument("--redact-pii", action="store_true", help="mask emails/cards/SSNs/IPs/phones")
    cu.add_argument("--sample", default=None, help="per-language rates, e.g. en=0.5,de=0.8 (requires lang)")
    cu.add_argument("--sample-default", type=float, default=1.0, help="rate for unlisted languages")
    cu.add_argument("--seed", type=int, default=42)
    cu.add_argument("--pack", type=int, default=None, help="context-window capacity; adds pack_id")

    fs = sub.add_parser("fsck", help="manifest integrity check")
    fs.add_argument("--table", required=True)
    fs.add_argument("--all-snapshots", action="store_true")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from silk_spark.checkpoint import CheckpointStore
    from silk_spark.session import get_spark
    from silk_spark.sources.lake import LakeTable
    from silk_spark.streaming.pipeline import (
        CdcPipeline,
        create_transcripts_table,
        ledger_resume_lsn,
    )

    spark = get_spark("silk-spark-cli", cpus=args.cpus)

    if args.cmd == "init":
        create_transcripts_table(spark, args.table, n_buckets=args.buckets)
        print(json.dumps({"created": args.table}))
        return 0

    if args.cmd == "ingest":
        table = LakeTable(spark, args.table)
        ckpt = CheckpointStore(args.checkpoints)
        pre = None
        if args.reconcile:
            from silk_spark.operators.reconcile import reconcile_near_dups

            pre = reconcile_near_dups
        pipe = CdcPipeline(
            spark, table, ckpt, changelog_path=args.changelog, pre_merge=pre
        )
        results = pipe.run(
            end_lsn=args.end_lsn,
            batch_size=args.batch_size,
            start_lsn=args.start_lsn,
            compact_every=args.compact_every,
        )
        applied = sum(r.get("rows_in_batch", 0) for r in results if not r.get("skipped"))
        print(json.dumps({"batches": len(results), "rows_applied": applied}))
        return 0

    if args.cmd == "stream":
        from silk_spark.streaming.stream import run_stream_to_completion

        table = LakeTable(spark, args.table)
        ckpt = CheckpointStore(args.checkpoints)
        run_stream_to_completion(
            spark, args.changelog, table, ckpt, args.stream_checkpoint, args.timeout_sec
        )
        print(json.dumps({"drained": args.changelog}))
        return 0

    if args.cmd == "compact":
        table = LakeTable(spark, args.table)
        summary = table.compact(drop_tombstones=args.drop_tombstones)
        print(json.dumps({"snapshot_id": summary["snapshot_id"]}))
        return 0

    if args.cmd == "history":
        table = LakeTable(spark, args.table)
        print(json.dumps(table.history()))
        return 0

    if args.cmd == "changes":
        table = LakeTable(spark, args.table)
        table.read_changes(args.from_snapshot, args.to_snapshot).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"changes_written": args.out}))
        return 0

    if args.cmd == "diff":
        table = LakeTable(spark, args.table)
        table.snapshot_diff(args.from_snapshot, args.to_snapshot).write.mode(
            "overwrite"
        ).parquet(args.out)
        print(json.dumps({"diff_written": args.out}))
        return 0

    if args.cmd == "rollback":
        table = LakeTable(spark, args.table)
        print(json.dumps(table.rollback(args.to_snapshot)))
        return 0

    if args.cmd == "rescale":
        table = LakeTable(spark, args.table)
        print(json.dumps(table.rescale_buckets(args.buckets)))
        return 0

    if args.cmd == "tag":
        table = LakeTable(spark, args.table)
        if args.delete:
            print(json.dumps(table.delete_tag(args.name)))
        else:
            print(json.dumps(table.tag(args.name, args.snapshot)))
        return 0

    if args.cmd == "expire":
        table = LakeTable(spark, args.table)
        print(json.dumps(table.expire_snapshots(keep_last=args.keep_last)))
        return 0

    if args.cmd == "vacuum":
        table = LakeTable(spark, args.table)
        print(json.dumps(table.remove_orphans()))
        return 0

    if args.cmd == "curate":
        from pyspark.sql import functions as F

        from silk_spark.operators import dedup_suite as ds
        from silk_spark.operators.text import (
            lang_id, quality_score, redact_pii, token_count,
        )

        idc, txc = args.id_col, args.text_col
        df = spark.read.parquet(args.in_path)
        stages: list[tuple[str, int]] = [("input", df.count())]
        persisted: list = []

        def counted(name: str, frame):
            """Count a stage and persist it, so later stages, counts and
            the write read it instead of recomputing its lineage; the
            stage before it is then released."""
            frame = frame.persist()
            stages.append((name, frame.count()))
            for prev in persisted:
                prev.unpersist()
            persisted[:] = [frame]
            return frame

        if args.exact_dedup:
            keep = ds.exact_dedup(df, txc, idc).select(F.col("keep_id").alias(idc))
            df = counted("exact_dedup", df.join(keep, idc, "left_semi"))
        if args.near_dedup:
            surv = (
                ds.near_dup_clusters(df, args.threshold, text_col=txc, id_col=idc)
                .filter(F.col("is_survivor"))
                .select(idc)
            )
            df = counted("near_dedup", df.join(surv, idc, "left_semi"))
            ds.release_persisted(spark)
        if args.decontaminate:
            from silk_spark.operators.dedup_suite import decontaminate

            bench = spark.read.parquet(args.decontaminate)
            flagged = decontaminate(
                df, bench, window=args.window, text_col=txc, id_col=idc,
                bench_text_col=txc,
            ).select(F.col("doc_id").alias(idc))
            df = counted("decontaminate", df.join(flagged, idc, "left_anti"))
        if args.annotate or args.sample:
            df = df.withColumn("lang", lang_id(F.col(txc)))
        if args.annotate:
            df = df.withColumn("quality", quality_score(F.col(txc))).withColumn(
                "n_tokens", token_count(F.col(txc))
            )
        if args.redact_pii:
            df = df.withColumn(txc, redact_pii(F.col(txc)))
        if args.sample:
            from silk_spark.operators.sampling import stratified_sample

            rates = {
                k: float(v)
                for k, v in (kv.split("=", 1) for kv in args.sample.split(","))
            }
            df = counted("sample", stratified_sample(
                df, F.col("lang"), rates, key=F.col(idc), seed=args.seed,
                default_fraction=args.sample_default,
            ))
        if args.pack:
            from silk_spark.operators.packing import pack_sequences

            assign = pack_sequences(
                df, capacity=args.pack, text_col=txc, id_col=idc
            ).select(F.col("doc_id").alias(idc), "pack_id")
            df = df.join(assign, idc)
        df.write.mode("overwrite").parquet(args.out)
        for prev in persisted:
            prev.unpersist()
        out_rows = spark.read.parquet(args.out).count()
        print(json.dumps({"stages": stages, "out": args.out, "rows": out_rows}))
        return 0

    if args.cmd == "fsck":
        table = LakeTable(spark, args.table)
        res = table.verify(check_all_snapshots=args.all_snapshots)
        print(json.dumps(res))
        return 0 if res["ok"] else 1

    if args.cmd == "show":
        table = LakeTable(spark, args.table)
        snap = table.current_snapshot()
        out = {
            "rows": table.read(as_of_snapshot=args.as_of).count(),
            "snapshot_id": snap["snapshot_id"] if snap else None,
            "schema_id": table.schema.schema_id,
            "committed_batches": len(table.meta["committed_batches"]),
            "resume_lsn": ledger_resume_lsn(table),
        }
        print(json.dumps(out))
        return 0
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
