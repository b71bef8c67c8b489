"""CLI surface: init -> ingest -> show -> compact round trip."""

import json
import os

from silk_spark.cli import main
from silk_spark.datagen import changelog


def test_cli_round_trip(spark, tmp_path_factory, capsys):
    root = str(tmp_path_factory.mktemp("cli"))
    log_dir = os.path.join(root, "log")
    changelog(spark, 1000, n_convs=20, seed=3).write.parquet(log_dir)
    table = os.path.join(root, "t")
    ckpt = os.path.join(root, "cp")

    assert main(["--cpus", "8", "init", "--table", table]) == 0
    assert main([
        "--cpus", "8", "ingest", "--changelog", log_dir, "--table", table,
        "--checkpoints", ckpt, "--end-lsn", "1000", "--batch-size", "300",
    ]) == 0
    # resume: everything already applied -> zero new rows
    assert main([
        "--cpus", "8", "ingest", "--changelog", log_dir, "--table", table,
        "--checkpoints", ckpt, "--end-lsn", "1000", "--batch-size", "300",
    ]) == 0
    assert main(["--cpus", "8", "show", "--table", table]) == 0
    out = capsys.readouterr().out.strip().splitlines()
    created, first, resumed, shown = (json.loads(x) for x in out[-4:])
    assert created == {"created": table}
    assert first["rows_applied"] > 0
    assert resumed["rows_applied"] == 0
    assert shown["rows"] > 0 and shown["resume_lsn"] == 1000

    assert main(["--cpus", "8", "compact", "--table", table]) == 0


def test_spark_submit_py_files_round_trip(spark, tmp_path_factory):
    """The north rule's deployment surface, executed for real: package
    silk_spark as a zip, run the CLI through `spark-submit --py-files`
    in a fresh JVM (no repo on sys.path — the zip is the only source
    of the package), ingest a small log, and verify the table state
    from THIS session. Proves the package is self-contained and the
    cluster submission path works end to end."""
    import shutil
    import subprocess
    import zipfile

    root = str(tmp_path_factory.mktemp("submit"))
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    zip_path = os.path.join(root, "silk_spark.zip")
    with zipfile.ZipFile(zip_path, "w") as z:
        pkg = os.path.join(repo, "silk_spark")
        for dirpath, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    z.write(full, os.path.relpath(full, repo))
    # the driver script rides --py-files too; a copy outside the repo is
    # the submission artifact (so nothing resolves via the repo cwd)
    driver = os.path.join(root, "cli.py")
    shutil.copy(os.path.join(repo, "silk_spark", "cli.py"), driver)

    log_dir = os.path.join(root, "log")
    changelog(spark, 600, n_convs=15, seed=9).write.parquet(log_dir)
    table = os.path.join(root, "t")
    ckpt = os.path.join(root, "cp")

    submit = shutil.which("spark-submit")
    assert submit, "spark-submit not on PATH"
    env = dict(os.environ, PYTHONPATH="")  # the zip must be sufficient
    for args in (
        ["init", "--table", table],
        ["ingest", "--changelog", log_dir, "--table", table,
         "--checkpoints", ckpt, "--end-lsn", "600", "--batch-size", "200"],
    ):
        proc = subprocess.run(
            [submit, "--master", "local[4]", "--py-files", zip_path, driver,
             "--cpus", "4"] + args,
            capture_output=True, text=True, timeout=420, cwd=root, env=env,
        )
        assert proc.returncode == 0, f"{args[0]} failed:\n{proc.stderr[-3000:]}"

    # verify the submitted JVM's work from this session
    from silk_spark.sources.lake import LakeTable

    import pandas as pd

    from tests.conftest import final_state_oracle, normalize

    t = LakeTable(spark, table)
    got = normalize(t.read().toPandas())
    want = normalize(
        final_state_oracle(spark.read.parquet(log_dir).toPandas())
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_cli_curate_pipeline(spark, tmp_path_factory, capsys, monkeypatch):
    """curate: exact+near dedup, decontamination, annotation,
    PII redaction, language sampling and packing as ONE spark-submit
    surface; every stage's row count is reported as lineage. Each
    counted stage is persisted, so the near-dedup clustering runs once
    for all later counts and the write."""
    from silk_spark.operators import dedup_suite as ds

    cluster_rows = spark.sparkContext.accumulator(0)
    near_dup_clusters = ds.near_dup_clusters

    def counting_clusters(*a, **k):
        """near_dup_clusters, counting each row it emits on every
        execution of its plan."""

        def tick(batches):
            for pdf in batches:
                cluster_rows.add(len(pdf))
                yield pdf

        out = near_dup_clusters(*a, **k)
        return out.mapInPandas(tick, out.schema)

    monkeypatch.setattr(ds, "near_dup_clusters", counting_clusters)
    root = str(tmp_path_factory.mktemp("curate"))
    docs_dir = os.path.join(root, "docs")
    bench_dir = os.path.join(root, "bench")
    out_dir = os.path.join(root, "out")
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = []
    for i in range(40):
        if i % 10 == 3:
            text = base  # exact dup group
        elif i % 10 == 4:
            text = base + " again"  # near dup of the group
        else:
            text = f"document {i} mail me at u{i}@ex.com " + " ".join(
                f"tok{i}w{j}" for j in range(12)
            )
        rows.append((i, text))
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(docs_dir)
    # benchmark shares an 8-token span with doc pattern 7
    spark.createDataFrame(
        [(999, "document 7 mail me at u7@ex.com tok7w0 tok7w1 tok7w2 tok7w3")],
        "doc_id bigint, text string",
    ).write.parquet(bench_dir)

    assert main([
        "--cpus", "8", "curate", "--in", docs_dir, "--out", out_dir,
        "--exact-dedup", "--near-dedup", "--threshold", "0.5",
        "--decontaminate", bench_dir, "--window", "8",
        "--annotate", "--redact-pii", "--pack", "64",
    ]) == 0
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    counts = dict(rep["stages"])
    assert counts["input"] == 40
    # two exact-dup groups of 4 (base, base+" again") -> 3 dropped each
    assert counts["exact_dedup"] == 34
    # the two surviving variants are near-dups -> one cluster, one drop
    assert counts["near_dedup"] == 33
    assert counts["decontaminate"] == 32  # doc 7 overlaps the benchmark
    # one row per exact-dedup survivor: the clustering ran exactly once
    assert cluster_rows.value == counts["exact_dedup"]
    out = spark.read.parquet(out_dir)
    assert rep["rows"] == 32
    assert {"lang", "quality", "n_tokens", "pack_id"} <= set(out.columns)
    assert out.filter(out.text.contains("@")).count() == 0  # emails masked
    assert out.filter(out.text.contains("<EMAIL>")).count() > 0
