"""CDC ingest benchmark of silk-spark.

    python3 perfbench/run.py --workload bulk_ingest --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) against the `silk_spark` package
of the checkout this file sits in, checks the final table against an
independent DuckDB reference, and prints one line per metric followed
by one JSON result line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
variant, reports the per-layer metrics and writes its spans to
perfbench/traces/<workload>-seed<seed>.json. Every file the run writes
lives under perfbench/.scratch/<pid>, removed when the run ends. The
exit code is 0 only when every operation succeeded and every check
passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170  # the run must end within 180 s


class Deadline(Exception):
    pass


def _preflight() -> None:
    """Fail fast, without a result line, when the program is missing."""
    sys.path.insert(0, ROOT)
    try:
        import duckdb  # noqa: F401
        import pyspark  # noqa: F401

        import silk_spark
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the program or a dependency: {e}")
    if not os.path.abspath(silk_spark.__file__).startswith(ROOT + os.sep):
        sys.exit(f"perfbench: silk_spark imported from outside {ROOT}")


def _start_session(cores: int, mem_gb: int, scratch: str):
    """Sized to the host: local[cores], `cores` shuffle partitions, the
    driver heap through SILK_SPARK_DRIVER_MEM and fixed at that size
    from the start (a growing heap made peak RSS vary with G1's resize
    decisions), and every temporary file of Spark, the JVM and Python
    under `scratch`."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["SILK_SPARK_DRIVER_MEM"] = f"{mem_gb}g"
    import tempfile

    tempfile.tempdir = tmp
    from silk_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem_gb}g",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            # keep every job and stage for the traced run's counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _emit(metrics: dict) -> dict:
    """Print one line per metric; return the result-line metrics."""
    out = {}
    for name, (stat, unit) in metrics.items():
        if not isinstance(stat, dict):
            stat = {"value": stat, "n": 1}
        value = float(stat["value"])
        note = f", {stat['stat']} of the samples" if "stat" in stat else ""
        print(f"metric {name} = {value:.6g} {unit} (n={stat['n']}{note})")
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)
    _preflight()
    sys.path.insert(0, HERE)
    import harness
    import oracle
    import workloads

    if args.workload not in workloads.SPECS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads.SPECS)}")

    cores = harness.usable_cores()
    mem_gb = harness.driver_memory_gb(harness.total_memory_gb())
    scratch = os.path.join(HERE, ".scratch", str(os.getpid()))
    os.makedirs(scratch)
    settings = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": f"local[{cores}]",
        "shuffle_partitions": cores,
        "driver_memory": f"{mem_gb}g (-Xms = -Xmx)",
        "scratch": os.path.relpath(scratch, ROOT),
        "why": workloads.SPECS[args.workload].why,
    }
    print("settings " + json.dumps(settings), flush=True)

    def on_alarm(signum, frame):
        raise Deadline(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    spark = None
    metrics: dict = {}
    error = None
    wl = None
    try:
        t0 = time.perf_counter()
        spark = _start_session(cores, mem_gb, scratch)
        session_s = time.perf_counter() - t0
        print(f"session started in {session_s:.2f} s", flush=True)
        tracer = harness.Tracer() if args.trace else None
        wl = workloads.Workload(
            spark, scratch, args.workload, args.seed, args.seconds, cores, tracer
        )
        if tracer is not None:
            counters = harness.StageCounters(spark)
            wl.install_tracing(counters)
        wl.setup(session_s)
        wl.run()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        jvm_mb, py_mb = harness.peak_rss_mb(jvm.pid if jvm else None)
        print(f"peak rss jvm={jvm_mb:.1f} MB python={py_mb:.1f} MB")
        con = oracle.connect(os.path.join(scratch, "duckdb"), cores)
        t1 = time.perf_counter()
        res = wl.check(con)
        wl.phases["check"] = time.perf_counter() - t1
        print("phases " + json.dumps({k: round(v, 2) for k, v in wl.phases.items()}))
        print("batch walls " + json.dumps([round(w, 3) for _, w in wl.cycle_walls]))
        print("scan walls " + json.dumps([round(w, 3) for w in wl.scan_walls]))
        print("lookup walls " + json.dumps([round(w, 3) for w in wl.m["lookup"]]))
        print(f"check table rows={res['rows']} missing={res['missing']} extra={res['extra']}")
        if tracer is None:
            metrics = _emit(wl.end_to_end(jvm_mb + py_mb))
        else:
            metrics = _emit(wl.per_layer(counters.collect()))
            os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
            path = os.path.join(HERE, "traces", f"{args.workload}-seed{args.seed}.json")
            with open(path, "w") as f:
                json.dump({"settings": settings, "spans": tracer.spans}, f)
            print(f"trace spans={len(tracer.spans)} written to {os.path.relpath(path, ROOT)}")
    except Exception as e:  # the run's boundary: report, then fail
        traceback.print_exc()
        error = type(e).__name__
    finally:
        signal.alarm(0)
        if spark is not None:
            try:
                _stop_session(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(scratch, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(scratch))
        except OSError:
            pass
    ops = wl.ops if wl is not None else None
    attempted = max(ops.attempted if ops else 0, 1)
    failed = ops.failed if ops else 0
    errors = dict(ops.errors) if ops else {}
    if error is not None:
        failed += 1
        attempted += 1
        errors[error] = errors.get(error, 0) + 1
    correct = error is None and failed == 0
    print(f"error_rate = {failed / attempted:.6g} ({failed}/{attempted}) errors={json.dumps(errors)}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
