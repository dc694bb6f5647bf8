"""Benchmark entry point.

    python3 perfbench/run.py --workload daily_batch|table_dml --seed N \
        --seconds S --trace 0|1

Run from the repository root. One process, one SparkSession at
local[$SPARK_GRAFT_CPUS] (default: all cores), every other engine
setting at its default. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0``
the metrics are the end-to-end ones, with ``--trace 1`` the per-layer
ones read from the Spark event log. The line before it is a record of
the environment and of the reported-but-ungated figures. The exit
status is nonzero when any operation or output check failed.
"""

import time

T_PROCESS = time.time()  # first statement: set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.getcwd()
PACKAGE = "etl_stocks_with_sentiment_analysis_spark"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["daily_batch", "table_dml"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for need in (PACKAGE, os.path.join("tools", "check_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from the repository root")

    # every byte the run writes stays under the checkout
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))  # nproc
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench import metrics
    from perfbench.trace import Recorder, trace_conf

    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
    }
    log_dir = os.path.join(work, "eventlog")
    if args.trace:
        conf.update(trace_conf(log_dir))

    from etl_stocks_with_sentiment_analysis_spark.operators import sinks
    from etl_stocks_with_sentiment_analysis_spark.session import get_spark

    rec = Recorder()
    with rec.span("session", "start"):
        spark = get_spark("perfbench", extra_conf=conf)
    if args.trace:
        rec.attach(spark)

    env = metrics.environment(spark, args.seed)
    if args.workload == "daily_batch":
        from perfbench.daily_batch import DailyBatch as Workload
    else:
        from perfbench.table_dml import TableDml as Workload
    wl = Workload(spark, rec, work, args.seed)
    errors: list[str] = []
    checks: dict[str, str | None] = {}
    extra: dict = {}
    try:
        try:
            wl.setup()
            # the probe is the benchmark's instrument, not set-up work
            setup_s = time.time() - T_PROCESS
            env["probe_job_s"] = metrics.probe_job(spark)
            cas0 = sinks.CAS_STATS["publishes"]
            steal0, total0 = metrics.cpu_ticks()
            wl.run(args.seconds)
            steal1, total1 = metrics.cpu_ticks()
            env["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
            wl.publishes = sinks.CAS_STATS["publishes"] - cas0
            t_checks = time.time()
            checks = wl.check()
        except Exception:  # noqa: BLE001 - reported as a failed operation
            traceback.print_exc()
            errors.append(traceback.format_exc(limit=3).strip().splitlines()[-1])
        if not errors:
            t_space = time.time()
            e2e = metrics.end_to_end(wl, rec, setup_s)
            extra = metrics.reported(wl, rec)
            extra["after_s"] = {"checks": t_space - t_checks,
                                "space_amp": time.time() - t_space}
        extra["peak_rss_mb"] = metrics.peak_rss_mb(spark)
    finally:
        t_stop = time.time()
        _stop(spark)
        extra["stop_s"] = time.time() - t_stop

    bad = {op: why for op, why in checks.items() if why}
    for op, why in bad.items():
        print(f"perfbench: check failed: {op}: {why}", file=sys.stderr)
    attempted = max(1, wl.attempted())
    failed = len(bad) + len(errors)
    result = {"correct": not (errors or bad), "attempted": attempted,
              "failed": failed, "metrics": {}}
    if not errors:
        if args.trace:
            result["metrics"] = metrics.per_layer(wl, rec, log_dir)
            extra["traced_end_to_end"] = {k: v["value"] for k, v in e2e.items()}
        else:
            result["metrics"] = e2e
    extra.update(failed_frac=failed / attempted, errors=errors, checks_failed=bad)
    print("perfbench record " + json.dumps({"env": env, **extra}, default=str))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


def _stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit (it exits
    when its stdin closes), so the run leaves no process behind."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
