"""Benchmark of the log pipeline on the local host.

Usage, from the root of a checkout::

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads are ``ingest`` and ``dashboard`` (see ``workloads.py``).  The
run generates its inputs from the seed, starts the program's SparkSession
cold, JVM launch included, as each cli command does once per process
(``local[nproc]``, a driver heap that fits the host, every other conf at
the program's defaults), measures for ``--seconds``, checks the outputs
against the generator's ground truth, and prints one JSON object as the
last line of standard output.  With ``--trace 0`` it holds the end-to-end
metrics; with ``--trace 1`` the per-layer metrics, taken from spans around
the calls into each layer.  A full record of the run (host, versions,
sizes, every timing, spans when traced) is written under
``.perfbench_runs/`` at the checkout root.

The run works in ``.perfbench_work/`` at the checkout root and deletes it
at the end; a JVM crash file (``hs_err_pid*.log``) that lands there is
first moved beside the run's record.  The exit code is 0 when
every check held, 1 when one failed, and 2 when the program or its
dependencies are missing.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time

from workloads import BRANCHES

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "python_fastly_log_query_spark"

END_TO_END = {"setup_s": "s", "pass_s": "s", "request_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.read_s": "s", "sources.bytes_read": "bytes", "sources.files": "count",
    "parse.self_s": "s", "parse.rows_out": "count", "parse.fallback_share": "ratio",
    "parse.python_bytes_sent": "bytes", "parse.python_bytes_returned": "bytes",
    "parse.busy_ratio": "ratio",
    "enrich.self_s": "s", "enrich.match_ratio": "ratio", "enrich.broadcast_bytes": "bytes",
    "route.write_s": "s", "route.files_written": "count", "route.bytes_written": "bytes",
    **{f"report.{b}_s": "s" for b in BRANCHES},
    "report.jobs": "count", "report.tasks": "count", "report.shuffle_bytes": "bytes",
    "aggregates.window_s": "s", "aggregates.endpoint_s": "s", "aggregates.daily_s": "s",
    "aggregates.jobs_per_request": "count",
    "checkpoint.round_s": "s", "checkpoint.units_processed": "count",
    "checkpoint.units_skipped": "count", "checkpoint.rows_written": "count",
    "lasthours.rows_kept_ratio": "ratio",
    "spark.jobs": "count", "spark.tasks": "count", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.busy_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.traced_untraced_ratio": "ratio",
}
# the layers of the two main passes, whose self times say where a pass
# spends its time
PASS_LAYERS = ("sources.read_s", "parse.self_s", "enrich.self_s", "route.write_s",
               *(f"report.{b}_s" for b in BRANCHES))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "dashboard"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def configure(work: str, cores: int, heap: str) -> None:
    """Environment the program and its JVM inherit: the program's own
    knobs for cores and heap, and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": heap,
        "SPARK_GRAFT_WORK_DIR": work,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def setup(app_name: str):
    """One cold set-up, as each cli command makes once per process:
    launch the JVM with the program's session, then run a first job on
    it.  Returns the session, the seconds ``get_spark`` took and the
    seconds up to the end of the first job."""
    from python_fastly_log_query_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name)
    start_s = time.perf_counter() - t0
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, start_s, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def spark_totals(spans, cores: int) -> dict:
    """Spark's own counters summed over the measured region's spans; the
    busy ratio is over the wall time of its outermost spans."""
    def total(key):
        return float(sum(s.stages.get(key, 0) for s in spans))

    wall = sum(s.duration for s in spans if s.parent is None)

    return {
        "spark.jobs": total("jobs"),
        "spark.tasks": total("tasks"),
        "spark.gc_s": total("gc_s"),
        "spark.shuffle_write_bytes": total("shuffle_write_bytes"),
        "spark.spill_bytes": total("spill_bytes"),
        "spark.busy_ratio": total("executor_run_s") / (wall * cores),
    }


def execute(args, work: str, cores: int, heap: str) -> tuple[dict, dict]:
    import host
    from spans import Tracer
    from workloads import WORKLOADS, Run, median, p50_by_kind, tail

    started = time.perf_counter()
    contention = host.Contention()
    run = Run(None, Tracer(), args.seed, args.seconds, work, started)
    workload = WORKLOADS[args.workload](run)
    workload.generate()
    phases = {"generate_s": time.perf_counter() - started}

    with host.RssSampler() as rss:
        spark = None
        try:
            spark, start_s, setup_s = setup(f"perfbench-{args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            run.spark = spark
            run.tracer = Tracer(spark, enabled=bool(args.trace))
            t0 = time.perf_counter()
            workload.prepare()
            phases["prepare_s"] = time.perf_counter() - t0
            measured_from = len(run.tracer.spans)
            timings = workload.measure(bool(args.trace))
            t0 = time.perf_counter()
            workload.verify()
            phases["verify_s"] = time.perf_counter() - t0
            layers = {}
            if args.trace:
                layers = {name: 0.0 for name in PER_LAYER}
                layers.update(workload.layer_metrics(timings))
                layers.update(spark_totals(run.tracer.spans[measured_from:], cores))
                layers["session.start_s"] = start_s
            facts = host.facts(spark, ROOT, PACKAGE, heap)
            load = contention.finish()
        finally:
            if spark is not None:
                t0 = time.perf_counter()
                stop_spark(spark)
                phases["stop_s"] = time.perf_counter() - t0
    phases["run_s"] = time.perf_counter() - started

    tail_pct, tail_s = tail(timings["request_s"])
    by_kind = p50_by_kind(timings["request_s"], timings["request_kind"])
    e2e = {
        "setup_s": setup_s,
        "pass_s": median(timings["pass_s"]),
        # a geometric mean: when one of k request kinds gets x% faster, it
        # moves by about x/k %, whatever that kind's latency
        "request_p50_s": (statistics.geometric_mean(by_kind.values())
                          if by_kind else float("nan")),
        "peak_rss_mb": rss.peak / 2 ** 20,
    }
    correct = run.failed == 0 and all(run.checks.values()) and bool(run.checks)
    if args.trace:
        metrics = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    result = {"correct": correct, "attempted": run.attempted, "failed": run.failed,
              "metrics": metrics}
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": facts, **load,
        "sizes": workload.sizes, "phases": phases,
        "setup_s": setup_s, "session_start_s": start_s,
        "timings": timings,
        "request_p50_by_kind_s": by_kind,
        "request_tail": {"percentile": tail_pct, "value_s": tail_s,
                         "samples": len(timings["request_s"])},
        "end_to_end": e2e, "per_layer": layers,
        "dominant_layer": max(PASS_LAYERS, key=layers.get) if layers else None,
        "checks": run.checks,
        "errors": run.errors, "result": result,
        "spans": run.tracer.dump() if args.trace else [],
    }
    return result, record


def keep_crash_files(work: str, runs: str, name: str) -> list[str]:
    """Move the JVM crash files (``hs_err_pid*.log``) out of the work
    directory into ``runs``, before the work directory is deleted."""
    kept = []
    for crash in sorted(glob.glob(os.path.join(work, "hs_err_pid*.log"))):
        dest = os.path.join(runs, f"{name}-{os.path.basename(crash)}")
        shutil.move(crash, dest)
        kept.append(os.path.relpath(dest, ROOT))
        print(f"JVM crash file: {kept[-1]}", file=sys.stderr)
    return kept


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the package {PACKAGE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    try:
        import pandas  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2
    import host

    cores, heap = host.nproc(), host.driver_heap()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    name = (f"{args.workload}-seed{args.seed}-trace{args.trace}-"
            f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}")
    configure(work, cores, heap)
    os.chdir(work)  # a JVM crash file lands in the working directory
    try:
        result, record = execute(args, work, cores, heap)
    finally:
        os.chdir(ROOT)
        crashes = keep_crash_files(work, runs, name)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run is still working there
            pass
    record["crash_files"] = crashes
    path = os.path.join(runs, f"{name}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"record: {os.path.relpath(path, ROOT)}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
