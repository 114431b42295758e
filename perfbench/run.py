"""Checked benchmark of mongo2mysql_spark.

    python3 perfbench/run.py --workload {migrate,corpus_build} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout.  Everything the run writes goes under
``.perfbench_work/`` there.  One process drives one Spark session on
``local[<cores>]``; ``--seconds`` is the least time each closed loop of
steps runs after its bulk phase and warm-up step (README.md describes
the workloads and metrics).  Standard output ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
is a human-readable report of the same run, prefixed ``report``.

``--trace 1`` wraps the package's layers in spans, tags Spark jobs with
them, turns on Spark's event log and prints per-layer counters instead
of the end-to-end metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

DRIVER_MEMORY = "2g"
END_TO_END = (
    ("setup_s", "s"),
    ("bulk_cpu_s", "s"),
    ("step_cpu_p50_s", "s"),
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=int, default=1,
                   help="multiply the migrate input sizes (to reproduce the "
                        "row loss documented in README.md)")
    return p.parse_args(argv)


def configure_environment(root: str, work: str) -> None:
    """Keep every file the run writes inside ``work`` and let Spark's
    Python workers import the package from ``root``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def session_conf(work: str, event_log: str | None) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def set_up(conf: dict[str, str]):
    """Cold set-up, as a CLI user pays it once per run: import the
    package, launch the JVM through ``session.build_session`` and run
    one warm-up job.  Returns the session and the seconds it took."""
    t0 = time.perf_counter()
    from mongo2mysql_spark.session import build_session

    spark = build_session(app_name="perfbench", extra_conf=conf)
    spark.range(1 << 16).selectExpr("sum(id * id)").collect()
    return spark, time.perf_counter() - t0


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def shut_down(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def walls(outcome) -> dict[str, float]:
    """Wall seconds of the cold bulk phases, summed, and of the median
    closed-loop step after the warm-up (0 when a failed bulk phase left
    no step to run)."""
    steps = [op.wall for op in outcome.ops if op.kind == "step"]
    return {
        "bulk_s": sum(op.wall for op in outcome.ops if op.kind == "bulk"),
        "step_p50_s": statistics.median(steps) if steps else 0.0,
    }


def end_to_end(outcome, setup_s: float) -> dict[str, float]:
    """The end-to-end metrics: wall of the cold set-up, then CPU seconds
    of the process tree in the cold bulk phases, summed, and in the
    median closed-loop step after the warm-up (0 when a failed bulk
    phase left no step to run).  README.md says why the phases are
    gated on CPU time and not on wall time."""
    steps = [op.cpu for op in outcome.ops if op.kind == "step"]
    return {
        "setup_s": setup_s,
        "bulk_cpu_s": sum(op.cpu for op in outcome.ops if op.kind == "bulk"),
        "step_cpu_p50_s": statistics.median(steps) if steps else 0.0,
    }


def per_layer(outcome, tracer, jobs, peak_mb) -> dict[str, float]:
    """The traced run's counters, one per ``spans.per_layer_metric_names``."""
    import spans

    roll = spans.rollup(tracer.spans, jobs, [(op.start, op.end) for op in outcome.ops])
    metrics = {
        f"{layer}.{m}": getattr(totals, m)
        for layer, totals in roll["layers"].items()
        for m, _unit in spans.LAYER_METRICS
    }
    metrics.update({
        "sources.jdbc.write_upsert.rows": outcome.extra.get("sink_rows", 0),
        "session.jobs": roll["session.jobs"],
        "session.driver_s": roll["session.driver_s"],
        "session.peak_rss_mb": peak_mb,
        "trace.overhead_s": tracer.overhead_s,
        "trace.coverage": roll["trace.coverage"],
        "ann.recall_at_10": outcome.extra.get("recall_at_10", 0.0),
    })
    return metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mongo2mysql_spark")):
        print(f"error: no mongo2mysql_spark package under {root}; run from a checkout's root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import spans
    from workloads import WORKLOADS, make_journeys, run_journeys

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {list(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work")
    configure_environment(root, work)
    journeys = make_journeys(args.workload, args.seed, work, args.scale)

    event_log = os.path.join(work, "eventlog") if args.trace else None
    if event_log:
        os.makedirs(event_log, exist_ok=True)
    spark, setup_s = set_up(session_conf(work, event_log))
    tracer = spans.Tracer() if args.trace else spans.NullTracer()
    if args.trace:
        tracer.install()
        tracer.bind(spark.sparkContext)
    try:
        outcome = run_journeys(journeys, spark, tracer, args.seconds)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        app_id = spark.sparkContext.applicationId
    finally:
        if args.trace:
            tracer.uninstall()
        shut_down(spark)

    attempted = len(outcome.ops)
    failed = sum(1 for op in outcome.ops if not op.ok)
    for op in outcome.ops:
        for message in op.errors:
            print(f"check failed [{op.journey} {op.kind}]: {message}", file=sys.stderr)
    if args.trace:
        log_path = os.path.join(event_log, app_id)
        with open(log_path) as fh:
            jobs = spans.parse_event_log(fh)
        os.remove(log_path)
        metrics = per_layer(outcome, tracer, jobs, peak_mb)
        units = dict(spans.per_layer_metric_names())
    else:
        metrics = end_to_end(outcome, setup_s)
        units = dict(END_TO_END)
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": outcome.inputs, "setup_s": setup_s,
        "timed_s": sum(op.wall for op in outcome.ops), "wall_s": walls(outcome),
        "ops": [[op.journey, op.kind, op.wall, op.cpu] for op in outcome.ops],
        "attempted": attempted, "failed": failed, "error_rate": failed / attempted,
        "peak_rss_mb": peak_mb,
        "figures": {k: {"value": v, "unit": u} for k, (v, u) in outcome.figures.items()},
    }
    print("report " + json.dumps(report, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
