"""Named-workload benchmark for the open_instrument_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload dash_ingest --seed 1 --seconds 8 --trace 0

Workloads (see BENCHMARK.json for why each exists):
  dash_ingest   two closed-loop /get + /list dashboard clients alone for
                --seconds, then alongside one /add writer that runs a
                maintenance tick on the same store
  batch_heavy   registry queries one after another with the noop sink,
                in whole passes until --seconds have passed (at least 2)

Each run builds its inputs from ``--seed`` (the same seed gives the same
inputs), sets up three times and reports the median set-up time, warms
up, measures, then runs the untimed correctness checks. ``--trace 1``
measures a traced phase (spans around each layer plus Spark's event
log) followed by an untraced one, and reports the per-layer metrics and
the tracing overhead. The last stdout line is the result JSON; the line
before it is the full report (every named metric with its unit and
sample count, host and session evidence, check results); a summary goes
to stderr. Everything the run writes stays under ``.perfbench_work/``
in the current directory and is removed at exit. On every way out,
including SIGTERM, the run stops the Spark JVM and the Python workers it
started and waits until each has ended.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("dash_ingest", "batch_heavy")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke self-tests")
    return ap.parse_args(argv)


def prepare_env(work: str, trace: bool, n_cores: int) -> str:
    """Point every temp and Spark directory into ``work`` before the JVM
    starts; returns the event-log directory."""
    tmp = os.path.join(work, "tmp")
    evlog = os.path.join(work, "eventlog")
    for d in (tmp, evlog):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    import tempfile

    tempfile.tempdir = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + evlog,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    java_opts = shlex.quote(f"-Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"{args} --driver-java-options {java_opts} pyspark-shell")
    return evlog


def make_workload(name: str, ctx):
    if name == "dash_ingest":
        from wl_dash_ingest import DashIngest

        return DashIngest(ctx)
    from wl_batch_heavy import BatchHeavy

    return BatchHeavy(ctx)


def run(args) -> int:
    sys.path.insert(0, ROOT)
    import host

    n_cores = host.cores()
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{args.workload}-{os.getpid()}")
    evlog = prepare_env(work, bool(args.trace), n_cores)
    try:
        return _run(args, n_cores, work, evlog)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run still uses it
            os.rmdir(os.path.dirname(work))


def stop_jvm() -> None:
    """Stop the Spark session, then the JVM and every process it started
    (its Python workers), and wait until each has ended."""
    if "pyspark" not in sys.modules:
        return
    import host
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        with contextlib.suppress(Exception):
            SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    tree = [proc.pid] + host.descendants(proc.pid)
    with contextlib.suppress(Exception):
        gateway.shutdown()
    with contextlib.suppress(OSError):
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        host.end_processes(tree)
    finally:
        proc.wait()
        SparkContext._gateway = SparkContext._jvm = None


def _run(args, n_cores: int, work: str, evlog: str) -> int:
    import common
    import host
    import layers

    from bench import cpu_calibration
    from open_instrument_spark.session import get_spark

    evidence = {"cores_affinity": len(os.sched_getaffinity(0)), "cores_used": n_cores,
                "load_before": host.load(), "cpu_calibration": cpu_calibration()}
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=n_cores)
    session_start_s = time.perf_counter() - t0
    ctx = common.Ctx(spark, args.seed, args.seconds, args.size, work)
    wl = make_workload(args.workload, ctx)
    stages = {"session_s": session_start_s}
    clock = time.perf_counter()

    def stage(name: str) -> None:
        nonlocal clock
        now = time.perf_counter()
        stages[name] = now - clock
        clock = now

    tracer = None
    try:
        setup = wl.setup()
        stage("setup_s")
        wl.warm()
        stage("warm_s")
        evidence["session"] = host.session_evidence(spark, n_cores)
        if args.trace:
            tracer = measure_traced(ctx, wl)
        else:
            wl.measure("untraced")
        stage("measure_s")
        problems = wl.check()
        stage("check_s")
        e2e = wl.end_to_end("untraced")
        named = wl.named("untraced")
        extra = wl.report()
    finally:
        wl.close()
        spark.stop()
    evidence["load_after"] = host.load()

    units = layers.end_to_end_units()
    metrics = {"setup_s": (setup["setup_s"], common.SETUP_REPS), **e2e}
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "work_dir": work,
        "end_to_end": {k: {"value": v, "unit": units[k], "n": n}
                       for k, (v, n) in metrics.items()},
        "named": {k: dict(zip(("value", "unit", "n", "percentile"), v))
                  for k, v in named.items()},
        "setup": {**setup, "session_start_s": session_start_s},
        "stages": stages,
        "failures": {"attempted": wl.log.attempted, "failed": wl.log.failed,
                     "failed_ratio": wl.log.failed / max(1, wl.log.attempted),
                     "errors": wl.log.errors},
        "checks": {"correct": not problems, "problems": problems},
        "host": evidence, **extra,
    }
    if args.trace:
        from spans import read_event_log

        per_layer, report["trace"] = layers.per_layer(
            args.workload, wl, tracer, read_event_log(evlog), session_start_s,
            e2e, wl.end_to_end("traced"))
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        result_metrics = {k: {"value": v, "unit": units[k]} for k, (v, _n) in metrics.items()}
    print_summary(report)
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"correct": not problems, "attempted": wl.log.attempted,
                      "failed": wl.log.failed, "metrics": result_metrics}))
    sys.stdout.flush()
    return 0 if not problems else 1


def measure_traced(ctx, wl):
    """A traced phase, then an untraced one; their difference is the
    tracing overhead (slightly overstated: the second phase runs warmer)."""
    from spans import Tracer

    tracer = Tracer(ctx.spark)
    wl.install_trace(tracer)
    ctx.tracer = tracer
    try:
        wl.measure("traced")
    finally:
        ctx.tracer = None
        tracer.close()
    wl.measure("untraced")
    return tracer


def print_summary(report: dict) -> None:
    """Every named metric with its unit and sample count, to stderr."""
    out = sys.stderr
    print(f"== {report['workload']} seed={report['seed']}", file=out)
    for name, m in {**report["end_to_end"], **report["named"]}.items():
        pct = f" p{m['percentile']:g}" if m.get("percentile") else ""
        value = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"  {name:<26} {value:>10} {m['unit']:<6} n={m['n']}{pct}", file=out)
    f = report["failures"]
    print(f"  failed_ratio {f['failed_ratio']:.4f} ({f['failed']}/{f['attempted']})", file=out)
    for e in f["errors"]:
        print(f"  error: {e}", file=out)
    print(f"  correct: {report['checks']['correct']}", file=out)
    for p in report["checks"]["problems"]:
        print(f"  check failed: {p}", file=out)
    for k, v in report.get("trace", {}).get("observations", {}).items():
        print(f"  observation: {k}: {v}", file=out)


def main() -> int:
    args = parse_args()
    # a SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.seconds <= 0:
        raise SystemExit("--seconds must be positive")
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
