#!/usr/bin/env python3
"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload medallion_daily --seed 1 --seconds 10 --trace 0

Run from the repository root.  The run generates the workload's inputs
from the seed (not timed), starts one Spark session on ``local[<cpus>]``
and sets the workload up (``setup_s``), then runs the measured iteration
once.  One iteration outlasts ``--seconds`` on a 4-core host; the value
is recorded in the stamp.  Every operation's output is checked.  With
``--trace 0`` the last stdout line is the JSON result with the
end-to-end metrics; with ``--trace 1`` the same run is traced, the
result carries the per-layer metrics and the spans are written to
``.bench_results/``.  Scratch data, Spark local dirs and temp files live
under ``.bench_work/`` and are deleted at exit.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "airflow_etl_minio_to_postgres_spark"


def isolate_environment(work: str, cpus: int) -> None:
    """Route every temp file, Spark local dir and Python-worker import
    path into this run's work dir before anything starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # The launcher JVM would otherwise write /tmp/hsperfdata_<user>.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import the package by name (Arrow kernels pickle
    # functions by module path); they inherit this from the JVM.
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path[:0] = [ROOT, HERE]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes)
    and its Python workers, and wait until each has exited."""
    from pyspark import SparkContext

    from proc import alive, descendants

    children = descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=120)
    deadline = time.monotonic() + 60
    while time.monotonic() < deadline and any(alive(p) for p in children):
        time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "toy"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {ROOT}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    # Earlier runs that were killed leave their dirs behind: clear them
    # so disk use stays flat from run to run.
    if os.path.isdir(base):
        for d in os.listdir(base):
            pid = d.rsplit("-", 1)[-1]
            if not (pid.isdigit() and os.path.exists(f"/proc/{pid}")):
                shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    work = os.path.join(base, f"run-{os.getpid()}")
    isolate_environment(work, cpus)

    from workloads import SIZES, WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        return run(args, cpus, work, WORKLOADS[args.workload],
                   SIZES[args.workload][args.size])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, cpus: int, work: str, cls, size: dict) -> int:
    import pyspark

    from airflow_etl_minio_to_postgres_spark.session import get_spark
    from metrics import end_to_end, per_layer, ungated
    from proc import cpu_s, host_jiffies, peak_rss_mb
    from spans import Tracer

    t0 = time.perf_counter()
    wl = cls(None, None, work, args.seed, size)
    wl.generate()
    gen_s = time.perf_counter() - t0

    c_setup = cpu_s()
    t_setup = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{wl.name}",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            # The heap starts at its maximum: G1 otherwise grows it in
            # steps whose timing moved the JVM's peak RSS by up to 0.7 GB
            # from run to run.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                "-Xms2g",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # Status-store retention large enough that a traced run can
            # read back every job and SQL execution it launched.
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    session_cpu_s = cpu_s() - c_setup
    tracer = Tracer(spark, bool(args.trace))
    wl.spark, wl.tracer = spark, tracer
    try:
        with tracer.span("session.setup", op="setup"):
            wl.setup()
        # Set-up time is the session start plus the warm-up's operations;
        # the warm-up's checks are not timed.
        setup_wall_s = session_s + wl.counts.wall_s
        setup_cpu_s = session_cpu_s + wl.counts.cpu_s

        # One closed-loop client runs the measured iteration once, warm.
        tracer.phase = "run"
        tracer.overhead_s = 0.0
        c = wl.counts
        failed0, c.wall_s, c.cpu_s, c.bytes_written = c.failed, 0.0, 0.0, 0
        steal0, total0 = host_jiffies()
        with tracer.span("iteration", op="run"):
            wl.iteration()
        steal1, total1 = host_jiffies()
        rss = peak_rss_mb()
        java = spark._jvm.java.lang.System.getProperty("java.version")
    finally:
        stop_spark(spark)
    # An iteration with a failed operation gives no sample.
    sample = None if c.failed > failed0 else {
        "wall_s": c.wall_s, "cpu_s": c.cpu_s,
        "written_per_input": c.bytes_written / wl.input_bytes,
        "setup_wall_s": setup_wall_s,
    }

    stamp = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "cpus": cpus,
        "spark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
        "input_rows": wl.input_rows,
        "input_bytes": wl.input_bytes,
        "sizes": wl.size,
        "gen_s": round(gen_s, 4),
        "session_start_s": session_s,
        # Share of the iteration's CPU time the host gave to other VMs:
        # wall-clock metrics of a shared host swing with it.
        "steal_frac": (steal1 - steal0) / max(1, total1 - total0),
    }
    e2e = end_to_end(wl, sample, setup_cpu_s, rss)
    result_metrics = per_layer(tracer, session_s) if args.trace else {
        k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
    }
    extra = ungated(wl, sample)
    for k, (v, u) in e2e.items():
        print(f"{k:34s} {v:14.6g} {u:10s} n=1")
    for k, (v, u) in extra.items():
        print(f"{'(ungated) ' + k:34s} {v:14.6g} {u:10s} n=1")
    print(f"{'failed_frac':34s} {c.failed / max(1, c.attempted):14.6g} "
          f"{'ratio':10s} n={c.attempted}")
    for err in c.errors[:10]:
        print(f"FAILED {err}", file=sys.stderr)
    print(json.dumps({"stamp": stamp}))

    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    tag = f"{wl.name}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump({"stamp": stamp,
                   "end_to_end": {k: v for k, (v, _u) in e2e.items()},
                   "ungated": {k: v for k, (v, _u) in extra.items()},
                   "metrics": result_metrics}, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(results, f"{tag}.spans.json"), stamp)

    print(json.dumps({
        "correct": c.failed == 0 and sample is not None,
        "attempted": c.attempted,
        "failed": c.failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
