"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload replay_cow --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with the layer wrappers on
and prints the per-layer metrics instead (spans go to
``.perfbench_work/traces/``). The exit code is 0 only when every
correctness check passed; without the engine package next to this
directory it is 2 and nothing is printed.

Everything the run writes stays under ``.perfbench_work/`` in the
repository root: the seeded binlog cache, the tables, Spark's scratch
space and temp files.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def _pin_environment(work: str) -> int:
    """Confine every write to ``work`` and pin the parallelism to this
    host; returns the core count."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    # python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    for k in ("SPARK_GRAFT_MASTER", "ETL_DEBUG_MERGE"):
        os.environ.pop(k, None)
    return len(os.sched_getaffinity(0))


def start_spark(work: str, cores: int):
    from etl_rs_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        "perfbench",
        parallelism=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # the tail workload's readers get a pool of their own, so a
            # lookup waits for a free core, not for the stream's stage
            "spark.scheduler.mode": "FAIR",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.path.join(work, "spark-local"),
            # a heap touched up front keeps resident memory from
            # following the collector's resizing from run to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                "-Xms2g -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "etl_rs_spark")):
        print(f"perfbench: no etl_rs_spark package in {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from etl_rs_spark import cpu
    from perfbench import host
    from perfbench.workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, "run")
    shutil.rmtree(work, ignore_errors=True)
    cores = _pin_environment(work)
    load0, steal0 = host.loadavg(), host.steal_s()
    with host.RssSampler() as rss:
        t0 = time.monotonic()
        spark = start_spark(work, cores)
        session_s = time.monotonic() - t0
        try:
            ctx = Context(spark, args.workload, args.seed, args.seconds,
                          bool(args.trace), work)
            out = WORKLOADS[args.workload](ctx)
        finally:
            stop_spark(spark)
    shutil.rmtree(work, ignore_errors=True)

    out["e2e"]["setup_s"] += session_s
    out["e2e"]["peak_rss_mb"] = rss.peak_mb
    values, units = (
        (out["layers"], LAYER_UNITS) if args.trace else (out["e2e"], E2E_UNITS)
    )
    host_line = {
        "host": {
            "workload": args.workload, "seed": args.seed, "cores": cores,
            "loadavg_start": load0, "loadavg_end": host.loadavg(),
            # the JVM has been reaped: its CPU is in this process's
            "tree_cpu_s": cpu.process_tree_cpu_ms(os.getpid()) / 1e3,
            "steal_s": host.steal_s() - steal0,
            "session_s": session_s,
            **ctx.notes,
        }
    }
    print(json.dumps(host_line))
    result = {
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {
            k: {"value": float(values[k]), "unit": u} for k, u in units.items()
        },
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
