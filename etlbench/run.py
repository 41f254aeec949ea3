"""Benchmark entry point.

    python3 etlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (``etl_small_batches``, ``etl_bulk_load`` or
``analytics_reads``) from the root of a checkout, on one ``local[n]``
Spark session (``n`` = min(4, cores)), single client, closed loop:

1. set-up: start the session, run toy-size warm-up jobs, build what
   is built once per run, then create and seed the workload's
   tables three times over (fresh tables each time; the last set
   stays);
2. measure: whole op cycles until ``--seconds`` have passed;
3. check every op's output against a DuckDB replay.

Report lines go to stdout; the last line is the JSON result. With
``--trace 0`` its metrics are the end-to-end metrics of
``BENCHMARK.json``, with ``--trace 1`` the per-layer ones. All files
live under ``.etlbench_work/`` in the checkout and are removed at exit.
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
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# BENCHMARK.json runs the first two; etl_bulk_load is for runs by hand
WORKLOADS = ("etl_small_batches", "analytics_reads", "etl_bulk_load")
MAX_CORES = 4
# a fixed, pre-touched driver heap: the JVM's resident size then does
# not wander with G1's heap sizing from run to run
DRIVER_MEMORY = "1g"
# no new cycle starts after this much wall time, which keeps a run
# under three minutes on a slow host
CYCLE_DEADLINE_S = 120.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str):
    from x_spark.session import get_session

    cores = min(MAX_CORES, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # no JVM perf-data files: they would land in /tmp, outside the checkout
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return get_session("etlbench", master=f"local[{cores}]", shuffle_partitions=cores,
                       extra_conf={
                           "spark.ui.enabled": "false",
                           "spark.ui.showConsoleProgress": "false",
                           "spark.sql.session.timeZone": "UTC",
                           "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                           "spark.local.dir": os.path.join(work, "spark-local"),
                           "spark.driver.extraJavaOptions":
                               f"-Djava.io.tmpdir={tmp} -Duser.timezone=UTC "
                               f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData",
                       })


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM it launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(jvm_pid: int) -> tuple[float, float]:
    """Peak resident memory (VmHWM) of this process and of the JVM."""
    def hwm_mb(pid) -> float:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    return hwm_mb("self"), hwm_mb(jvm_pid)


def disk_ratio(env, tables: list[str]) -> float:
    """Bytes on disk under the tables' directories over the bytes of
    their live data files."""
    from etlbench.harness import dir_state, table_ref

    on_disk = sum(sum(dir_state(env.table_dir(t)).values()) for t in tables)
    live = sum(env.txlog.describe_detail(table_ref(t))["size_bytes"] for t in tables)
    return on_disk / live


def run(args, work: str) -> tuple[dict, list[str]]:
    from etlbench import layers, report, workloads
    from etlbench.harness import Env
    from etlbench.trace import SparkProbe, Tracer

    started = time.perf_counter()
    spark = start_session(work)
    session_s = time.perf_counter() - started
    try:
        tracer = probe = None
        if args.trace:
            tracer, probe = Tracer(), SparkProbe(spark)
            tracer.active = True
            layers.instrument(tracer)
        env = Env(spark, work, tracer, probe)
        wl = workloads.make(args.workload, args.seed)

        t0 = time.perf_counter()
        if wl.warmup_kinds is not None:
            workloads.warmup(env, args.seed, wl.warmup_kinds)
        warmup_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(env)
        prepare_s = time.perf_counter() - t0
        reps = []
        for rep in range(workloads.SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(env, rep)
            reps.append(time.perf_counter() - t0)

        window, cycles = [], 0
        t0 = time.perf_counter()
        while True:
            window += [wl.run(env, op) for op in wl.cycle()]
            cycles += 1
            if (time.perf_counter() - t0 >= args.seconds
                    or time.perf_counter() - started > CYCLE_DEADLINE_S):
                break
        if tracer is not None:
            tracer.active = False

        disk = disk_ratio(env, wl.table_names())
        final_ok = wl.check(env)
        rss = peak_rss_mb(env.jvm_pid)
    finally:
        stop_session(spark)

    setup = report.Setup(session_s, warmup_s, prepare_s, reps)
    outcome = report.outcome(env.results, window, final_ok)
    if args.trace:
        metrics = layers.per_layer(tracer, env.results, window)
        lines = report.trace_lines(args, metrics, window)
        units = {name: report.unit(name) for name in metrics}
    else:
        metrics, units = report.end_to_end(window, setup, disk, rss)
        lines = report.lines(args, setup, window, metrics, units, outcome, cycles, rss)
    summary = {
        "correct": outcome.correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    return summary, lines


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the benchmark as a package from the checkout root, never
    # its modules by bare name from the script's own directory
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != here]
    try:
        import x_spark  # noqa: F401
    except ImportError as exc:
        print(f"etlbench: the engine is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".etlbench_work")
    work = os.path.join(base, uuid.uuid4().hex[:12])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    time.tzset()
    try:
        summary, lines = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    for line in lines:
        print(line)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
