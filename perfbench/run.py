"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 12 --trace 0

Run it from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` runs the same workload with spans and Spark's own
counters and prints the per-layer metrics. The line before the result
records the environment (cores, driver memory, Spark and PyArrow
versions, seed, ambient load) and the sample counts. All scratch files
go under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("serve", "batch")
DEADLINE_S = 170


def driver_mem() -> str:
    """A quarter of MemTotal, between 1 and 4 GB: the box is shared, and
    the session's own 48g default is what gets a driver OOM-killed."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f
                  if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def start_spark(work: str, slots: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # workers are separate Python processes: they find `engine` through
    # PYTHONPATH, whatever the current directory is
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    mem = driver_mem()
    os.environ["SPARK_DRIVER_MEM"] = mem
    # glibc's per-thread malloc arenas made the JVM's RSS depend on how
    # its threads happened to interleave
    os.environ["MALLOC_ARENA_MAX"] = "2"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # the short-lived launcher JVM that builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    from engine.session import get_spark
    return get_spark("perfbench", master=f"local[{slots}]", extra={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap and young generation: left adaptive, G1 sized them
        # differently from run to run and the JVM's peak RSS moved by up
        # to 30 %
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem} -Xmn384m",
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    t_start = time.perf_counter()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "engine", "__init__.py")):
        print("perfbench: no engine/ package beside perfbench/; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    nproc = len(os.sched_getaffinity(0))
    # one core stays free for the driver JVM's scheduler threads and the
    # client, so that they do not queue behind a task on every core
    slots = max(1, nproc - 1)
    work = os.path.join(ROOT, ".perfbench",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    spark = None
    try:
        spark = start_spark(work, slots)
        session_s = time.perf_counter() - t_start
        import pyarrow
        from perfbench.workloads import WORKLOADS, Bench
        b = Bench(spark, work, args.seed, args.seconds, bool(args.trace))
        result, info = WORKLOADS[args.workload].run(b, session_s)
        if b.tracer is not None:
            spans_path = os.path.join(
                ROOT, ".perfbench",
                f"spans-{args.workload}-seed{args.seed}.jsonl")
            b.tracer.write(spans_path)
            info["spans_file"] = os.path.relpath(spans_path, ROOT)
        info.update(workload=args.workload, seed=args.seed, nproc=nproc,
                    task_slots=slots,
                    driver_mem=os.environ["SPARK_DRIVER_MEM"],
                    spark=spark.version, pyarrow=pyarrow.__version__)
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(info, default=str), flush=True)
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in result["metrics"].items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
