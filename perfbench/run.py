"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload kt_ingest --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout: the library is imported from there,
and every file the run writes (tables, Spark scratch, event log) lives
under ``.perfbench_work/`` there and is removed at the end. Traced runs
also leave their spans in ``.perfbench_out/``.

Untraced (``--trace 0``) runs print the end-to-end metrics: a table of
every metric that applies to the workload, then, as the last line, one
JSON object with the metrics every workload reports (``BENCHMARK.json``
``end_to_end``). Traced runs (``--trace 1``) print the per-layer metrics
instead. Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("kt_ingest", "ann_index"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (1.0 = the benchmark's sizes)")
    return p.parse_args(argv)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def spark_threads() -> int:
    """Spark's task threads: half the cores, so that the JIT compilers,
    the garbage collector and the Python driver do not queue behind the
    tasks for a core."""
    return max(1, cores() // 2)


def steal_s() -> float:
    """Seconds this machine's CPUs have waited for the host so far."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def start_spark(work: str, trace: bool):
    from pandabase_spark import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(spark_threads()),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # C1-only JIT: a run is one fresh JVM running code it has mostly
        # not compiled yet, and C1 compiles it quickly. C1-only also cuts
        # the code cache to 48 MB, which Spark fills within a run (the
        # JVM then stops compiling), so it is set back to the tiered size
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            " -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the job counts are read from the status store, which by default
        # forgets all but the last 1000 jobs
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"))
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{spark_threads()}]", **conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def fmt(value: float) -> str:
    return "n/a" if isinstance(value, float) and math.isnan(value) else f"{value:.6g}"


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import pandabase_spark
    except ImportError as exc:
        print(f"perfbench: the library is not in {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(pandabase_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: pandabase_spark imported from outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    try:
        return _run(args, work, tr, WORKLOADS[args.workload])
    finally:
        shutil.rmtree(work, ignore_errors=True)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _run(args, work, tr, workload_cls) -> int:
    trace = bool(args.trace)
    t0 = time.perf_counter()
    spark = start_spark(work, trace)
    log(f"spark up in {time.perf_counter() - t0:.1f}s")
    try:
        tracer = tr.Tracer(spark)
        wl = workload_cls(spark, work, args.seed, args.scale, tracer)
        if trace:
            tracer.enable()
        t0 = time.perf_counter()
        wl.run_setup()
        log(f"setup {[round(x, 2) for x in wl.setup_times]} s wall, {[round(x, 2) for x in wl.setup_cpu]} s CPU,"
            f" {time.perf_counter() - t0:.1f}s")
        s0 = steal_s()
        tracer.cost = 0.0
        win = wl.measure(args.seconds)
        log(f"window {win.elapsed:.1f}s, CPU steal {steal_s() - s0:.2f}s")
        if trace:
            tracer.disable()
            # the window's operation time over the same time less the
            # tracer's own bookkeeping inside the operations
            overhead = win.busy() / (win.busy() - tracer.cost)
        t0 = time.perf_counter()
        wl.final_check()
    finally:
        stop_spark(spark)
    log(f"final check and stop {time.perf_counter() - t0:.1f}s")

    for err in wl.errors:
        log(f"FAILED {err}")
    head = f"{wl.name} seed={args.seed} cores={cores()} spark_threads={spark_threads()} cycles={win.cycles} window={win.elapsed:.1f}s"
    if trace:
        facts, checks = tr.event_log_facts(os.path.join(work, "eventlog"))
        values = tr.layer_metrics(tracer.spans, facts, overhead)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(
            os.path.join(out_dir, f"trace-{wl.name}-{args.seed}.json"),
            {"event_log_checks": checks, "metrics": values},
        )
        print(f"{head} traced; event log: {checks}")
        metrics = {k: (v, tr.UNITS[k.rsplit(".", 1)[1]]) for k, v in values.items()}
        table = {k: (v, u, "") for k, (v, u) in metrics.items()}
    else:
        print(head)
        metrics = wl.gated(win)
        table = {"error_rate": (wl.failed / wl.attempted, "failed/attempted", f"{wl.failed} of {wl.attempted} ops")}
        table.update({k: (v, u, "") for k, (v, u) in metrics.items()})
        table.update(wl.timing(win))
        table.update(wl.detail(win))
    for name, (value, unit, note) in table.items():
        print(f"  {name:<34} {fmt(value):>12} {unit:<16} {note}")
    print(json.dumps({
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
