"""Benchmark runner for adtk_spark.

    python3 perfbench/run.py --workload append_serve --seed 1 --seconds 1 --trace 0

Run from the repository root. One process, one client: it starts a
``local[nproc]`` Spark session through the package's ``get_spark``
(sized for the box: heap at most a quarter of RAM, scratch space inside
``.perfbench/``, log level ERROR), generates the workload's inputs from
``--seed``, sets up several times (``setup_s`` is the median), warms up,
then repeats the workload's timed unit for ``--seconds`` (and at least
the workload's ``UNITS`` times) and checks every output it timed.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` runs untraced units and units traced by spans and Spark
counters in untraced-traced-traced-untraced blocks, and reports the
per-layer metrics (every span also goes to
``.perfbench/trace-<workload>-<seed>.json``).
A full report of each run goes to ``.perfbench/report-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
# set up at least SETUP_REPS times and for SETUP_MIN_S: the first set-up
# pays the session's first-job cost, and a set-up of a few milliseconds
# needs many repeats for a steady median
SETUP_REPS = 3
SETUP_MIN_S = 1.0


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("append_serve", "detect"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def steal_s() -> float:
    """Host steal time so far (all CPUs), from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def start_session(work: str, cores: int):
    """A ``local[cores]`` session whose scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp  # py4j gateway files, pandas UDF workers
    # every JVM spark-submit starts (launcher and driver) keeps its
    # temporary files in the checkout too
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the environment variable wins over spark.local.dir in local mode
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    heap_mb = min(2048, ram_mb // 4)
    from adtk_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions":
            f"-Xms{heap_mb}m -Duser.timezone=UTC",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"cores": cores, "heap_mb": heap_mb,
                   "local_dir": "<checkout>/.perfbench/run/spark-local",
                   "spark": spark.version,
                   "java": spark._jvm.System.getProperty("java.version"),
                   "python": platform.python_version()}


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [xs[0]] * 3 if xs else []
    q = statistics.quantiles(xs, n=4)
    return [q[0], statistics.median(xs), q[2]]


def measure(wl, seconds: float) -> list[float]:
    """Repeat the timed unit until ``seconds`` have passed and it ran
    ``wl.UNITS`` times."""
    times: list[float] = []
    deadline = time.perf_counter() + seconds
    while len(times) < wl.UNITS or time.perf_counter() < deadline:
        times.append(wl.iteration(len(times)))
    return times


def measure_traced(wl, seconds: float):
    """One uncounted untraced unit (the unit after the warm-up is still
    the slowest), then untraced and traced units in blocks of untraced,
    traced, traced, untraced (so drift that is still going on does not
    bias the overhead) until ``seconds`` have passed. Returns
    (untraced, traced, steal during traced)."""
    wl.iteration(0)
    plain: list[float] = []
    traced: list[float] = []
    steal = 0.0
    deadline = time.perf_counter() + seconds
    i = 0
    while not plain or i % 4 or time.perf_counter() < deadline:
        wl.tracer.active = i % 4 in (1, 2)
        s0 = steal_s()
        t = wl.iteration(i + 1)
        (traced if wl.tracer.active else plain).append(t)
        if wl.tracer.active:
            steal += steal_s() - s0
        i += 1
    wl.tracer.active = False
    return plain, traced, steal


def run(args) -> int:
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import adtk_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package under test: {e}",
              file=sys.stderr)
        return 2
    import layers
    from spans import Tracer
    from workloads import WORKLOADS

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(OUT, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)  # also creates OUT
    cores = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark, session = start_session(work, cores)
    session_s = time.perf_counter() - t0
    try:
        tracer = Tracer(spark, f"{args.workload}-{args.seed}")
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed)
        setup = []
        deadline = time.perf_counter() + SETUP_MIN_S
        while len(setup) < SETUP_REPS or time.perf_counter() < deadline:
            t = time.perf_counter()
            wl.setup(len(setup))
            setup.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup()
        warmup_s = time.perf_counter() - t

        st0 = steal_s()
        if args.trace:
            tracer.install()
            times, traced, traced_steal = measure_traced(wl, args.seconds)
            tracer.uninstall()
        else:
            times = measure(wl, args.seconds)
        steal = steal_s() - st0
        jvm_pid = spark._jvm.ProcessHandle.current().pid()
        rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb()

        t = time.perf_counter()
        wl.check()
        check_s = time.perf_counter() - t

        run_s = statistics.median(times)
        metrics = {
            "setup_s": (statistics.median(setup), "s"),
            "run_s": (run_s, "s"),
            "points_per_s": (wl.points_per_s(run_s), "1/s"),
            "storage_bytes_per_raw_byte": (wl.storage_ratio(), "ratio"),
        }
        report = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "session": session, "session_start_s": session_s,
            "setup_s": setup, "warmup_s": warmup_s, "run_s": times,
            "run_s_quartiles": quartiles(times), "check_s": check_s,
            "steal_s": steal, "peak_rss_mb": rss_mb,
            "attempted": wl.attempted, "failed": wl.failed,
            "failures": list(wl.failures.values())[:20], **wl.extra(),
            "op_median_s": {k: statistics.median(v) for k, v in wl.op_s.items()},
        }
        if args.trace:
            report["traced_run_s"] = traced
            report["end_to_end"] = metrics
            metrics = layers.per_layer(tracer, wl, times, traced,
                                       traced_steal, cores, rss_mb)
            with open(os.path.join(
                    OUT, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump({**tracer.dump(), "metrics": metrics}, f)
        with open(os.path.join(
                OUT, f"report-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({**report, "metrics": metrics}, f, indent=1, default=str)
    finally:
        stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)

    result = {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    for msg in list(wl.failures.values())[:5]:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    return run(parse_args(argv))


if __name__ == "__main__":
    sys.exit(main())
