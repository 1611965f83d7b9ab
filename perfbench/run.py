"""Benchmark entry point.

    python3 perfbench/run.py --workload {headline,cascade,versions} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository.  Prints one JSON record
of run details, then, as the last line, the result:
{"correct", "attempted", "failed", "metrics"}.  With --trace 0 the metrics
are the end-to-end metrics of BENCHMARK.json; with --trace 1 the per-layer
metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SF = 0.1
WORKLOADS = ("headline", "cascade", "versions")
# Set-ups per run, each in a fresh session and each followed by an equal
# part of the measured window; setup_s is their median.
SETUPS = 3


def process_start() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f
                     if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env() -> None:
    """Point every process the run starts at the checkout: Python workers
    import tabsdata_spark from it whatever their cwd, and Spark, the JVM
    and Python keep their scratch files under perfbench/.work."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "TDSPARK_DRIVER_MEM": "2g",
        "TMPDIR": tmp,
    })
    sys.path.insert(0, ROOT)


def effective_config(spark) -> dict:
    sc = spark.sparkContext
    conf = sc.getConf()
    jvm = sc._jvm
    return {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "codegen_cache_max_entries": conf.get(
            "spark.sql.codegen.cache.maxEntries", "100 (default)"),
        "periodic_gc_interval": conf.get(
            "spark.cleaner.periodicGC.interval", "30min (default)"),
        "aqe": spark.conf.get("spark.sql.adaptive.enabled"),
        "ansi": spark.conf.get("spark.sql.ansi.enabled"),
        "driver_memory": conf.get("spark.driver.memory", "1g (default)"),
        "pyspark": __import__("pyspark").__version__,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "nproc": len(os.sched_getaffinity(0)),
    }


def start_spark(workload: str):
    """A session from td.get_spark.  The first call launches the JVM; after
    a stop, the next call starts a fresh context in the same JVM."""
    import tabsdata_spark as td

    spark = td.get_spark(
        app_name=f"perfbench-{workload}",
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    t_proc = process_start()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "tabsdata_spark", "__init__.py")):
        print(f"perfbench: no tabsdata_spark package under {ROOT}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    prepare_env()
    sys.path.insert(0, HERE)
    import datagen

    t0 = time.perf_counter()
    data_dir = datagen.ensure_tables(
        os.path.join(WORK, f"data-sf{SF}-seed{datagen.DATA_SEED}"), SF)
    datagen_s = time.perf_counter() - t0

    import tabsdata_spark as td

    if not os.path.abspath(td.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: imported tabsdata_spark from {td.__file__}, "
              f"not from {ROOT}", file=sys.stderr)
        return 2
    import harness
    import metrics
    import probes
    import workloads

    # one work directory for every set-up: a cascade set-up continues the
    # warehouse the one before it left, as a restarted server would
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    setups: list[float] = []    # seconds of each set-up; the first is cold
    state: dict = {}
    spark = None
    try:
        spark = start_spark(args.workload)
        session_s = time.time() - t_proc
        h = harness.Harness(spark, args.seconds / SETUPS, bool(args.trace))
        for i in range(SETUPS):
            if i:
                spark.stop()
                t_setup = time.time()
                spark = start_spark(args.workload)
                h.rebind(spark)
            else:
                t_setup = t_proc
            ctx = workloads.Context(spark=spark, h=h, seed=args.seed,
                                    data_dir=data_dir, work_dir=run_dir,
                                    last=i == SETUPS - 1, state=state)
            details = getattr(workloads, args.workload)(ctx)
            setups.append(h.setup_end - t_setup)
        rss = probes.peak_rss_mb([os.getpid(), h.probe.jvm_pid()])
        live = h.probe.live_mb()
        result = metrics.result(h, bool(args.trace), setups, live)
        info = {"workload": args.workload, "seed": args.seed,
                "seconds": args.seconds, "trace": args.trace,
                "datagen_s": datagen_s, "session_s": session_s,
                "config": effective_config(spark),
                **metrics.details(h, details, setups, live, rss)}
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            workloads.cleanup(run_dir)
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
