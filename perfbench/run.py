#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of sanctions_data_pipeline_spark.

Usage (from the repository root):

    python3 perfbench/run.py --workload sanctions_refresh --seed 1 \
        --seconds 30 --trace 0

One driver process, one request at a time (closed loop, one client),
``local[nproc]``. A pass is one request of the workload; passes repeat
while the next is expected to end within ``--seconds`` (at least one).

``--trace 0`` prints the end-to-end metrics, with tracing off:
  setup_s        median of three set-ups (SparkSession up, package
                 imported, warm-up done); the first is timed from process
                 start and includes the JVM launch, the other two stop the
                 session, drop the package from the import cache and redo
                 it in the same JVM
  wall_s         median pass: input -> complete, checked result, sink
                 included
  records_per_s  input records / wall_s
``--trace 1`` turns on the Spark event log, the py4j call counter and
the module spans (spans.py), and prints the per-layer metrics.

Outputs are checked on the first pass: sanctions_refresh reads its
parquet back and compares it with the rows the generator constructed;
corpus_curation compares each query's rows with the pinned oracle
result (workloads.EXPECTED). Human-readable lines come first (error_rate
and peak RSS among them); the last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

Everything a run writes (generated inputs, analyst parquet, Spark
scratch, event log, the span dump and a detail record) goes under
``.bench_build/perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "sanctions_data_pipeline_spark"

# Quiet-host evidence. A fixed CPU-bound job is timed (after one untimed
# run) before and after the measured passes; on an idle 4-core host it
# takes about CAL_IDLE_S. CPU time stolen from this VM during the passes
# is read from /proc/stat. A run whose calibration leaves CAL_ENVELOPE x
# CAL_IDLE_S, or whose steal exceeds STEAL_MAX of its CPU capacity, is
# marked degraded. The 1-minute load average is recorded beside them;
# it is no gate, because back-to-back runs load the host themselves.
CAL_IDLE_S = 0.45
CAL_ENVELOPE = 1.5
STEAL_MAX = 0.05
SETUP_SAMPLES = 3

WORKLOADS = ("sanctions_refresh", "corpus_curation")
# Scored end-to-end metrics. A run is one cold pass at this run length,
# so the first run's time is wall_s itself; peak RSS (driver JVM +
# Python) is printed but not scored: G1's heap sizing moves it by ~30%
# between identical runs.
END_TO_END = {"setup_s": "s", "wall_s": "s", "records_per_s": "rec/s"}


def all_queries() -> list[str]:
    """Registry queries that get per-query metrics."""
    import workloads
    return list(workloads.CORPUS_QUERIES)


def process_age() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int | str = "self") -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def set_up(cpus: int, conf: dict[str, str]):
    """SparkSession up, registry imported, warm-up done."""
    from pyspark.sql import functions as F

    from sanctions_data_pipeline_spark.plans import registry
    from sanctions_data_pipeline_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    registry.queries()
    (spark.range(2_000_000).groupBy((F.col("id") % 64).alias("k"))
     .agg(F.sum("id"), F.count(F.lit(1)))
     .write.format("noop").mode("overwrite").save())
    return spark


def set_up_again(spark, cpus: int, conf: dict[str, str]):
    """Stop the session, drop the package from the import cache and set
    up again in the same JVM."""
    spark.stop()
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".")]:
        del sys.modules[name]
    return set_up(cpus, conf)


def calibrate(spark) -> float:
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(8_000_000)
     .select(F.xxhash64((F.col("id") * 2654435761) % 1000003).alias("h"))
     .groupBy((F.col("h") % 256).alias("k"))
     .agg(F.sum(F.shiftright("h", 32)), F.count(F.lit(1)))
     .write.format("noop").mode("overwrite").save())
    return time.perf_counter() - t0


def steal_s() -> float:
    """CPU seconds stolen from this (virtual) machine since boot."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def quiet_host(cal: list[float], load: list[float], steal: float,
               capacity: float) -> dict:
    return {"calibration_s": cal, "loadavg_1m": load, "steal_s": steal,
            "degraded": (max(cal) > CAL_IDLE_S * CAL_ENVELOPE
                         or steal > STEAL_MAX * capacity)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: package {PKG}/ not found next to perfbench/",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_build", "perfbench",
                        f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "tmp/stream", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # keep every scratch file of the program inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = os.path.join(work, "tmp", "stream")
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, HERE]
    try:
        return _run(args, trace, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm() -> None:
    """Stop Spark and wait for the JVM this process launched to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def _run(args, trace: bool, work: str) -> int:
    import spans as tr
    import workloads

    cpus = os.cpu_count() or 1
    conf = spark_conf(work, trace)
    spark = set_up(cpus, conf)
    setup = [process_age()]
    if not trace:
        for _ in range(SETUP_SAMPLES - 1):
            t0 = time.perf_counter()
            spark = set_up_again(spark, cpus, conf)
            setup.append(time.perf_counter() - t0)

    from sanctions_data_pipeline_spark.catalog import DEFAULT_SF_DIR
    wl = workloads.make(args.workload, work, args.seed, DEFAULT_SF_DIR)
    tracer = tr.Tracer() if trace else None
    if tracer:
        tr.instrument(tracer, spark, list(tr.MODULES))

    calibrate(spark)
    cal, load = [calibrate(spark)], [os.getloadavg()[0]]
    passes: list[float] = []
    rdds_left: list[int] = []
    attempted = failed = 0
    problems: list[str] = []
    t_start, steal0 = time.perf_counter(), steal_s()
    while True:
        spark.catalog.clearCache()
        run = f"p{attempted}"
        if tracer:
            tracer.run = run
        attempted += 1
        t0 = time.perf_counter()
        try:
            results = wl.run_pass(spark, tracer, run)
        except Exception:
            traceback.print_exc()
            failed += 1
            break
        dt = time.perf_counter() - t0
        rdds_left.append(spark.sparkContext._jsc.getPersistentRDDs().size())
        found = wl.verify(results) if attempted == 1 else []
        del results
        if found:
            problems += found
            failed += 1
        else:
            passes.append(dt)
        if time.perf_counter() - t_start + dt > args.seconds:
            break
    steal = steal_s() - steal0
    capacity = (time.perf_counter() - t_start) * cpus
    cal.append(calibrate(spark))
    load.append(os.getloadavg()[0])
    host = quiet_host(cal, load, steal, capacity)

    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    rss_mb = (vm_hwm_kb() + vm_hwm_kb(jvm_pid)) / 1024.0
    spark.stop()
    detail = {"workload": args.workload, "seed": args.seed, "trace": trace,
              "passes_s": passes, "setup_samples_s": setup,
              "peak_rss_mb": rss_mb, "problems": problems, "quiet_host": host}

    metrics: dict[str, tuple[float, str]] = {}
    if passes and not trace:
        wall = statistics.median(passes)
        values = {"setup_s": statistics.median(setup), "wall_s": wall,
                  "records_per_s": wl.records / wall}
        metrics = {k: (values[k], u) for k, u in END_TO_END.items()}
    elif passes:
        jobs, stages = tr.read_event_log(os.path.join(work, "eventlog"))
        metrics = tr.layer_metrics(tracer, jobs, stages, len(passes), cpus,
                                   statistics.fmean(rdds_left),
                                   statistics.median(passes), all_queries())
        metrics = {k: (v, tr.unit_of(k)) for k, v in metrics.items()}
        tracer.dump(os.path.join(ROOT, ".bench_build", "perfbench",
                                 f"spans-{args.workload}-{args.seed}.jsonl"))
    detail["metrics"] = {k: v for k, (v, _) in metrics.items()}
    with open(os.path.join(ROOT, ".bench_build", "perfbench",
                           f"detail-{args.workload}-{args.seed}-{int(trace)}.json"),
              "w") as fh:
        json.dump(detail, fh, indent=1)

    for p in problems:
        print(f"WRONG {p}")
    print(f"# {args.workload} seed={args.seed} passes={len(passes)} "
          f"records={wl.records} setup_samples_s={setup} "
          f"quiet_host={json.dumps(host)}")
    for k, (v, unit) in metrics.items():
        print(f"{k} {v:.6g} {unit}")
    print(f"peak_rss_mb {rss_mb:.6g} MB")
    print(f"error_rate {failed / attempted:.6g} ratio")
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
