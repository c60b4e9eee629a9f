"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of ``perfbench.workloads`` against the nvtabular_spark
source tree next to this directory, checks its outputs, and prints as
the last line of stdout one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. The line before it holds the
run's details (inputs, sample counts, failed checks).

Everything the run writes goes under ``.perfbench_runs/`` in the
repository root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import gc
import importlib.util
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: set-up generates the inputs this many times and reports the median
GEN_PASSES = 3
#: a run times at least this many units, however long they take
MIN_UNITS = 3
#: a seed not used while the benchmark was tuned, for checking claims
CLAIM_SEED = 1009

LOG4J = """\
rootLogger.level = warn
rootLogger.appenderRef.stderr.ref = console
rootLogger.appenderRef.errors.ref = errors
appender.console.type = Console
appender.console.name = console
appender.console.target = SYSTEM_ERR
appender.console.layout.type = PatternLayout
appender.console.layout.pattern = %d{{HH:mm:ss}} %p %c{{1}}: %m%n
appender.console.filter.threshold.type = ThresholdFilter
appender.console.filter.threshold.level = error
appender.errors.type = File
appender.errors.name = errors
appender.errors.fileName = {path}
appender.errors.layout.type = PatternLayout
appender.errors.layout.pattern = %p %c{{1}}: %m%n
appender.errors.filter.threshold.type = ThresholdFilter
appender.errors.filter.threshold.level = error
"""


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def find_engine() -> None:
    """Import nvtabular_spark from this checkout and nowhere else."""
    sys.path.insert(0, ROOT)
    spec = importlib.util.find_spec("nvtabular_spark")
    if spec is None or not os.path.abspath(spec.origin).startswith(ROOT + os.sep):
        raise SystemExit(f"nvtabular_spark not found under {ROOT}")


def start_spark(run_dir: str, trace: bool):
    from pyspark.sql import SparkSession
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the JVM that spark-submit starts to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    log4j = os.path.join(run_dir, "log4j2.properties")
    with open(log4j, "w") as f:
        f.write(LOG4J.format(path=os.path.join(run_dir, "driver-errors.log")))
    # ParallelGC: the collector the run-to-run spread in README.md was
    # measured with
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                 f"-XX:+UseParallelGC "
                 f"-Dlog4j2.configurationFile=file:{log4j} "
                 f"-Dderby.system.home={tmp}")
    b = (SparkSession.builder.master("local[4]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.local.dir", tmp)
         .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
         .config("spark.sql.session.timeZone", "UTC")
         # room for every class the workloads generate: at Spark's
         # default of 100 entries, whether a unit's ~80 generated
         # classes are still cached at the next unit depends on how the
         # cache's segments fill, so some JVMs recompile ~20 classes in
         # every unit and run ~1.5x slower for their whole life
         # (README.md, "Steadiness")
         .config("spark.sql.codegen.cache.maxEntries", "1000")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if trace:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + os.path.join(run_dir, "events"))
             .config("spark.eventLog.compress", "false"))
        os.makedirs(os.path.join(run_dir, "events"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid():
    """The Spark driver JVM: a child of this process running java."""
    me = str(os.getpid())
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if fields[1] == me and b"java" in cmd:
            return int(pid)
    return None


def cpu_ticks():
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def cpu_probe_ms() -> float:
    """Median time of a fixed pure-Python loop: how fast this machine
    runs single-threaded code right now, for telling a slow host apart
    from a slow engine."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t)
    return sorted(times)[2] * 1e3


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024


def collect_garbage(spark) -> None:
    """Full collections in Python and the JVM, between units and
    untimed, so that a full collection of the garbage earlier units
    left does not land in whichever unit happens to fill the heap."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()   # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_tracing(tracer) -> None:
    """Spans inside the engine: the compiler, every operator the
    workloads use, and the window-partition planner."""
    from nvtabular_spark import ops
    from nvtabular_spark.functions import planning
    from nvtabular_spark.plans.compiler import CompiledPlan
    from perfbench.report import OPERATORS
    tracer.install_py4j_counter()
    tracer.wrap(CompiledPlan, "run", "plans.CompiledPlan.run")
    for name in OPERATORS:
        tracer.wrap_operator(getattr(ops, name))
    tracer.wrap(planning, "scale_window_partitions",
                "functions.planning.scale_window_partitions")


def run(args) -> dict:
    """Measure in a fresh run directory, removed afterwards."""
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    run_dir = os.path.join(ROOT, ".perfbench_runs",
                           f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def measure(args, run_dir: str) -> dict:
    from perfbench import report
    from perfbench.eventlog import EventLog, read_events
    from perfbench.stats import median
    from perfbench.tracing import Tracer
    from perfbench.workloads import CORES, WORKLOADS, dir_bytes

    trace = bool(args.trace)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(run_dir, trace)
        session_s = time.perf_counter() - t0
        sc = spark.sparkContext
        tracer = Tracer(lambda g: sc.setLocalProperty("spark.jobGroup.id", g))
        if trace:
            install_tracing(tracer)
        wl = WORKLOADS[args.workload](spark, tracer, run_dir, args.seed)

        # -- set-up ------------------------------------------------------
        gen_s, sizes = [], set()
        for _ in range(GEN_PASSES):
            t = time.perf_counter()
            wl.generate()
            gen_s.append(time.perf_counter() - t)
            sizes.add(dir_bytes(wl.input_dir))
        t = time.perf_counter()
        wl.prepare()
        for _ in range(wl.warmup_units):
            wl.unit()
        warmup_s = time.perf_counter() - t
        setup = {"session_s": session_s, "gen_s": gen_s,
                 "prepare_and_warmup_s": warmup_s}
        setup["setup_s"] = session_s + median(gen_s) + warmup_s
        checks_failed = [] if len(sizes) == 1 else ["inputs_reproducible"]

        # -- timed units -------------------------------------------------
        done, walls = [], {True: {}, False: {}}
        attempted = failed = 0
        probe = [cpu_probe_ms()]
        ticks0 = cpu_ticks()
        deadline = time.perf_counter() + args.seconds
        while attempted < MIN_UNITS or time.perf_counter() < deadline:
            uid = f"u{attempted}"
            traced = trace and attempted % 2 == 0
            attempted += 1
            collect_garbage(spark)
            try:
                with tracer.unit_span(uid, traced):
                    res = wl.unit()
                    if traced:
                        with tracer.span("spark.plan"):
                            res["out"].alias("plan")._jdf \
                                .queryExecution().executedPlan()
                bad = wl.check_unit(res)
            except Exception:  # a unit that raises counts as failed
                traceback.print_exc()
                bad = [f"{args.workload}.unit_raised"]
                res = None
            if bad:
                failed += 1
                checks_failed += [b for b in bad if b not in checks_failed]
                continue
            done.append(res)
            walls[traced][uid] = res["total_s"]
        ticks1 = cpu_ticks()
        probe.append(cpu_probe_ms())
        final = wl.final_checks()
        if final:
            # the units repeat one deterministic computation, so a
            # wrong final output means every unit produced it
            failed = attempted
            checks_failed += final
        rss = peak_rss_mb([p for p in (os.getpid(), jvm_pid()) if p])
        error_log = os.path.join(run_dir, "driver-errors.log")
    finally:
        if spark is not None:
            stop_spark(spark)

    if not done:
        raise SystemExit(f"no unit completed; failed checks: {checks_failed}")
    error_lines = 0
    if os.path.exists(error_log):
        with open(error_log, errors="replace") as f:
            error_lines = sum(line.startswith("ERROR ") for line in f)
    detail = {
        "workload": args.workload, "seed": args.seed,
        "claim_seed": CLAIM_SEED, "trace": args.trace,
        "input_rows_per_unit": wl.rows,
        "input_bytes_on_disk": dir_bytes(wl.input_dir), "inputs": wl.info,
        "setup": setup, "failed_checks": checks_failed,
        # CPU time the hypervisor gave to other guests while units ran
        "steal_frac": (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1),
        "cpu_probe_ms": probe,
        "failed_frac": failed / attempted,
    }
    if trace:
        log = EventLog(read_events(os.path.join(run_dir, "events")))
        metrics = report.per_layer(tracer.spans, log, walls[True],
                                   walls[False], CORES, gen_s, error_lines)
    else:
        metrics, more = report.end_to_end(
            done, wl.rows, setup, wl.setup_fits, rss)
        detail.update(more)
        detail["spark.error_log_lines"] = error_lines
    return {"detail": detail, "correct": not checks_failed,
            "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    args = parse_args(argv)
    find_engine()
    result = run(args)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    listed = spec["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": result["metrics"][m["name"]],
                           "unit": m["unit"]} for m in listed}
    print(json.dumps(result["detail"]))
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
