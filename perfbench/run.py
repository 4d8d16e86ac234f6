#!/usr/bin/env python3
"""Run one benchmark workload of the osmpbf_spark engine and print its
metrics.

    python3 perfbench/run.py --workload decode_pip --seed 1 --seconds 10 \\
        --trace 0

Run from the repository root (the engine is imported from the checkout
next to this directory). One driver process runs the engine on
``local[<cpus>]``, ``<cpus>`` being half the cores this process may use.

- ``--trace 0`` prints every end-to-end metric of ``BENCHMARK.json``.
- ``--trace 1`` also times traced iterations and a layer sweep, and
  prints every per-layer metric.

Stdout's last line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a
report with the run's context (input digest, host load, versions, every
sample). ``perfbench/README.md`` defines each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# per process, so runs started side by side in one checkout do not share
# (or delete) each other's scratch files
WORKDIR = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
OUTDIR = os.path.join(ROOT, ".perfbench_out")

SETUP_REPS = 3        # set-up runs per process; setup_s is their median
                      # (one in a traced run, which does not print setup_s)
MIN_SAMPLES = 3       # timed iterations per loop, even past --seconds
MIN_TRACED = 2        # ... of each kind in the alternating traced loop
# untimed (but checked) iterations after the first, at least WARMUP_MIN
# of them and for at least WARMUP_S seconds: the JVM is still compiling,
# and the next iteration runs 20-40% slower than the ones after it
WARMUP_MIN = 1
WARMUP_S = 4.0
# the driver JVM's heap, fixed (-Xms = -Xmx): a heap that grows on
# demand sizes itself differently in every process, and run_s with it
DRIVER_MEM = "2g"
GC_LOG = os.path.join(WORKDIR, "gc.log")

# end-to-end metric → unit, as declared in BENCHMARK.json
E2E_UNITS = {"run_s": "s", "setup_s": "s", "items_per_s": "1/s",
             "peak_rss_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def confine_to_checkout() -> None:
    """Point every scratch location of Python, Spark and the JVM at the
    work directory inside the checkout (set before the JVM starts)."""
    tmp = os.path.join(WORKDIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def start_spark(cpus: int):
    from osmpbf_spark.session import get_spark
    spark = get_spark(
        "osmpbf-perfbench", master=f"local[{cpus}]",
        extra_conf={"spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Xms{DRIVER_MEM} -Xlog:gc:file={GC_LOG}",
                    "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                    "spark.sql.warehouse.dir":
                        os.path.join(WORKDIR, "warehouse")})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def timed_loop(wl, seconds: float, first_it: int, tracer=None):
    """Run iterations for ``seconds``, at least MIN_SAMPLES of them.

    With a tracer, iterations alternate between untraced and traced, at
    least MIN_TRACED of each, so the tracing overhead compares iterations
    from the same stretch of the run. Returns (untraced times, traced
    times, failures). An iteration that raises or fails its check is a
    failure; its time still counts."""
    kinds = [None] if tracer is None else [None, tracer]
    least = MIN_SAMPLES if tracer is None else MIN_TRACED
    times = [[] for _ in kinds]
    failures, it = 0, first_it
    t_end = time.perf_counter() + seconds
    while (time.perf_counter() < t_end
           or min(map(len, times)) < least):
        k = (it - first_it) % len(kinds)
        ok, dt = run_iteration(wl, it, kinds[k])
        times[k].append(dt)
        failures += not ok
        it += 1
    return times[0], times[-1] if tracer else [], failures


def warm_up(wl, first_it: int) -> tuple[list[float], int]:
    """Untimed iterations until the JVM has warmed up (WARMUP_MIN,
    WARMUP_S). Returns (their times, failures)."""
    times, failures = [], 0
    t_end = time.perf_counter() + WARMUP_S
    while time.perf_counter() < t_end or len(times) < WARMUP_MIN:
        ok, dt = run_iteration(wl, first_it + len(times))
        times.append(dt)
        failures += not ok
    return times, failures


def run_iteration(wl, it: int, tracer=None) -> tuple[bool, float]:
    t0 = time.perf_counter()
    try:
        if tracer is None:
            result = wl.iterate(it)
        else:
            # the span's exit reads the status store: tracing cost
            # counts toward the traced iteration's time
            with tracer.span("iteration", parent="traced_loop",
                             iteration=it):
                result = wl.iterate(it)
        dt = time.perf_counter() - t0
        return wl.check(result), dt
    except Exception:          # a failed iteration is counted, not fatal
        traceback.print_exc()
        return False, time.perf_counter() - t0


def cpu_ticks() -> list[int]:
    """The machine's cumulative CPU time counters (``/proc/stat``)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other guests: outside load on a virtual machine."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def host_context(cpus: int, host_cpus: int) -> dict:
    import pyarrow
    import pyspark
    return {"host_load_1m": os.getloadavg()[0], "cpus": cpus,
            "host_cpus": host_cpus,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": sys.version.split()[0]}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "osmpbf_spark")):
        print(f"perfbench: no osmpbf_spark package next to {ROOT!r}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    host_cpus = len(os.sched_getaffinity(0))
    # Spark gets half the cores: its task threads, their Python workers,
    # the JVM's compiler and GC threads and outside load on a shared host
    # then do not queue for the same cores (see README, "Cores")
    cpus = max(1, host_cpus // 2)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    confine_to_checkout()
    try:
        return run(args, cpus, host_cpus)
    finally:
        shutil.rmtree(WORKDIR, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORKDIR))
        except OSError:         # another run still uses it
            pass


def run(args, cpus: int, host_cpus: int) -> int:
    from perfbench.inputs import make_inputs
    from perfbench.spans import PeakRss, Tracer, heap_after_gc_peak_mb
    from perfbench.workloads import WORKLOADS, Env, layer_sweep, \
        per_layer_units

    context = host_context(cpus, host_cpus)
    t_gen = time.perf_counter()
    inputs = make_inputs(args.workload, args.seed)
    context["input_digest"] = inputs.digest()
    context["input_gen_s"] = time.perf_counter() - t_gen

    failed = attempted = 0
    checks_ok = True
    ticks = cpu_ticks()
    with PeakRss() as rss:
        t0 = time.perf_counter()
        spark = start_spark(cpus)
        session_s = time.perf_counter() - t0
        try:
            tracer = (Tracer(spark.sparkContext, cpus=cpus) if args.trace
                      else None)
            env = Env(spark, inputs, cpus, WORKDIR, tracer)
            wl = WORKLOADS[args.workload](env)
            setup_times = []
            for rep in range(1 if args.trace else SETUP_REPS):
                if rep:
                    wl.release()
                t0 = time.perf_counter()
                wl.setup()
                setup_times.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.prepare_oracle()
            context["oracle_s"] = time.perf_counter() - t0

            first_ok, first_s = run_iteration(wl, 0)
            warm_times, warm_fails = warm_up(wl, 1)
            times, ttimes, fails = timed_loop(
                wl, args.seconds, 1 + len(warm_times), tracer)
            attempted += 1 + len(warm_times) + len(times) + len(ttimes)
            failed += (not first_ok) + warm_fails + fails
            run_s = statistics.median(times)

            if args.trace:
                layers, sweep_ok = layer_sweep(env, session_s)
                checks_ok &= sweep_ok
                layers["first_run_s"] = first_s
                layers["trace.iteration_s"] = statistics.median(ttimes)
                layers["trace.overhead_s"] = (layers["trace.iteration_s"]
                                              - run_s)
            checks_ok &= wl.final_check()
            wl.release()
        finally:
            stop_spark(spark)
    context["cpu_steal_frac"] = steal_frac(ticks, cpu_ticks())
    heap_mb = (heap_after_gc_peak_mb(GC_LOG) if os.path.exists(GC_LOG)
               else 0.0)

    setup_s = session_s + statistics.median(setup_times)
    e2e = {"run_s": run_s, "first_run_s": first_s, "setup_s": setup_s,
           "items_per_s": wl.items / run_s, "peak_rss_mb": rss.peak_mb}
    report = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, **context,
        "session_s": session_s, "setup_samples_s": setup_times,
        # the design's set-up time: session plus the cold first set-up
        "setup_cold_s": session_s + setup_times[0],
        "warmup_samples_s": warm_times,
        "run_samples_s": times, "items": wl.items,
        "peak_rss_mb_by_command": {k: v / 1e6 for k, v in
                                   rss.peak_by_comm.items()},
        "heap_after_gc_peak_mb": heap_mb,
        "fail_frac": failed / attempted,
        "note": "per-layer spans do not sum to run_s: a timed iteration "
                "fuses the layers into one Spark plan, while each span "
                "times one layer call on persisted inputs.",
    }
    if args.trace:
        layers["jvm.heap_after_gc_peak_mb"] = heap_mb
        report["traced_run_samples_s"] = ttimes
        os.makedirs(OUTDIR, exist_ok=True)
        path = os.path.join(OUTDIR, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.write(path, report)
        report["spans_file"] = os.path.relpath(path, ROOT)
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in E2E_UNITS.items()}
    report["summary"] = e2e
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": bool(checks_ok and failed == 0),
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
