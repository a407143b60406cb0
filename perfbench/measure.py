"""One measured run of one workload, in the process that owns the Spark
driver. ``perfbench/run.py`` launches it with the run's environment and
reads the JSON it leaves in the run directory.

Order of a run: seeded inputs (untimed); set-up repeated SETUP_REPS
times, each a Spark session start, the table warm-up and the workload's
warm-up pass (the median is ``setup_s``); whole cycles of timed ops; the
output checks (untimed); with tracing, the event log is parsed and the
per-item kernel timings are taken.

The end-to-end times are CPU seconds of the program, scaled to a
nominal host speed (``cpuclock.py``), not wall-clock seconds: on a
shared virtual machine the wall clock of the same code moves with the
CPU time the host takes away and with its neighbours' load, by far more
than any bound could tolerate. Wall-clock readings are per-layer
metrics.

The first set-up launches the driver JVM. The later ones stop the
SparkContext and start a new one in the same JVM, so ``setup_s`` leaves
the JVM launch out; the first set-up alone is the per-layer
``setup.cold_s``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

SETUP_REPS = 3


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _setup(wl, tracer, rep: int):
    from dwh_spark.session import get_spark
    from dwh_spark.sources.catalog import load_table

    with tracer.span("session.start"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    with tracer.span("sources.warm"):
        for sf_dir, name in wl.tables():
            load_table(spark, sf_dir, name).count()
    with tracer.span("warmup"):
        wl.warm_up(spark, rep)
    return spark


def run(args) -> dict:
    from perfbench.cpuclock import ProgramClock, SpeedProbe
    from perfbench.trace import Tracer, read_event_logs, spark_layer_metrics
    from perfbench.workloads import WORKLOADS, tail

    tracer = Tracer()
    clock, probe = ProgramClock(), SpeedProbe()
    wl = WORKLOADS[args.workload](args.seed, args.run_dir, tracer)
    wl.make_inputs()

    setups, setup_walls, spark = [], [], None
    for rep in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        probe.sample()
        c0, t0 = clock.read(), time.perf_counter()
        spark = _setup(wl, tracer, rep)
        if clock.jvm is None:  # the JVM was launched by this set-up
            clock.attach(spark.sparkContext._gateway.proc.pid)
        setup_walls.append(time.perf_counter() - t0)
        setups.append(clock.read() - c0)
    print(f"# perfbench: set-ups {' '.join(f'{w:.1f}s/{c:.1f}s' for w, c in zip(setup_walls, setups))}"
          " (wall/cpu)", file=sys.stderr)

    # Whole cycles, until --seconds have passed: a cycle runs every op of
    # the workload's set once, so the mix, and with it the percentiles,
    # is the same in every run.
    latencies, cpus, names, persisted, failed, op = [], [], [], [], 0, 0
    jit_start, cpu_start, t_start = clock.jit_s(), clock.read(), time.perf_counter()
    c = 0
    while c < wl.max_cycles and (c == 0 or time.perf_counter() - t_start < args.seconds):
        for name, fn in wl.cycle(c):
            probe.sample()
            c0, t0 = clock.read(), time.perf_counter()
            with tracer.span("op", op=op):
                try:
                    fn(spark)
                except Exception:  # noqa: BLE001 - one failing op must not end the run
                    print(f"# perfbench: op {op} ({name}) failed", file=sys.stderr)
                    traceback.print_exc(file=sys.stderr)
                    failed += 1
            latencies.append(time.perf_counter() - t0)
            cpus.append(clock.read() - c0)
            names.append(name)
            print(f"# perfbench: op {op} {name} {latencies[-1]:.3f}s cpu {cpus[-1]:.3f}s",
                  file=sys.stderr)
            wl.after_op(spark, op)
            if args.trace:
                persisted.append(spark.sparkContext._jsc.getPersistentRDDs().size())
            op += 1
        c += 1
    wall = time.perf_counter() - t_start
    cpu, jit = clock.read() - cpu_start, clock.jit_s() - jit_start
    slow = probe.slowdown()
    print(f"# perfbench: {op} timed ops ({c} cycles) in {wall:.1f}s, cpu {cpu:.1f}s, "
          f"jit {jit:.1f}s, host slowdown {slow:.3f}", file=sys.stderr)
    t0 = time.perf_counter()
    failed = min(op, failed + wl.final_check(spark, names))
    print(f"# perfbench: output checks {time.perf_counter() - t0:.1f}s", file=sys.stderr)

    jvm = spark.sparkContext._gateway.proc.pid
    peak_rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm)
    spark.stop()

    result = {
        "attempted": op,
        "failed": failed,
        "metrics": {
            "setup_s": statistics.median(setups) / slow,
            "cpu_per_op_s": cpu / op / slow,
            "op_cpu_geomean_s": statistics.geometric_mean(cpus) / slow,
            "success_ratio": 1.0 - failed / op,
        },
    }
    if args.trace:
        from perfbench import kernels

        timed = set(range(op))
        op_spans = [s for s in tracer.spans if s["name"] == "op"]

        def per_op(name: str) -> float:
            return sum(tracer.durations(name, timed)) / op

        layers = {
            "session.start_s": statistics.median(tracer.durations("session.start")),
            "sources.warm_s": statistics.median(tracer.durations("sources.warm")),
            "setup.cold_s": setups[0] / slow,
            "setup.wall_s": statistics.median(setup_walls),
            "jit.cpu_per_op_s": jit / op,
            "plans.build_s": per_op("plans.build"),
            "plans.exec_s": per_op("plans.exec"),
            **spark_layer_metrics(read_event_logs(args.event_dir), op_spans),
            **wl.layer_metrics(timed),
            **kernels.measure(args.seed),
            "resources.persisted_rdds_after_op": statistics.fmean(persisted),
            "resources.peak_rss_mb": peak_rss,
            "wall.ops_per_s": op / wall,
            "wall.latency_p50_s": statistics.median(latencies),
            "wall.latency_tail_s": tail(latencies),
            "op_cpu_p50_s": statistics.median(cpus) / slow,
            "op_cpu_tail_s": tail(cpus) / slow,
            "tracing.cpu_per_op_s": cpu / op / slow,
            "host.slowdown": slow,
        }
        result["layers"] = layers
        tracer.write(args.trace_out)
    return result


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--run-dir", required=True)
    p.add_argument("--event-dir", required=True)
    p.add_argument("--trace-out", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()
    result = run(args)
    with open(args.result, "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
