"""Benchmark entry point.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

Runs one workload from the root of a checkout and prints, as the last
line of stdout, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics of BENCHMARK.json, or with
``--trace 1`` its per-layer metrics), each with its unit.

This process only sets up and tears down the run. The measurement runs
in a child (``perfbench/measure.py``) with a per-run environment:

- ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's ``java.io.tmpdir`` point
  into a per-run directory, which is counted and deleted afterwards so
  that files the program leaks cannot slow later runs;
- the checkout root is on ``PYTHONPATH``, so Spark's Python workers can
  import ``dwh_spark``;
- ``local[N]`` uses every core this process may run on, and the driver
  heap is sized to a fifth of the host's memory (at most 16g);
- with ``--trace 1`` Spark writes an uncompressed event log into the run
  directory, which the child parses before it is deleted.

The child runs in its own session; whatever it leaves running (the JVM,
Python workers) is killed and waited for before this process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEADLINE_S = 165  # the child is killed after this; the command must end within 180 s


def _mem_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    return 8.0


def _child_env(run_dir: str, trace: bool) -> dict[str, str]:
    env = dict(os.environ)
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run_dir}/events",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    # A fixed set of JIT compiler threads, so the CPU clock can leave them out.
    java_opts = (
        f"-XX:-UseDynamicNumberOfCompilerThreads -Djava.io.tmpdir={run_dir}/jtmp "
        f"{env.get('JAVA_TOOL_OPTIONS', '')}"
    )
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        TMPDIR=f"{run_dir}/tmp",
        SPARK_LOCAL_DIRS=f"{run_dir}/local",
        JAVA_TOOL_OPTIONS=java_opts.strip(),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=f"{max(1, min(16, int(_mem_gb() // 5)))}g",
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    return env


def _session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes of session ``sid``."""
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(pid))
    return out


def _stop_session(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while _session_members(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["sql_mix", "cdc_ingest"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "dwh_spark")) or not os.path.isfile(spec_path):
        print("perfbench: run from the root of a full checkout (dwh_spark/ and "
              "BENCHMARK.json are missing)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    out_root = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(out_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "jtmp", "events", "cwd"):
        os.makedirs(os.path.join(run_dir, sub))
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, "-m", "perfbench.measure",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--event-dir", os.path.join(run_dir, "events"),
        "--trace-out", os.path.join(out_root, "traces", f"{args.workload}-seed{args.seed}.json"),
        "--result", result_path,
    ]
    proc = subprocess.Popen(
        cmd, env=_child_env(run_dir, bool(args.trace)), cwd=os.path.join(run_dir, "cwd"),
        stdout=sys.stderr, start_new_session=True,
    )
    try:
        proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {DEADLINE_S} s, killed", file=sys.stderr)
    finally:
        _stop_session(proc)
    try:
        result = None
        if proc.returncode == 0:
            with open(result_path) as fh:
                result = json.load(fh)
        tmp_left = len(os.listdir(os.path.join(run_dir, "tmp")))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        print(f"perfbench: measurement exited with code {proc.returncode}", file=sys.stderr)
        return 1

    values = dict(result["layers"] if args.trace else result["metrics"])
    values["resources.tmp_dirs_left"] = float(tmp_left)
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
