"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It writes the workload's inputs into a
per-run directory under ``.perfbench/``, runs the workload in a fresh
Python process (``perfbench/workload.py``) with one Spark task thread per
two available cores, stops every process that one started, removes the run
directory and prints one JSON line: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end with ``--trace 0``, per-layer
with ``--trace 1``). A traced run also leaves its per-op span record in
``.perfbench/trace-<workload>-seed<N>.json``. See perfbench/README.md.
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

ROOT = os.getcwd()
sys.path.insert(0, ROOT)

#: the contract's per-run limit is 180 s; leave room to clean up
RUN_LIMIT_S = 170
#: the star-schema tables are fixed like the engine's own test data; the
#: run seed permutes op order and seeds the ``types`` table
DATA_SEED = 20240101


def task_threads() -> int:
    """Spark task threads: half the available cores. Each task keeps a
    second process or thread busy beside it (its Python worker, on the
    Python boundary) and the driver, the JIT compiler and the garbage
    collector need cores too; with one task thread per core, runs on a
    shared 4-core machine were slower and spread twice as widely."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def stop_group(pgid: int) -> None:
    """Terminate what is left of the workload's process group (Python
    workers, the JVM) and wait until all of it has exited."""
    for sig, wait_s in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            try:
                os.killpg(pgid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)


def main() -> int:
    start = time.monotonic()
    # a terminated run still stops its processes and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    for need in ("datafusion_gpu_spark/__init__.py", "tools/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            return fail(f"{need} not found: run from the repository root")
    from perfbench import datagen
    from perfbench.ops import WORKLOADS

    workload = WORKLOADS.get(args.workload)
    if workload is None:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")

    base = os.path.join(ROOT, ".perfbench")
    tmp = os.path.join(base, f"run-{os.getpid()}")
    data = os.path.join(tmp, "data")
    out_file = os.path.join(tmp, "result.json")
    record = os.path.join(base, f"trace-{workload.name}-seed{args.seed}.json")
    for d in ("local", "tmp", "java", "eventlog"):
        os.makedirs(os.path.join(tmp, d), exist_ok=True)
    proc = None
    try:
        rows = datagen.build(workload.tables, workload.sf, data, DATA_SEED)
        with open(os.path.join(data, "rows.json"), "w") as f:
            json.dump(rows, f)
        env = dict(os.environ)
        env.update({
            "SPARK_GRAFT_CPUS": str(task_threads()),
            # Spark's Python workers import the package by this path
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
            "TMPDIR": os.path.join(tmp, "tmp"),
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        })
        cmd = [
            sys.executable, "-m", "perfbench.workload",
            "--workload", workload.name, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--tmp", tmp, "--out", out_file, "--record", record,
        ]
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
            stdout=sys.stderr, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, RUN_LIMIT_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            return fail(f"workload did not finish within {RUN_LIMIT_S} s")
        if code != 0:
            return fail(f"workload process exited with code {code}")
        with open(out_file) as f:
            result = json.load(f)
    finally:
        if proc is not None:
            stop_group(proc.pid)
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)

    for op, times in result["op_times_s"].items():
        print(f"perfbench: {op:28s} {' '.join(f'{t:.3f}' for t in times)} s", file=sys.stderr)
    for op, problems in result["failures"].items():
        for p in problems:
            print(f"perfbench: FAILED {op}: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": result["failed"] == 0 and not result["failures"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            name: {"value": value, "unit": unit}
            for name, (value, unit) in result["metrics"].items()
        },
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
