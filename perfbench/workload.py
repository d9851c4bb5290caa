"""One benchmark run of one workload, in the process ``run.py`` starts.

Usage (from the checkout root, normally through ``perfbench/run.py``):
    python3 -m perfbench.workload --workload NAME --seed N --seconds S
        --trace 0|1 --data DIR --tmp DIR --out FILE [--record FILE]

Order of a run: SETUP_ROUNDS set-ups (the first from process start, the
others after stopping the session, in the same JVM), WARMUP_PASSES
untimed passes (the first checks every op's output, registry ops against
their DuckDB oracle), then timed passes until
``--seconds`` of op time have elapsed (a pass is never cut, so every op
runs equally often). Results go to ``--out`` as JSON; with ``--trace 1``
the per-op span record goes to ``--record``.
"""

from __future__ import annotations

import time

_PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections.abc import Iterator  # noqa: E402

SETUP_ROUNDS = 3
#: untimed passes before timing: the JVM keeps compiling an op's hot paths
#: over its first several executions. Over ten runs per workload on a
#: shared 4-core machine, an op's second and third executions took 1.17
#: and 1.01 times a run's median pass, later ones 0.94-0.96
WARMUP_PASSES = 3
CANARY_SQL = "SELECT sum(float) FROM types"
CANARY_REPEATS = 3


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - _PROCESS_START:7.1f}s {msg}",
          file=sys.stderr, flush=True)


def op_orders(n_ops: int, seed: int) -> Iterator[list[int]]:
    """Op indices of each pass, the warm-up passes first; the seed fixes
    every permutation."""
    rng = random.Random(seed)
    while True:
        idx = list(range(n_ops))
        rng.shuffle(idx)
        yield idx


def session_conf(tmp_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(tmp_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(tmp_dir, 'java')} -XX:-UsePerfData"
        ),
    }
    if trace:
        # one plain JSON file, read back at the end of the run
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp_dir, "eventlog"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    return conf


def set_up(workload, seed: int, data_dir: str, conf: dict[str, str]):
    """One set-up: session, catalog, cached inputs. Returns the session
    and the seconds each step took."""
    from datafusion_gpu_spark import context

    t0 = time.perf_counter()
    spark = context.get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    context.build_ctx(
        spark, types_table_length=workload.types_rows, seed=seed, sf_dir=data_dir
    )
    t2 = time.perf_counter()
    if workload.cache_types:
        spark.table("types").cache().count()
    t3 = time.perf_counter()
    return spark, {"session_s": t1 - t0, "catalog_s": t2 - t1, "inputs_s": t3 - t2}


def canary_ms(spark) -> float:
    times = []
    for _ in range(CANARY_REPEATS):
        t = time.perf_counter()
        spark.sql(CANARY_SQL).collect()
        times.append((time.perf_counter() - t) * 1000)
    return sorted(times)[len(times) // 2]


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def gc_totals(spark) -> tuple[int, int]:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return (
        sum(b.getCollectionTime() for b in beans),
        sum(b.getCollectionCount() for b in beans),
    )


def reference_sums(spark) -> dict:
    """f32 sums of ``types`` through the JVM-only ``sum_f32_col`` path."""
    from datafusion_gpu_spark.aggregates import sum_f32_distributed

    types = spark.table("types")
    total = sum_f32_distributed(types, "float").collect()[0][0]
    grouped = {r[0]: r[1] for r in sum_f32_distributed(types, "float", "string").collect()}
    return {"sum": total, "grouped": grouped}


def oracle_problems(sdf, data_dir: str, name: str) -> list[str]:
    """Compare a registry op's ``toPandas()`` result with its DuckDB
    oracle over the same parquet files, the way tools/check_oracle.py
    does."""
    import duckdb

    from datafusion_gpu_spark.queries import all_oracles
    from tools.check_oracle import compare

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(data_dir)):
            if not f.endswith(".parquet"):
                continue
            table = f.removesuffix(".parquet")
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
            )
        ddf = con.execute(all_oracles()[name]).df()
    finally:
        con.close()
    # integer-width dtype notes are informational in the gate too
    return [p for p in compare(sdf, ddf) if ": dtype spark=" not in p]


def warm_up(ops, order: list[int], env, oracle: bool) -> dict[str, list[str]]:
    """An untimed pass over every op; returns the problems found, by op.
    With ``oracle``, registry ops run once through ``toPandas()`` and are
    compared with their DuckDB oracle; otherwise every op runs exactly as
    the timed passes run it."""
    from datafusion_gpu_spark.queries import all_queries

    problems: dict[str, list[str]] = {}
    for i in order:
        op = ops[i]
        try:
            if oracle and op.registry:
                sdf = all_queries()[op.name](env.spark, env.data_dir).toPandas()
                env.expected_rows[op.name] = len(sdf)
                found = oracle_problems(sdf, env.data_dir, op.name)
            else:
                problem = op.check(env, op.run(env))
                found = [problem] if problem else []
        except Exception:
            found = [traceback.format_exc(limit=3)]
        if found:
            problems[op.name] = found
    return problems


def main(argv: list[str] | None = None) -> int:
    from perfbench import stats
    from perfbench.ops import WORKLOADS, Env
    from perfbench.trace import Tracer

    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--tmp", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--record")
    args = ap.parse_args(argv)
    workload = WORKLOADS[args.workload]
    traced = bool(args.trace)
    with open(os.path.join(args.data, "rows.json")) as f:
        table_rows = json.load(f)
    table_rows["types"] = workload.types_rows
    conf = session_conf(args.tmp, traced)

    # -- set-up, timed SETUP_ROUNDS times --------------------------------
    setups = []
    for r in range(SETUP_ROUNDS):
        if r:
            spark.stop()
        spark, parts = set_up(workload, args.seed, args.data, conf)
        if not r:  # the first set-up also counts interpreter and import time
            parts["session_s"] = time.perf_counter() - _PROCESS_START - parts[
                "catalog_s"] - parts["inputs_s"]
        setups.append(parts)
    setup_totals = [sum(p.values()) for p in setups]
    log(f"set-ups {[{k: round(v, 2) for k, v in p.items()} for p in setups]}")

    tracer = Tracer(traced)
    env = Env(spark, args.data, args.tmp, Tracer(False), table_rows, {}, {})
    if workload.cache_types:
        env.refs = reference_sums(spark)
    canary_first = canary_ms(spark) if traced else None

    # -- warm-up pass: untimed, checks every op's output -----------------
    ops = workload.ops
    orders = op_orders(len(ops), args.seed)
    failures: dict[str, list[str]] = {}
    for n in range(WARMUP_PASSES):
        for name, problems in warm_up(ops, next(orders), env, oracle=not n).items():
            failures.setdefault(name, []).extend(problems)
    bad_ops = set(failures)
    log(f"warm-up passes done, failing ops: {sorted(bad_ops)}")

    # -- timed passes -----------------------------------------------------
    env.tracer = tracer
    sc = spark.sparkContext
    latencies: list[float] = []
    per_op: list[dict] = []
    attempted = failed = 0
    timed = 0.0
    n_pass = 0
    while timed < args.seconds or n_pass == 0:
        n_pass += 1
        for i in next(orders):
            op = ops[i]
            op_id = f"{workload.name}/{n_pass}/{op.name}"
            if traced:
                sc.setJobGroup(op_id, op_id)
                gc0 = gc_totals(spark)
            attempted += 1
            error = None
            with tracer.span("op", id=op_id, op=op.name, py_layer=op.py_layer):
                t0 = time.perf_counter()
                try:
                    out = op.run(env)
                except Exception:
                    error = traceback.format_exc(limit=3)
                elapsed = time.perf_counter() - t0
            timed += elapsed
            if error is None:
                error = op.check(env, out)
                latencies.append(elapsed)
            entry = {"id": op_id, "op": op.name, "wall_s": elapsed}
            if traced:
                gc1 = gc_totals(spark)
                entry["gc_ms"] = gc1[0] - gc0[0]
                entry["gc_count"] = gc1[1] - gc0[1]
            per_op.append(entry)
            if error is not None or op.name in bad_ops:
                failed += 1
                if error is not None:
                    failures.setdefault(op.name, []).append(error)
    log(f"{n_pass} timed passes, {attempted} ops, {timed:.2f} s timed")
    canary_last = canary_ms(spark) if traced else None

    op_times = {op.name: [e["wall_s"] for e in per_op if e["op"] == op.name] for op in ops}
    result = {
        "workload": workload.name,
        "seed": args.seed,
        "passes": n_pass,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "op_times_s": op_times,
    }
    if not traced:
        result["metrics"] = {
            "setup_s": (statistics.median(setup_totals), "s"),
            "op_p50_s": (statistics.median(latencies), "s"),
            "ops_per_s": (stats.pass_throughput(op_times, len(latencies)), "1/s"),
            "op_ok_ratio": ((attempted - failed) / attempted, "ratio"),
        }
        tail = stats.tail_percentile(len(latencies))
        if tail is not None:
            # not a metric: a run of --seconds reaches 100 ops on some
            # machines and not on others, and the metric set must not vary
            import numpy as np

            log(f"op_p{tail:g}_s {float(np.percentile(latencies, tail)):.4f}")
        spark.stop()
    else:
        from perfbench import trace

        peak_rss = vm_hwm_mb(jvm_pid(spark))
        app_id = spark.sparkContext.applicationId
        spark.stop()  # flushes and closes the event log
        events = trace.load_event_log(os.path.join(args.tmp, "eventlog", app_id))
        record = trace.build_record(workload.name, tracer.roots, per_op, events, n_pass)
        context = {
            k: statistics.median([p[k] for p in setups])
            for k in ("session_s", "catalog_s", "inputs_s")
        }
        summary = record["per_pass"]
        summary.update({f"context.{k}": v for k, v in context.items()})
        summary.update({
            "jvm.peak_rss_mb": peak_rss,
            "host.canary_first_ms": canary_first,
            "host.canary_last_ms": canary_last,
            "verify.op_error_ratio": failed / attempted,
            "trace.op_p50_s": statistics.median(latencies),
            "trace.ops_per_s": stats.pass_throughput(op_times, len(latencies)),
        })
        record.update({"seed": args.seed, "setups": setups, "failures": failures})
        if args.record:
            with open(args.record, "w") as f:
                json.dump(record, f, indent=1)
        result["metrics"] = {k: (v, trace.unit_of(k)) for k, v in summary.items()}
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
