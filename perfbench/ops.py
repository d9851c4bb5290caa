"""The benchmark's workloads: their generated inputs, their ops, and how
each op's output is checked.

An op is one closed-loop request: the benchmark calls it, waits for the
result, and only then sends the next. Registry ops are a registry build
plus ``collect()``; the others are one call into ``aggregates``, ``repl``
or ``io``. Each op returns a value its ``check`` inspects outside the
timed region.
"""

from __future__ import annotations

import io as _stdio
import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

import numpy as np

SUM_TOLERANCE = 1e-4  # relative, both sides rounded to float32


@dataclass
class Env:
    """What an op needs from the running benchmark."""

    spark: Any
    data_dir: str
    tmp_dir: str
    tracer: Any
    table_rows: dict[str, int]
    refs: dict[str, Any]
    #: registry op -> row count of its oracle-checked warm-up result
    expected_rows: dict[str, int]


@dataclass(frozen=True)
class Op:
    name: str
    run: Callable[[Env], Any]
    #: per-execution output check; returns a problem or None
    check: Callable[[Env, Any], str | None]
    #: module whose Python boundary the op's Python plan nodes belong to
    py_layer: str = "operators"
    #: registry entry compared to its DuckDB oracle once per run
    registry: bool = False


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    tables: tuple[str, ...]
    ops: tuple[Op, ...]
    #: rows of the synthetic ``types`` table (build_ctx's own default)
    types_rows: int = 1024
    #: cache ``types`` at set-up; its custom-sum ops check against it
    cache_types: bool = False


def plan_and_collect(env: Env, df) -> list:
    """``collect()``; traced, planning is forced first in its own span so
    catalyst time and execution time land in separate spans (collect
    reuses the planned QueryExecution)."""
    tracer = env.tracer
    if tracer.enabled:
        with tracer.span("catalyst.plan") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for phase in ("parsing", "analysis", "optimization", "planning"):
                found = phases.get(phase)
                if found.isDefined():
                    s.attrs[f"{phase}_ms"] = found.get().durationMs()
    with tracer.span("exec.collect") as s:
        rows = df.collect()
    if s is not None:
        s.attrs["rows"] = len(rows)
    return rows


# -- registry ops ------------------------------------------------------------


def _registry_run(name: str) -> Callable[[Env], Any]:
    def run(env: Env) -> list:
        from datafusion_gpu_spark.queries import all_queries

        fn = all_queries()[name]
        with env.tracer.span("queries.build"):
            df = fn(env.spark, env.data_dir)
        return plan_and_collect(env, df)

    return run


def _registry_check(name: str) -> Callable[[Env, Any], str | None]:
    def check(env: Env, rows: list) -> str | None:
        want = env.expected_rows.get(name)
        if want is not None and len(rows) != want:
            return f"{len(rows)} rows, the oracle-checked run gave {want}"
        return None

    return check


def registry(name: str) -> Op:
    return Op(name, _registry_run(name), _registry_check(name), registry=True)


# -- custom f32 sums on the cached ``types`` table --------------------------


def close_f32(got, want) -> bool:
    """float32 values within SUM_TOLERANCE of each other, relative."""
    if got is None or want is None:
        return got is want
    g, w = np.float32(got), np.float32(want)
    return bool(abs(float(g) - float(w)) <= SUM_TOLERANCE * abs(float(w)))


def _check_global(env: Env, rows: list) -> str | None:
    if len(rows) != 1 or not close_f32(rows[0][0], env.refs["sum"]):
        return f"global sum {rows!r} != f32 reference {env.refs['sum']!r}"
    return None


def _check_grouped(env: Env, rows: list) -> str | None:
    got = {r[0]: r[1] for r in rows}
    want = env.refs["grouped"]
    if got.keys() != want.keys():
        return f"groups {sorted(got)} != {sorted(want)}"
    bad = [k for k in want if not close_f32(got[k], want[k])]
    return f"groups {bad} off the f32 reference" if bad else None


def _sql_run(statement: str) -> Callable[[Env], Any]:
    def run(env: Env) -> list:
        with env.tracer.span("catalyst.sql"):
            df = env.spark.sql(statement)
        return plan_and_collect(env, df)

    return run


def _partial_final(env: Env) -> list:
    from datafusion_gpu_spark import aggregates

    with env.tracer.span("aggregates.build"):
        df = aggregates.sum_f32_partial_final(env.spark.table("types"), "float", "string")
    return plan_and_collect(env, df)


REPL_SQL = "SELECT sum_cudarc(float) FROM types"


def _repl_run(env: Env) -> tuple[bool, str]:
    from datafusion_gpu_spark import dialect, repl

    if env.tracer.enabled:
        # run_sql does this rewrite internally; timing it here separately
        # is the only way to see it without touching the package
        with env.tracer.span("dialect.rewrite"):
            dialect.check_dialect(REPL_SQL)
            sql = dialect.rewrite_reference_sums(REPL_SQL) or REPL_SQL
            dialect.rewrite_qualify(sql)
    out = _stdio.StringIO()
    with env.tracer.span("repl.run_sql"):
        ok = repl.run_sql(env.spark, REPL_SQL, out=out)
    return ok, out.getvalue()


def parse_repl_table(text: str) -> list[list[str]]:
    """Cell rows (header first) of the ASCII table ``repl.run_sql`` prints."""
    return [
        [cell.strip() for cell in line.strip().strip("|").split("|")]
        for line in text.splitlines()
        if line.startswith("|")
    ]


def _repl_check(env: Env, result: tuple[bool, str]) -> str | None:
    ok, text = result
    if not ok:
        return f"run_sql returned False: {text.strip()[:200]}"
    table = parse_repl_table(text)
    if len(table) != 2 or len(table[1]) != 1:
        return f"unexpected REPL table {table!r}"
    try:
        value = float(table[1][0])
    except ValueError:
        return f"REPL cell {table[1][0]!r} is not a number"
    if not close_f32(value, env.refs["sum"]):
        return f"REPL sum {value!r} != f32 reference {env.refs['sum']!r}"
    return None


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _ipc_run(env: Env) -> list:
    from pyspark.sql import functions as F

    from datafusion_gpu_spark import io

    path = os.path.join(env.tmp_dir, "types.arrow")
    with env.tracer.span("io.write") as s:
        io.write_arrow_ipc(env.spark.table("types"), path)
    if s is not None:
        s.attrs["bytes"] = _dir_bytes(path)
    with env.tracer.span("io.read"):
        df = io.read_arrow_ipc(env.spark, path)
    return plan_and_collect(env, df.agg(F.count("*"), F.sum("float")))


def _ipc_check(env: Env, rows: list) -> str | None:
    n, total = rows[0]
    if n != env.table_rows["types"]:
        return f"IPC round trip kept {n} of {env.table_rows['types']} rows"
    if not close_f32(total, env.refs["sum"]):
        return f"IPC round-trip sum {total!r} != f32 reference {env.refs['sum']!r}"
    return None


# -- parquet sink ------------------------------------------------------------

LINEITEM_PROJECTION = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
    "l_discount", "l_tax", "l_returnflag", "l_linestatus",
)


def _parquet_run(env: Env) -> int:
    from datafusion_gpu_spark import io

    path = os.path.join(env.tmp_dir, "lineitem.parquet")
    with env.tracer.span("io.write") as s:
        io.write_parquet(env.spark.table("lineitem").select(*LINEITEM_PROJECTION), path)
    if s is not None:
        s.attrs["bytes"] = _dir_bytes(path)
    # context.read_parquet takes a single file; the sink wrote a directory
    with env.tracer.span("io.read"):
        return env.spark.read.parquet(path).count()


def _parquet_check(env: Env, n: int) -> str | None:
    want = env.table_rows["lineitem"]
    return None if n == want else f"parquet round trip kept {n} of {want} rows"


# -- the workloads -----------------------------------------------------------

STAR_SQL = Workload(
    "star_sql",
    sf=0.02,
    tables=("region", "nation", "customer", "supplier", "orders", "lineitem", "events"),
    ops=(
        registry("tpch_q1_pricing_summary"),
        registry("tpch_q3_shipping_priority"),
        registry("tpch_q5_local_supplier"),
        registry("tpch_q6_forecast_revenue"),
        registry("tpch_q10_returned_items"),
        registry("window_rows_frame"),
        registry("events_multi_rollup"),
        registry("events_sessionize"),
        registry("events_funnel"),
        Op("io_parquet_roundtrip", _parquet_run, _parquet_check, py_layer="io"),
    ),
)

PYTHON_UDF = Workload(
    "python_udf",
    sf=0.1,
    tables=("embeddings",),
    types_rows=500_000,
    cache_types=True,
    ops=(
        Op("sum_float", _sql_run("SELECT sum(float) FROM types"), _check_global),
        Op(
            "sum_arrow_cpu",
            _sql_run("SELECT sum_arrow_cpu(float) FROM types"),
            _check_global,
            py_layer="aggregates",
        ),
        Op(
            "sum_arrow_cpu_grouped",
            _sql_run(
                "SELECT string, sum_arrow_cpu(float) FROM types "
                "GROUP BY string ORDER BY string"
            ),
            _check_grouped,
            py_layer="aggregates",
        ),
        Op("sum_f32_partial_final", _partial_final, _check_grouped, py_layer="aggregates"),
        Op("repl_sum_cudarc", _repl_run, _repl_check),
        Op("io_arrow_ipc_roundtrip", _ipc_run, _ipc_check, py_layer="io"),
        registry("sim_topk_vectorized"),
        registry("sim_topk_ivf"),
    ),
)

ITERATIVE_GRAPH = Workload(
    "iterative_graph",
    sf=0.02,
    tables=("customer", "orders", "lineitem", "documents"),
    ops=(
        registry("dedup_components"),
        registry("graph_louvain"),
        registry("graph_hits"),
        registry("dedup_minhash_lsh"),
    ),
)

WORKLOADS = {w.name: w for w in (STAR_SQL, PYTHON_UDF, ITERATIVE_GRAPH)}
