"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 pricing summary) on
sf0.001. ``queries()`` / ``oracle_sql()`` expose the engine's full
demonstrated surface (SURVEY.md §2 inventory + the training-data-pipeline
operators) for the driver's DuckDB correctness gate at sf0.01.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

#: Rows whose implementation changed after their latest driver check. They
#: rank 0, ahead of every stale row. Add a name when its spelling (or shared
#: machinery under it) changes; remove it once a CORRECTNESS_r*.json row for
#: the changed code is committed.
_CHANGED_SINCE_CHECK: tuple[str, ...] = (
    "dedup_components",
    "graph_assortativity",
    "graph_bellman_ford",
    "graph_bfs",
    "graph_clustering_coeff",
    "graph_common_neighbors",
    "graph_condensation",
    "graph_degree_hist",
    "graph_delta_stepping",
    "graph_harmonic_exact",
    "graph_harmonic_hyperball",
    "graph_hits",
    "graph_kcore",
    "graph_label_propagation",
    "graph_louvain",
    "graph_modularity",
    "graph_mst",
    "graph_pagerank",
    "graph_pagerank_personalized",
    "graph_resource_allocation",
    "graph_scc",
    "graph_toposort",
    "graph_triangle_count",
)


def _staleness_order(
    names: Iterable[str], rounds: Mapping[int, Mapping[str, dict]], pins: Iterable[str]
) -> dict[str, float]:
    """Gate order, oldest driver evidence first: name -> rank, sorted by rank.

    ``rounds`` maps a round number to that round's CORRECTNESS rows; a name
    is checked in a round when its row's ``err`` is null or ``"no_oracle"``.
    Pins rank 0; never-checked names 2.5 (behind the r1/r2 tranches, ahead
    of r3+); the rest their last checked round, plus 1 once checked in two
    or more rounds, so rows with thinner evidence go first. The sort is
    stable: input order breaks ties.
    """
    last: dict[str, int] = {}
    count: dict[str, int] = {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            if row.get("err") in (None, "no_oracle"):
                last[name] = rnd
                count[name] = count.get(name, 0) + 1
    pinned = set(pins)

    def rank(name: str) -> float:
        if name in pinned:
            return 0.0
        if name not in last:
            return 2.5
        return last[name] + (1.0 if count[name] >= 2 else 0.0)

    return {name: rank(name) for name in sorted(names, key=rank)}


def _driver_rounds() -> dict[int, dict[str, dict]]:
    """The committed CORRECTNESS_rNN.json files next to this module, by round."""
    here = Path(__file__).resolve().parent
    return {
        int(path.stem.removeprefix("CORRECTNESS_r")): json.loads(path.read_text())
        for path in here.glob("CORRECTNESS_r[0-9][0-9].json")
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from datafusion_gpu_spark.queries import all_queries

    return all_queries()["tpch_q1_pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in staleness
    order: the driver checks the first 50 each round."""
    from datafusion_gpu_spark.queries import all_queries

    registry = all_queries()
    order = _staleness_order(registry, _driver_rounds(), _CHANGED_SINCE_CHECK)
    return {name: registry[name] for name in order}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query; keys without an oracle
    (approximate / non-SQL-expressible ops) get a rows-only check."""
    from datafusion_gpu_spark.queries import all_oracles

    return all_oracles()
