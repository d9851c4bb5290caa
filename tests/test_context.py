"""Context/bootstrap tests: types generator determinism, CSV inference
(SURVEY §5.2 items 2 and 4), REPL parity queries."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datafusion_gpu_spark.context import make_types_df, register_test_csv
from datafusion_gpu_spark.queries.reference_tables import TEST_CSV


def test_types_schema(spark):
    df = make_types_df(spark, 100)
    assert [(f.name, str(f.dataType)) for f in df.schema.fields] == [
        ("string", "StringType()"),
        ("float", "FloatType()"),
        ("int", "IntegerType()"),
    ]


def test_types_deterministic_and_partition_invariant(spark):
    a = make_types_df(spark, 1000, seed=7).toPandas()
    b = make_types_df(spark, 1000, seed=7).repartition(13).toPandas()
    key = lambda d: d.sort_values(["int", "float", "string"]).reset_index(drop=True)  # noqa: E731
    assert key(a).equals(key(b))
    c = make_types_df(spark, 1000, seed=8).toPandas()
    assert not key(a).equals(key(c))


def test_types_value_ranges(spark):
    row = (
        make_types_df(spark, 5000)
        .agg(
            F.min("float").alias("fmin"),
            F.max("float").alias("fmax"),
            F.countDistinct("string").alias("letters"),
        )
        .collect()[0]
    )
    assert 0.0 <= row.fmin and row.fmax < 1.0
    assert row.letters == 26  # 'a'..='z' (src/lib.rs:65)


def test_csv_inference(spark):
    df = register_test_csv(spark, TEST_CSV)
    assert len(df.columns) == 13 and df.count() == 100
    dtypes = dict(df.dtypes)
    assert dtypes["c1"] == "string"
    assert dtypes["c2"] == "int"
    assert dtypes["c6"] == "bigint"
    assert dtypes["c11"] == "double"
    assert dtypes["c13"] == "string"


def test_readme_parity_queries_run_verbatim(spark):
    """The reference's manual correctness procedure (README.md:71-75)."""
    from datafusion_gpu_spark.context import build_ctx

    build_ctx(spark, types_table_length=100_000)
    base = spark.sql("SELECT sum(float) AS s FROM types").collect()[0].s
    for q in (
        "SELECT sum_cudarc(float) FROM types",
        "SELECT sum_cubecl(float) FROM types",
    ):
        got = spark.sql(q).collect()[0][0]
        assert abs(base - got) / abs(base) < 1e-4


def test_scan_cache_sweeps_stopped_sessions_and_clear_hook():
    """ADVICE r10 #1: the scan cache must not accrete dead sessions (swept
    on touch via the _jsc liveness probe) and must expose a clear hook for
    callers that rewrite parquet at a cached path mid-session."""
    from datafusion_gpu_spark import context as ctx

    class _FakeSC:
        def __init__(self, stopped):
            self._jsc = None if stopped else object()

    class _FakeSession:
        def __init__(self, stopped=False):
            self._sc = _FakeSC(stopped)

    dead, live = _FakeSession(stopped=True), _FakeSession()
    try:
        ctx._SCAN_CACHE[id(dead)] = (dead, {"p.parquet": "dead-df"})
        ctx._SCAN_CACHE[id(live)] = (live, {"p.parquet": "live-df"})
        # touch through the cache with the live session: cached path short-
        # circuits before any real read, and the dead entry is swept
        assert ctx._cached_scan(live, "p.parquet") == "live-df"
        assert id(dead) not in ctx._SCAN_CACHE
        assert id(live) in ctx._SCAN_CACHE
        # per-path clear drops just that plan; per-session clear drops all
        ctx.clear_scan_cache(live, "p.parquet")
        assert ctx._SCAN_CACHE[id(live)][1] == {}
        ctx.clear_scan_cache(live)
        assert id(live) not in ctx._SCAN_CACHE
        ctx._SCAN_CACHE[id(live)] = (live, {"p.parquet": "live-df"})
        ctx.clear_scan_cache()
        assert ctx._SCAN_CACHE == {}
    finally:
        ctx._SCAN_CACHE.pop(id(dead), None)
        ctx._SCAN_CACHE.pop(id(live), None)


def _driver_evidence(rounds):
    """name -> last checked round, name -> number of checked rounds,
    computed from CORRECTNESS rows independently of __spark_entry__."""
    last, count = {}, {}
    for rnd in sorted(rounds):
        for name, row in rounds[rnd].items():
            if row["err"] in (None, "no_oracle"):
                last[name] = rnd
                count[name] = count.get(name, 0) + 1
    return last, count


#: The six rows pinned for the round-16 driver sample (their machinery
#: changed in the r16 optimization round, after their r15 check).
_R16_PINS = (
    "events_cox_ph", "graph_hits", "dedup_minhash_lsh",
    "dedup_components", "graph_mst", "graph_louvain",
)


def _rounds_through(n):
    from __spark_entry__ import _driver_rounds

    return {r: rows for r, rows in _driver_rounds().items() if r <= n}


def test_gate_staleness_rotation_orders_oldest_first():
    # the driver checks the FIRST 50 registry entries each round; with
    # coverage closed (r5), ordering is a staleness rotation derived from
    # the committed CORRECTNESS_r*.json files — the rank of each query's
    # last driver check must be non-decreasing along the registry, with
    # never-checked entries slotted between the r2 and r3 tranches
    # (first-check latency <= one round behind the stalest re-checks,
    # never ahead of them)
    from __spark_entry__ import (
        _CHANGED_SINCE_CHECK,
        _driver_rounds,
        _staleness_order,
        oracle_sql,
        queries,
    )
    from datafusion_gpu_spark.queries import all_queries

    last, count = _driver_evidence(_driver_rounds())
    order = _staleness_order(all_queries(), _driver_rounds(), _CHANGED_SINCE_CHECK)
    names = list(queries())
    assert names == list(order)
    ranks = [order[n] for n in names]
    assert ranks == sorted(ranks)
    # evidence tier (gate-slot economics, VERDICT r12 #6): a row green in
    # >= 2 distinct rounds ages 1 round slower than a same-round row with
    # thinner evidence; pins still outrank everything
    for n in names:
        if n in _CHANGED_SINCE_CHECK:
            assert order[n] == 0.0
        elif n in last:
            assert order[n] == last[n] + (1.0 if count[n] >= 2 else 0.0)
        else:
            assert order[n] == 2.5
    # changed-code rows (spelling or shared machinery changed after their
    # last driver check — VERDICT r10 #1) jump the staleness queue: ALL of
    # them sit inside the gate head, ahead of every merely-stale tranche
    assert set(names[: len(_CHANGED_SINCE_CHECK)]) == set(_CHANGED_SINCE_CHECK)
    assert len(_CHANGED_SINCE_CHECK) <= 50
    # The head's 50 slots must be exactly the 50 smallest staleness
    # ranks. Sortedness above already guarantees the cut; here we pin the
    # head *composition*: for every rank r fully inside the head, ALL
    # entries of that rank are in the head; the boundary rank fills the
    # remainder in registry order.
    head_ranks = ranks[:50]
    from collections import Counter

    total_by_rank = Counter(ranks)
    head_by_rank = Counter(head_ranks)
    boundary = head_ranks[-1]
    for r, c in head_by_rank.items():
        if r < boundary:
            assert c == total_by_rank[r], f"rank {r} split across the head cut"
    # never-checked entries (new ops awaiting their first driver row)
    # sort between the r2 and r3 tranches — any overflow past the head
    # queues immediately after it, ahead of every staler-than-2.5
    # re-check, bounding first-check latency at one extra round
    n_never = total_by_rank.get(2.5, 0)
    n_never_in_head = head_by_rank.get(2.5, 0)
    if n_never_in_head < n_never:
        overflow = names[50 : 50 + (n_never - n_never_in_head)]
        assert all(n not in last for n in overflow)
    # every query has an oracle unless deliberately rows-only (driver
    # looks oracles up by key, so only membership matters, not order)
    rows_only = {"explain_plan", "agg_approximate"}
    assert set(names) - set(oracle_sql()) == rows_only


def test_staleness_order_golden_r16_sample():
    # Golden: rounds r01-r15 plus the six pins of that time reproduce the
    # driver's actual round-16 sample — CORRECTNESS_r16.json's 50 rows,
    # in order — which the hand-kept rank tables used to produce.
    from __spark_entry__ import _driver_rounds, _staleness_order
    from datafusion_gpu_spark.queries import all_queries

    r15 = _rounds_through(15)
    order = _staleness_order(all_queries(), r15, _R16_PINS)
    assert list(order)[:50] == list(_driver_rounds()[16])
    # r03's errored row is not a check; r13's hash mismatches are
    assert r15[3]["sim_quantize_int8"]["err"]
    assert _staleness_order(["sim_quantize_int8"], _rounds_through(3), ()) == {
        "sim_quantize_int8": 2.5
    }
    mismatched = ["graph_modularity", "agg_bh_fdr"]
    assert all(r15[13][n]["hash_match"] is False for n in mismatched)
    assert _staleness_order(mismatched, _rounds_through(13), ()) == dict.fromkeys(
        mismatched, 13.0
    )
    # concrete tier instance: join_cross (green r2 AND r7) defers behind
    # agg_gini (green r7 only) although both were last checked in r7
    last, count = _driver_evidence(r15)
    assert count["join_cross"] >= 2
    assert count["agg_gini"] == 1
    assert last["join_cross"] == last["agg_gini"]
    assert order["join_cross"] > order["agg_gini"]


def test_staleness_order_later_round_moves_name_back():
    # A later driver round needs no code edit: a name checked in it
    # leaves the head for the back of the queue; an errored row in the
    # same round is not a check and moves nothing.
    from __spark_entry__ import _staleness_order
    from datafusion_gpu_spark.queries import all_queries

    registry = all_queries()
    rounds = _rounds_through(15)
    before = list(_staleness_order(registry, rounds, ()))
    checked, errored = before[0], before[1]
    rounds[16] = {checked: {"err": None}, errored: {"err": "spark raised"}}
    after = _staleness_order(registry, rounds, ())
    assert list(after)[-1] == checked
    assert after[checked] == max(after.values())
    assert list(after)[0] == errored
    assert [n for n in after if n != checked] == [n for n in before if n != checked]


def test_family_reexport_collision_raises():
    # ADVICE r12 #2: the pipeline family-module re-export merge must
    # RAISE on a same-name/different-body helper across family modules
    # (a silent skip would hand import sites whichever merged first),
    # while tolerating identical shared objects and keeping the host
    # module's own pre-existing names authoritative.
    import types

    import pytest

    from datafusion_gpu_spark.queries.pipeline import _merge_family_exports

    def mk(name, **names):
        m = types.ModuleType(name)
        m.QUERIES, m.ORACLES = {}, {}
        for k, v in names.items():
            setattr(m, k, v)
        return m

    shared = object()
    # identical object in both modules: fine (shared import pattern)
    tgt = {"QUERIES": {}, "ORACLES": {}, "host_name": "authoritative"}
    _merge_family_exports(tgt, (mk("a", h=shared), mk("b", h=shared)))
    assert tgt["h"] is shared
    # host-module name is never clobbered and never treated as a collision
    tgt2 = {"QUERIES": {}, "ORACLES": {}, "host_name": "authoritative"}
    _merge_family_exports(tgt2, (mk("a", host_name="x"), mk("b", host_name="y")))
    assert tgt2["host_name"] == "authoritative"
    # different bodies under one name across two family modules: ImportError
    with pytest.raises(ImportError, match="collision.*helper"):
        _merge_family_exports(
            {"QUERIES": {}, "ORACLES": {}},
            (mk("mod_a", helper=object()), mk("mod_b", helper=object())),
        )


def test_group_sequential_guard_keyed_to_cn():
    # ADVICE r12 #1: the _GROUP_SEQ int64-headroom guard must be keyed
    # to cn (bounding BOTH z-numerator products: 100*cd since cd<=cn,
    # and 18*cn) and must guard zk at its DEFINITION so the latch
    # window's ABS(zk) cannot force the overflowing arithmetic.
    from datafusion_gpu_spark.queries.pipeline_stats import _GROUP_SEQ

    assert "CAST(cd AS DOUBLE)" not in _GROUP_SEQ
    assert _GROUP_SEQ.count("CAST(cn AS DOUBLE) * 100 < 9e18") == 2
    assert "CAST(cn AS DOUBLE) * 100 >= 9e18" in _GROUP_SEQ
    # the zk definition itself is guarded (CASE WHEN precedes the fold)
    z_cte = _GROUP_SEQ.split("z AS (")[1].split("),")[0]
    assert "CASE WHEN CAST(cn AS DOUBLE) * 100 < 9e18" in z_cte
