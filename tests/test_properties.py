"""Property-based tests (hypothesis): invariants that must hold for ANY
input, not just the fixtures — the strongest form of the oracle story.

Example counts are small (each example is a Spark job); deadline=None
because JVM scheduling jitter would otherwise flake."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = dict(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    keys=st.lists(st.integers(min_value=0, max_value=2**40), min_size=1,
                  max_size=200, unique=True),
    w_train=st.integers(min_value=1, max_value=8),
    w_val=st.integers(min_value=1, max_value=8),
)
def test_hash_split_partitions_any_keyset(spark, keys, w_train, w_val):
    # every key lands in exactly one split, for arbitrary ids and weights
    from datafusion_gpu_spark.operators.curation import hash_split

    total = w_train + w_val + 2
    weights = {
        "train": w_train / total,
        "val": w_val / total,
        "test": 2 / total,
    }
    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    out = hash_split(df, weights=weights).collect()
    assert len(out) == len(keys)
    assert {r.doc_id for r in out} == set(keys)
    assert all(r.split in weights for r in out)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, width=32),
        min_size=1,
        max_size=100,
    )
)
def test_custom_f32_sum_matches_numpy_float32(spark, vals):
    # the UDAF contract: f32 accumulation semantics for arbitrary floats
    from pyspark.sql import functions as F

    from datafusion_gpu_spark.aggregates import sum_arrow_cpu

    df = spark.createDataFrame([(float(v),) for v in vals], "f double")
    got = df.agg(sum_arrow_cpu(F.col("f")).alias("s")).collect()[0].s
    want = np.sum(np.array(vals, dtype=np.float32))
    # f32 summation is order-dependent (the engine merges partition
    # partials; numpy sums pairwise) — the proper bound is the standard
    # n-term forward-error envelope over SUM(|x|), not a fixed rtol:
    # hypothesis found cancellation cases ([9.7e5, 1.9, -9.7e5]) where
    # two valid orders differ by ~1e-5 relative to the tiny result.
    bound = (
        len(vals) * float(np.finfo(np.float32).eps)
        * float(np.sum(np.abs(np.array(vals, dtype=np.float64))))
        + 1e-3
    )
    assert abs(float(got) - float(want)) <= bound


@settings(**_SETTINGS)
@given(
    n_vecs=st.integers(min_value=3, max_value=40),
    dim=st.integers(min_value=2, max_value=16),
    k=st.integers(min_value=1, max_value=5),
    seed=st.integers(min_value=0, max_value=2**31),
)
def test_two_stage_topk_equals_numpy_for_any_corpus(spark, n_vecs, dim, k, seed):
    # exact top-k must be exact no matter the corpus shape/partitioning
    from datafusion_gpu_spark.operators.similarity import cosine_topk_bruteforce

    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n_vecs, dim)).astype(np.float64)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n_vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = cosine_topk_bruteforce(df, df.where("vec_id = 0"), k=k).collect()

    q = vecs[0]
    cos = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    cos[0] = -np.inf  # self excluded
    order = sorted(range(n_vecs), key=lambda i: (-round(cos[i], 6), i))
    want = order[: min(k, n_vecs - 1)]
    got = [r.vec_id for r in sorted(out, key=lambda r: r.rank)]
    assert got == want


@settings(**_SETTINGS)
@given(
    span_len=st.integers(min_value=10, max_value=40),
    off_a=st.integers(min_value=0, max_value=25),
    off_b=st.integers(min_value=0, max_value=25),
    n=st.integers(min_value=5, max_value=10),
    seed=st.integers(min_value=0, max_value=2**16),
)
def test_duplicated_spans_recovers_any_planted_span(
    spark, span_len, off_a, off_b, n, seed
):
    # a shared passage of span_len >= n words planted at arbitrary
    # offsets inside otherwise-unique filler must come back as ONE
    # maximal span with exact starts and length
    from datafusion_gpu_spark.operators.dedup import duplicated_spans

    rng = np.random.default_rng(seed)
    shared = " ".join(f"s{rng.integers(1 << 30)}_{i}" for i in range(span_len))
    fill = lambda tag, m: " ".join(f"{tag}{rng.integers(1 << 30)}_{j}" for j in range(m))
    rows = [
        (0, f"{fill('a', off_a)} {shared} {fill('z', 5)}".strip()),
        (1, f"{fill('b', off_b)} {shared} {fill('y', 3)}".strip()),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = duplicated_spans(docs, n=n, max_doc_freq=None).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert r.span_words == span_len
    assert r.start_a == off_a and r.start_b == off_b


_SQLISH = st.text(
    alphabet=list("abc ()'\"`-*/\n;=<>1"), min_size=0, max_size=80
)


@settings(max_examples=300, deadline=None)
@given(sql=_SQLISH)
def test_strip_comments_is_idempotent(sql):
    # pure-python, no Spark: stripping is a fixpoint for ANY input —
    # what the first pass leaves contains no comment outside strings
    from datafusion_gpu_spark.dialect import _strip_comments

    once = _strip_comments(sql)
    assert _strip_comments(once) == once


@settings(max_examples=300, deadline=None)
@given(body=st.text(alphabet=list("abc -*/"), min_size=0, max_size=30))
def test_strip_comments_preserves_string_literals(body):
    # a quoted literal survives verbatim even when it spells '--' or '/*'
    from datafusion_gpu_spark.dialect import _strip_comments

    lit = "'" + body.replace("'", "") + "'"
    sql = f"SELECT {lit} FROM t -- tail\n"
    out = _strip_comments(sql)
    assert lit in out and "tail" not in out


@settings(max_examples=300, deadline=None)
@given(sql=_SQLISH)
def test_rewrite_qualify_never_crashes(sql):
    # arbitrary near-SQL text: the rewriter returns None, a string, or
    # the documented UnsupportedSqlError — never any other exception
    from datafusion_gpu_spark.dialect import UnsupportedSqlError, rewrite_qualify

    try:
        out = rewrite_qualify(sql)
    except UnsupportedSqlError:
        return
    assert out is None or isinstance(out, str)


_SQLISH_ESC = st.text(
    alphabet=list("abc ()'\"`-*/\n;=<>1\\x"), min_size=0, max_size=80
)


@settings(max_examples=300, deadline=None)
@given(sql=_SQLISH_ESC)
def test_strip_comments_idempotent_with_escapes(sql):
    # the escaped-quote alphabet (backslashes) must not break the
    # fixpoint property of comment stripping
    from datafusion_gpu_spark.dialect import _strip_comments

    once = _strip_comments(sql)
    assert _strip_comments(once) == once


@settings(max_examples=300, deadline=None)
@given(body=st.text(alphabet=list("abc -*/x"), min_size=0, max_size=20))
def test_strip_comments_preserves_escaped_quote_literals(body):
    # a literal containing \' survives whole — the scanner must not
    # close the string at the escaped quote and eat the tail as comment
    from datafusion_gpu_spark.dialect import _strip_comments

    lit = "'" + body.replace("'", "") + "\\' --'"
    sql = f"SELECT {lit} AS s FROM t -- tail\n"
    out = _strip_comments(sql)
    assert lit in out and "tail" not in out


@settings(max_examples=300, deadline=None)
@given(sql=_SQLISH_ESC)
def test_rewrite_reference_sums_never_crashes(sql):
    # arbitrary near-SQL with backslashes/quotes: returns None or str
    from datafusion_gpu_spark.dialect import rewrite_reference_sums

    out = rewrite_reference_sums(sql)
    assert out is None or isinstance(out, str)


@settings(max_examples=200, deadline=None)
@given(arg=st.text(alphabet=list("abc x1+*"), min_size=1, max_size=20),
       tail=_SQLISH_ESC)
def test_rewrite_reference_sums_fixpoint_on_real_calls(arg, tail):
    # interpolate a REAL reference-sum call (the raw alphabet cannot
    # spell one): a successful rewrite must be a fixpoint — the emitted
    # CAST(SUM(...)) contains no rewritable call
    from datafusion_gpu_spark.dialect import rewrite_reference_sums

    sql = f"SELECT sum_cudarc({arg}) AS s FROM t {tail}"
    out = rewrite_reference_sums(sql)
    if out is not None:
        assert rewrite_reference_sums(out) is None


@settings(**_SETTINGS)
@given(
    base=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),
                  st.integers(min_value=-50, max_value=50)),
        min_size=0, max_size=60,
    ),
    delta=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9),
                  st.integers(min_value=-50, max_value=50),
                  st.sampled_from([1, -1])),
        min_size=0, max_size=60,
    ),
)
def test_incremental_agg_equals_recompute_for_any_zset(spark, base, delta):
    # Z-set contract for ARBITRARY fact/changelog combos: old view (+)
    # delta-agg == group-agg of (base facts as +1) ⊎ delta, with
    # count-0 keys absent from both sides
    from collections import defaultdict

    from pyspark.sql import functions as F

    from datafusion_gpu_spark.operators.layout import incremental_agg

    view_src = spark.createDataFrame(base, "k int, v int") if base else (
        spark.createDataFrame([], "k int, v int"))
    view = view_src.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("v").alias("total"))
    ddf = spark.createDataFrame(delta, "k int, v int, sign int") if delta else (
        spark.createDataFrame([], "k int, v int, sign int"))
    got = {r.k: (r.cnt, r.total)
           for r in incremental_agg(view, ddf, "k", "v").collect()}
    want = defaultdict(lambda: [0, 0])
    for k, v in base:
        want[k][0] += 1
        want[k][1] += v
    for k, v, s in delta:
        want[k][0] += s
        want[k][1] += v * s
    want = {k: (c, t) for k, (c, t) in want.items() if c != 0}
    # sum over an all-delta key with cnt!=0 can still be None vs 0:
    # normalize missing totals to 0 on both sides
    got = {k: (c, t if t is not None else 0) for k, (c, t) in got.items()}
    assert got == want


@settings(**_SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            # full accepted latitude domain INCLUDING the +/-60 boundary,
            # where the unpadded cell size had a completeness hole
            st.floats(min_value=-60, max_value=60, allow_nan=False),
            st.floats(min_value=-60, max_value=60, allow_nan=False),
        ),
        min_size=1, max_size=25,
    ),
    radius=st.floats(min_value=1.0, max_value=500.0, allow_nan=False),
)
def test_radius_join_complete_for_any_points(spark, pts, radius):
    # grid bucketization must find EVERY within-radius pair brute force
    # finds, for arbitrary point clouds and radii (completeness is the
    # property; the candidate filter can never lose a true pair)
    import math

    from datafusion_gpu_spark.operators.geo import EARTH_RADIUS_KM, radius_join

    def hav(a, b):
        p = math.radians
        (la1, lo1), (la2, lo2) = a, b
        x = (math.sin(p(la2 - la1) / 2) ** 2
             + math.cos(p(la1)) * math.cos(p(la2))
             * math.sin(p(lo2 - lo1) / 2) ** 2)
        return 2 * EARTH_RADIUS_KM * math.asin(math.sqrt(x))

    left = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(pts)],
        "id long, lat double, lon double",
    )
    got = {(r.id, r.rid_r)
           for r in radius_join(left, left.withColumnRenamed("id", "rid"),
                                radius_km=radius).collect()}
    want = {(i, j)
            for i, a in enumerate(pts)
            for j, b in enumerate(pts)
            if hav(a, b) <= radius}
    assert got == want


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=-1000, max_value=1000, allow_nan=False,
                  allow_infinity=False),
        min_size=1, max_size=120,
    ),
)
def test_cusum_closed_form_equals_sequential_recursion(spark, vals):
    # the window spelling S = cumsum - min(0, running-min(cumsum)) must
    # equal the textbook sequential recursion S_i = max(0, S_{i-1}+y_i)
    # for ANY value sequence — including all-equal (sd=0 -> no alarms)
    import math
    import statistics as stx

    from datafusion_gpu_spark.operators.events import cusum_alarms

    def half_up(x):
        # Spark/DuckDB ROUND is half-away-from-zero; python round() is
        # banker's — the reference must match the engines at .5 exactly
        return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))

    rows = [("u", i, f"2024-01-01 {i // 3600:02d}:{i // 60 % 60:02d}:{i % 60:02d}", v)
            for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts_s string, value double"
    ).selectExpr("user_id", "event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "value")
    got = cusum_alarms(df).collect()[0]

    xq = [half_up(v * 100) for v in vals]
    mu = half_up(sum(xq) / len(xq))
    sd = stx.pstdev(xq)
    k, h = half_up(0.5 * sd), half_up(4.0 * sd)
    s_stat, peak, alarms, first = 0, 0, 0, None
    for eid, x in enumerate(xq):
        s_stat = max(0, s_stat + x - mu - k)
        peak = max(peak, s_stat)
        if h > 0 and s_stat > h:
            alarms += 1
            first = eid if first is None else first
    assert got.n_events == len(vals)
    assert got.n_alarms == alarms
    assert got.peak_cusum == peak
    assert got.first_alarm_id == first


@settings(**_SETTINGS)
@given(
    iv=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),
            st.integers(min_value=0, max_value=100),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_merge_intervals_matches_sequential_reference(spark, iv):
    # islands == the classic sequential sweep, for ANY interval set
    from datafusion_gpu_spark.operators.events import merge_intervals

    rows = [(1, i, s, s + d) for i, (s, d) in enumerate(iv)]
    df = spark.createDataFrame(rows, "user_id long, event_id long, s long, e long")
    got = sorted(
        (r.start, r["end"], r.n_intervals)
        for r in merge_intervals(df).collect()
    )
    ref = []
    for s, e in sorted((s, s + d) for s, d in iv):
        if ref and s <= ref[-1][1]:
            ref[-1] = (ref[-1][0], max(ref[-1][1], e), ref[-1][2] + 1)
        else:
            ref.append((s, e, 1))
    assert got == sorted(ref)


@settings(**_SETTINGS)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=30), min_size=1,
                   max_size=8),
    budget_frac=st.floats(min_value=0.0, max_value=1.0),
)
def test_apportion_quota_rule_any_distribution(spark, sizes, budget_frac):
    # Hamilton's method satisfies the quota rule: every source gets
    # floor(quota) or ceil(quota), and the total is EXACT — for any
    # source-size distribution and any budget within the corpus size
    # (the documented precondition; hypothesis found the oversubscribed
    # case, now pinned separately)
    import math

    from datafusion_gpu_spark.operators.curation import apportion_sample

    rows = [
        (src * 1000 + i, f"s{src}")
        for src, n in enumerate(sizes)
        for i in range(n)
    ]
    n_docs = sum(sizes)
    total = int(budget_frac * n_docs)
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    got = apportion_sample(docs, total=total).groupBy("source").count().collect()
    alloc = {r.source: r["count"] for r in got}
    assert sum(alloc.values()) == total  # exact total
    for src, n in enumerate(sizes):
        q = total * n / n_docs
        a = alloc.get(f"s{src}", 0)
        assert math.floor(q) <= a <= math.ceil(q)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.text(alphabet="ab c", min_size=1, max_size=20),
        min_size=2,
        max_size=12,
    ),
    threshold=st.integers(min_value=0, max_value=6),
)
def test_blocked_edit_pairs_matches_python_reference(spark, texts, threshold):
    # for ANY corpus: the found pairs are exactly the same-block pairs
    # within threshold, with the exact Levenshtein distance
    import re

    def lev(a, b):
        m = [[i + j if not i * j else 0 for j in range(len(b) + 1)]
             for i in range(len(a) + 1)]
        for i in range(1, len(a) + 1):
            for j in range(1, len(b) + 1):
                m[i][j] = min(m[i - 1][j] + 1, m[i][j - 1] + 1,
                              m[i - 1][j - 1] + (a[i - 1] != b[j - 1]))
        return m[len(a)][len(b)]

    from datafusion_gpu_spark.operators.dedup import blocked_edit_pairs

    rows = [(i, t, "x") for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        (r.doc_a, r.doc_b): r.dist
        for r in blocked_edit_pairs(
            df, prefix_len=40, threshold=threshold, block_cols=("lang",)
        ).collect()
    }
    norm = [re.sub(r"\s+", " ", t.strip().lower()) for t in texts]
    ref = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            a, b = norm[i][:40], norm[j][:40]
            if (a.split(" ")[0] if a else "") != (b.split(" ")[0] if b else ""):
                continue  # different block
            d = lev(a, b)
            if d <= threshold:
                ref[(i, j)] = d
    assert got == ref


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)).filter(
            lambda p: p[0] < p[1]  # orient by id: acyclic by construction
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_topo_layers_matches_longest_path_reference(spark, edges):
    from datafusion_gpu_spark.operators.graph import topo_layers

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.layer for r in topo_layers(df).collect()}
    nodes = {u for u, v in edges} | {v for u, v in edges}
    ref = {}
    for n in sorted(nodes):  # ascending ids == topological order here
        preds = [u for u, v in edges if v == n]
        ref[n] = 1 + max((ref[u] for u in preds), default=-1)
    assert got == ref


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=25,
        unique=True,
    )
)
def test_scc_matches_closure_reference(spark, edges):
    # mutual-reachability closure is the definition; the distributed
    # coloring algorithm must agree on ANY digraph
    from datafusion_gpu_spark.operators.graph import strongly_connected_components

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.scc_id
           for r in strongly_connected_components(df).collect()}
    nodes = {u for u, v in edges} | {v for u, v in edges}
    reach = {n: {n} for n in nodes}
    changed = True
    while changed:
        changed = False
        for u, v in edges:
            new = reach[v] - reach[u]
            if new:
                reach[u] |= new
                changed = True
    ref = {
        n: min(m for m in nodes if n in reach[m] and m in reach[n])
        for n in nodes
    }
    assert got == ref


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), min_size=1, max_size=20
    ),
    loops=st.lists(st.integers(0, 9), max_size=3),
)
def test_undirected_operators_ignore_orientation_duplicates_and_loops(
    spark, edges, loops
):
    # every undirected operator first reduces its input to one canonical
    # edge set, so reversing or duplicating edges and adding self-loops
    # cannot change any answer; that reduction happens before the first
    # round, so one round each is enough to see it
    from datafusion_gpu_spark.operators.graph import (
        bfs_distances,
        degree_histogram,
        k_core,
    )

    seeds = spark.createDataFrame([(edges[0][0],)], "node long")

    def run(rows):
        df = spark.createDataFrame(rows, "a long, b long")
        return [
            sorted(tuple(r) for r in op.collect())
            for op in (
                degree_histogram(df),
                k_core(df, k=2, rounds=1),
                bfs_distances(df, seeds, rounds=1),
            )
        ]

    noisy = [(b, a) for a, b in edges] + edges + [(n, n) for n in loops]
    assert run(edges) == run(noisy)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=20,
    ),
    picks=st.lists(st.integers(0, 19), min_size=1, max_size=3),
)
def test_bfs_equals_min_over_all_pairs_sources(spark, edges, picks):
    # multi-source BFS is the per-node minimum of the all-pairs distances
    # over the seed sources, under the same hop horizon
    from datafusion_gpu_spark.operators.graph import (
        all_pairs_distances,
        bfs_distances,
    )

    nodes = sorted({n for e in edges for n in e})
    seeds = {nodes[i % len(nodes)] for i in picks}
    df = spark.createDataFrame(edges, "a long, b long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "node long")
    got = {r.node: r.dist for r in bfs_distances(df, sdf, rounds=2).collect()}
    want: dict = {}
    for r in all_pairs_distances(df, max_dist=2).collect():
        if r.src in seeds:
            want[r.node] = min(want.get(r.node, r.dist), r.dist)
    assert got == want
