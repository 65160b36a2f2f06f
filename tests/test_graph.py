"""PageRank operator: analytic fixed points and a numpy differential
on a random bipartite graph (the registry query's shape)."""

from __future__ import annotations

import numpy as np
import pytest

from quack_reduce_spark.operators.pagerank import pagerank


def _ranks(spark, edges, iters, damping=0.85):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.rank for r in pagerank(df, iters=iters, damping=damping).collect()}


def test_ring_is_uniform_fixed_point(spark):
    n = 6
    ring = [(i, (i + 1) % n) for i in range(n)]
    for iters in (0, 1, 4):
        ranks = _ranks(spark, ring, iters)
        assert ranks == pytest.approx({i: 1.0 / n for i in range(n)})


def test_ranks_sum_to_one_with_dangling(spark):
    # star: 0 -> {1,2,3}; leaves dangle
    ranks = _ranks(spark, [(0, 1), (0, 2), (0, 3)], iters=5)
    assert sum(ranks.values()) == pytest.approx(1.0)
    assert ranks[1] == ranks[2] == ranks[3] > ranks[0]


def _numpy_pagerank(edges, iters, damping):
    nodes = sorted({u for e in edges for u in e})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    out = np.zeros(n)
    for s, _ in edges:
        out[idx[s]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for s, d in edges:
            contrib[idx[d]] += r[idx[s]] / out[idx[s]]
        dm = r[out == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dm / n)
    return {u: r[idx[u]] for u in nodes}


def test_matches_numpy_power_iteration_on_bipartite(spark):
    rng = np.random.RandomState(7)
    edges = sorted(
        {(int(s), int(1000 + d)) for s, d in zip(rng.randint(0, 12, 80), rng.randint(0, 30, 80))}
    )
    got = _ranks(spark, edges, iters=3)
    want = _numpy_pagerank(edges, iters=3, damping=0.85)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], rel=1e-12)


def test_negative_iters_rejected(spark):
    df = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank(df, iters=-1)


def test_checkpoint_bounds_plan_depth_and_keeps_answer(spark):
    # 10 unrolled iterations without lineage truncation produce a plan
    # that grows with the round count; checkpoint_every=4 must (a) keep
    # the answer bit-compatible with the lazy build and (b) cap the
    # logical plan at roughly the size of one checkpoint interval.
    rng = np.random.RandomState(11)
    edges = sorted(
        {(int(s), int(100 + d)) for s, d in zip(rng.randint(0, 10, 60), rng.randint(0, 15, 60))}
    )
    df = spark.createDataFrame(edges, "src long, dst long")

    lazy = pagerank(df, iters=10, checkpoint_every=0)
    ckpt = pagerank(df, iters=10, checkpoint_every=4)
    want = _numpy_pagerank(edges, iters=10, damping=0.85)
    for frame in (lazy, ckpt):
        got = {r.node: r.rank for r in frame.collect()}
        for u in want:
            assert got[u] == pytest.approx(want[u], rel=1e-9)

    lazy_plan = lazy._jdf.queryExecution().logical().toString()
    ckpt_plan = ckpt._jdf.queryExecution().logical().toString()
    # checkpointed plan must be drastically smaller than the 10-round
    # unroll — at most the depth of the final (<=4-round) tail
    assert len(ckpt_plan) * 2 < len(lazy_plan)


def test_pagerank_checkpoint_interval_does_not_change_ranks(spark, sf_dir):
    """Per-iteration lineage truncation (checkpoint_every=1) produces
    the same ranks as the untruncated plan on the registry query's
    supplier -> customer graph."""
    import pyspark.sql.functions as F

    from quack_reduce_spark.inventory._util import load

    edges = (
        load(spark, sf_dir, "lineitem")
        .join(
            load(spark, sf_dir, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            F.col("l_suppkey").alias("src"),
            (F.col("o_custkey") + F.lit(1_000_000)).alias("dst"),
        )
        .distinct()
    )
    fast = pagerank(edges, iters=3, checkpoint_every=1)
    slow = pagerank(edges, iters=3, checkpoint_every=0)
    f = {r["node"]: r["rank"] for r in fast.collect()}
    s = {r["node"]: r["rank"] for r in slow.collect()}
    # a tolerance, not exact float equality: the two physical plans may
    # sum double contributions in different shuffle-fetch orders; the
    # contract is the rounded-7 rank the oracle hashes, so 1e-12 is far
    # stricter than needed while immune to last-ulp reassociation
    assert set(f) == set(s)
    assert all(abs(f[n] - s[n]) < 1e-12 for n in f)


# ---------------------------------------------------------------- BFS

from quack_reduce_spark.operators.bfs import bfs_levels, undirect


def _bfs(spark, edges, seeds, rounds):
    e = spark.createDataFrame(edges, "src long, dst long")
    s = spark.createDataFrame([(x,) for x in seeds], "node long")
    return {
        (r.node, r.dist)
        for r in bfs_levels(undirect(e), s, rounds=rounds).collect()
    }


def test_bfs_path_graph_levels_exact(spark):
    # 0-1-2-3-4 chain: distances from 0 are the node ids
    edges = [(i, i + 1) for i in range(4)]
    got = _bfs(spark, edges, [0], rounds=4)
    assert got == {(i, i) for i in range(5)}


def test_bfs_horizon_bounds_and_multi_source(spark):
    edges = [(i, i + 1) for i in range(6)]
    # two seeds: distance is min over sources; horizon cuts at 2 hops
    got = _bfs(spark, edges, [0, 6], rounds=2)
    assert got == {
        (0, 0), (6, 0), (1, 1), (5, 1), (2, 2), (4, 2),
    }  # node 3 is 3 hops from both seeds -> absent


def test_bfs_cycle_and_parallel_edges_no_double_visit(spark):
    edges = [(0, 1), (1, 2), (2, 0), (0, 1), (2, 1)]
    got = _bfs(spark, edges, [0], rounds=5)
    assert got == {(0, 0), (1, 1), (2, 1)}


def test_bfs_matches_networkx_style_reference(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    edges = sorted({(int(a), int(b)) for a, b in rng.randint(0, 40, (120, 2)) if a != b})
    # pure-python BFS reference
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want, frontier = {0: 0}, {0}
    for d in range(1, 4):
        frontier = {v for u in frontier for v in adj.get(u, ()) if v not in want}
        for v in frontier:
            want[v] = d
    got = _bfs(spark, edges, [0], rounds=3)
    assert got == {(n, d) for n, d in want.items()}


def test_triangle_counts_on_crafted_graph(spark):
    """K4 plus a pendant and a disconnected edge: K4 has C(4,3)=4
    triangles, every K4 corner sits in exactly 3 of them; pendant and
    disconnected nodes appear in none (absent rows). Duplicate and
    reversed input edges must not change counts."""
    from quack_reduce_spark.operators.triangles import triangle_counts

    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),  # K4
             (4, 5),          # pendant
             (10, 11),        # disconnected edge
             (2, 1), (3, 1)]  # duplicates reversed
    df = spark.createDataFrame(edges, "a long, b long")
    got = {r["node"]: r["n_triangles"] for r in triangle_counts(df).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_orientation_counts_each_once(spark):
    """A 5-cycle with one chord: exactly one triangle, despite every
    node having degree >= 2 — a shape where naive wedge counting
    triple-counts and unoriented closing-edge joins double-count."""
    from quack_reduce_spark.operators.triangles import triangle_counts

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (1, 3)]
    df = spark.createDataFrame(edges, "a long, b long")
    rows = triangle_counts(df).collect()
    assert {r["node"]: r["n_triangles"] for r in rows} == {1: 1, 2: 1, 3: 1}
