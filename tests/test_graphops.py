"""Graph operator invariants + plan shape (oracle parity is covered by
test_oracle_parity's parametrized sweep)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from spark_kafka_airflow_pipeline_spark.operators import graphops
from spark_kafka_airflow_pipeline_spark.operators.base import barrier


def test_pagerank_is_a_distribution(spark, sf_dir):
    rows = graphops.pagerank_supplier_rank(spark, sf_dir).collect()
    assert rows, "empty rank vector"
    total = sum(r.pagerank for r in rows)
    # 0.15/N leaks nothing; weighted contributions conserve mass up to
    # the per-rank rounding (8 decimals) and nodes nobody links to
    assert abs(total - 1.0) < 1e-4, total
    assert all(r.pagerank > 0 for r in rows)


def test_pagerank_no_cartesian(spark, sf_dir):
    """The rank loop must be joins + aggregations; the only cross join
    allowed is the broadcast 1-row N scalar."""
    plan = graphops.pagerank_supplier_rank(
        spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan


def test_triangle_invariants(spark, sf_dir):
    row = graphops.triangle_count_suppliers(spark, sf_dir).collect()[0]
    assert row.n_nodes > 0
    # top-k sparsification: undirected degree is bounded by 2k, so
    # edges <= n_nodes * k (each node contributes at most k out-edges)
    assert row.n_edges <= row.n_nodes * graphops.TOPK_NEIGHBORS
    assert 0 <= row.n_triangles
    assert 0.0 <= row.clustering_coeff <= 1.0


def test_pagerank_matches_dense_numpy_reference(spark):
    """The distributed PageRank loop on random graphs must match an
    independent dense numpy power iteration (same damping, same
    dangling rule) — seeds chosen to cover asymmetric, disconnected
    and sink-heavy shapes."""
    import random

    import numpy as np

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        n = rng.randint(4, 9)
        edges = [(s, d, float(rng.randint(1, 5)))
                 for s in range(n) for d in range(n)
                 if s != d and rng.random() < 0.45]
        if not edges:
            continue
        df = spark.createDataFrame(edges, "src long, dst long, w double")
        got = {r.sk: r.rank for r in
               graphops.pagerank_over_edges(df, iters=3).collect()}

        srcs = sorted({s for s, _, _ in edges})
        idx = {s: i for i, s in enumerate(srcs)}
        m = len(srcs)
        w = np.zeros((m, m))
        for s, d, wt in edges:
            if d in idx:           # targets outside the src set receive
                w[idx[s], idx[d]] += wt  # nothing in the node universe
        outw = np.array([sum(wt for s, _, wt in edges if s == sk)
                         for sk in srcs])
        r = np.full(m, 1.0 / m)
        for _ in range(3):
            contrib = (r / outw) @ w
            r = 0.15 / m + 0.85 * contrib
        for sk in srcs:
            assert abs(got[sk] - r[idx[sk]]) < 1e-9, (seed, sk)


def test_triangle_kernel_matches_bruteforce(spark):
    """Degree-oriented triangle counting on random graphs must equal
    the brute-force itertools count."""
    import itertools
    import random

    for seed in (3, 17, 42, 101):
        rng = random.Random(seed)
        n = rng.randint(4, 10)
        und_pairs = {(a, b) for a in range(n) for b in range(n)
                     if a < b and rng.random() < 0.5}
        if not und_pairs:
            continue
        sym = [(a, b) for a, b in und_pairs] + \
              [(b, a) for a, b in und_pairs]
        df = spark.createDataFrame(sym, "src long, dst long")
        row = graphops.triangle_count_over_undirected(df).collect()[0]
        brute = sum(1 for a, b, c in itertools.combinations(range(n), 3)
                    if (a, b) in und_pairs and (b, c) in und_pairs
                    and (a, c) in und_pairs)
        assert row.n_triangles == brute, (seed, row.n_triangles, brute)
        assert row.n_edges == len(und_pairs)


def test_topk_edges_degree_cap(spark, sf_dir):
    from pyspark.sql import functions as F

    edges = graphops._supplier_topk_edges(spark, sf_dir)
    mx = edges.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    assert mx <= graphops.TOPK_NEIGHBORS


def test_bfs_hops_invariants(spark, sf_dir):
    rows = graphops.supplier_bfs_hops(spark, sf_dir).collect()
    assert rows, "empty reachability frame"
    hops = [r.hop for r in rows]
    assert hops.count(0) == 1, "exactly one hop-0 seed"
    assert all(0 <= h <= graphops.BFS_MAX_HOPS for h in hops)
    # min-distance semantics: every supplier appears at most once
    keys = [r.s_suppkey for r in rows]
    assert len(keys) == len(set(keys))
    # a non-seed hop level can only exist if the previous level does
    present = set(hops)
    assert all(h - 1 in present for h in present if h > 0)


def test_bfs_kernel_matches_python_reference(spark):
    """Frontier BFS on random directed graphs must match an
    independent Python queue BFS (same seed rule: min src node; same
    hop cap) — seeds cover disconnected, cyclic and chain shapes."""
    import random
    from collections import deque

    for seed in (3, 17, 58):
        rng = random.Random(seed)
        n = rng.randint(4, 10)
        edges = [(s, d) for s in range(n) for d in range(n)
                 if s != d and rng.random() < 0.3]
        if not edges:
            continue
        adj: dict[int, list[int]] = {}
        for s, d in edges:
            adj.setdefault(s, []).append(d)
        src0 = min(s for s, _ in edges)
        want = {src0: 0}
        q = deque([src0])
        while q:
            u = q.popleft()
            if want[u] >= graphops.BFS_MAX_HOPS:
                continue
            for v in adj.get(u, ()):
                if v not in want:
                    want[v] = want[u] + 1
                    q.append(v)
        df = barrier(spark.createDataFrame(edges, "src long, dst long"))
        got = {r.sk: r.hop for r in
               graphops.bfs_hops_over_edges(df).collect()}
        assert got == want, (seed, got, want)


def test_lpa_kernel_matches_python_reference(spark):
    """Synchronous LPA with the (max frequency, min label) tie-break
    replayed in pure Python over a random-but-seeded symmetric graph
    must agree with the Spark kernel round for round."""
    import random

    rng = random.Random(82)
    n = 24
    undirected = set()
    for _ in range(60):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            undirected.add((min(a, b), max(a, b)))
    sym = sorted(undirected | {(b, a) for a, b in undirected})
    und = spark.createDataFrame(sym, "src long, dst long")
    got = {r.node: r.lbl for r in
           graphops.label_propagation_over_undirected(und).collect()}

    nbrs: dict[int, list[int]] = {}
    for a, b in sym:
        nbrs.setdefault(a, []).append(b)
    labels = {v: v for v in nbrs}
    for _ in range(graphops.LPA_ROUNDS):
        nxt = {}
        for v, ns in nbrs.items():
            freq: dict[int, int] = {}
            for u in ns:
                freq[labels[u]] = freq.get(labels[u], 0) + 1
            best = max(freq.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[v] = best[0]
        labels = nxt
    assert got == labels


def test_lpa_communities_partition_suppliers(spark, sf_dir):
    """Community member counts must sum to the number of non-isolated
    suppliers, and every community label must itself be a node id."""
    out = graphops.label_propagation_communities(spark, sf_dir).collect()
    topk = graphops._supplier_topk_edges(spark, sf_dir)
    nodes = {r.src for r in topk.select("src").distinct().collect()} | \
            {r.dst for r in topk.select("dst").distinct().collect()}
    assert sum(r.n_members for r in out) == len(nodes)
    assert all(r.community_label in nodes for r in out)
    assert all(r.n_members >= 1 for r in out)


def test_rcte_curve_matches_bfs(spark, sf_dir):
    """The recursive-CTE growth curve must agree with the frontier
    BFS's per-node hops (same graph, same seed, depths 0..3):
    reachable(d) == |{hop <= d}| and newly(d) == |{hop == d}|; the
    curve is non-decreasing and starts at the seed alone."""
    curve = {r.depth: r for r in
             graphops.recursive_cte_reach_curve(spark, sf_dir).collect()}
    hops = {r.s_suppkey: r.hop
            for r in graphops.supplier_bfs_hops(spark, sf_dir).collect()}
    for d in range(graphops.RCTE_MAX_DEPTH + 1):
        want_reach = sum(1 for h in hops.values() if h <= d)
        want_new = sum(1 for h in hops.values() if h == d)
        assert (curve[d].reachable, curve[d].newly_reached) == (
            want_reach, want_new)
    assert curve[0].reachable == 1  # the seed
    rs = [curve[d].reachable for d in sorted(curve)]
    assert rs == sorted(rs)
