"""Pivot-sampled Brandes betweenness (algos/betweenness.py) vs a
python reference: exact per-vertex dependency sums (round 6), pivot
exclusion, bounded-radius truncation, lane-vs-sequential equality."""

import hashlib
from collections import defaultdict, deque

import pytest
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.betweenness import (
    betweenness_sampled,
    edge_betweenness_sampled,
)
from mesos_pregel_spark.algos.harmonic import harmonic_sampled


def _df(spark, pairs):
    return spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src string, dst string, weight double"
    )


def _adj(pairs):
    adj = defaultdict(set)
    for a, b in pairs:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    return adj


def _pivots(adj, k):
    return sorted(adj, key=lambda v: (hashlib.md5(v.encode()).hexdigest(), v))[:k]


def _brandes_oracle(pairs, k, max_depth):
    """Truncated Brandes from the k md5-min pivots: BFS to max_depth,
    dependency sweep, delta summed per vertex excluding its own pivot
    lane — the engine's pinned contract."""
    adj = _adj(pairs)
    bc = {v: 0.0 for v in adj}
    for s in _pivots(adj, k):
        dist = {s: 0}
        sigma = defaultdict(float)
        sigma[s] = 1.0
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            if dist[v] == max_depth:
                continue
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if v in dist and dist[v] == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for v in order:
            if v != s:
                bc[v] += delta[v]
    return {v: round(x, 6) for v, x in bc.items()}


PAIRS = [
    # a path a-b-c-d-e with a triangle hanging off c and a star at e
    ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
    ("c", "f"), ("f", "g"), ("g", "c"),
    ("e", "h"), ("e", "i"), ("e", "j"),
    # a disconnected pair
    ("x", "y"),
]


def _collect(df):
    return {r["id"]: r["bc"] for r in df.collect()}


def test_matches_python_brandes(spark):
    got, run = betweenness_sampled(
        spark, _df(spark, PAIRS), n_pivots=4, max_depth=10
    )
    assert _collect(got) == _brandes_oracle(PAIRS, 4, 10)


def test_all_pivots_equals_full_brandes(spark):
    """With every vertex a pivot the sampled sum IS directed-sweep
    Brandes betweenness over the symmetrized graph."""
    adj = _adj(PAIRS)
    got, _run = betweenness_sampled(
        spark, _df(spark, PAIRS), n_pivots=len(adj), max_depth=10
    )
    assert _collect(got) == _brandes_oracle(PAIRS, len(adj), 10)
    # sanity on the planted shape: the path's inner cut vertices carry
    # the most betweenness; leaves carry none
    bc = _collect(got)
    assert bc["h"] == bc["i"] == bc["j"] == 0.0
    assert bc["c"] > bc["b"] > 0
    assert bc["e"] > 0


def test_truncation_is_pinned(spark):
    """max_depth caps the sweep on BOTH sides identically."""
    got, run = betweenness_sampled(
        spark, _df(spark, PAIRS), n_pivots=4, max_depth=2
    )
    assert _collect(got) == _brandes_oracle(PAIRS, 4, 2)


def test_no_cache_leak(spark):
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    betweenness_sampled(spark, _df(spark, PAIRS), n_pivots=2, max_depth=4)
    assert jsc.getPersistentRDDs().size() <= before + 1  # final state only


def _edge_brandes_oracle(pairs, k, max_depth):
    """Per-EDGE dependency sums: for each pivot lane and DAG edge
    (v, w) with dist(w) = dist(v)+1, add sigma(v)/sigma(w)*(1+delta(w))
    onto the canonical (lo, hi) key — both orientations of an
    undirected edge accumulate (directional sweeps, no halving)."""
    adj = _adj(pairs)
    ebc = defaultdict(float)
    for s in _pivots(adj, k):
        dist = {s: 0}
        sigma = defaultdict(float)
        sigma[s] = 1.0
        order = []
        q = deque([s])
        while q:
            v = q.popleft()
            order.append(v)
            if dist[v] == max_depth:
                continue
            for w in adj[v]:
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
                if dist[w] == dist[v] + 1:
                    sigma[w] += sigma[v]
        delta = defaultdict(float)
        for w in reversed(order):
            for v in adj[w]:
                if v in dist and dist[v] == dist[w] - 1:
                    delta[v] += sigma[v] / sigma[w] * (1.0 + delta[w])
        for w in order:
            for v in adj[w]:
                if v in dist and dist[v] == dist[w] - 1:
                    key = (min(v, w), max(v, w))
                    ebc[key] += sigma[v] / sigma[w] * (1.0 + delta[w])
    return {k_: round(x, 6) for k_, x in ebc.items()}


def test_edge_betweenness_matches_python(spark):
    from mesos_pregel_spark.algos.betweenness import edge_betweenness_sampled

    got_df, _run = edge_betweenness_sampled(
        spark, _df(spark, PAIRS), n_pivots=4, max_depth=10,
        edge_partitions=4, top_k=1000,
    )
    got = {(r["lo"], r["hi"]): r["ebc"] for r in got_df.collect()}
    exp = _edge_brandes_oracle(PAIRS, 4, 10)
    # engine emits only edges with nonzero DAG contribution; compare
    # on the union, defaulting the other side to 0
    keys = set(got) | set(exp)
    for k_ in keys:
        assert abs(got.get(k_, 0.0) - exp.get(k_, 0.0)) < 2e-6, \
            (k_, got.get(k_), exp.get(k_))


def test_edge_betweenness_emits_only_dag_edges(spark):
    """Fewer shortest-path-DAG edges than top_k: the output holds the
    DAG edges only, never zero-ebc rows for the rest.  From the single
    pivot a of triangle abc, b and c sit at the same depth, so edge
    bc lies on no shortest path."""
    from mesos_pregel_spark.algos.betweenness import edge_betweenness_sampled

    got_df, _run = edge_betweenness_sampled(
        spark, _df(spark, [("a", "b"), ("b", "c"), ("a", "c")]),
        max_depth=10, edge_partitions=2, pivots=["a"], top_k=10,
    )
    got = {(r["lo"], r["hi"]): r["ebc"] for r in got_df.collect()}
    assert got == {("a", "b"): 1.0, ("a", "c"): 1.0}


def test_edge_betweenness_bridge_dominates(spark):
    """Barbell: two triangles joined by one bridge — with all vertices
    as pivots the bridge is the unique max-ebc edge (the Girvan-Newman
    first cut)."""
    from mesos_pregel_spark.algos.betweenness import edge_betweenness_sampled

    pairs = [("a", "b"), ("b", "c"), ("a", "c"),
             ("d", "e"), ("e", "f"), ("d", "f"),
             ("c", "d")]
    verts = sorted({v for p in pairs for v in p})
    got_df, _run = edge_betweenness_sampled(
        spark, _df(spark, pairs), max_depth=10,
        edge_partitions=2, pivots=verts, top_k=100,
    )
    rows = [(r["lo"], r["hi"], r["ebc"]) for r in got_df.collect()]
    top = max(rows, key=lambda r: r[2])
    assert (top[0], top[1]) == ("c", "d")


@pytest.mark.parametrize("algo", [
    harmonic_sampled, betweenness_sampled, edge_betweenness_sampled,
])
def test_empty_edge_set_gives_no_rows(spark, algo):
    """No edges, no vertices: every pivot-sampled sweep returns an
    empty frame (the pivot lanes stay empty) instead of raising."""
    empty = spark.createDataFrame([], "src string, dst string, weight double")
    out, _run = algo(spark, empty, max_depth=4)
    assert out.collect() == []


def test_edge_betweenness_result_does_not_recompute_its_input(spark):
    """The top-k is materialized before the symmetrized edge table is
    released: the returned frame is a scan of at most top_k rows, not
    a plan of joins that would rebuild the edges from the raw input."""
    got_df, _run = edge_betweenness_sampled(
        spark, _df(spark, PAIRS), n_pivots=4, max_depth=10, edge_partitions=2, top_k=5,
    )
    plan = got_df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, plan
    assert got_df.count() == 5
