"""A1 PageRank: engine vs stand-in reference oracle (SURVEY §5.2)."""

import math

import pytest

from tests.conftest import id_space
from tests.oracle_pregel import oracle_pagerank

from mesos_pregel_spark.algos.pagerank import pagerank
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids


def _run_and_compare(spark, ids_df, oracle_edges, tol, max_supersteps, **kw):
    got, run = pagerank(
        spark, ids_df, tol=tol, max_supersteps=max_supersteps, **kw
    )
    expected = oracle_pagerank(
        oracle_edges, tol=tol if tol > 0 else -1.0, max_iter=max_supersteps
    )
    got_map = {r["id"]: r["pagerank"] for r in got.collect()}
    assert set(got_map) == set(expected)
    for v, e in expected.items():
        assert math.isclose(got_map[v], e, abs_tol=1e-6), (v, got_map[v], e)
    return run


@pytest.mark.parametrize("name", ["tri_cycle", "chain4", "star_hub", "k4"])
def test_fixed_supersteps_match_oracle(spark, name):
    """tol=0 ⇒ both sides run exactly N supersteps — checks one-superstep
    semantics (dangling, damping, init) without long convergence loops."""
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, name))
    _run_and_compare(spark, ids_df, edges, tol=0.0, max_supersteps=8)


def test_convergence_on_transcript_graph(spark):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    run = _run_and_compare(spark, ids_df, edges, tol=1e-6, max_supersteps=100)
    assert run.metrics[-1]["max_delta"] < 1e-6


def test_salting_equivalence(spark):
    """FIXTURES §4.3 — salting on/off produces the same result."""
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, "star_hub"))
    _run_and_compare(spark, ids_df, edges, tol=0.0, max_supersteps=6, n_salt=4)


def test_partition_invariance(spark):
    """FIXTURES §4.2 — identical results at different partition counts."""
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, "k4"))
    _run_and_compare(spark, ids_df, edges, tol=0.0, max_supersteps=6,
                     edge_partitions=2)
    _run_and_compare(spark, ids_df, edges, tol=0.0, max_supersteps=6,
                     edge_partitions=16)


def test_hot_key_salting_equivalence(spark):
    """S1 hot-list: salting only the top-k hub destinations produces
    identical results to unsalted / fully-salted combines."""
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, "star_hub"))
    _run_and_compare(spark, ids_df, edges, tol=0.0, max_supersteps=6,
                     n_salt=4, salt_hot_k=2)


def test_weighted_matches_oracle(spark):
    from tests.oracle_pregel import oracle_pagerank_weighted

    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    got, _run = pagerank(spark, ids_df, weighted=True)
    expected = oracle_pagerank_weighted(edges)
    got_map = {r["id"]: r["pagerank"] for r in got.collect()}
    assert got_map.keys() == expected.keys()
    for v, p in expected.items():
        assert abs(got_map[v] - p) < 1e-9


def test_weighted_equals_unweighted_on_uniform_weights(spark):
    """With every weight equal, the weighted walk IS the uniform walk."""
    from pyspark.sql import functions as F

    t = generate_transcripts(spark, n_conv=200, seed=7)
    ids_df = edges_with_ids(build_edges(t)).select(
        "src", "dst", F.lit(1.0).alias("weight")
    )
    w, _ = pagerank(spark, ids_df, weighted=True, max_supersteps=5, tol=0.0)
    u, _ = pagerank(spark, ids_df, weighted=False, max_supersteps=5, tol=0.0)
    wm = {r["id"]: r["pagerank"] for r in w.collect()}
    um = {r["id"]: r["pagerank"] for r in u.collect()}
    assert wm.keys() == um.keys()
    for v in wm:
        assert abs(wm[v] - um[v]) < 1e-12

