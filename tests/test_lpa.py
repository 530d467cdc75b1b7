"""A3 label propagation: engine vs oracle, exact incl. tie-breaks."""

import pytest

from tests.conftest import id_space
from tests.oracle_pregel import oracle_lpa

from mesos_pregel_spark.algos.lpa import label_propagation
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids


def _compare(spark, ids_df, oracle_edges, max_supersteps=20, **kw):
    got, run = label_propagation(
        spark, ids_df, max_supersteps=max_supersteps, **kw
    )
    expected = oracle_lpa(oracle_edges, max_iter=max_supersteps)
    got_map = {r["id"]: r["label"] for r in got.collect()}
    assert got_map == expected
    return run


@pytest.mark.parametrize("name", ["k4", "two_islands", "star_hub"])
def test_micro_graphs_exact(spark, name):
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, name))
    _compare(spark, ids_df, edges)


def test_bipartite_oscillation_bounded(spark):
    """K3,3 — sync-LPA worst case: must terminate at the superstep cap
    with the SAME state as the oracle after the same cap."""
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, "bipartite6"))
    _compare(spark, ids_df, edges, max_supersteps=7)


def test_transcript_graph_weighted(spark):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    _compare(spark, ids_df, edges)
