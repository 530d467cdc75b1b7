"""A2 connected components: engine vs oracle, exact (SURVEY §2.2)."""

import pytest

from tests.conftest import id_space
from tests.oracle_pregel import oracle_cc

from mesos_pregel_spark.algos.cc import connected_components
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids


def _compare(spark, ids_df, oracle_edges, **kw):
    got, run = connected_components(spark, ids_df, **kw)
    expected = oracle_cc(oracle_edges)
    got_map = {r["id"]: r["component"] for r in got.collect()}
    assert got_map == expected
    return run


@pytest.mark.parametrize("name", ["two_islands", "chain4", "bipartite6"])
def test_micro_graphs_exact(spark, name):
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, name))
    run = _compare(spark, ids_df, edges)
    assert run.metrics[-1]["active"] == 0  # converged, not step-capped


def test_transcript_graph(spark):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    _compare(spark, ids_df, edges)


def test_component_sizes_hand_case(spark):
    from mesos_pregel_spark.algos.cc import component_sizes

    labels = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 6)],
        "id long, component long",
    )
    got = {
        r["component"]: (r["n_vertices"], r["share"])
        for r in component_sizes(labels).collect()
    }
    assert got == {1: (3, 0.5), 4: (2, round(2 / 6, 9)), 6: (1, round(1 / 6, 9))}
