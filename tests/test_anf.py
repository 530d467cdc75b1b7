"""A9 — approximate neighborhood function (FM sketches on the bit_or
combiner): engine vs python oracle (exact, because the sketch is
derandomized), capped-radius semantics and partition invariance."""

import pytest

from tests.conftest import id_space
from tests.oracle_pregel import oracle_anf

from mesos_pregel_spark.algos.anf import anf, neighborhood_sketches
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids


def _compare(spark, edges_df, oracle_edges, h, k=4, **kw):
    got, run = anf(spark, edges_df, h=h, k=k, **kw)
    expected = oracle_anf(oracle_edges, h=h, k=k)
    assert {r["id"]: r["nf"] for r in got.collect()} == expected
    return run


@pytest.mark.parametrize("name", ["chain4", "star_hub", "two_islands", "k4"])
@pytest.mark.parametrize("h", [1, 3])
def test_micro_graphs(spark, name, h):
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, name))
    _compare(spark, ids_df, edges, h=h)


def test_transcript_graph(spark):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    _compare(spark, ids_df, edges, h=3)


def test_capped_radius_is_the_answer(spark):
    """converged_at_cap: an h-capped run equals the radius-h oracle
    even when the graph's closure needs more rounds (chain4 needs 3)."""
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, "chain4"))
    run = _compare(spark, ids_df, edges, h=1)
    assert len(run.metrics) == 1  # exactly the one capped round ran


def test_early_halt_at_closure(spark):
    """The run stops (active = 0) once sketches reach the transitive
    closure, before a generous cap."""
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, "k4"))
    _got, run = anf(spark, ids_df, h=30, k=4)
    assert len(run.metrics) < 30
    assert run.metrics[-1]["active"] == 0


def test_partition_invariance(spark):
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, "star_hub"))
    a, _ = anf(spark, ids_df, h=2, k=4, edge_partitions=1)
    b, _ = anf(spark, ids_df, h=2, k=4, edge_partitions=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_sketches_monotone(spark):
    """Registers only gain bits with radius (B_h ⊆ B_{h+1})."""
    ids_df, _edges, _names = id_space(spark, micro_graph_df(spark, "chain4"))
    s1, _ = neighborhood_sketches(spark, ids_df, h=1, k=4)
    s2, _ = neighborhood_sketches(spark, ids_df, h=2, k=4)
    m1 = {r["id"]: (r["r0"], r["r1"], r["r2"], r["r3"]) for r in s1.collect()}
    m2 = {r["id"]: (r["r0"], r["r1"], r["r2"], r["r3"]) for r in s2.collect()}
    for v in m1:
        for a, b in zip(m1[v], m2[v]):
            assert a & b == a  # subset as bitmasks


def test_register_count_validated(spark):
    ids_df, _e, _n = id_space(spark, micro_graph_df(spark, "chain4"))
    with pytest.raises(ValueError, match="1..16"):
        anf(spark, ids_df, h=1, k=0)


def test_centralities_oracle(spark):
    from tests.oracle_pregel import oracle_centralities
    from mesos_pregel_spark.algos.anf import centralities

    for name in ["chain4", "star_hub", "k4"]:
        ids_df, edges, _names = id_space(spark, micro_graph_df(spark, name))
        got, _run = centralities(spark, ids_df, h=3, k=4)
        exp = oracle_centralities(edges, h=3, k=4)
        assert {
            r["id"]: (r["nf"], r["harmonic"], r["closeness_sum"])
            for r in got.collect()
        } == exp


def test_centralities_early_halt_equals_unroll(spark):
    """k4 converges in 1 round; a generous cap must give the same
    accumulated centralities as the capped unroll (every remaining
    delta is 0)."""
    from tests.oracle_pregel import oracle_centralities
    from mesos_pregel_spark.algos.anf import centralities

    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, "k4"))
    got, run = centralities(spark, ids_df, h=10, k=4)
    exp = oracle_centralities(edges, h=10, k=4)
    assert {
        r["id"]: (r["nf"], r["harmonic"], r["closeness_sum"])
        for r in got.collect()
    } == exp
    assert len(run.metrics) < 10  # halted early, exactly
