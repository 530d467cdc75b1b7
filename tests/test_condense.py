"""Condensation DAG + longest-path levels (algos/condense.py)."""

from __future__ import annotations

import pytest

from mesos_pregel_spark.algos.condense import (
    condensation,
    condensation_levels,
)

pytestmark = pytest.mark.usefixtures("spark")


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(s, d, 1.0) for s, d in pairs], "src string, dst string, weight double"
    )


def _levels(spark, pairs, **kw):
    out, _run = condensation_levels(spark, _edges(spark, pairs), **kw)
    return {r["comp"]: (r["n_vertices"], r["level"]) for r in out.collect()}


def test_line_graph_levels(spark):
    got = _levels(spark, [("a", "b"), ("b", "c")])
    assert got == {"a": (1, 0), "b": (1, 1), "c": (1, 2)}


def test_cycle_contracts_to_one_component(spark):
    # a->b->c->a is one SCC (label = min id "a"); the tail c->d hangs
    # one level below it
    got = _levels(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")])
    assert got == {"a": (3, 0), "d": (1, 1)}


def test_edgeless_condensation(spark):
    # one big cycle: a single component, no condensation edges, level 0
    got = _levels(spark, [("a", "b"), ("b", "c"), ("c", "a")])
    assert got == {"a": (3, 0)}


def test_diamond_takes_longest_path(spark):
    # a->b->d and a->d: d's level is 2 (the longer path wins)
    got = _levels(spark, [("a", "b"), ("b", "d"), ("a", "d")])
    assert got == {"a": (1, 0), "b": (1, 1), "d": (1, 2)}


def test_disjoint_components_both_seeded(spark):
    got = _levels(spark, [("a", "b"), ("x", "y")])
    assert got == {"a": (1, 0), "b": (1, 1), "x": (1, 0), "y": (1, 1)}


def test_condensation_edges_distinct_and_acyclic(spark):
    # two SCCs {a,b} and {c,d} with parallel multigraph links between
    # them collapse to ONE condensation edge
    pairs = [
        ("a", "b"), ("b", "a"),
        ("c", "d"), ("d", "c"),
        ("a", "c"), ("b", "d"),
    ]
    comps, cedges = condensation(spark, _edges(spark, pairs))
    assert {(r["comp"], r["n_vertices"]) for r in comps.collect()} == {
        ("a", 2), ("c", 2)
    }
    assert [(r["src"], r["dst"]) for r in cedges.collect()] == [("a", "c")]


def test_superstep_cap_truncates_levels_exactly(spark):
    # k-superstep partial fixpoint of monotone max-propagation is
    # min(level, k) per vertex — the contract the capped driver
    # query's bounded-recursion SQL twin relies on
    chain = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f")]
    got = _levels(spark, chain, max_supersteps=3)
    assert got == {
        "a": (1, 0), "b": (1, 1), "c": (1, 2),
        "d": (1, 3), "e": (1, 3), "f": (1, 3),
    }


def test_dag_levels_takes_longest_path(spark):
    from mesos_pregel_spark.algos.condense import dag_levels

    # layered DAG: chain v0->...->v7, skip edges that a longer path
    # dominates, and a branch w0->w1 hanging off v5
    pairs = [(f"v{i}", f"v{i+1}") for i in range(7)]
    pairs += [("v0", "v3"), ("v2", "v5"), ("v1", "v6")]
    pairs += [("v5", "w0"), ("w0", "w1")]
    out, _run = dag_levels(spark, _edges(spark, pairs))
    got = {r["comp"]: (r["n_vertices"], r["level"]) for r in out.collect()}
    expected = {f"v{i}": (1, i) for i in range(8)}
    expected.update({"w0": (1, 6), "w1": (1, 7)})
    assert got == expected


def test_transitive_redundancy_diamond(spark):
    from mesos_pregel_spark.algos.condense import transitive_redundancy

    # a->b->c plus the shortcut a->c: only a->c is wedge-witnessed
    out = transitive_redundancy(
        spark, _edges(spark, [("a", "b"), ("b", "c"), ("a", "c")])
    )
    got = {r["src"]: (r["outdeg"], r["n_redundant"]) for r in out.collect()}
    assert got == {"a": (2, 1), "b": (1, 0)}


def test_transitive_redundancy_chain_has_none(spark):
    from mesos_pregel_spark.algos.condense import transitive_redundancy

    out = transitive_redundancy(
        spark, _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")])
    )
    got = {r["src"]: (r["outdeg"], r["n_redundant"]) for r in out.collect()}
    assert got == {"a": (1, 0), "b": (1, 0), "c": (1, 0)}


def test_transitive_redundancy_hub_cap_drops_middle(spark):
    from mesos_pregel_spark.algos.condense import transitive_redundancy

    # b is the only wedge middle (total degree 4 > cap 3): with the
    # cap, nothing witnesses a->c / a->d
    pairs = [("a", "b"), ("b", "c"), ("b", "d"), ("x", "b"),
             ("a", "c"), ("a", "d")]
    uncapped = transitive_redundancy(spark, _edges(spark, pairs))
    got_u = {r["src"]: r["n_redundant"] for r in uncapped.collect()}
    assert got_u["a"] == 2
    capped = transitive_redundancy(
        spark, _edges(spark, pairs), max_degree=3
    )
    got_c = {r["src"]: r["n_redundant"] for r in capped.collect()}
    assert got_c["a"] == 0


def test_mixed_scc_and_dag_levels(spark):
    # source s feeds the cycle {p,q}, which feeds sink t:
    # s (0) -> {p,q} (1) -> t (2)
    got = _levels(
        spark, [("s", "p"), ("p", "q"), ("q", "p"), ("q", "t")]
    )
    assert got == {"s": (1, 0), "p": (2, 1), "t": (1, 2)}
