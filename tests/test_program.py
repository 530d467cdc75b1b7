"""The generic user-supplied vertex-program API (plans/program.py) —
mesos-pregel's core capability: a user defines a NEW algorithm as a
declarative VertexProgram without touching engine code [P §3].

The custom program here is max-propagation: every vertex converges to
the maximum vertex id in its (weakly) connected component — the dual
of hash-min CC, so the expected output is checkable against the CC
result on the same graph.  It exercises scatter, a max-combiner,
vote-to-halt frontiers, aggregator-driven termination, and the
ctx["aggs"] visibility rule (aggregators readable by apply() the next
superstep [P §3.3]).
"""

import pytest
from pyspark.sql import functions as F

from tests.conftest import id_space

from mesos_pregel_spark.algos.betweenness import (
    betweenness_sampled,
    edge_betweenness_sampled,
)
from mesos_pregel_spark.algos.cc import (
    connected_components,
    connected_components_jump,
)
from mesos_pregel_spark.algos.harmonic import harmonic_sampled
from mesos_pregel_spark.algos.pagerank import pagerank
from mesos_pregel_spark.fixtures import micro_graph_df
from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def _max_propagation_program():
    def init(e, ctx):
        ctx["seen_aggs"] = []
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select("id", F.col("id").alias("mx"), F.lit(True).alias("changed"))
        )

    def apply(state, combined, ctx):
        # Aggregator visibility [P §3.3]: the previous superstep's
        # global values are available to the vertex program.
        ctx["seen_aggs"].append(dict(ctx["aggs"]))
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                F.greatest(
                    state["mx"], F.coalesce(combined["msg_max"], state["mx"])
                ).alias("mx"),
                (
                    F.coalesce(combined["msg_max"], state["mx"]) > state["mx"]
                ).alias("changed"),
            )
        )

    return VertexProgram(
        name="max_propagation",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[F.col("mx").alias("msg")],
        active_filter=F.col("changed"),
        combiner={"msg_max": ("msg", "max")},
        apply=apply,
        aggregators=[F.sum(F.col("changed").cast("long")).alias("active")],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select("id", F.col("mx").alias("comp_max")),
    )


def test_custom_program_max_propagation(spark):
    ids_df, _, _ = id_space(spark, micro_graph_df(spark, "two_islands"))
    prog = _max_propagation_program()
    result, run = pregel(spark, ids_df, prog, max_supersteps=50)

    got = {r["id"]: r["comp_max"] for r in result.collect()}
    comps, _ = connected_components(spark, ids_df)
    comp_of = {r["id"]: r["component"] for r in comps.collect()}
    # expected: per-component maximum id
    expected_max = {}
    for vid, comp in comp_of.items():
        expected_max[comp] = max(expected_max.get(comp, vid), vid)
    assert got == {vid: expected_max[comp] for vid, comp in comp_of.items()}

    # converged (frontier drained), not step-capped
    assert run.metrics[-1]["active"] == 0


def test_custom_program_sees_previous_aggregators(spark):
    ids_df, _, _ = id_space(spark, micro_graph_df(spark, "chain4"))
    ctx_log = []

    def init(e, ctx):
        ctx["log"] = ctx_log
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select("id", F.col("id").alias("mx"), F.lit(True).alias("changed"))
        )

    def apply(state, combined, ctx):
        ctx["log"].append(dict(ctx["aggs"]))
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                F.greatest(
                    state["mx"], F.coalesce(combined["msg_max"], state["mx"])
                ).alias("mx"),
                (
                    F.coalesce(combined["msg_max"], state["mx"]) > state["mx"]
                ).alias("changed"),
            )
        )

    prog = VertexProgram(
        name="max_propagation",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[F.col("mx").alias("msg")],
        active_filter=F.col("changed"),
        combiner={"msg_max": ("msg", "max")},
        apply=apply,
        aggregators=[F.sum(F.col("changed").cast("long")).alias("active")],
        halt=lambda aggs: aggs["active"] == 0,
    )
    pregel(spark, ids_df, prog, max_supersteps=50)
    assert ctx_log[0] == {}                      # superstep 0: nothing yet
    assert all("active" in a for a in ctx_log[1:])  # then last step's aggs
    assert len(ctx_log) >= 2


def test_prepartitioned_handover_validates_columns(spark):
    """edge_partitions=0 skips semantic prep (symmetrize/collapse), so
    a handover missing the program's edge columns must fail loudly
    instead of silently computing on the wrong graph."""
    ids_df, _edges, _names = id_space(spark, micro_graph_df(spark, "chain4"))
    bad = ids_df.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    with pytest.raises(ValueError, match="prepare_edges"):
        pregel(spark, bad, _max_propagation_program(), edge_partitions=0)


def test_prepare_edges_feeds_the_fast_path(spark):
    """prepare_edges output + edge_partitions=0 must equal the normal
    path (prep applied, then the loop skips re-prep)."""
    from mesos_pregel_spark.plans.program import prepare_edges

    ids_df, _edges, _names = id_space(spark, micro_graph_df(spark, "two_islands"))
    program = _max_propagation_program()
    normal, _ = pregel(spark, ids_df, program, edge_partitions=4)
    prepped = prepare_edges(spark, ids_df, _max_propagation_program(),
                            edge_partitions=4)
    fast, _ = pregel(spark, prepped, _max_propagation_program(),
                     edge_partitions=0)
    prepped.unpersist()
    assert {tuple(r) for r in normal.collect()} == \
           {tuple(r) for r in fast.collect()}


_BUILT_INS = {
    "pagerank": lambda spark, e: pagerank(spark, e),
    "pagerank_weighted": lambda spark, e: pagerank(spark, e, weighted=True),
    "cc": lambda spark, e: connected_components(spark, e),
    "cc_jump": lambda spark, e: connected_components_jump(spark, e),
    "harmonic": lambda spark, e: harmonic_sampled(spark, e),
    "betweenness": lambda spark, e: betweenness_sampled(spark, e),
    "edge_betweenness": lambda spark, e: edge_betweenness_sampled(spark, e),
}


@pytest.mark.parametrize("algo", sorted(_BUILT_INS))
def test_success_path_releases_caches(spark, algo):
    """A converged run drops its edge cache and every superseded
    superstep state: once the result is collected, only the result's
    own checkpoint is still persisted."""
    ids_df, _edges, _names = id_space(spark, micro_graph_df(spark, "two_islands"))
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    result, _run = _BUILT_INS[algo](spark, ids_df)
    result.collect()
    assert jsc.getPersistentRDDs().size() <= before + 1
