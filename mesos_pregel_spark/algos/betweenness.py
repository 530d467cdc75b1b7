"""Pivot-sampled betweenness centrality (Brandes) on the MSBFS-style
lane substrate — r4 verdict task #7.

Brandes' algorithm [Brandes 2001, "A Faster Algorithm for Betweenness
Centrality"] per source s: (1) BFS computing dist(v) and sigma(v) =
#shortest s→v paths; (2) a backward sweep by decreasing depth
accumulating dependencies delta(v) = Σ_{w: dist(w)=dist(v)+1, (v,w)∈E}
sigma(v)/sigma(w) · (1 + delta(w)); bc(v) += delta(v) for v ≠ s.
Exact betweenness needs ALL n sources; the standard scale answer is
PIVOT SAMPLING (Brandes & Pich 2007): k deterministic pivots, bc =
the sampled partial sum.

Pinned semantics (unrolled SQL twin in queries.py, python Brandes
oracle in tests/test_betweenness.py):

- UNDIRECTED simple graph (symmetrized, self-loops dropped); sweeps
  are run directionally from each pivot over the symmetrized digraph
  (no /2 halving — the sampled sum is the contract).
- pivots = the k vertices minimizing (md5(string(id)), id) — the
  engine's standard derandomized pick, SQL-expressible on both sides.
- BOUNDED RADIUS: forward BFS explores depths 1..max_depth and the
  sweep descends max_depth..1 — the oracle unrolls exactly that many
  rounds, so capped == unrolled even when the graph's eccentricity
  exceeds the cap (same monotone-cap discipline as coloring/kcore).
- bc(v) = round(Σ_lanes delta_lane(v) excluding v's own pivot lane, 6)
  — rounding collapses float summation-order ulps cross-engine.

Execution shape (design-for-100×): both sweeps are ONE VertexProgram
run by plans/program.py::pregel.  k pivot lanes ride one scatter join
per superstep, exactly like landmark_distances' k-lane Bellman-Ford.
Every vertex carries ``lvl`` (the depth whose lane members send this
superstep) and ``bwd`` (the sweep direction), so each lane's message
is one fixed column — sigma forward, (1+delta)/sigma backward — summed
map-side per dst (mergeable combiner — partial aggregation before the
shuffle).  The backward sweep scatters over the SAME symmetrized
src-partitioned persisted edge table (symmetry means the reversed
edge set IS the edge set).  The sweep turns at depth max_depth, or
one superstep after the first empty BFS level (that step's inbox is
empty), and halts once depth 0 is settled.  The active filter keeps
every superstep frontier-bound.  Total supersteps ≤ 2·max_depth
regardless of k.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.harmonic import md5_min_pivots
from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import (
    VertexProgram, pregel, prepare_edges,
)
from mesos_pregel_spark.plans.truncate import truncate_plan


def _brandes_program(
    k: int,
    max_depth: int,
    pivots: Sequence | None,
    finalize: Callable[[DataFrame], DataFrame] | None = None,
) -> VertexProgram:
    """The forward + backward Brandes sweeps over ``k`` lanes as one
    vertex program (module docstring).  Lane i belongs to the i-th
    pivot; lanes past the vertex count stay empty (dist -1, sig 0).
    The settled state holds per-lane dist/sig/delta columns."""
    lanes = range(k)
    at_lvl = functools.reduce(
        operator.or_,
        [F.col(f"dist{i}") == F.col("lvl") for i in lanes],
        F.lit(False),
    )

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        piv = list(pivots) if pivots is not None else md5_min_pivots(e, k)

        def lane(i: int, at_pivot, elsewhere) -> Column:
            if i >= len(piv):
                return F.lit(elsewhere)
            return (F.when(F.col("id") == F.lit(piv[i]), at_pivot)
                    .otherwise(elsewhere))

        return e.select(F.col("src").alias("id")).distinct().select(
            "id",
            *[lane(i, 0, -1).cast("int").alias(f"dist{i}") for i in lanes],
            *[lane(i, 1.0, 0.0).alias(f"sig{i}") for i in lanes],
            *[F.lit(0.0).alias(f"delta{i}") for i in lanes],
            F.lit(0).alias("lvl"),
            F.lit(False).alias("bwd"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        aggs = ctx["aggs"]
        dist = [state[f"dist{i}"] for i in lanes]
        sig = [state[f"sig{i}"] for i in lanes]
        delta = [state[f"delta{i}"] for i in lanes]
        inbox = [combined[f"c{i}"] for i in lanes]
        if aggs.get("bwd") or aggs.get("visited") == 0:
            # backward: level-d senders settle the dependencies of d - 1
            d = aggs["lvl"]
            delta = [
                F.when(dist[i] == d - 1,
                       sig[i] * F.coalesce(inbox[i], F.lit(0.0)))
                .otherwise(delta[i])
                for i in lanes
            ]
            lvl, bwd = d - 1, True
        else:
            # forward: BFS level t with shortest-path counting
            t = ctx["superstep"] + 1
            dist, sig = (
                [F.when(dist[i] >= 0, dist[i])
                 .when(inbox[i].isNotNull(), t).otherwise(-1).cast("int")
                 for i in lanes],
                [F.when(dist[i] >= 0, sig[i])
                 .otherwise(F.coalesce(inbox[i], F.lit(0.0)))
                 for i in lanes],
            )
            lvl, bwd = t, t == max_depth
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                *[c.alias(f"dist{i}") for i, c in enumerate(dist)],
                *[c.alias(f"sig{i}") for i, c in enumerate(sig)],
                *[c.alias(f"delta{i}") for i, c in enumerate(delta)],
                F.lit(lvl).alias("lvl"),
                F.lit(bwd).alias("bwd"),
            )
        )

    return VertexProgram(
        name="betweenness",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[
            F.when(
                F.col(f"dist{i}") == F.col("lvl"),
                F.when(F.col("bwd"),
                       (F.lit(1.0) + F.col(f"delta{i}")) / F.col(f"sig{i}"))
                .otherwise(F.col(f"sig{i}")),
            ).alias(f"m{i}")
            for i in lanes
        ],
        active_filter=at_lvl,
        combiner={f"c{i}": (f"m{i}", "sum") for i in lanes},
        apply=apply,
        aggregators=[
            F.max("lvl").alias("lvl"),
            F.max(F.col("bwd").cast("int")).alias("bwd"),
            F.sum(at_lvl.cast("long")).alias("visited"),
        ],
        # an empty state (no edges) has no lvl at all
        halt=lambda aggs: aggs["lvl"] is None
        or (bool(aggs["bwd"]) and aggs["lvl"] <= 0),
        finalize=finalize,
        params={"n_pivots": k, "max_depth": max_depth},
    )


def betweenness_sampled(
    spark: SparkSession,
    edges: DataFrame,
    n_pivots: int = 8,
    max_depth: int = 10,
    edge_partitions: int | None = None,
    pivots: Sequence | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Sampled betweenness from ``n_pivots`` md5-min pivots, truncated
    at BFS radius ``max_depth``.  Returns (bc(id, bc), run)."""
    k = len(pivots) if pivots is not None else n_pivots

    def bc(state: DataFrame) -> DataFrame:
        # lane sum excluding each lane's own pivot (its dist-0 vertex)
        total = functools.reduce(operator.add, [
            F.when(F.col(f"dist{i}") != 0, F.col(f"delta{i}"))
            .otherwise(F.lit(0.0))
            for i in range(k)
        ], F.lit(0.0))
        return state.select("id", F.round(total, 6).alias("bc"))

    return pregel(
        spark, edges, _brandes_program(k, max_depth, pivots, finalize=bc),
        max_supersteps=2 * max_depth,
        # 0 would skip prep_edges (pregel's prepared-edge handover)
        edge_partitions=edge_partitions or None,
    )


def edge_betweenness_sampled(
    spark: SparkSession,
    edges: DataFrame,
    n_pivots: int = 8,
    max_depth: int = 10,
    edge_partitions: int | None = None,
    pivots: Sequence | None = None,
    top_k: int = 200,
) -> tuple[DataFrame, PregelRun]:
    """Girvan–Newman edge betweenness (Girvan & Newman PNAS 2002) from
    the SAME sampled sweeps: for a shortest-path-DAG edge (v, w) with
    dist(w) = dist(v) + 1 in lane i, the edge dependency is
    sigma_i(v) · (1 + delta_i(w)) / sigma_i(w) — exactly the term
    Brandes' backward recurrence sums into delta(v), read off PER EDGE
    instead of per vertex.  Summed over lanes and both orientations of
    each undirected edge, rounded to 6 dp (the vertex-bc ulp
    contract); the top-k edges under the total order (ebc DESC, lo,
    hi) are THE Girvan-Newman cut candidates.

    One extra pass over the prepared sym edge table (two id-keyed
    state joins, one hash aggregate, one TakeOrdered) — no additional
    supersteps beyond the shared sweeps.  The top-k (at most ``top_k``
    rows) is materialized before the edge table and the swept state
    are released, so the result never recomputes them."""
    k = len(pivots) if pivots is not None else n_pivots
    program = _brandes_program(k, max_depth, pivots)
    e = prepare_edges(spark, edges, program, edge_partitions)
    try:
        state, run = pregel(
            spark, e, program, max_supersteps=2 * max_depth,
            edge_partitions=0,
        )
        try:
            sv, sw, je = state.alias("sv"), state.alias("sw"), e.alias("je")
            total = functools.reduce(operator.add, [
                F.when(
                    (F.col(f"sv.dist{i}") >= 0)
                    & (F.col(f"sw.dist{i}") == F.col(f"sv.dist{i}") + 1),
                    F.col(f"sv.sig{i}")
                    * (F.lit(1.0) + F.col(f"sw.delta{i}"))
                    / F.col(f"sw.sig{i}"),
                ).otherwise(F.lit(0.0))
                for i in range(k)
            ], F.lit(0.0))
            per_dir = (
                je.join(sv, F.col("je.src") == F.col("sv.id"))
                .join(sw, F.col("je.dst") == F.col("sw.id"))
                .select(
                    F.least("je.src", "je.dst").alias("lo"),
                    F.greatest("je.src", "je.dst").alias("hi"),
                    total.alias("c"),
                )
                # the state joins give EVERY edge a row; only shortest-
                # path DAG edges (strictly positive dependency) count
                .where(F.col("c") > 0)
            )
            result = truncate_plan(
                per_dir.groupBy("lo", "hi")
                .agg(F.round(F.sum("c"), 6).alias("ebc"))
                .orderBy(F.desc("ebc"), "lo", "hi")
                .limit(top_k),
                eager=True,
            )
        finally:
            run.release()
    finally:
        e.unpersist()
    return result, run
