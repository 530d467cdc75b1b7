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

Execution shape (design-for-100×): k pivot lanes ride ONE scatter
join per round, exactly like landmark_distances' k-lane Bellman-Ford:
forward messages are k sigma columns summed map-side per dst
(mergeable combiner — partial aggregation before the shuffle), the
backward sweep scatters (1+delta)/sigma over the SAME symmetrized
src-partitioned persisted edge table (symmetry means the reversed
edge set IS the edge set), gated per round on the descending depth.
Frontier filters keep late rounds frontier-bound; state rotation runs
through PregelRun.materialize (plan truncation + superseded-state
reaping).  Total rounds ≤ 2·max_depth regardless of k.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.operators.combine import combine
from mesos_pregel_spark.operators.scatter import scatter
from mesos_pregel_spark.plans.pregel import PregelRun


def _any(conds: list[Column]) -> Column:
    out = conds[0]
    for c in conds[1:]:
        out = out | c
    return out


def _brandes_state(
    spark: SparkSession,
    edges: DataFrame,
    n_pivots: int = 8,
    max_depth: int = 10,
    edge_partitions: int | None = None,
    pivots: Sequence | None = None,
):
    """The shared forward + backward Brandes sweeps.  Returns
    (state, persisted sym edges, run, pivots) with per-lane dist/sig/
    delta columns settled; callers own the finalize + release."""
    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    e = (
        symmetrize(edges.select("src", "dst", "weight")).select("src", "dst")
        .repartition(nparts, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    e.count()
    verts = e.select(F.col("src").alias("id")).distinct()
    if pivots is None:
        pivots = [
            r["id"]
            for r in verts.orderBy(
                F.md5(F.col("id").cast("string")), F.col("id")
            ).limit(n_pivots).collect()
        ]
    pivots = list(pivots)
    k = len(pivots)
    run = PregelRun(
        spark, "betweenness",
        params={"pivots": [str(p) for p in pivots], "max_depth": max_depth},
    )
    run._edges_live = e

    try:
        # ---- forward: k-lane BFS with shortest-path counting --------
        state = run.materialize(
            verts.select(
                "id",
                *[
                    F.when(F.col("id") == F.lit(p), 0).otherwise(-1)
                    .cast("int").alias(f"dist{i}")
                    for i, p in enumerate(pivots)
                ],
                *[
                    F.when(F.col("id") == F.lit(p), 1.0).otherwise(0.0)
                    .alias(f"sig{i}")
                    for i, p in enumerate(pivots)
                ],
            ),
            durable=False,
        )
        depth_reached = 0
        for t in range(1, max_depth + 1):
            frontier = [F.col(f"dist{i}") == t - 1 for i in range(k)]
            msgs = scatter(
                e, state,
                [
                    F.when(F.col(f"dist{i}") == t - 1, F.col(f"sig{i}"))
                    .alias(f"m{i}")
                    for i in range(k)
                ],
                active_filter=_any(frontier),
            )
            combined = combine(
                msgs, ["dst"], {f"s{i}": (f"m{i}", "sum") for i in range(k)}
            )
            joined = state.join(
                combined, state["id"] == combined["dst"], "left_outer"
            )
            state = run.materialize(joined.select(
                state["id"],
                *[
                    F.when(state[f"dist{i}"] >= 0, state[f"dist{i}"])
                    .when(combined[f"s{i}"].isNotNull(), t)
                    .otherwise(-1).cast("int").alias(f"dist{i}")
                    for i in range(k)
                ],
                *[
                    F.when(state[f"dist{i}"] >= 0, state[f"sig{i}"])
                    .otherwise(F.coalesce(combined[f"s{i}"], F.lit(0.0)))
                    .alias(f"sig{i}")
                    for i in range(k)
                ],
            ))
            aggs = run.aggregators(state, [
                F.sum(
                    _any([F.col(f"dist{i}") == t for i in range(k)])
                    .cast("long")
                ).alias("visited"),
            ])
            run.record(phase="fwd", depth=t, **aggs)
            run.next_superstep()
            if not aggs["visited"]:
                break
            depth_reached = t

        # ---- backward: dependency accumulation, depth descending ----
        state = run.materialize(state.select(
            "*", *[F.lit(0.0).alias(f"delta{i}") for i in range(k)]
        ))
        run.aggregators(state, [F.count(F.lit(1)).alias("n")])
        for d in range(depth_reached, 0, -1):
            senders = [F.col(f"dist{i}") == d for i in range(k)]
            msgs = scatter(
                e, state,
                [
                    F.when(
                        F.col(f"dist{i}") == d,
                        (F.lit(1.0) + F.col(f"delta{i}")) / F.col(f"sig{i}"),
                    ).alias(f"m{i}")
                    for i in range(k)
                ],
                active_filter=_any(senders),
            )
            combined = combine(
                msgs, ["dst"], {f"c{i}": (f"m{i}", "sum") for i in range(k)}
            )
            joined = state.join(
                combined, state["id"] == combined["dst"], "left_outer"
            )
            state = run.materialize(joined.select(
                state["id"],
                *[state[f"dist{i}"] for i in range(k)],
                *[state[f"sig{i}"] for i in range(k)],
                *[
                    F.when(
                        state[f"dist{i}"] == d - 1,
                        state[f"sig{i}"]
                        * F.coalesce(combined[f"c{i}"], F.lit(0.0)),
                    )
                    .otherwise(state[f"delta{i}"]).alias(f"delta{i}")
                    for i in range(k)
                ],
            ))
            aggs = run.aggregators(state, [
                F.sum(
                    _any([F.col(f"dist{i}") == d - 1 for i in range(k)])
                    .cast("long")
                ).alias("settled"),
            ])
            run.record(phase="bwd", depth=d, **aggs)
            run.next_superstep()

        return state, e, run, pivots
    except BaseException:
        run.release()
        raise


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
    state, e, run, pivots = _brandes_state(
        spark, edges, n_pivots, max_depth, edge_partitions, pivots
    )
    try:
        # ---- bc: lane sum excluding each lane's own pivot ------------
        terms = [
            F.when(F.col("id") != F.lit(p), F.col(f"delta{i}"))
            .otherwise(F.lit(0.0))
            for i, p in enumerate(pivots)
        ]
        total = terms[0]
        for term in terms[1:]:
            total = total + term
        result = run.finish(
            state.select("id", F.round(total, 6).alias("bc"))
        )
    except BaseException:
        run.release()
        raise
    e.unpersist()
    run._edges_live = None
    return result, run


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

    One extra pass over the already-persisted sym edge table (two
    id-keyed state joins, one hash aggregate, one TakeOrdered) — no
    additional supersteps beyond the shared sweeps."""
    state, e, run, pivots = _brandes_state(
        spark, edges, n_pivots, max_depth, edge_partitions, pivots
    )
    k = len(pivots)
    try:
        sv, sw, je = state.alias("sv"), state.alias("sw"), e.alias("je")
        terms = [
            F.when(
                (F.col(f"sv.dist{i}") >= 0)
                & (F.col(f"sw.dist{i}") == F.col(f"sv.dist{i}") + 1),
                F.col(f"sv.sig{i}")
                * (F.lit(1.0) + F.col(f"sw.delta{i}"))
                / F.col(f"sw.sig{i}"),
            ).otherwise(F.lit(0.0))
            for i in range(k)
        ]
        total = terms[0]
        for term in terms[1:]:
            total = total + term
        per_dir = (
            je.join(sv, F.col("je.src") == F.col("sv.id"))
            .join(sw, F.col("je.dst") == F.col("sw.id"))
            .select(
                F.least("je.src", "je.dst").alias("lo"),
                F.greatest("je.src", "je.dst").alias("hi"),
                total.alias("c"),
            )
            # the state joins give EVERY edge a row; only shortest-path
            # DAG edges (strictly positive dependency) are candidates
            .where(F.col("c") > 0)
        )
        out = (
            per_dir.groupBy("lo", "hi")
            .agg(F.round(F.sum("c"), 6).alias("ebc"))
            .orderBy(F.desc("ebc"), "lo", "hi")
            .limit(top_k)
        )
        result = run.finish(out)
    except BaseException:
        run.release()
        raise
    e.unpersist()
    run._edges_live = None
    return result, run
