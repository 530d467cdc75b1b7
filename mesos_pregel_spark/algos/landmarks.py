"""Landmark distances — weighted shortest-path distances from k
landmarks in ONE Pregel run (k-lane Bellman-Ford).  The standard
distance-sketch construction: landmark vectors feed closeness
estimates, graph features for ML, and triangle-inequality distance
bounds (dist(u,v) ≤ min_i d_i(u)+d_i(v)).

Pinned semantics: per lane EXACTLY A5 SSSP (algos/sssp.py — directed,
weighted, init 0 at the landmark / +inf elsewhere, min-combiner
relaxation, unreachable → null).  Landmarks are processed in SORTED
order; lane i belongs to the i-th sorted landmark (deterministic
cross-engine, like msbfs's bit order).

Execution shape (design-for-100×): k lanes ride ONE scatter join —
the k message columns are expressions over the same edge⋈state row
and the k min-combines fold map-side in the same HashAggregate (the
multi-column analogue of HITS's dual gather), so k landmark queries
cost one edge pass per superstep instead of k.  A vertex is active
while ANY lane improved; k ≤ 16 keeps the state row narrow.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

_INF = float("inf")


def landmark_distances(
    spark: SparkSession,
    edges: DataFrame,
    landmarks: Sequence,
    max_supersteps: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Distances from every vertex of ``landmarks`` (≤ 16) at once.
    Returns (dists(id, d0..d{k-1}), run) — lane i = sorted landmark i,
    null where unreachable."""
    lms = sorted(set(landmarks))
    if not 0 < len(lms) <= 16:
        raise ValueError(f"need 1..16 distinct landmarks, got {len(lms)}")
    k = len(lms)
    dcols = [f"d{i}" for i in range(k)]

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        vertices = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        lanes = [
            F.when(F.col("id") == F.lit(s), F.lit(0.0))
            .otherwise(F.lit(_INF)).alias(d)
            for d, s in zip(dcols, lms)
        ]
        return vertices.select(
            "id", *lanes, F.col("id").isin(lms).alias("changed")
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        new = [
            F.least(
                state[d], F.coalesce(combined[f"m{d}"], state[d])
            ).alias(d)
            for d in dcols
        ]
        improved = [
            F.coalesce(combined[f"m{d}"], state[d]) < state[d] for d in dcols
        ]
        any_improved = improved[0]
        for c in improved[1:]:
            any_improved = any_improved | c
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(state["id"], *new, any_improved.alias("changed"))
        )

    program = VertexProgram(
        name="landmarks",
        init=init,
        prep_edges=lambda e: e.select("src", "dst", "weight"),
        edge_cols=("src", "dst", "weight"),
        # k relaxations on one scatter row; inf lanes emit inf, which
        # the min-combine discards
        msg_cols=[(F.col(d) + F.col("weight")).alias(f"msg{d}") for d in dcols],
        active_filter=F.col("changed"),
        combiner={f"m{d}": (f"msg{d}", "min") for d in dcols},
        apply=apply,
        aggregators=[
            F.sum(F.col("changed").cast("long")).alias("active"),
        ],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select(
            "id",
            *[
                F.when(F.col(d) == _INF, F.lit(None).cast("double"))
                .otherwise(F.col(d)).alias(d)
                for d in dcols
            ],
        ),
        params={"landmarks": [str(s) for s in lms]},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )
