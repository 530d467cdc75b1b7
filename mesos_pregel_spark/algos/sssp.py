"""A5 — Single-source shortest paths, the Pregel paper's canonical
example [P §5.2] and mesos-pregel's built-in vertex program
(algorithms/shortestpath in the Go repo layout, SURVEY §1.1 [R?]).

Pinned semantics (shared with tests/oracle_pregel.py::oracle_sssp):
- Directed, weighted (edge weight = interaction count ≥ 0).
- init dist(source) = 0, dist(v) = +inf elsewhere.
- Superstep: every vertex whose distance improved last superstep
  relaxes its out-edges (msg = dist + weight); combiner = MIN
  [P §3.2]; vertex update dist' = min(dist, min(msgs)).
- Vote-to-halt: a vertex halts when its distance stops improving and
  reactivates on a smaller incoming distance — exactly the CC frontier
  machinery with (dist, +) in place of (comp, min-id).
- Terminates when no distance changed; unreachable vertices keep +inf
  (reported as null in the result).

Expressed as a :class:`VertexProgram` on plans/program.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

_INF = float("inf")


def shortest_paths(
    spark: SparkSession,
    edges: DataFrame,
    source,
    max_supersteps: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Run SSSP from ``source``.  Returns (dists(id, distance), run)
    with distance null for unreachable vertices."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        vertices = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        return vertices.select(
            "id",
            F.when(F.col("id") == F.lit(source), F.lit(0.0))
            .otherwise(F.lit(_INF)).alias("dist"),
            (F.col("id") == F.lit(source)).alias("changed"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                F.least(
                    state["dist"], F.coalesce(combined["msg_min"], state["dist"])
                ).alias("dist"),
                (
                    F.coalesce(combined["msg_min"], state["dist"]) < state["dist"]
                ).alias("changed"),
            )
        )

    program = VertexProgram(
        name="sssp",
        init=init,
        prep_edges=lambda e: e.select("src", "dst", "weight"),
        edge_cols=("src", "dst", "weight"),
        msg_cols=[(F.col("dist") + F.col("weight")).alias("msg")],
        active_filter=F.col("changed"),
        combiner={"msg_min": ("msg", "min")},
        apply=apply,
        aggregators=[
            F.sum(F.col("changed").cast("long")).alias("active"),
            F.sum(F.when(F.col("dist") != _INF, 1).otherwise(0)).alias("reached"),
        ],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select(
            "id",
            F.when(F.col("dist") == _INF, F.lit(None).cast("double"))
            .otherwise(F.col("dist")).alias("distance"),
        ),
        params={"source": str(source)},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )
