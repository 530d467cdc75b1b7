"""A3 — Synchronous label propagation (community detection).

Pinned semantics (SURVEY §2.2 A3; the oracle implements the same
paragraph — determinism is part of the contract, BASELINE.json:14):

- Undirected: edges symmetrized once; message weight = edge weight.
- init label_v = id_v.
- Each superstep EVERY vertex recomputes
      label_v = argmax_label Σ weight(in-messages with that label)
  ties broken toward the SMALLEST label (deterministic).  The vertex's
  own current label does NOT vote.  Vertices with no in-messages keep
  their label.
- Synchronous LPA can oscillate (bipartite graphs), so the run is
  bounded by ``max_supersteps`` (default 20); halts early when no
  label changed.

Expressed as a :class:`VertexProgram` on plans/program.py: the
combiner is the per-(dst, label) weight sum — commutative +
associative, so map-side partials apply — and the argmax is a
``post_combine`` struct-min aggregate (min of (-weight_sum, label)),
not a window, so it stays one hash aggregation per superstep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Run sync-LPA.  Returns (labels(id, label), run)."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select("id", F.col("id").alias("label"))
        )

    def argmax(per_label: DataFrame) -> DataFrame:
        # Argmax with smallest-label tie-break: min of struct
        # (-wsum, label) compares weight first (negated => largest sum
        # wins), then prefers the smaller label — type-generic, works
        # for long ids and string actor keys alike.
        return per_label.groupBy("dst").agg(
            F.min(F.struct((-F.col("wsum")).alias("neg_wsum"),
                           F.col("msg_label").alias("lbl"))).alias("best")
        ).select("dst", F.col("best.lbl").alias("new_label"))

    def apply(state: DataFrame, winner: DataFrame, ctx: dict) -> DataFrame:
        return (
            state.join(winner, state["id"] == winner["dst"], "left_outer")
            .select(
                state["id"],
                F.coalesce(winner["new_label"], state["label"]).alias("label"),
                (F.coalesce(winner["new_label"], state["label"]) != state["label"])
                .alias("changed"),
            )
        )

    program = VertexProgram(
        name="lpa",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight")),
        edge_cols=("src", "dst", "weight"),
        msg_cols=[
            F.col("label").alias("msg_label"),
            F.col("weight").alias("msg_weight"),
        ],
        combine_keys=("dst", "msg_label"),
        combiner={"wsum": ("msg_weight", "sum")},
        post_combine=argmax,
        apply=apply,
        aggregators=[
            F.sum(F.col("changed").cast("long")).alias("changed_count"),
            F.count_distinct(F.col("label")).alias("n_labels"),
        ],
        halt=lambda aggs: aggs["changed_count"] == 0,
        finalize=lambda s: s.select("id", "label"),
        # Bounded-iteration program: hitting the superstep cap is normal
        # completion (sync-LPA may oscillate forever otherwise).
        converged_at_cap=True,
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )
