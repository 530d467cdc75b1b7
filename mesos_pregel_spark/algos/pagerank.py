"""A1 — PageRank, the Pregel paper's worked example [P §5.1].

Pinned semantics (SURVEY §2.2 A1; the numpy oracle implements the same
paragraph):

    pr'_v = (1-d)/N + d * Σ_{u→v} pr_u / outdeg_u        (d = 0.85)

- UNWEIGHTED: outdeg_u = number of distinct out-neighbors (parallel
  edges are collapsed in edge prep).
- Dangling vertices send nothing — their mass leaks; do NOT
  renormalize (Pregel-paper variant).
- Initial value 1/N.  All vertices recompute every superstep.
- Converge when max_v |pr'_v − pr_v| < tol (1e-6, BASELINE.json:2).

Expressed as a :class:`VertexProgram` on the generic superstep runner
(plans/program.py): scatter join (edges pre-partitioned by src and
persisted, the state hash-partitioned by id into the same partitions —
no exchange on either side) → sum combiner (hash agg with map-side
partials before the one message exchange by dst, which also bound a
hub's share of it) → damping expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def init_state(edges: DataFrame) -> tuple[DataFrame, int]:
    """Vertex state (id, outdeg, pr) with pr = 1/N.  Returns (state, N)."""
    vertices = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    outdeg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    n = vertices.count()
    state = (
        vertices.join(outdeg, "id", "left_outer")
        .select(
            "id",
            F.coalesce("outdeg", F.lit(0)).alias("outdeg"),
            (F.lit(1.0) / F.lit(float(n))).alias("pr"),
        )
    )
    return state, n


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
    weighted: bool = False,
) -> tuple[DataFrame, PregelRun]:
    """Run PageRank to convergence.  Returns (ranks(id, pagerank), run).

    ``weighted=True`` distributes a vertex's rank proportionally to
    edge weight instead of uniformly:

        pr'_v = (1-d)/N + d * Σ_{u→v} pr_u * w_uv / W_u

    with W_u = Σ of u's out-edge weights and parallel (src,dst) rows
    collapsed by weight-sum in prep — the transcript graphs carry
    interaction counts, and the weighted walk follows them.  Same
    plan shape (the msg expression changes, nothing else)."""
    return pregel(
        spark, edges,
        pagerank_program(damping=damping, tol=tol, weighted=weighted),
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )


def pagerank_program(
    damping: float = 0.85, tol: float = 1e-6, weighted: bool = False
) -> VertexProgram:
    """The PageRank :class:`VertexProgram` — also the prep contract
    for callers pre-preparing edges via ``plans.program.prepare_edges``
    + ``edge_partitions=0``."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        if weighted:
            vertices = (
                e.select(F.col("src").alias("id"))
                .unionByName(e.select(F.col("dst").alias("id")))
                .distinct()
            )
            wsum = e.groupBy(F.col("src").alias("id")).agg(
                F.sum("weight").alias("w_out")
            )
            n = vertices.count()
            ctx["n"] = n
            return (
                vertices.join(wsum, "id", "left_outer")
                .select(
                    "id",
                    F.coalesce("w_out", F.lit(0.0)).alias("outdeg"),
                    (F.lit(1.0) / F.lit(float(n))).alias("pr"),
                )
            )
        state, n = init_state(e)
        ctx["n"] = n
        return state

    def restore_ctx(state: DataFrame, ctx: dict) -> None:
        ctx["n"] = state.count()

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        teleport = (1.0 - damping) / float(ctx["n"])
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                state["outdeg"],
                (
                    F.lit(teleport)
                    + F.lit(damping) * F.coalesce(combined["msg_sum"], F.lit(0.0))
                ).alias("pr"),
                state["pr"].alias("pr_prev"),
            )
            .withColumn("delta", F.abs(F.col("pr") - F.col("pr_prev")))
            .drop("pr_prev")
        )

    if weighted:
        # collapse parallel edges by weight-sum; outdeg carries W_u
        prep = lambda e: (  # noqa: E731
            e.groupBy("src", "dst").agg(F.sum("weight").alias("weight"))
        )
        edge_cols = ("src", "dst", "weight")
        msg = (F.col("pr") * F.col("weight") / F.col("outdeg")).alias("msg")
    else:
        prep = lambda e: e.select("src", "dst").distinct()  # noqa: E731
        edge_cols = ("src", "dst")
        msg = (F.col("pr") / F.col("outdeg")).alias("msg")

    return VertexProgram(
        name="pagerank_w" if weighted else "pagerank",
        init=init,
        restore_ctx=restore_ctx,
        # Collapse parallel edges: outdeg counts DISTINCT out-neighbors
        # (unweighted pinned semantics above) or sums their weights
        # (weighted), so duplicate (src,dst) rows never double-send.
        prep_edges=prep,
        edge_cols=edge_cols,
        msg_cols=[msg],
        active_filter=F.col("outdeg") > 0,
        combiner={"msg_sum": ("msg", "sum")},
        apply=apply,
        aggregators=[
            F.max("delta").alias("max_delta"),
            F.sum("pr").alias("pr_mass"),
            F.count(F.lit(1)).alias("n_vertices"),
        ],
        halt=lambda aggs: aggs["max_delta"] < tol,
        finalize=lambda s: s.select("id", F.col("pr").alias("pagerank")),
        params={"damping": damping, "tol": tol, "weighted": weighted},
    )
