"""HITS (hubs & authorities, Kleinberg 1999) on the generic
vertex-program API — the canonical link-graph ranking besides PageRank,
and a second demonstration that plans/program.py expresses user
algorithms the built-ins don't hard-code.

Pinned semantics (mirrored exactly by the unrolled DuckDB oracle,
queries.SQL_HITS_STEP4, and the numpy oracle in tests):

- UNWEIGHTED directed graph; parallel edges collapsed in prep.
- Simultaneous (Jacobi) update with normalize-before-use:

      auth'_v = Σ_{u→v} hub_u  / ||hub||₂
      hub'_v  = Σ_{v→w} auth_w / ||auth||₂

  i.e. each superstep applies A and Aᵀ to the L2-normalized previous
  vectors.  This is standard power iteration on AᵀA / AAᵀ; the
  per-step normalization keeps values bounded (no overflow at any
  superstep count), and ``finalize`` L2-normalizes once more so the
  returned authority/hub vectors are unit-length.
- init auth = hub = 1 for every vertex.
- ``tol > 0`` halts when max_v |Δauth|,|Δhub| < tol, else runs the
  fixed superstep budget (``converged_at_cap`` — bounded-iteration
  semantics, like sync-LPA).

Execution shape (design-for-100×): the directed edge set is stored
ONCE as a 2|E| union table tagged ``dir`` (forward rows carry hub
mass, reversed rows carry authority mass), repartitioned by ``src``
and persisted by the runner — each superstep is exactly one scatter
join plus one sum combine with map-side partials, identical to
PageRank's plan.  The normalization constants travel as driver-side
aggregator scalars (Pregel's aggregator-visibility rule [P §3.3]),
not as an extra distributed pass.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

_TINY = 1e-300  # sqrt guard: an all-zero vector divides to all-zero, not NaN


def hits(
    spark: SparkSession,
    edges: DataFrame,
    tol: float = 0.0,
    max_supersteps: int = 20,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Run HITS for ``max_supersteps`` (or to ``tol``).  Returns
    (scores(id, authority, hub) — both L2-normalized, run)."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        # e is the dir-tagged union, so src alone covers every vertex
        vertices = e.select(F.col("src").alias("id")).distinct()
        state = vertices.select(
            "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub")
        )
        n = float(vertices.count())
        # norms of the init state, visible to the FIRST apply (the loop
        # publishes aggregator values only from superstep 1 onward)
        ctx["aggs"].update({"auth_sq": n, "hub_sq": n})
        return state

    def restore_ctx(state: DataFrame, ctx: dict) -> None:
        row = state.agg(
            F.sum(F.col("auth") ** 2).alias("sa"),
            F.sum(F.col("hub") ** 2).alias("sh"),
        ).collect()[0]
        ctx["aggs"].update({"auth_sq": row["sa"], "hub_sq": row["sh"]})

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        hub_norm = math.sqrt(max(ctx["aggs"]["hub_sq"], _TINY))
        auth_norm = math.sqrt(max(ctx["aggs"]["auth_sq"], _TINY))
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                (F.coalesce(combined["auth_sum"], F.lit(0.0)) / F.lit(hub_norm))
                .alias("auth"),
                (F.coalesce(combined["hub_sum"], F.lit(0.0)) / F.lit(auth_norm))
                .alias("hub"),
                state["auth"].alias("pa"),
                state["hub"].alias("ph"),
            )
            .withColumn(
                "delta",
                F.greatest(
                    F.abs(F.col("auth") - F.col("pa")),
                    F.abs(F.col("hub") - F.col("ph")),
                ),
            )
            .drop("pa", "ph")
        )

    def finalize(s: DataFrame) -> DataFrame:
        norms = s.agg(
            F.sqrt(F.greatest(F.sum(F.col("auth") ** 2), F.lit(_TINY)))
            .alias("na"),
            F.sqrt(F.greatest(F.sum(F.col("hub") ** 2), F.lit(_TINY)))
            .alias("nh"),
        )
        return s.crossJoin(F.broadcast(norms)).select(
            "id",
            (F.col("auth") / F.col("na")).alias("authority"),
            (F.col("hub") / F.col("nh")).alias("hub"),
        )

    def prep(e: DataFrame) -> DataFrame:
        d = e.select("src", "dst").distinct()
        return d.select("src", "dst", F.lit(1).alias("dir")).unionByName(
            d.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.lit(0).alias("dir"),
            )
        )

    program = VertexProgram(
        name="hits",
        init=init,
        restore_ctx=restore_ctx,
        prep_edges=prep,
        edge_cols=("src", "dst", "dir"),
        # forward edges deliver hub mass to authorities, reversed edges
        # deliver authority mass back to hubs — one scatter serves both
        msg_cols=[
            F.when(F.col("dir") == 1, F.col("hub")).otherwise(F.lit(0.0))
            .alias("auth_msg"),
            F.when(F.col("dir") == 0, F.col("auth")).otherwise(F.lit(0.0))
            .alias("hub_msg"),
        ],
        combiner={"auth_sum": ("auth_msg", "sum"), "hub_sum": ("hub_msg", "sum")},
        apply=apply,
        aggregators=[
            F.sum(F.col("auth") ** 2).alias("auth_sq"),
            F.sum(F.col("hub") ** 2).alias("hub_sq"),
            F.max("delta").alias("max_delta"),
            F.count(F.lit(1)).alias("n_vertices"),
        ],
        halt=lambda aggs: tol > 0.0 and aggs["max_delta"] < tol,
        converged_at_cap=tol == 0.0,
        finalize=finalize,
        params={"tol": tol},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )
