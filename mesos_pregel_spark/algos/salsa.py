"""SALSA (Stochastic Approach for Link-Structure Analysis, Lempel &
Moran 2000) — the degree-normalized cousin of HITS: authority mass
flows along edges as a RANDOM WALK (each hub splits its mass evenly
over its out-edges; each authority splits its mass evenly over its
in-edges) instead of HITS's unnormalized sums, so hub-heavy vertices
cannot dominate by raw degree alone.  The third member of the
link-analysis ranking family next to PageRank and HITS.

Pinned semantics (mirrored exactly by the unrolled DuckDB oracle,
queries.SQL_SALSA_STEP4, and the numpy oracle in tests):

- UNWEIGHTED directed graph; parallel edges collapsed in prep.
- Simultaneous (Jacobi) update:

      auth'_v = Σ_{u→v} hub_u  / outdeg(u)
      hub'_u  = Σ_{u→v} auth_v / indeg(v)

  The transfers are row-stochastic, so total auth mass each step
  equals the previous total hub mass and vice versa — values stay
  bounded without HITS's per-step L2 normalization (fewer FP ops to
  pin).  init auth = hub = 1; bounded-iteration semantics (fixed
  superstep budget, like sync-LPA).
- Vertices with no out-edges contribute no authority mass (their walk
  stalls — the standard SALSA treatment of dangling hubs), likewise
  no in-edges for hub mass.

Execution shape (design-for-100×): identical to HITS — the directed
edge set is stored ONCE as a 2|E| union tagged ``dir`` (forward rows
carry hub/outdeg, reversed rows carry auth/indeg), so each superstep
is exactly one scatter join plus one sum combine with map-side
partials.  The static out/in degrees ride as two long columns of the
vertex state (computed once in init), never re-aggregated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def salsa(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 4,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Run SALSA for ``max_supersteps`` Jacobi steps.  Returns
    (scores(id, authority, hub), run)."""

    def prep(e: DataFrame) -> DataFrame:
        d = e.select("src", "dst").distinct()
        return d.select("src", "dst", F.lit(1).alias("dir")).unionByName(
            d.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                F.lit(0).alias("dir"),
            )
        )

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        # e is the dir-tagged union: a vertex's forward rows count its
        # out-degree, its reversed rows count its in-degree — one pass.
        return e.groupBy(F.col("src").alias("id")).agg(
            F.sum(F.when(F.col("dir") == 1, 1).otherwise(0))
            .cast("long").alias("outdeg"),
            F.sum(F.when(F.col("dir") == 0, 1).otherwise(0))
            .cast("long").alias("indeg"),
        ).select(
            "id", F.lit(1.0).alias("auth"), F.lit(1.0).alias("hub"),
            "outdeg", "indeg",
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                F.coalesce(combined["auth_sum"], F.lit(0.0)).alias("auth"),
                F.coalesce(combined["hub_sum"], F.lit(0.0)).alias("hub"),
                state["outdeg"],
                state["indeg"],
            )
        )

    program = VertexProgram(
        name="salsa",
        init=init,
        prep_edges=prep,
        edge_cols=("src", "dst", "dir"),
        # forward rows: the sender's hub mass split over its out-edges;
        # reversed rows: the sender's auth mass split over its in-edges.
        # The guarding degree is >= 1 whenever the row exists.
        msg_cols=[
            F.when(F.col("dir") == 1, F.col("hub") / F.col("outdeg"))
            .otherwise(F.lit(0.0)).alias("auth_msg"),
            F.when(F.col("dir") == 0, F.col("auth") / F.col("indeg"))
            .otherwise(F.lit(0.0)).alias("hub_msg"),
        ],
        combiner={
            "auth_sum": ("auth_msg", "sum"),
            "hub_sum": ("hub_msg", "sum"),
        },
        apply=apply,
        aggregators=[
            F.sum("auth").alias("auth_mass"),
            F.sum("hub").alias("hub_mass"),
            F.count(F.lit(1)).alias("n_vertices"),
        ],
        halt=lambda aggs: False,
        converged_at_cap=True,
        finalize=lambda s: s.select(
            "id", F.col("auth").alias("authority"), F.col("hub").alias("hub")
        ),
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )
