"""Maximal independent set — Luby's algorithm with DETERMINISTIC
hash priorities, expressed on the generic vertex-program API.  MIS is
the classic symmetry-breaking Pregel program (scheduling, landmark
seeding, graph sparsification) and, with fixed priorities, computes
the LEXICOGRAPHICALLY-FIRST MIS of the priority order — which makes it
exactly oracle-able (the sequential greedy over sorted priorities is
the ground truth; the unrolled SQL twin replays the identical
per-superstep transition).

Pinned semantics:

- UNDIRECTED simple graph (symmetrized, self-loops dropped, parallel
  edges collapsed).
- priority(v) = md5(string(v)) — engine-independent (DuckDB/python
  compute the same digest); total order = (priority, id).
- Pipelined Luby, one transition per superstep over status
  {0 undecided, 1 in, 2 out}:
    * every non-out vertex sends: in-MIS vertices a kill flag,
      undecided vertices their (priority, id) candidacy;
    * an undecided vertex that received a kill goes OUT;
    * else, an undecided vertex strictly smaller than every undecided
      neighbor's candidacy (or with none) joins the MIS.
  Adjacent vertices can never join in the same superstep (one of them
  sees the other's smaller candidacy), and a vertex adjacent to a
  just-joined vertex never joins before the kill arrives (it saw the
  winner's smaller candidacy the superstep before) — so the result is
  independent AND maximal, and equals the greedy MIS.
- Status transitions are MONOTONE (undecided → in/out, never back), so
  a capped run equals a same-cap unrolled oracle exactly.

Execution shape (design-for-100×): one scatter over src-partitioned
symmetrized edges per superstep with two mergeable combiners (max of
the kill bit, min of the candidacy struct) — CC's shuffle economics;
decided-out vertices leave the sending side via ``active_filter``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

_UNDECIDED, _IN, _OUT = 0, 1, 2


def maximal_independent_set(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 50,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Compute the greedy-by-md5-priority MIS.  Returns
    (membership(id, in_mis), run)."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select(
                "id",
                F.md5(F.col("id").cast("string")).alias("p"),
                F.lit(_UNDECIDED).alias("st"),
            )
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        cand = combined["cand_min"]
        my = F.struct(state["p"].alias("p"), state["id"].alias("i"))
        new_st = (
            F.when(state["st"] != _UNDECIDED, state["st"])
            .when(F.coalesce(combined["killed"], F.lit(0)) == 1, F.lit(_OUT))
            .when(cand.isNull() | (my < cand), F.lit(_IN))
            .otherwise(F.lit(_UNDECIDED))
        )
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"], state["p"], new_st.alias("st"),
            )
        )

    program = VertexProgram(
        name="mis",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[
            (F.col("st") == _IN).cast("int").alias("kill"),
            F.when(
                F.col("st") == _UNDECIDED,
                F.struct(F.col("p").alias("p"), F.col("src").alias("i")),
            ).alias("cand"),
        ],
        # out vertices are silent; in vertices keep sending kills until
        # the job halts (idempotent under the max combiner)
        active_filter=F.col("st") != _OUT,
        combiner={"killed": ("kill", "max"), "cand_min": ("cand", "min")},
        apply=apply,
        aggregators=[
            F.sum((F.col("st") == _UNDECIDED).cast("long")).alias("undecided"),
            F.sum((F.col("st") == _IN).cast("long")).alias("mis_size"),
        ],
        halt=lambda aggs: aggs["undecided"] == 0,
        finalize=lambda s: s.select("id", (F.col("st") == _IN).alias("in_mis")),
        # monotone status lattice: capped == unrolled
        converged_at_cap=True,
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )
