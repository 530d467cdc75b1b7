"""Exact sampled harmonic centrality on the bit-packed MSBFS
substrate: harmonic(v) = sum over pivots s != v of 1/d(s, v), hop
distances, truncated at ``max_depth``.

Unlike the HyperBall estimate (algos/anf.py::centralities), the
per-pivot contribution here is EXACT: when pivot bit i first lands on
v at superstep t, d(s_i, v) = t, so v accumulates the exact long
``HC_SCALE div t``.  The sum is order-independent (integers), the only
double is the final reported ratio — the same fixed-point discipline
as structure.link_prediction_ra.

Pinned semantics (mirrored by the recursive-CTE DuckDB twin):

- pivots = the k vertices minimizing (md5(string(id)), id) over the
  undirected vertex set — deterministic cross-engine (the same pivot
  rule as algos/betweenness.py).
- undirected hop BFS over the symmetrized collapsed edge set; a pivot
  never contributes to itself (its bit is set at depth 0).
- contributions stop at depth ``max_depth`` (both engines).

Execution shape (design-for-100×): a VertexProgram run by
plans/program.py::pregel.  ONE 64-bit mask column carries all k
frontiers — per superstep one frontier-filtered scatter of the FRESH
bits only (a vertex re-sends nothing once its bits stop growing), one
bit_or combine with map-side partials, and the accumulator update is
two integer columns; superstep s is BFS depth s + 1 (``ctx["superstep"]``).
k pivots cost one edge pass per BFS level, not k, and state is O(1)
per vertex regardless of k <= 63.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

# 12-digit fixed point: HC_SCALE div t is exact per term; <= 63 pivots
# keep the per-vertex sum below 63e12, far inside int64.
HC_SCALE = 10**12


def md5_min_pivots(e: DataFrame, n_pivots: int) -> list:
    """The ``n_pivots`` vertices of the prepared (symmetrized) edge
    table minimizing (md5(string(id)), id) — one driver collect."""
    return [
        r["id"]
        for r in e.select(F.col("src").alias("id")).distinct()
        .orderBy(F.md5(F.col("id").cast("string")), F.col("id"))
        .limit(n_pivots).collect()
    ]


def harmonic_sampled(
    spark: SparkSession,
    edges: DataFrame,
    n_pivots: int = 8,
    max_depth: int = 10,
    edge_partitions: int | None = None,
    pivots: Sequence | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Exact truncated harmonic centrality from ``n_pivots`` md5-min
    pivots.  Returns (hc(id, n_reached, hnum, dsum, ecc_lb), run) —
    ``hnum`` is the exact scaled-integer numerator (callers report
    hnum / HC_SCALE), ``dsum`` = the exact total hop distance to the
    reaching pivots (the sampled-closeness numerator: closeness =
    n_reached / dsum, Wasserman-Faust-style reach correction left to
    the caller), and ``ecc_lb`` = max over reaching pivots of
    d(s, v), the standard pivot-sampled eccentricity LOWER bound
    (0 where no pivot reaches v).  All three read-outs ride the SAME
    run — one BFS, three centralities."""
    if not 0 < n_pivots <= 63:
        raise ValueError(f"need 1..63 pivots, got {n_pivots}")

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        piv = sorted(pivots if pivots is not None
                     else md5_min_pivots(e, n_pivots))
        mask = F.lit(0).cast("long")
        for i, p in enumerate(piv):
            mask = mask.bitwiseOR(
                F.when(F.col("id") == F.lit(p), F.lit(1 << i))
                .otherwise(F.lit(0)).cast("long")
            )
        return e.select(F.col("src").alias("id")).distinct().select(
            "id",
            mask.alias("mask"),
            mask.alias("fresh"),
            *[F.lit(0).cast("long").alias(c)
              for c in ("hnum", "dsum", "n_reached", "ecc_lb")],
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        t = ctx["superstep"] + 1  # BFS depth of the bits landing now
        inbox = F.coalesce(combined["inbox"], F.lit(0)).cast("long")
        new_bits = inbox.bitwiseAND(F.bitwise_not(state["mask"]))
        nb = F.bit_count(new_bits).cast("long")
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                state["mask"].bitwiseOR(inbox).alias("mask"),
                new_bits.alias("fresh"),
                (state["hnum"] + nb * F.lit(HC_SCALE // t)).alias("hnum"),
                (state["dsum"] + nb * F.lit(t)).alias("dsum"),
                (state["n_reached"] + nb).alias("n_reached"),
                # depth is monotone: any fresh bit at t raises the bound
                F.when(nb > 0, F.lit(t)).otherwise(state["ecc_lb"])
                .cast("long").alias("ecc_lb"),
            )
        )

    program = VertexProgram(
        name="harmonic",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[F.col("fresh").alias("m")],
        active_filter=F.col("fresh") != 0,
        combiner={"inbox": ("m", "bit_or")},
        apply=apply,
        aggregators=[
            F.sum(F.bit_count(F.col("fresh")).cast("long")).alias("new_bits"),
        ],
        halt=lambda aggs: not aggs["new_bits"],
        finalize=lambda s: s.select(
            "id", "n_reached", "hnum", "dsum", "ecc_lb"
        ),
        params={"n_pivots": n_pivots, "max_depth": max_depth},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_depth,
        # 0 would skip prep_edges (pregel's prepared-edge handover)
        edge_partitions=edge_partitions or None,
    )
