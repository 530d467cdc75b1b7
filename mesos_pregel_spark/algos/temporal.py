"""Time-respecting reachability — earliest-arrival propagation over
TIMESTAMPED transition edges (Holme & Saramäki, "Temporal networks",
Physics Reports 2012; the foremost-path semantics of Wu et al. VLDB
2014).  Static reachability overstates what can actually propagate
through a transcript log: influence, information, or contamination can
ride u→v→w only if the v→w transition happens AFTER u→v.  This kernel
answers "when is the EARLIEST moment each actor can be reached from a
seed, moving only forward in time".

Pinned semantics (mirrored by the unrolled DuckDB twin,
queries.SQL_TEMPORAL_REACH):

- Transition instances keep their OWN timestamps (no collapsing to
  weights — the whole point is the time axis); exact duplicates
  (src, dst, t) dedup.  Self-transitions dropped (substrate rule).
- arr(seed) = 0; relaxation: arr(v) ← min(arr(v),
  min{t : (u,v,t) a transition, t ≥ arr(u)}).  A transition is
  usable only if it departs at-or-after the earliest arrival at its
  source.
- Fixed superstep budget k (bounded-iteration semantics like Katz);
  monotone (arr never increases, lowering arr(u) only ENABLES more
  transitions) ⇒ early-halt at the fixpoint ≡ the k-step unroll.
- DETERMINISM: arrivals are epoch-microsecond integers (NTZ-safe,
  the sessions discipline) carried in doubles far below 2^53; the
  only operations are min and ≥ — no FP arithmetic at all.

Execution shape (design-for-100×): one scatter join + one min combine
with map-side partials per superstep over the src-partitioned
persisted transition table; the time guard ``t ≥ arr(u)`` is a
per-row predicate on the already-joined scatter row, costing nothing
extra.  Message volume is bounded by the CHANGED frontier
(``active_filter``), so a converged region stops sending.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel

_INF = 1.0e18


def temporal_reach(
    spark: SparkSession,
    transitions: DataFrame,
    seed,
    max_supersteps: int = 6,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
    prev_arrivals: DataFrame | None = None,
    delta_transitions: DataFrame | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Earliest time-respecting arrival from ``seed`` over
    ``transitions`` (src, dst, t — epoch-µs).  Returns
    (reach(id, arrival_us), run) — arrival_us null where no
    time-respecting path exists within the superstep budget.

    WARM START (additions-only, same seed): ``prev_arrivals``
    (id, arrival_us) from an earlier run on a SUBSET of
    ``transitions`` seeds the state — valid because every previous
    finite arrival is an actual time-respecting path in the superset,
    and min-relaxation from any realizable upper bound converges to
    the same least fixpoint; adding transitions can only make
    arrivals earlier.  ``delta_transitions`` (the transitions new
    since the previous run) shrinks the initial frontier to the
    delta's SOURCE vertices.

    PRECONDITION for the delta frontier: the previous run must have
    CONVERGED (``run.converged``) — the frontier shrink rests on "old
    transitions were already at fixpoint against the previous
    arrivals", which a superstep-capped prev violates (its
    interrupted propagation would never resume; pinned by
    tests/test_temporal.py).  Pass ``delta_transitions=None`` for a
    capped prev: the full finite frontier re-sends once, which
    repairs any upper bound."""

    def prep(e: DataFrame) -> DataFrame:
        return (
            e.select("src", "dst", F.col("t").cast("double").alias("t"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        vertices = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        seeded = F.col("id") == F.lit(seed)
        cold = F.when(seeded, F.lit(0.0)).otherwise(F.lit(_INF))
        if prev_arrivals is None:
            return vertices.select(
                "id", cold.alias("arr"), seeded.alias("changed")
            )
        prev = prev_arrivals.select(
            "id", F.col("arrival_us").cast("double").alias("warm")
        )
        arr = F.least(cold, F.coalesce(F.col("warm"), F.lit(_INF)))
        if delta_transitions is None:
            # no delta info: every finitely-reached vertex re-sends once
            changed = arr < F.lit(_INF)
        else:
            dsrc = (
                delta_transitions.where(F.col("src") != F.col("dst"))
                .select(F.col("src").alias("id"))
                .distinct()
                .withColumn("in_delta", F.lit(True))
            )
            vertices = vertices.join(dsrc, "id", "left_outer")
            changed = F.coalesce("in_delta", F.lit(False)) & (
                arr < F.lit(_INF)
            )
        return vertices.join(prev, "id", "left_outer").select(
            "id", arr.alias("arr"), changed.alias("changed")
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        new_arr = F.least(
            state["arr"], F.coalesce(combined["m_min"], state["arr"])
        )
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                new_arr.alias("arr"),
                (new_arr < state["arr"]).alias("changed"),
            )
        )

    program = VertexProgram(
        name="temporal_reach",
        init=init,
        prep_edges=prep,
        edge_cols=("src", "dst", "t"),
        # usable ⟺ the transition departs at-or-after the source's
        # earliest arrival; unusable rows message null, which the min
        # combine ignores
        msg_cols=[
            F.when(F.col("t") >= F.col("arr"), F.col("t")).alias("m")
        ],
        active_filter=F.col("changed"),
        combiner={"m_min": ("m", "min")},
        apply=apply,
        aggregators=[F.sum(F.col("changed").cast("long")).alias("active")],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select(
            "id",
            F.when(F.col("arr") >= _INF, F.lit(None).cast("long"))
            .otherwise(F.col("arr").cast("long"))
            .alias("arrival_us"),
        ),
        converged_at_cap=True,
        params={"seed": str(seed), "k": max_supersteps},
    )
    return pregel(
        spark, transitions, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )
