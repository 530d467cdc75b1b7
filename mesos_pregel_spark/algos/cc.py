"""A2 — Connected components via hash-min label propagation, plus a
pointer-jumping kernel for high-diameter graphs.

Pinned semantics (SURVEY §2.2 A2; CC is the canonical "min" combiner
example [P §3.2]):

- Undirected: edges are symmetrized once up front.
- init comp_v = id_v; each superstep comp_v = min(comp_v, min(msgs)).
- Frontier/delta optimization: only vertices whose comp changed last
  superstep send (exactly Pregel's vote-to-halt — a vertex halts when
  its value stops changing and is reactivated by an incoming smaller
  label).
- Terminate when no vertex changed.  EXACT match required.

Expressed as a :class:`VertexProgram` on plans/program.py.

``connected_components_jump`` computes the same labels with
**pointer jumping** interleaved into every round: after the neighbor-
min step, ``comp_v ← comp[comp_v]`` (a self-join of the label table)
doubles the distance a label has travelled, so convergence takes
O(log diameter) rounds instead of O(diameter).  Hash-min needs
``diameter`` supersteps — fatal for a 100-TB web crawl whose longest
path is 10⁴+ hops; the jump kernel's extra per-round self-join buys
an exponential round reduction (measured in
tests/test_cc_jump.py::test_chain_round_counts: 1000-vertex chain,
12 rounds vs the 999 hash-min would need).  Labels are component
MINIMA in both kernels, so results are interchangeable.

Both kernels are VertexPrograms run by the same superstep loop and
share the symmetrising prep, the ``comp`` message, the min combiner,
the seed state and the neighbor-min step; the jump kernel differs only
in its ``apply``, which adds the self-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def _seed_labels(e: DataFrame) -> DataFrame:
    """comp_v = id_v, every vertex active.  Edges are symmetrized, so
    the src set is every non-isolated vertex."""
    return e.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
    )


def _neighbor_min(state: DataFrame, combined: DataFrame) -> DataFrame:
    """(id, comp, comp_old): each label lowered to the smallest label
    received this superstep."""
    return (
        state.join(combined, state["id"] == combined["dst"], "left_outer")
        .select(
            state["id"],
            F.least(state["comp"], F.coalesce(combined["msg_min"], state["comp"]))
            .alias("comp"),
            state["comp"].alias("comp_old"),
        )
    )


def _cc_program(name: str, init, apply) -> VertexProgram:
    """The min-label VertexProgram both CC kernels run: symmetrized
    edges, ``comp`` messages from changed vertices, min combiner, halt
    when nothing changed."""
    return VertexProgram(
        name=name,
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[F.col("comp").alias("msg")],
        active_filter=F.col("changed"),
        combiner={"msg_min": ("msg", "min")},
        apply=apply,
        aggregators=[
            F.sum(F.col("changed").cast("long")).alias("active"),
            F.count(F.lit(1)).alias("n_vertices"),
        ],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select("id", F.col("comp").alias("component")),
    )


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 200,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    n_salt: int = 0,
    salt_hot_k: int = 0,
    edge_partitions: int | None = None,
    prev_labels: DataFrame | None = None,
    delta_edges: DataFrame | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Run hash-min CC to fixpoint.  Returns (components(id, component), run).

    **Warm start** (exact under edge ADDITIONS — min-label CC is
    monotone, so previous labels are valid upper bounds that can only
    tighten): pass ``prev_labels`` (id, component) from an earlier run
    on a subgraph of ``edges``; vertices seed from their old component
    minimum instead of their own id, so already-collapsed components
    re-converge in O(1) and only merges re-propagate — through the
    QUOTIENT of old components, not the raw diameter.  With
    ``delta_edges`` (the new edges since ``prev_labels``) the initial
    frontier shrinks to the delta's endpoints + never-seen vertices:
    old components are label-uniform, so any new minimum entering a
    component does so through a delta endpoint, floods it, and each
    relaxation reactivates its vertex — the classic delta-frontier
    argument (pytest-pinned warm ≡ cold in tests/test_warm_cc.py).
    NOT valid under deletions (components can split); run cold.
    """

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        if prev_labels is None:
            return _seed_labels(e)
        # symmetrized: src set == dst set == all non-isolated vertices
        vertices = e.select(F.col("src").alias("id")).distinct()
        prev = prev_labels.select(
            "id", F.col("component").alias("warm_comp")
        )
        state = vertices.join(prev, "id", "left_outer")
        if delta_edges is None:
            active = F.lit(True)
        else:
            dv = (
                delta_edges.select(F.col("src").alias("id"))
                .unionByName(delta_edges.select(F.col("dst").alias("id")))
                .distinct()
                .withColumn("is_delta", F.lit(True))
            )
            state = state.join(dv, "id", "left_outer")
            active = F.col("warm_comp").isNull() | F.coalesce(
                F.col("is_delta"), F.lit(False)
            )
        return state.select(
            "id",
            F.least(
                F.col("id"), F.coalesce(F.col("warm_comp"), F.col("id"))
            ).alias("comp"),
            active.alias("changed"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        return _neighbor_min(state, combined).select(
            "id", "comp", (F.col("comp") < F.col("comp_old")).alias("changed")
        )

    return pregel(
        spark, edges, _cc_program("cc", init, apply),
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        n_salt=n_salt, salt_hot_k=salt_hot_k,
        edge_partitions=edge_partitions,
    )


def connected_components_jump(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 60,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """CC with pointer jumping (see module docstring): per round, the
    neighbor-min step then ``comp ← comp[comp]``; O(log diameter)
    rounds.  Returns (components(id, component), run) — identical
    labels to ``connected_components``.

    Plan shape per round: the loop's scatter over the persisted
    symmetric edge table + one min-combine (as hash-min), then the
    ``apply`` self-joins the label table on ``comp = id`` (the jump).
    The label table is |V| rows — the self-join shuffles vertex state
    only, never edges, so the extra cost per round is small next to
    the edge scatter and buys exponentially fewer rounds on
    long-diameter graphs.
    """

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        # pointer jump: comp ← comp[comp].  comp is always a live
        # vertex id (labels are vertex ids), so the inner join is total.
        s1 = _neighbor_min(state, combined)
        a, b = s1.alias("a"), s1.alias("b")
        return a.join(b, F.col("a.comp") == F.col("b.id")).select(
            F.col("a.id").alias("id"),
            F.col("b.comp").alias("comp"),
            (F.col("b.comp") != F.col("a.comp_old")).alias("changed"),
        )

    return pregel(
        spark, edges,
        _cc_program("cc_jump", lambda e, ctx: _seed_labels(e), apply),
        max_supersteps=max_rounds,
        edge_partitions=edge_partitions,
    )


def component_sizes(labels: DataFrame) -> DataFrame:
    """Component-size profile over a (id, component) labelling — the
    giant-component health check run right after CC (a link graph
    whose top share is <0.5 is fragmented; near 1.0 it is one blob
    and per-component parallelism won't help).  One hash aggregate
    plus a broadcast 1-row total; share is ONE rounded division of
    exact longs.  Returns (component, n_vertices, share)."""
    sizes = labels.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )
    total = sizes.agg(F.sum("n_vertices").cast("long").alias("n"))
    return sizes.crossJoin(F.broadcast(total)).select(
        "component",
        "n_vertices",
        F.round(
            F.col("n_vertices").cast("double") / F.col("n").cast("double"), 9
        ).alias("share"),
    )
