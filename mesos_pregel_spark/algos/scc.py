"""Strongly connected components — the coloring algorithm
(Trim → Forward-Max-Color → Backward-Reach-in-Color → peel), the
standard Pregel-style SCC for web-scale digraphs (Orzan's coloring /
the FW-BW-Trim family).

Pinned semantics (python Tarjan oracle in tests, pairwise-reach
recursive-CTE oracle in the driver): every vertex gets
``scc`` = the MINIMUM vertex id of its strongly connected component.

Algorithm, per outer round on the remaining subgraph:

1. **Trim** — iteratively peel vertices with zero in- or out-degree
   (each is a singleton SCC).  Handles DAG-shaped regions in rounds
   proportional to their depth; without it the coloring loop peels
   them one root at a time.
2. **Color** — propagate ``color(v) = max(id(v), max over in-nbrs
   color(u))`` to fixpoint, ACCELERATED with PATH DOUBLING
   (``_max_prop_doubling``): each vertex carries an explicit ``ptr``
   to a vertex known to reach it whose backward path it has already
   absorbed; the neighbor step extends the path one hop (adopting the
   sender's ptr) and a per-iteration ``ptr ← ptr[ptr]`` jump doubles
   it, with a DOUBLE val absorb that makes val-stability a sound stop
   rule.  (Naively jumping ``color[color]`` à la cc_jump does NOT
   accelerate here: an unreached vertex's label is itself, a
   self-pointer, so the wavefront still moves one hop per iteration —
   measured: the 480-cycle blew the 200-iteration rail.)  The ptr
   self-joins shuffle |V| rows, never edges, and cut a high-diameter
   region's fixpoint from O(d) to O(log d) iterations
   (pytest-measured on a planted 480-cycle:
   tests/test_scc.py::test_long_cycle_log_rounds).  Afterwards
   color(v) = the largest id that can reach v; a vertex with
   color(v) == id(v) is a root.
3. **Backward** — membership of SCC(r) for each root r, computed as a
   SECOND max-propagation instead of a boolean flood so the same
   doubling applies: ``rc(v) = max id reachable FROM v along
   same-color edges`` (the identical kernel over the REVERSED class
   edges).  Every member of color class c has id ≤ c (the
   root c reaches it, so its color ≥ ... ≥ its id), and within-class
   reachability of the root characterizes membership, so
   v ∈ SCC(r) ⟺ rc(v) == color(v).  A boolean flood walks one hop per
   superstep — O(SCC diameter); the rc formulation doubles.  Label
   members, remove them, repeat.

Termination: every round removes at least each current root's SCC
(and Trim eats DAG tails), so rounds ≤ #SCCs; in practice a handful —
the cap is a safety rail and hitting it raises.

Execution shape (design-for-100×): all three phases are
frontier-filtered scatters + combines over a semi-joined remaining
subgraph, the same shuffle economics as CC; state is truncated with
eager localCheckpoints at phase boundaries (the driver-loop analogue
of the superstep loop's S3 rule).

Not a plans/program.py VertexProgram: each outer round nests trim,
color and backward fixpoints over a shrinking subgraph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mesos_pregel_spark.operators.combine import combine
from mesos_pregel_spark.operators.scatter import scatter
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.truncate import truncate_plan


def _max_prop_doubling(
    edges: DataFrame, verts: DataFrame, max_inner: int, what: str,
) -> tuple[DataFrame, int]:
    """Max-label propagation over directed ``edges(src, dst)`` with
    PATH DOUBLING: returns ((id, val), iterations) where ``val(v)`` is
    the maximum id among vertices with a directed path to v (v
    included) — O(log d) iterations instead of the one-hop flood's
    O(d).

    Each vertex carries ``ptr``: a vertex known to reach it whose
    absorbed backward path's maximum is already folded into ``val``.
    Per iteration: (1) the neighbor step takes the struct-max message
    (val, ptr) over in-neighbors — extending the carried path by one
    hop — then (2) the jump rewires ``ptr ← ptr[ptr]``, roughly
    doubling the carried path, ABSORBING the val at BOTH the old and
    the new pointer targets.  The double absorb is what makes
    val-stability a sound stopping rule: it maintains
    ``val(v) >= val(ptr(v))``, so an iteration with no val change
    anywhere has no pending jump contribution either (a single-absorb
    jump can stall for a round and then change — ptr may rewire to a
    higher-val vertex whose val was never folded in).  Any val a jump
    adds is the id of a vertex that reaches ptr(v) and hence v, so
    values stay sound; the fixpoint is a fixpoint of the plain
    neighbor step, hence exact.  Raises on non-convergence within
    ``max_inner`` (an unconverged table would silently split an SCC).
    """
    state = truncate_plan(verts.select(
        "id", F.col("id").alias("val"), F.col("id").alias("ptr"),
    ))
    iters = 0
    for _inner in range(max_inner + 1):
        if _inner == max_inner:
            raise RuntimeError(
                f"SCC {what} did not converge in "
                f"{max_inner} iterations (raise max_inner)"
            )
        iters += 1
        msgs = scatter(
            edges, state,
            [F.struct(F.col("val"), F.col("ptr")).alias("m")],
        )
        combined = combine(msgs, ["dst"], {"mx": ("m", "max")})
        t1 = (
            state.join(combined, state["id"] == combined["dst"],
                       "left_outer")
            .select(
                state["id"],
                F.greatest(
                    state["val"],
                    F.coalesce(F.col("mx.val"), state["val"]),
                ).alias("val1"),
                # adopt the sender's ptr whenever any message arrived —
                # even without a val gain the carried path grows by one
                # hop, which is what the jump then doubles
                F.coalesce(F.col("mx.ptr"), state["ptr"]).alias("ptr1"),
                state["val"].alias("val_old"),
            )
        )
        a, b = t1.alias("a"), t1.alias("b")
        t2 = (
            a.join(b, F.col("a.ptr1") == F.col("b.id"), "left_outer")
            .select(
                F.col("a.id").alias("id"),
                F.greatest(
                    F.col("a.val1"),
                    F.coalesce(F.col("b.val1"), F.col("a.val1")),
                ).alias("val2"),
                F.coalesce(F.col("b.ptr1"), F.col("a.ptr1")).alias("ptr2"),
                F.col("a.val_old").alias("val_old"),
            )
        )
        c, d = t2.alias("c"), t1.alias("d")
        state = truncate_plan(
            c.join(d, F.col("c.ptr2") == F.col("d.id"), "left_outer")
            .select(
                F.col("c.id").alias("id"),
                F.greatest(
                    F.col("c.val2"),
                    F.coalesce(F.col("d.val1"), F.col("c.val2")),
                ).alias("val"),
                F.col("c.ptr2").alias("ptr"),
                (
                    F.greatest(
                        F.col("c.val2"),
                        F.coalesce(F.col("d.val1"), F.col("c.val2")),
                    ) > F.col("c.val_old")
                ).alias("changed"),
            )
        )
        if state.where("changed").limit(1).count() == 0:
            break
    return state.select("id", "val"), iters


def _ckpt(df: DataFrame) -> DataFrame:
    """Eager lineage truncation for driver-loop state (S3), with the
    carried-stats strip (plans/truncate.py): BOTH inner fixpoints here
    self-join the label table every iteration, the worst case for
    localCheckpoint's exponential estimated-sizeInBytes compounding —
    a 6-vertex SCC measured 10+ driver-minutes before the strip."""
    return truncate_plan(df, eager=True)


def strongly_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 50,
    max_inner: int = 200,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Label every vertex with its SCC's minimum vertex id.  Returns
    (labels(id, scc), run)."""
    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    e_all = (
        edges.select("src", "dst").where(F.col("src") != F.col("dst"))
        .distinct()
        .repartition(nparts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    )
    e_all.count()
    verts = _ckpt(
        e_all.select(F.col("src").alias("id"))
        .unionByName(e_all.select(F.col("dst").alias("id"))).distinct()
    )
    run = PregelRun(spark, "scc")
    remaining = verts
    # (id, root) pieces APPENDED per phase and unioned once at the end:
    # each piece is (a plan over) checkpointed state, so accumulating
    # the list costs zero jobs — the round-2 shape re-checkpointed the
    # whole union every add, rewriting all labels O(rounds) times.
    labeled_parts: list[DataFrame] = []

    def add_labels(new: DataFrame) -> None:
        labeled_parts.append(new)

    rounds = 0
    while True:
        n_remaining = remaining.count()
        if n_remaining == 0:
            break
        if rounds >= max_rounds:
            raise RuntimeError(
                f"SCC did not finish in {max_rounds} rounds "
                f"({n_remaining} vertices remaining)"
            )
        rounds += 1

        # restrict edges to the remaining subgraph
        e = _ckpt(
            e_all.join(
                remaining.withColumnRenamed("id", "src"), "src", "left_semi"
            ).join(
                remaining.withColumnRenamed("id", "dst"), "dst", "left_semi"
            ).select("src", "dst")
        )

        # -- 1. Trim: peel zero-in/out-degree vertices iteratively ----
        # ONE degree aggregate per iteration (both directions in a
        # single groupBy over the dir-tagged endpoint union) instead of
        # the round-2 shape's two distinct scans + three semi-joins —
        # a deep DAG tail costs O(depth) iterations, so per-iteration
        # driver jobs matter.
        trimmed = 0
        for _ in range(max_inner):
            keep_ids = (
                e.select(F.col("src").alias("id"),
                         F.lit(1).alias("o"), F.lit(0).alias("i"))
                .unionByName(
                    e.select(F.col("dst").alias("id"),
                             F.lit(0).alias("o"), F.lit(1).alias("i")))
                .groupBy("id")
                .agg(F.max("o").alias("has_out"), F.max("i").alias("has_in"))
                .where((F.col("has_out") == 1) & (F.col("has_in") == 1))
                .select("id")
            )
            # keep_ids ⊆ remaining (e's endpoints live in remaining),
            # so it IS the next remaining; everything else is trivial
            # (zero in- or out-degree, or fully isolated).
            keep_ids = _ckpt(keep_ids)
            trivial = _ckpt(remaining.join(keep_ids, "id", "left_anti"))
            n_trivial = trivial.count()
            if n_trivial == 0:
                break
            trimmed += n_trivial
            add_labels(trivial.select("id", F.col("id").alias("root")))
            remaining = keep_ids
            e = _ckpt(
                e.join(remaining.withColumnRenamed("id", "src"), "src",
                       "left_semi")
                .join(remaining.withColumnRenamed("id", "dst"), "dst",
                      "left_semi").select("src", "dst")
            )
        run.record(phase="trim", removed=trimmed,
                   remaining=remaining.count())
        run.next_superstep()
        if remaining.count() == 0:
            break

        # -- 2. Color: forward max propagation to fixpoint ------------
        # Path-doubled (see _max_prop_doubling): O(log d) iterations
        # on high-diameter regions instead of O(d).
        color_state, color_iters = _max_prop_doubling(
            e, remaining, max_inner, "color propagation"
        )
        color = _ckpt(color_state.withColumnRenamed("val", "color"))

        # -- 3. Backward reach from roots within their color ----------
        # rc(v) = max id reachable FROM v along same-color edges,
        # computed by max-propagation over the REVERSED class edges so
        # the same pointer jump applies (module docstring §3);
        # membership is rc(v) == color(v).
        ce = (
            e.join(color.select(F.col("id").alias("src"),
                                F.col("color").alias("c_src")), "src")
            .join(color.select(F.col("id").alias("dst"),
                               F.col("color").alias("c_dst")), "dst")
            .where(F.col("c_src") == F.col("c_dst"))
            # rc flows against edge direction ⇒ scatter v→u for u→v
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        ce = _ckpt(ce)
        rc_state, backward_iters = _max_prop_doubling(
            ce, remaining, max_inner, "backward reach"
        )
        rc = _ckpt(
            rc_state.withColumnRenamed("val", "rc").join(
                color.select("id", "color"), "id"
            )
        )

        in_scc = rc.where(F.col("rc") == F.col("color"))
        found = in_scc.select("id", F.col("color").alias("root"))
        add_labels(found)
        remaining = _ckpt(
            remaining.join(in_scc.select("id"), "id", "left_anti")
        )
        run.record(phase="peel", removed=n_remaining - remaining.count(),
                   remaining=remaining.count(),
                   color_iters=color_iters, backward_iters=backward_iters)
        run.next_superstep()

    # relabel: scc = MIN member id of each root group (oracle contract)
    if not labeled_parts:  # edgeless input: verts is empty
        labeled_parts.append(verts.select("id", F.col("id").alias("root")))
    labeled = labeled_parts[0]
    for part in labeled_parts[1:]:
        labeled = labeled.unionByName(part)
    mins = labeled.groupBy("root").agg(F.min("id").alias("scc"))
    result = run.finish(
        labeled.join(mins, "root").select("id", "scc")
    )
    e_all.unpersist()
    return result, run
