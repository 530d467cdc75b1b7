"""Linear-threshold influence spread — the deterministic core of the
classic influence-maximization model (Kempe-Kleinberg-Tardos 2003):
a vertex activates once the summed edge weight arriving from already-
active in-neighbours reaches a fixed fraction of its total in-weight.
Over a transcript-derived interaction graph this answers "if these
actors adopt a behaviour, how far does it cascade and how fast".

Pinned semantics (mirrored by the unrolled DuckDB twin,
queries.SQL_LT_SPREAD):

- WEIGHTED directed graph, parallel edges pre-collapsed (weight =
  transition count); influence flows src → dst.
- Seeds activate at round 0.  Vertex v (inw(v) > 0) activates at
  round r+1 iff Σ_{u active by round r, u→v} w(u,v) ≥ θ·inw(v);
  vertices with inw = 0 never activate (strict in-neighbourhood
  model — seeds excepted).  θ = 0.5 in the driver query.
- MONOTONE: active vertices stay active, so a k-round unroll is
  exact whether the engine halts early at the fixpoint or runs to
  the cap.
- DETERMINISM: received mass is a sum of exact integer counts
  (lossless in doubles ≤ 2^53) and θ·inw is one exact product, so
  the threshold comparison cannot drift cross-engine.

Execution shape (design-for-100×): the cumulative-inbox trick makes
this a frontier algorithm — each vertex SENDS exactly once (the
superstep after it activates, via ``active_filter``), and the
receiver accumulates, so total message volume is O(E) across the
whole run, not O(E·rounds).  Per superstep: one frontier-filtered
scatter join + one sum combine with map-side partials over the
src-partitioned persisted edge set.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def lt_spread(
    spark: SparkSession,
    edges: DataFrame,
    seeds: Sequence,
    theta: float = 0.5,
    max_supersteps: int = 8,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Linear-threshold cascade from ``seeds``.  Returns
    (spread(id, round), run) — round = activation round (seeds 0),
    -1 where the cascade never arrives."""
    sds = sorted(set(seeds))
    if not sds:
        raise ValueError("need at least one seed")

    def prep(e: DataFrame) -> DataFrame:
        return e.groupBy("src", "dst").agg(F.sum("weight").alias("w"))

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        vertices = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        inw = e.groupBy(F.col("dst").alias("id")).agg(F.sum("w").alias("inw"))
        seeded = F.col("id").isin(sds)
        return (
            vertices.join(inw, "id", "left_outer")
            .select(
                "id",
                F.coalesce("inw", F.lit(0.0)).alias("inw"),
                F.lit(0.0).alias("received"),
                F.when(seeded, F.lit(0).cast("long"))
                .otherwise(F.lit(None).cast("long")).alias("round"),
                seeded.alias("changed"),
                # superstep counter carried in-state so the activation
                # round label survives checkpoint/resume without driver
                # bookkeeping
                F.lit(0).cast("long").alias("t"),
            )
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        inbox = F.coalesce(combined["w_sum"], F.lit(0.0))
        received = state["received"] + inbox
        newly = (
            state["round"].isNull()
            & (state["inw"] > 0.0)
            & (received >= F.lit(theta) * state["inw"])
        )
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                state["inw"],
                received.alias("received"),
                F.when(state["round"].isNotNull(), state["round"])
                .when(newly, state["t"] + 1)
                .otherwise(F.lit(None).cast("long"))
                .alias("round"),
                newly.alias("changed"),
                (state["t"] + 1).alias("t"),
            )
        )

    program = VertexProgram(
        name="lt_spread",
        init=init,
        prep_edges=prep,
        edge_cols=("src", "dst", "w"),
        msg_cols=[F.col("w").alias("m")],
        active_filter=F.col("changed"),
        combiner={"w_sum": ("m", "sum")},
        apply=apply,
        aggregators=[F.sum(F.col("changed").cast("long")).alias("active")],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select(
            "id", F.coalesce("round", F.lit(-1)).alias("round")
        ),
        converged_at_cap=True,
        params={"theta": theta, "seeds": [str(s) for s in sds]},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        edge_partitions=edge_partitions,
    )


def lt_sweep(
    spark: SparkSession,
    edges: DataFrame,
    seeds: Sequence,
    thetas: Sequence[float] = (0.3, 0.5, 0.7),
    max_supersteps: int = 8,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Threshold-sweep cascade: ALL of ``thetas`` ride ONE Pregel run
    as lanes (the msbfs/landmarks multi-lane pattern applied to
    influence) — a sensitivity analysis ("how does reach degrade as
    the adoption bar rises") for one edge pass per superstep instead
    of len(thetas) runs.

    Per lane the semantics are EXACTLY lt_spread's: each lane's
    send-once rule is gated by its OWN just-activated flag (a lane
    that activated earlier must not re-send into another lane's
    round), so per-lane message volume stays O(E); a vertex scatters
    while ANY lane just activated.  Monotone per lane ⇒ capped ≡
    unrolled; activation rounds are non-decreasing in θ (pinned by
    pytest).  Returns (sweep(id, r0..r{k-1}), run) — lane i = sorted
    thetas[i], -1 where that cascade never arrives."""
    sds = sorted(set(seeds))
    if not sds:
        raise ValueError("need at least one seed")
    ths = sorted(set(thetas))
    if not ths:
        raise ValueError("need at least one theta")
    n = len(ths)

    def prep(e: DataFrame) -> DataFrame:
        return e.groupBy("src", "dst").agg(F.sum("weight").alias("w"))

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        vertices = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        inw = e.groupBy(F.col("dst").alias("id")).agg(F.sum("w").alias("inw"))
        seeded = F.col("id").isin(sds)
        cols = [
            vertices["id"],
            F.coalesce("inw", F.lit(0.0)).alias("inw"),
            F.lit(0).cast("long").alias("t"),
        ]
        for i in range(n):
            cols += [
                F.lit(0.0).alias(f"rcv{i}"),
                F.when(seeded, F.lit(0).cast("long"))
                .otherwise(F.lit(None).cast("long")).alias(f"r{i}"),
                seeded.alias(f"ch{i}"),
            ]
        return vertices.join(inw, "id", "left_outer").select(*cols)

    any_changed = None
    for i in range(n):
        c = F.col(f"ch{i}")
        any_changed = c if any_changed is None else (any_changed | c)

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        cols = [
            state["id"], state["inw"], (state["t"] + 1).alias("t"),
        ]
        for i, th in enumerate(ths):
            inbox = F.coalesce(combined[f"w{i}_sum"], F.lit(0.0))
            rcv = state[f"rcv{i}"] + inbox
            newly = (
                state[f"r{i}"].isNull()
                & (state["inw"] > 0.0)
                & (rcv >= F.lit(th) * state["inw"])
            )
            cols += [
                rcv.alias(f"rcv{i}"),
                F.when(state[f"r{i}"].isNotNull(), state[f"r{i}"])
                .when(newly, state["t"] + 1)
                .otherwise(F.lit(None).cast("long")).alias(f"r{i}"),
                newly.alias(f"ch{i}"),
            ]
        return state.join(
            combined, state["id"] == combined["dst"], "left_outer"
        ).select(*cols)

    program = VertexProgram(
        name="lt_sweep",
        init=init,
        prep_edges=prep,
        edge_cols=("src", "dst", "w"),
        # lane i sends its edge weight only when lane i JUST activated
        msg_cols=[
            F.when(F.col(f"ch{i}"), F.col("w")).alias(f"m{i}")
            for i in range(n)
        ],
        active_filter=any_changed,
        combiner={f"w{i}_sum": (f"m{i}", "sum") for i in range(n)},
        apply=apply,
        aggregators=[
            F.sum(any_changed.cast("long")).alias("active"),
        ],
        halt=lambda aggs: aggs["active"] == 0,
        finalize=lambda s: s.select(
            "id",
            *[F.coalesce(f"r{i}", F.lit(-1)).alias(f"r{i}") for i in range(n)],
        ),
        converged_at_cap=True,
        params={"thetas": [str(t) for t in ths],
                "seeds": [str(s) for s in sds]},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )


def label_spreading(
    spark: SparkSession,
    edges: DataFrame,
    seeds: Sequence,
    alpha: float = 0.85,
    steps: int = 4,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Soft multi-class label spreading (Zhou et al., "Learning with
    Local and Global Consistency", NeurIPS 2004) — the semi-supervised
    counterpart of A3's hard-label LPA: seed vertices carry one class
    each, and class mass diffuses over the SYMMETRICALLY NORMALIZED
    adjacency, F_{t+1} = alpha·S·F_t + (1−alpha)·Y with
    S = D^{-1/2} A D^{-1/2}, run for a FIXED number of supersteps
    (bounded-iteration semantics like katz/eigenvector).  The classic
    use over a link graph: propagate a handful of audited quality /
    topicality labels to every vertex with confidence scores, where
    LPA would give an unweighted hard partition.

    Pinned all-integer arithmetic (mirrored by the unrolled DuckDB
    twin, queries.SQL_LABEL_SPREADING): state is MICRO-units
    (f_seed,0 = 1_000_000; the (1−alpha)·Y restart is the exact
    constant round((1−alpha)·1e6)).  Each edge term snaps
    ROUND(f_micro / sqrt(deg_u·deg_v)) to BIGINT BEFORE the combine —
    the one libm sqrt sees an exact integer product and the one
    division sees bit-identical operands in both engines (the
    source_kl micro-snap discipline) — so the per-superstep sum is an
    order-independent sum of exact longs, and the per-step rescale
    ROUND(alpha·sum) is one double op on an exact long.  No float
    ever crosses a shuffle; the output is exact BIGINT lanes plus the
    argmax class (ties → lowest lane).

    ``seeds``: ordered ids, lane i = class i.  Returns
    (labels(id, f0..f{k-1}, cls), run)."""
    sds = list(seeds)
    if not sds or len(set(sds)) != len(sds):
        raise ValueError("seeds must be non-empty and distinct")
    k = len(sds)
    restart = int(round((1.0 - alpha) * 1_000_000))

    def prep(e: DataFrame) -> DataFrame:
        und = e.select("src", "dst").distinct()
        sym = und.unionByName(
            und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        deg = sym.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).cast("long").alias("deg")
        )
        return (
            sym.join(deg.select(F.col("id").alias("src"),
                                F.col("deg").alias("d_src")), "src")
            .join(deg.select(F.col("id").alias("dst"),
                             F.col("deg").alias("d_dst")), "dst")
            .select(
                "src", "dst",
                F.sqrt((F.col("d_src") * F.col("d_dst")).cast("double"))
                .alias("sqdd"),
            )
        )

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        vertices = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        cols = [
            F.when(F.col("id") == F.lit(sds[i]), F.lit(1_000_000))
            .otherwise(F.lit(0)).cast("long").alias(f"f{i}")
            for i in range(k)
        ]
        ybase = [
            F.when(F.col("id") == F.lit(sds[i]), F.lit(restart))
            .otherwise(F.lit(0)).cast("long").alias(f"y{i}")
            for i in range(k)
        ]
        return vertices.select("id", *cols, *ybase)

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        new_f = [
            (
                F.round(
                    F.lit(alpha)
                    * F.coalesce(combined[f"s{i}"], F.lit(0))
                    .cast("double")
                ).cast("long")
                + state[f"y{i}"]
            ).alias(f"f{i}")
            for i in range(k)
        ]
        return state.join(
            combined, state["id"] == combined["dst"], "left_outer"
        ).select(
            state["id"], *new_f, *[state[f"y{i}"] for i in range(k)]
        )

    def finalize(s: DataFrame) -> DataFrame:
        best = (
            F.greatest(*[F.col(f"f{i}") for i in range(k)])
            if k > 1 else F.col("f0")
        )
        cls = F.lit(None).cast("long")
        for i in reversed(range(k)):
            cls = F.when(F.col(f"f{i}") == best, F.lit(i).cast("long")) \
                .otherwise(cls)
        return s.select("id", *[f"f{i}" for i in range(k)], cls.alias("cls"))

    program = VertexProgram(
        name="label_spreading",
        init=init,
        prep_edges=prep,
        edge_cols=("src", "dst", "sqdd"),
        msg_cols=[
            F.round(F.col(f"f{i}").cast("double") / F.col("sqdd"))
            .cast("long").alias(f"m{i}")
            for i in range(k)
        ],
        combiner={f"s{i}": (f"m{i}", "sum") for i in range(k)},
        apply=apply,
        aggregators=[F.count(F.lit(1)).alias("n")],
        halt=lambda aggs: False,
        finalize=finalize,
        converged_at_cap=True,
        params={"alpha": alpha, "k": k},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=steps,
        edge_partitions=edge_partitions,
    )
