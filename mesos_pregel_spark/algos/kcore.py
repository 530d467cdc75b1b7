"""k-core decomposition (membership for a fixed k) on the generic
vertex-program API — iterative peeling: repeatedly remove vertices
whose surviving degree falls below k until none do.  The classic
link-graph robustness filter (spam farms and weakly attached pages
fall out of high cores).

Pinned semantics (mirrored by the unrolled DuckDB oracle,
queries.SQL_KCORE, and the python peeling oracle in tests):

- UNDIRECTED: edges symmetrized, self-loops dropped, parallel edges
  collapsed; degree = number of distinct surviving neighbors.
- init: every vertex alive.  Superstep: each alive vertex sends 1 to
  its neighbors; a vertex stays alive iff its alive-neighbor count
  ≥ k.  Halt when a round removes nothing.  Peeling is MONOTONE
  (alive sets only shrink), so a run capped at S supersteps equals an
  S-step unrolled oracle exactly — early halt just means later steps
  are no-ops.
- Returns EVERY vertex with an ``in_core`` flag (stable row count for
  the driver's hash compare; filter in_core for the members).

Execution shape (design-for-100×): identical plan to CC — one scatter
join over src-partitioned persisted edges plus one sum combine per
superstep, with the shrinking ``alive`` frontier as the scatter's
``active_filter`` (late rounds touch only the contested margin, the
same vote-to-halt economics as CC/SSSP [P §3]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mesos_pregel_spark.functions.edges import symmetrize
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def k_core(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 2,
    max_supersteps: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    n_salt: int = 0,
    salt_hot_k: int = 0,
    edge_partitions: int | None = None,
    prune_edges: bool = False,
) -> tuple[DataFrame, PregelRun]:
    """Peel to the k-core.  Returns (membership(id, in_core), run).

    ``prune_edges=True`` demonstrates topology mutation [P §3.4]: after
    each peeling round the edge table itself drops every edge incident
    to a peeled vertex, so later supersteps scan a SHRINKING graph.
    Result-identical to the default (dead vertices never send anyway —
    pytest-asserted); worth the two semi-joins per round when early
    rounds remove large fractions (real web graphs: the degree-1 tail
    is a large share of vertices)."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        # symmetrized: src covers every non-isolated vertex
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select("id", F.lit(True).alias("alive"))
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        deg = F.coalesce(combined["deg"], F.lit(0))
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                (state["alive"] & (deg >= k)).alias("alive"),
                (state["alive"] & (deg < k)).alias("removed"),
            )
        )

    def mutate(e: DataFrame, state: DataFrame, ctx: dict) -> DataFrame | None:
        if ctx["aggs"].get("removed", 0) == 0:
            return None  # quiet round: keep the current table
        alive = state.where(F.col("alive")).select("id")
        return (
            e.join(alive.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(alive.withColumnRenamed("id", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    program = VertexProgram(
        name="kcore",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[F.lit(1).cast("long").alias("m")],
        active_filter=F.col("alive"),
        combiner={"deg": ("m", "sum")},
        apply=apply,
        aggregators=[
            F.sum(F.col("removed").cast("long")).alias("removed"),
            F.sum(F.col("alive").cast("long")).alias("core_size"),
        ],
        halt=lambda aggs: aggs["removed"] == 0,
        mutate_edges=mutate if prune_edges else None,
        # a capped run is still exact for the steps it ran (monotone
        # peeling) — don't report it as interrupted
        converged_at_cap=True,
        finalize=lambda s: s.select("id", "alive").withColumnRenamed(
            "alive", "in_core"
        ),
        params={"k": k},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        n_salt=n_salt, salt_hot_k=salt_hot_k,
        edge_partitions=edge_partitions,
    )


def s_core(
    spark: SparkSession,
    edges: DataFrame,
    s: float = 2.0,
    max_supersteps: int = 50,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Strength-core peel (Eidsaa-Almaas PRE 2013 "s-core" — the
    weighted generalization of the k-core): repeatedly remove every
    vertex whose summed incident edge WEIGHT among surviving vertices
    falls below ``s``.  On a transcript-derived graph this separates
    actors by interaction VOLUME where k_core separates by partner
    COUNT — a hub with many one-shot links can sit in a high k-core
    but a low s-core, and vice versa.

    Determinism: edge weights here are exact integer counts carried
    in doubles (lossless ≤ 2^53 — the lt_spread discipline), so the
    per-round strength sums are order-independent and the ≥ s
    comparison cannot drift cross-engine.  Same monotone-peel
    economics as k_core: dead vertices never send, fixpoint when a
    round removes nobody, capped ≡ unrolled."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select("id", F.lit(True).alias("alive"))
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        stg = F.coalesce(combined["strength"], F.lit(0.0))
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                (state["alive"] & (stg >= s)).alias("alive"),
                (state["alive"] & (stg < s)).alias("removed"),
            )
        )

    program = VertexProgram(
        name="score",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight")),
        edge_cols=("src", "dst", "weight"),
        msg_cols=[F.col("weight").alias("m")],
        active_filter=F.col("alive"),
        combiner={"strength": ("m", "sum")},
        apply=apply,
        aggregators=[
            F.sum(F.col("removed").cast("long")).alias("removed"),
            F.sum(F.col("alive").cast("long")).alias("core_size"),
        ],
        halt=lambda aggs: aggs["removed"] == 0,
        converged_at_cap=True,
        finalize=lambda st: st.select("id", "alive").withColumnRenamed(
            "alive", "in_core"
        ),
        params={"s": s},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )


def core_number(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 50,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    n_salt: int = 0,
    salt_hot_k: int = 0,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Full k-core decomposition in ONE run: ``core(v)`` = the largest
    k such that v belongs to the k-core — no fixed-k sweep.

    Algorithm: the distributed H-index fixpoint (the published
    coreness characterization — Lü et al., "The H-index of a network
    node and its relation to degree and coreness", Nat. Commun. 2016;
    the vertex-centric formulation is Montresor et al.'s distributed
    k-core decomposition):

        c_0(v)     = deg(v)
        c_{t+1}(v) = H({c_t(u) : u ~ v})

    where H(S) is the largest h with >= h members of S that are >= h.
    The sequence is MONOTONE non-increasing and converges to the core
    number, so (like k-core's peel) a run capped at S supersteps
    equals an S-step unrolled oracle exactly — the driver parity check
    (queries.SQL_CORE_NUMBER) unrolls the identical schedule, and the
    python peel oracle (tests/oracle_pregel.oracle_core_number) pins
    the converged values at fixture scale.

    Execution shape (design-for-100×): per superstep, estimates ride
    ONE scatter join over the src-partitioned symmetrized edges; the
    combiner collapses them to per-(dst, value) COUNTS map-side (the
    LPA pattern — shuffle volume is distinct estimate values per
    vertex, not messages); the H-index is then a window over those
    tiny per-vertex count rows (cumulative count of neighbors with
    estimate >= m, h = max of least(m, cum)) — never a window over raw
    messages.
    """

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        # symmetrized distinct edges: degree = out-row count per src
        return (
            e.groupBy(F.col("src").alias("id"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .select("id", "c", F.lit(True).alias("changed"))
        )

    def hindex(per_val: DataFrame) -> DataFrame:
        # per_val: (dst, m, cnt) — cnt neighbors currently estimating m.
        # cum over m DESC = #neighbors with estimate >= m; H = max of
        # least(m, cum) over the distinct values (the step function
        # #>=t only changes at neighbor values, so that max IS the
        # H-index).
        w = Window.partitionBy("dst").orderBy(F.desc("m"))
        return (
            per_val.withColumn("cum", F.sum("cnt").over(w))
            .groupBy("dst")
            .agg(F.max(F.least(F.col("m"), F.col("cum"))).alias("h"))
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        new_c = F.least(
            state["c"], F.coalesce(combined["h"], state["c"])
        )
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                new_c.alias("c"),
                (new_c < state["c"]).alias("changed"),
            )
        )

    program = VertexProgram(
        name="core_number",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        # every vertex re-broadcasts its estimate every superstep: H
        # needs the full neighbor multiset, not a delta
        msg_cols=[
            F.col("c").alias("m"),
            F.lit(1).cast("long").alias("one"),
        ],
        combine_keys=("dst", "m"),
        combiner={"cnt": ("one", "sum")},
        post_combine=hindex,
        apply=apply,
        aggregators=[
            F.sum(F.col("changed").cast("long")).alias("changed_count"),
            F.max("c").alias("max_core"),
        ],
        halt=lambda aggs: aggs["changed_count"] == 0,
        finalize=lambda s: s.select("id", F.col("c").alias("core")),
        # monotone non-increasing: capped run == capped unroll, exact
        converged_at_cap=True,
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        checkpoint_dir=checkpoint_dir, checkpoint_every=checkpoint_every,
        n_salt=n_salt, salt_hot_k=salt_hot_k,
        edge_partitions=edge_partitions,
    )


def onion_layers(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 2,
    max_supersteps: int = 50,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Peeling LAYERS of the fixed-k core decomposition (the per-k
    slice of the onion decomposition, Hebert-Dufresne-Grochow-Allard
    Sci.Rep. 2016): layer(v) = the peel round that removed v (1-based);
    survivors of the k-core keep layer 0.  Where ``k_core`` answers
    "in or out", the layer answers "how DEEP inside the periphery" —
    the depth profile a curriculum or trust ordering reads.

    Same pinned peel as ``k_core`` (round r removes every alive vertex
    whose alive-degree < k; monotone, so a capped run is exact for the
    rounds it ran and capped ≡ unrolled at any shared round count).
    Peel round r runs as superstep r - 1 (``ctx["superstep"]``).

    Execution shape: identical to k_core — one scatter + count-combine
    per round over the symmetrized edges; the layer column is one
    extra CASE in apply.  Returns (layers(id, layer), run)."""

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        return (
            e.select(F.col("src").alias("id")).distinct()
            .select(
                "id", F.lit(True).alias("alive"),
                F.lit(0).cast("long").alias("layer"),
            )
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        rnd = ctx["superstep"] + 1
        deg = F.coalesce(combined["deg"], F.lit(0))
        removed_now = state["alive"] & (deg < k)
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                (state["alive"] & (deg >= k)).alias("alive"),
                F.when(removed_now, F.lit(rnd).cast("long"))
                .otherwise(state["layer"]).alias("layer"),
                removed_now.alias("removed"),
            )
        )

    program = VertexProgram(
        name="onion",
        init=init,
        prep_edges=lambda e: symmetrize(e.select("src", "dst", "weight"))
        .select("src", "dst"),
        edge_cols=("src", "dst"),
        msg_cols=[F.lit(1).cast("long").alias("m")],
        active_filter=F.col("alive"),
        combiner={"deg": ("m", "sum")},
        apply=apply,
        aggregators=[
            F.sum(F.col("removed").cast("long")).alias("removed"),
            F.sum(F.col("alive").cast("long")).alias("core_size"),
        ],
        halt=lambda aggs: aggs["removed"] == 0,
        converged_at_cap=True,
        finalize=lambda s: s.select("id", "layer"),
        params={"k": k},
    )
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )
