"""k-truss — the edge-level cohesive-subgraph decomposition
completing the k-core family: the maximal subgraph in which every
edge participates in at least k-2 triangles (of the subgraph).
Denser and more noise-robust than k-core; the standard community-core
filter for link graphs.

Pinned semantics (python peel oracle in tests, unrolled SQL oracle in
the driver):

- UNDIRECTED simple graph: edges canonicalized to (lo, hi) pairs,
  self-loops dropped, parallel edges collapsed.
- Synchronous peel: each round counts, for every surviving edge, the
  triangles formed with surviving edges only; edges with support
  < k-2 are removed together; repeat until stable.  Returns the
  surviving edge set (lo, hi).
- Like k-core, peeling is MONOTONE, so a run capped at R rounds
  equals an R-round unrolled oracle exactly.

Execution shape (design-for-100×): support is computed ONCE, up
front, with the same degree-ordered orientation as A4
(algos/triangles.py) — every vertex's oriented out-degree is
O(sqrt(m)) even for hubs, so the wedge self-join is O(m^1.5)-bounded.
Subsequent peel rounds are INCREMENTAL (the standard truss-maintenance
trick): only triangles touching a just-removed edge can change any
survivor's support, so each round enumerates exactly those triangles —
expanding each removed edge from its lower-degree endpoint, closing
against the current edge set, deduplicating triangles (a triangle with
two removed edges must decrement its survivor once, not twice) — and
DECREMENTS the maintained support table.  Per-round cost is
O(Σ_{removed} min-deg), not a full re-enumeration of all surviving
triangles (the round-3 shape recounted everything every round: a
constant-factor redundancy measured at ~2.4× triangles in BENCH_r03).
Equality with the recount semantics is exact: the support of a
survivor in G_{t+1} is its support in G_t minus the number of its
G_t-triangles containing ≥1 removed edge.  State (the support table)
is truncated with an eager localCheckpoint per round.

``trussness`` (the full decomposition — trussness(e) = the largest k
such that e survives in the k-truss) runs the same peel at increasing
k over the shrinking survivor set: edges peeled out at level k have
trussness k-1.  One pass over strata, not a user-driven k-sweep; the
support table carries over ACROSS levels (raising ``need`` does not
invalidate it), so the full decomposition pays for exactly one global
triangle enumeration plus the incremental deltas.  Capped variants
are exact on both sides because each level's peel is monotone (the
driver oracle unrolls the identical (level, round) schedule).

Not a plans/program.py VertexProgram: both peel EDGES by their
triangle support, a per-edge state no vertex message carries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.truncate import truncate_plan


def _round_support(e: DataFrame) -> DataFrame:
    """Per-edge triangle support of the canonical edge set ``e(lo, hi)``
    via degree-ordered wedge joins (A4's plan shape, run ONCE up front;
    peel rounds maintain the result incrementally — see
    :func:`_apply_removals`).  Returns (support_df(lo, hi, support)
    covering edges with support >= 1, oriented_df) — the caller
    unpersists ``oriented_df`` once support is materialized."""
    deg = (
        e.select(F.col("lo").alias("id"))
        .unionByName(e.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    ed = (
        e.join(deg.withColumnsRenamed({"id": "lo", "deg": "deg_lo"}), "lo")
        .join(deg.withColumnsRenamed({"id": "hi", "deg": "deg_hi"}), "hi")
    )
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = ed.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        F.when(lo_first, F.col("deg_hi")).otherwise(F.col("deg_lo")).alias("deg_v"),
    )
    # Referenced three times (both wedge sides + the closing probe) —
    # materialize once, exactly as triangles.py does.
    oriented = oriented.persist(StorageLevel.MEMORY_AND_DISK)

    a = oriented.alias("a")
    b = oriented.alias("b")
    wedges = a.join(b, F.col("a.u") == F.col("b.u")).where(
        (F.col("a.deg_v") < F.col("b.deg_v"))
        | ((F.col("a.deg_v") == F.col("b.deg_v")) & (F.col("a.v") < F.col("b.v")))
    ).select(
        F.col("a.u").alias("u"), F.col("a.v").alias("v"), F.col("b.v").alias("w")
    )
    c = oriented.alias("c")
    tri = wedges.alias("wg").join(
        c, (F.col("wg.v") == F.col("c.u")) & (F.col("wg.w") == F.col("c.v"))
    ).select(F.col("wg.u").alias("u"), F.col("wg.v").alias("v"),
             F.col("wg.w").alias("w"))

    # Each oriented triangle (u,v,w) supports its three edges, mapped
    # back to the id-canonical (lo, hi) the peel state is keyed by.
    def canon(x: str, y: str) -> DataFrame:
        return tri.select(
            F.least(F.col(x), F.col(y)).alias("lo"),
            F.greatest(F.col(x), F.col(y)).alias("hi"),
        )

    sup = (
        canon("u", "v")
        .unionByName(canon("u", "w"))
        .unionByName(canon("v", "w"))
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return sup, oriented


def _initial_support(e: DataFrame) -> DataFrame:
    """Support table (lo, hi, support) covering EVERY canonical edge
    (triangle-free edges get 0), eagerly materialized."""
    sup_pos, oriented = _round_support(e)
    sup = truncate_plan(
        e.join(sup_pos, ["lo", "hi"], "left_outer")
        .select(
            "lo", "hi",
            F.coalesce(F.col("support"), F.lit(0)).cast("long").alias("support"),
        )
    )
    oriented.unpersist()
    return sup


def _static_degrees(e: DataFrame) -> DataFrame:
    """Degrees of the ORIGINAL canonical edge set, computed once per
    run and persisted — the expansion-orientation heuristic for every
    subsequent peel round (see _apply_removals)."""
    return (
        e.select(F.col("lo").alias("id"))
        .unionByName(e.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )


def _apply_removals(
    sup: DataFrame, removed: DataFrame, deg: DataFrame
) -> DataFrame:
    """Incremental truss-maintenance step: given the exact support table
    ``sup(lo, hi, support)`` of the current graph G_t (one row per
    current edge) and the batch ``removed(lo, hi)`` ⊆ its rows, return
    the exact support table of G_{t+1} = G_t − removed.

    A survivor loses one support per DISTINCT G_t-triangle it shares
    with ≥1 removed edge.  Enumeration expands each removed edge from
    its lower-STATIC-degree endpoint, closes the wedge against G_t's
    edge set, canonicalizes the triangle and deduplicates — a triangle
    with two removed edges is found twice but must count once.

    ``deg`` is the ONCE-computed original-graph degree table
    (_static_degrees): which endpoint the expansion starts from is a
    pure performance heuristic (any choice enumerates the same
    triangles), and current degrees only shrink below the static ones,
    so using the static table keeps the O(Σ min-deg) flavor of the
    bound while saving a full-edge degree shuffle EVERY round — at
    100× with many peel rounds that recompute was the dominant
    redundant cost left in the peel."""
    e_t = sup.select("lo", "hi")  # G_t: survivors ∪ removed
    rd = (
        removed
        .join(deg.withColumnsRenamed({"id": "lo", "deg": "deg_lo"}), "lo")
        .join(deg.withColumnsRenamed({"id": "hi", "deg": "deg_hi"}), "hi")
    )
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    rexp = rd.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("x"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("y"),
    )
    nbr = (
        e_t.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
        .unionByName(e_t.select(F.col("hi").alias("a"), F.col("lo").alias("b")))
    )
    wedge = (
        rexp.join(nbr, rexp["x"] == nbr["a"])
        .where(F.col("b") != F.col("y"))
        .select("x", "y", F.col("b").alias("w"))
    )
    closed = wedge.join(
        e_t,
        (F.least(F.col("y"), F.col("w")) == e_t["lo"])
        & (F.greatest(F.col("y"), F.col("w")) == e_t["hi"]),
        "left_semi",
    )
    tri = (
        closed.select(F.array_sort(F.array("x", "y", "w")).alias("t"))
        .select(
            F.col("t")[0].alias("a"),
            F.col("t")[1].alias("b"),
            F.col("t")[2].alias("c"),
        )
        .distinct()
    )

    def member(x: str, y: str) -> DataFrame:
        return tri.select(F.col(x).alias("lo"), F.col(y).alias("hi"))

    lost = (
        member("a", "b")
        .unionByName(member("a", "c"))
        .unionByName(member("b", "c"))
        .groupBy("lo", "hi")
        .agg(F.count(F.lit(1)).alias("lost"))
    )
    survivors = sup.join(removed, ["lo", "hi"], "left_anti")
    # truncate_plan, not bare localCheckpoint: the support table is
    # rebuilt from itself every peel round, the estimated-stats
    # compounding shape (plans/truncate.py)
    return truncate_plan(
        survivors.join(lost, ["lo", "hi"], "left_outer")
        .select(
            "lo", "hi",
            (F.col("support") - F.coalesce(F.col("lost"), F.lit(0)))
            .alias("support"),
        )
    )


def _canonical_edges(edges: DataFrame, nparts: int) -> DataFrame:
    return (
        edges.select(
            F.least("src", "dst").alias("lo"),
            F.greatest("src", "dst").alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .distinct()
        .repartition(nparts, "lo")
        .localCheckpoint(eager=True)  # one-shot: no compounding
    )


def k_truss(
    spark: SparkSession,
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 30,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Peel to the k-truss.  Returns (truss_edges(lo, hi), run)."""
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    e = _canonical_edges(edges, nparts)
    run = PregelRun(spark, "ktruss")
    need = k - 2
    sup: DataFrame | None = None
    deg: DataFrame | None = None
    n_edges = -1
    while run.superstep < max_rounds:
        if sup is None:
            n_edges = e.count()
            if n_edges == 0:
                break
            sup = _initial_support(e)  # round 1: the one global count
            deg = _static_degrees(e)
        if n_edges == 0:
            break
        removed = truncate_plan(
            sup.where(F.col("support") < need)
            .select("lo", "hi")
        )
        n_removed = removed.count()
        run.record(edges=n_edges, removed=n_removed)
        run.next_superstep()
        if n_removed == 0:
            break
        sup = _apply_removals(sup, removed, deg)
        # |G_{t+1}| is arithmetic — removal is exact set subtraction —
        # so the loop never re-counts the support table (one fewer
        # Spark action per round; the peel is action-latency-bound
        # once removals shrink).
        n_edges -= n_removed
    result = sup.select("lo", "hi") if sup is not None else e
    if deg is not None:
        deg.unpersist()
    return run.finish(result), run


def trussness(
    spark: SparkSession,
    edges: DataFrame,
    max_k: int = 20,
    max_rounds_per_level: int = 30,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Full truss decomposition in ONE run: every canonical edge gets
    ``trussness`` = the largest k such that it survives the k-truss
    peel (edges in no triangle get 2, the definitional floor).

    Strata peel: for k = 3, 4, ... the surviving set is peeled to the
    k-truss; edges removed at level k have trussness k-1.  Because
    (k+1)-truss ⊆ k-truss, each level starts from the previous survivor
    set AND its already-exact support table — total work is one global
    triangle count plus the per-removal incremental deltas.

    Caps are part of the pinned semantics (mirrored exactly by the
    driver's unrolled oracle, queries.SQL_TRUSSNESS): each level runs
    at most ``max_rounds_per_level`` peel rounds, and survivors of
    level ``max_k`` are reported with trussness ``max_k`` — monotone
    peeling makes the capped run equal the capped unroll, and a python
    oracle pytest (tests/test_ktruss.py) pins the uncapped ground truth
    at fixture scale.  When survivors remain at ``max_k`` the cap has
    SATURATED — the graph's true maximum trussness may exceed the
    reported label — and the run records it (``cap_saturated`` metric
    entry; tests/test_ktruss.py pins it on a clique).

    Returns (decomposition(lo, hi, trussness), run).
    """
    if max_k < 3:
        raise ValueError("trussness requires max_k >= 3")
    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    e = _canonical_edges(edges, nparts)
    run = PregelRun(spark, "trussness")
    strata: list[DataFrame] = []  # per-level removed edges, labeled
    sup: DataFrame | None = None
    deg: DataFrame | None = None
    n_edges = e.count()
    if n_edges > 0:
        sup = _initial_support(e)  # the one global triangle count
        deg = _static_degrees(e)
    for k in range(3, max_k + 1):
        need = k - 2
        rounds = 0
        while sup is not None and rounds < max_rounds_per_level:
            if n_edges == 0:
                break
            removed = truncate_plan(
                sup.where(F.col("support") < need)
                .select("lo", "hi")
            )
            n_removed = removed.count()
            rounds += 1
            run.record(level=k, edges=n_edges, removed=n_removed)
            run.next_superstep()
            if n_removed == 0:
                break
            # removed at level k => trussness k-1
            strata.append(removed.select(
                "lo", "hi", F.lit(k - 1).cast("long").alias("trussness")
            ))
            sup = _apply_removals(sup, removed, deg)
            # arithmetic size maintenance — no per-round re-count
            n_edges -= n_removed
        if sup is None or n_edges == 0:
            break
    if deg is not None:
        deg.unpersist()
    n_survivors = n_edges if sup is not None else 0
    if n_survivors > 0:
        # Cap saturation: the true trussness of these edges is >= max_k
        # and may exceed it — surfaced in run.metrics for callers/bench.
        run.record(
            phase="cap", cap_saturated=True, level=max_k,
            survivors=n_survivors,
        )
    survivors = (sup if sup is not None else e).select(
        "lo", "hi", F.lit(max_k).cast("long").alias("trussness")
    )
    out = survivors
    for s in strata:
        out = out.unionByName(s)
    return run.finish(out), run
