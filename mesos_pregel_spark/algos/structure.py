"""Graph-structure analytics over the canonical undirected edge set:
clustering coefficients, degree assortativity, common-neighbor /
Jaccard link prediction, and a 2(1+eps)-approximate densest subgraph
(Charikar greedy peel, parallelized a la Bahmani et al., "Densest
Subgraph in Streaming and MapReduce", VLDB 2012).

These are the one-shot structural diagnostics a link-graph operator
runs beside the iterative algorithms (SURVEY §2.2): LCC/assortativity
characterize the graph before choosing salting/orientation strategies;
link prediction is the standard common-neighbor recommender; densest
subgraph is the classic spam-farm / community-core extractor.

Shared determinism contract (mirrored by the DuckDB oracle twins in
queries.py and the python oracles in tests/test_structure.py):

- UNDIRECTED simple graph: (lo, hi) canonical edges, self-loops
  dropped, parallel edges collapsed (triangles.canonical_undirected).
- All ratios are a SINGLE IEEE-754 division of exactly-computed
  integer aggregates (never a float accumulation), so Spark and the
  oracle produce bit-identical doubles with no rounding epsilon.
- Peel/threshold comparisons are cross-multiplied into pure integer
  arithmetic (deg * |S| <= 3 * |E| for eps=1/2) — no FP boundary can
  flip a removal decision between engines.

Execution shape (design-for-100x):

- LCC rides A4's degree-ordered triangle kernel — the wedge join is
  O(m^1.5)-bounded on skewed graphs; everything else is hash
  aggregations with map-side partials.
- Assortativity reduces the edge list to FIVE integer sufficient
  statistics (n, Sx, Sy, Sxx, Syy, Sxy) in one pass — a pure
  map-side-combinable aggregate, no shuffle of the edge list itself
  beyond the degree join.
- Link prediction enumerates wedges from each shared neighbor; the
  wedge count is sum(deg^2) which hubs dominate, so ``max_degree``
  caps the wedge-center role (the standard hub-exclusion of
  production common-neighbor recommenders: a vertex adjacent to
  everything predicts nothing).  Output is bounded by top_k.
- Densest-subgraph peel removes a constant FRACTION of survivors per
  round (every vertex with deg <= (3/2)·avg survives the cut test
  only if above it; Bahmani et al. bound rounds at O(log n / eps)),
  so the loop is O(log n) rounds of degree-agg + semi-join, with
  per-round lineage truncation.  Removals are recorded append-only
  (the SCC labeling trick) — no growing union plan in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mesos_pregel_spark.algos.triangles import canonical_undirected, triangle_count
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.truncate import truncate_plan


def _und_degrees(und: DataFrame) -> DataFrame:
    """Distinct-neighbor degree per vertex of a canonical edge set."""
    return (
        und.select(F.col("lo").alias("id"))
        .unionByName(und.select(F.col("hi").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


# ---------------------------------------------------------------------------
# clustering coefficients
# ---------------------------------------------------------------------------


def clustering_coefficients(
    spark: SparkSession, edges: DataFrame, kernel: str = "join"
) -> DataFrame:
    """Per-vertex local clustering coefficient.

    Returns (id, deg, triangles, lcc) for every vertex, where
    lcc = 2*triangles / (deg*(deg-1)) and 0.0 when deg < 2.  The
    division is one double op over exact integers — oracle-bit-exact.
    """
    per_vertex, _total = triangle_count(spark, edges, kernel=kernel)
    deg = _und_degrees(canonical_undirected(edges))
    return per_vertex.join(deg, "id").select(
        "id",
        "deg",
        "triangles",
        F.when(
            F.col("deg") >= 2,
            (F.lit(2) * F.col("triangles")).cast("double")
            / (F.col("deg") * (F.col("deg") - F.lit(1))).cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("lcc"),
    )


def global_clustering(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Global (transitivity) coefficient: 3*triangles / wedges, plus
    the raw counts.  One row: (triangles, wedges, transitivity)."""
    und = canonical_undirected(edges)
    deg = _und_degrees(und)
    _per_vertex, total = triangle_count(spark, edges)
    wedges_row = deg.agg(
        F.sum(F.col("deg") * (F.col("deg") - F.lit(1))).alias("w")
    ).collect()[0]
    wedges = int(wedges_row["w"] or 0) // 2
    transitivity = (3.0 * total / wedges) if wedges else 0.0
    return spark.createDataFrame(
        [(total, wedges, transitivity)],
        "triangles long, wedges long, transitivity double",
    )


# ---------------------------------------------------------------------------
# degree assortativity
# ---------------------------------------------------------------------------


def degree_assortativity(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Pearson correlation of endpoint degrees over undirected edges
    (both orientations, the standard Newman 2002 definition).

    Reduced to integer sufficient statistics — n, Σx, Σy, Σx², Σy²,
    Σxy — aggregated exactly (degrees are ints, sums are BIGINTs), so
    the final double expression is bit-identical to any oracle
    computing the same integers.  Returns one row
    (n_endpoints, assortativity)."""
    und = canonical_undirected(edges)
    deg = _und_degrees(und)
    pairs = (
        und.unionByName(
            und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
        )
        .join(deg.withColumnsRenamed({"id": "lo", "deg": "dx"}), "lo")
        .join(deg.withColumnsRenamed({"id": "hi", "deg": "dy"}), "hi")
    )
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").alias("n_endpoints"),
        (num / F.sqrt(denx * deny)).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# link prediction (common neighbors / Jaccard)
# ---------------------------------------------------------------------------


def link_prediction(
    spark: SparkSession,
    edges: DataFrame,
    min_common: int = 2,
    top_k: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Top-k non-adjacent vertex pairs by Jaccard neighbor overlap.

    Wedges are enumerated from each shared neighbor v (adj(v,a) x
    adj(v,b), a < b), counted per pair = |N(a) ∩ N(b)|, existing edges
    anti-joined away, and jaccard = cn / (deg_a + deg_b - cn) — one
    exact-integer division.  Deterministic total order:
    (jaccard DESC, cn DESC, lo, hi), LIMIT top_k.

    ``max_degree`` excludes hubs from the wedge-CENTER role, bounding
    the enumeration at sum(min(deg, max_degree)^2) — at web scale a
    vertex adjacent to half the graph contributes no signal but
    quadratic wedges, so production recommenders cap it.  Capping
    changes semantics (documented; the driver query runs uncapped so
    the oracle is cap-free)."""
    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    deg = _und_degrees(und)
    adj = und.select(
        F.col("lo").alias("v"), F.col("hi").alias("nbr")
    ).unionByName(und.select(F.col("hi").alias("v"), F.col("lo").alias("nbr")))
    if max_degree is not None:
        centers = deg.where(F.col("deg") <= max_degree).select(
            F.col("id").alias("v")
        )
        adj = adj.join(centers, "v", "left_semi")
    a = adj.alias("a")
    b = adj.alias("b")
    cn = (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .where(F.col("a.nbr") < F.col("b.nbr"))
        .groupBy(
            F.col("a.nbr").alias("lo"), F.col("b.nbr").alias("hi")
        )
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    cand = (
        cn.join(und, ["lo", "hi"], "left_anti")
        .where(F.col("cn") >= min_common)
        .join(deg.withColumnsRenamed({"id": "lo", "deg": "dlo"}), "lo")
        .join(deg.withColumnsRenamed({"id": "hi", "deg": "dhi"}), "hi")
        .select(
            "lo",
            "hi",
            "cn",
            (
                F.col("cn").cast("double")
                / (F.col("dlo") + F.col("dhi") - F.col("cn")).cast("double")
            ).alias("jaccard"),
        )
    )
    out = truncate_plan(
        cand.orderBy(
            F.desc("jaccard"), F.desc("cn"), F.asc("lo"), F.asc("hi")
        ).limit(top_k)
    )
    und.unpersist()
    return out


# Fixed-point scale for resource-allocation scores: each shared
# neighbour v contributes the exact integer RA_SCALE div deg(v), so the
# per-pair sum is order-independent and cross-engine identical (the
# float 1/deg sum would depend on reduction order).  12 digits keeps
# the truncation error (< deg/RA_SCALE per term) far below any real
# score gap while the sum of ~1e12-sized longs stays well inside int64
# for any plausible top-k candidate set.
RA_SCALE = 10**12


def link_prediction_ra(
    spark: SparkSession,
    edges: DataFrame,
    min_common: int = 2,
    top_k: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Top-k non-adjacent vertex pairs by the resource-allocation
    index RA(a,b) = sum_{v in N(a) ∩ N(b)} 1/deg(v) (Zhou, Lü &
    Zhang 2009) — the log-free cousin of Adamic–Adar, preferred here
    because 1/deg is exactly representable as a scaled integer while
    1/ln(deg) is not.

    Same wedge enumeration, anti-join, and hub-cap semantics as
    ``link_prediction``; each wedge center v carries the exact long
    ``RA_SCALE div deg(v)``, summed per pair (one map-side-combinable
    hash aggregate), and the ONLY double is the final reported
    ``ra = ra_num / RA_SCALE``.  Ordering is all-integer:
    (ra_num DESC, cn DESC, lo, hi), LIMIT top_k — deterministic."""
    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    deg = _und_degrees(und)
    adj = und.select(
        F.col("lo").alias("v"), F.col("hi").alias("nbr")
    ).unionByName(und.select(F.col("hi").alias("v"), F.col("lo").alias("nbr")))
    if max_degree is not None:
        centers = deg.where(F.col("deg") <= max_degree).select(
            F.col("id").alias("v")
        )
        adj = adj.join(centers, "v", "left_semi")
    # integral divide (Spark `div`), never float division
    adj_w = adj.join(deg.withColumnsRenamed({"id": "v"}), "v").select(
        "v", "nbr", F.expr(f"{RA_SCALE} div deg").alias("ra_unit")
    )
    a = adj_w.alias("a")
    b = adj.alias("b")
    pair = (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .where(F.col("a.nbr") < F.col("b.nbr"))
        .groupBy(F.col("a.nbr").alias("lo"), F.col("b.nbr").alias("hi"))
        .agg(
            F.count(F.lit(1)).alias("cn"),
            F.sum("ra_unit").cast("long").alias("ra_num"),
        )
    )
    cand = (
        pair.join(und, ["lo", "hi"], "left_anti")
        .where(F.col("cn") >= min_common)
        .select(
            "lo", "hi", "cn",
            (F.col("ra_num").cast("double") / F.lit(float(RA_SCALE)))
            .alias("ra"),
            "ra_num",
        )
    )
    out = truncate_plan(
        cand.orderBy(
            F.desc("ra_num"), F.desc("cn"), F.asc("lo"), F.asc("hi")
        )
        .limit(top_k)
        .drop("ra_num")
    )
    und.unpersist()
    return out


def link_prediction_aa(
    spark: SparkSession,
    edges: DataFrame,
    min_common: int = 2,
    top_k: int = 100,
    max_degree: int | None = None,
) -> DataFrame:
    """Top-k non-adjacent vertex pairs by the Adamic–Adar index
    AA(a,b) = sum_{v in N(a) ∩ N(b)} 1/ln(deg(v)) (Adamic & Adar
    2003) — completing the link-prediction family next to Jaccard
    (``link_prediction``) and resource allocation
    (``link_prediction_ra``).

    Cross-engine determinism for the transcendental (the tfidf
    discipline): ln(deg) is ROUNDED TO 6dp FIRST — a 1-ulp libm
    divergence between Spark's Math.log and DuckDB's std::log cannot
    survive 6dp rounding (flip window ~2e-15 against a 5e-7
    boundary) — then ``aa_unit = ROUND(RA_SCALE / ln6(deg))``: one
    correctly-rounded IEEE division of identical doubles followed by
    one half-up round, both bit-identical across engines, yielding an
    exact BIGINT per wedge center.  The per-pair sum is therefore
    order-independent and the ordering all-integer:
    (aa_num DESC, cn DESC, lo, hi), LIMIT top_k — deterministic.

    Wedge centers necessarily have deg >= 2 (they are adjacent to
    both endpoints), so ln(deg) >= ln 2 and the explicit ``deg >= 2``
    filter guards the projection from ever evaluating 1/ln(1) under
    ANSI mode without changing the result.  Same wedge enumeration,
    hub cap, and non-adjacency anti-join as the Jaccard/RA variants;
    one hash aggregate of exact longs, no windows, no UDFs."""
    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    deg = _und_degrees(und)
    adj = und.select(
        F.col("lo").alias("v"), F.col("hi").alias("nbr")
    ).unionByName(und.select(F.col("hi").alias("v"), F.col("lo").alias("nbr")))
    if max_degree is not None:
        centers = deg.where(F.col("deg") <= max_degree).select(
            F.col("id").alias("v")
        )
        adj = adj.join(centers, "v", "left_semi")
    adj_w = (
        adj.join(deg.withColumnsRenamed({"id": "v"}), "v")
        .where(F.col("deg") >= 2)
        .select(
            "v", "nbr",
            F.round(
                F.lit(float(RA_SCALE))
                / F.round(F.log(F.col("deg").cast("double")), 6)
            ).cast("long").alias("aa_unit"),
        )
    )
    b = adj_w.select("v", F.col("nbr").alias("nbr_b")).alias("b")
    a = adj_w.alias("a")
    pair = (
        a.join(b, "v")
        .where(F.col("a.nbr") < F.col("b.nbr_b"))
        .groupBy(F.col("a.nbr").alias("lo"), F.col("b.nbr_b").alias("hi"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(F.col("a.aa_unit")).cast("long").alias("aa_num"),
        )
    )
    cand = (
        pair.join(und, ["lo", "hi"], "left_anti")
        .where(F.col("cn") >= min_common)
        .select(
            "lo", "hi", "cn",
            (F.col("aa_num").cast("double") / F.lit(float(RA_SCALE)))
            .alias("aa"),
            "aa_num",
        )
    )
    out = truncate_plan(
        cand.orderBy(
            F.desc("aa_num"), F.desc("cn"), F.asc("lo"), F.asc("hi")
        )
        .limit(top_k)
        .drop("aa_num")
    )
    und.unpersist()
    return out


# ---------------------------------------------------------------------------
# densest subgraph (greedy peel, 2(1+eps)-approx)
# ---------------------------------------------------------------------------


def densest_subgraph(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 24,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Greedy-peel densest subgraph at eps = 1/2 (3-approximation).

    Round t over survivor set S_t: density rho_t = |E_t| / |S_t|;
    remove EVERY v with deg_t(v) * |S_t| <= 3 * |E_t|  — the eps=1/2
    instance of Bahmani et al.'s deg <= 2(1+eps)·rho cut, cross-
    multiplied into exact integer arithmetic so no FP boundary exists.
    The best (max-density, earliest-on-tie) S_t is returned as
    (id, density, best_round) — one row per member vertex, with the
    scalars repeated for a stable driver-compare schema.

    Each round removes a constant fraction of survivors (vertices at
    or below 1.5x the average degree), so the peel terminates in
    O(log n) rounds; ``max_rounds`` caps the unroll and the oracle
    unrolls the identical schedule, so capped == unrolled exactly.
    Removals are recorded APPEND-ONLY as (id, removal round) — the
    best round's membership is recovered afterwards as
    {removed_round >= best_t} ∪ {never removed}, avoiding any growing
    per-round union in the loop (the SCC labeling trick).

    Not a plans/program.py VertexProgram: round t's cut needs |E_t|,
    a sum over that same round's inbox, while the barrier publishes
    aggregates only after the round ends.
    """
    run = PregelRun(spark, "densest_subgraph")
    und = canonical_undirected(edges)
    if edge_partitions:
        und = und.repartition(edge_partitions, "lo")
    und = und.persist(StorageLevel.MEMORY_AND_DISK)

    removed_batches: list[DataFrame] = []  # (id, round) — append-only
    cur = und
    # Explicit survivor VERTEX set: a survivor isolated by its
    # neighbors' removal has deg 0, satisfies the cut trivially, and
    # is removed (and recorded) the next round — without this, its
    # disappearance from the edge endpoints would leave a hole in the
    # removal log and corrupt best-round membership recovery.
    verts = truncate_plan(_und_degrees(und).select("id"))
    stats: list[tuple[int, int, int]] = []  # (round, |S|, |E|)
    for t in range(max_rounds):
        n_verts = verts.count()
        if n_verts == 0:
            break
        n_edges = cur.count()
        stats.append((t, n_verts, n_edges))
        run.record(round=t, vertices=n_verts, edges=n_edges)
        deg = verts.join(_und_degrees(cur), "id", "left_outer").select(
            "id", F.coalesce("deg", F.lit(0)).alias("deg")
        )
        # integer cut: deg * |S| <= 3 * |E|  (eps = 1/2)
        out_now = truncate_plan(
            deg.where(
                F.col("deg") * F.lit(n_verts) <= F.lit(3) * F.lit(n_edges)
            ).select("id", F.lit(t).alias("removed_round"))
        )
        removed_batches.append(out_now)
        verts = truncate_plan(
            verts.join(out_now, "id", "left_anti").select("id")
        )
        cur = truncate_plan(
            cur.join(out_now.select(F.col("id").alias("lo")), "lo", "left_anti")
            .join(out_now.select(F.col("id").alias("hi")), "hi", "left_anti")
            .select("lo", "hi")
        )

    if not stats:  # edgeless input: no subgraph to report (empty, but
        # with the id type of the input edge columns)
        empty = _und_degrees(und).select(
            "id",
            F.lit(0.0).alias("density"),
            F.lit(0).cast("long").alias("best_round"),
        )
        und.unpersist()
        return empty, run
    # best round: max density, earliest on exact-integer tie
    # (cross-multiplied compare — no FP in the argmax).
    best_t, best_v, best_e = stats[0]
    for t, v, e in stats[1:]:
        if e * best_v > best_e * v:  # e/v > best_e/best_v
            best_t, best_v, best_e = t, v, e
    density = best_e / best_v
    run.record(phase="best", round=best_t, vertices=best_v, edges=best_e,
               density=density)

    all_verts = _und_degrees(und).select("id")
    if removed_batches:
        removed = removed_batches[0]
        for b in removed_batches[1:]:
            removed = removed.unionByName(b)
        members = all_verts.join(removed, "id", "left_outer").where(
            F.col("removed_round").isNull()
            | (F.col("removed_round") >= best_t)
        ).select("id")
    else:
        members = all_verts
    out = truncate_plan(
        members.select(
            "id",
            F.lit(density).alias("density"),
            F.lit(best_t).cast("long").alias("best_round"),
        )
    )
    und.unpersist()
    return out, run


def avg_neighbor_degree(
    spark: SparkSession, edges: DataFrame
) -> DataFrame:
    """The degree-correlation profile knn(k) (Pastor-Satorras et al.
    2001): for each degree class k, the mean degree of the neighbors
    of degree-k vertices.  Per class the numerator Σ_{v: deg v = k} W(v)
    (W = sum of neighbor degrees) and the denominator k·n_k are exact
    longs; knn is ONE division — the no-FP-in-the-aggregate discipline.

    Returns (deg, n_vertices, sum_neighbor_deg, knn).  One degree join
    over the symmetric adjacency + two hash aggregates — scales."""
    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    deg = _und_degrees(und)
    both = und.unionByName(
        und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    )
    w = (
        both.join(deg.withColumnsRenamed({"id": "hi", "deg": "dn"}), "hi")
        .groupBy(F.col("lo").alias("id"))
        .agg(F.sum("dn").cast("long").alias("w"))
    )
    out = truncate_plan(
        deg.join(w, "id")
        .groupBy("deg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vertices"),
            F.sum("w").cast("long").alias("sum_neighbor_deg"),
        )
        .select(
            "deg", "n_vertices", "sum_neighbor_deg",
            F.round(
                F.col("sum_neighbor_deg").cast("double")
                / (F.col("deg") * F.col("n_vertices")).cast("double"),
                9,
            ).alias("knn"),
        )
    )
    und.unpersist()
    return out


def edge_embeddedness(
    spark: SparkSession,
    edges: DataFrame,
    top_k: int = 100,
) -> DataFrame:
    """Top-k edges by embeddedness = |N(lo) ∩ N(hi)| (the edge's
    triangle support — Granovetter-style tie strength; 0-support
    edges are bridges).  Exact integers, all-integer ordering
    (cn DESC, lo, hi) ⇒ deterministic LIMIT.

    One wedge join over the degree-oriented DAG (each common neighbor
    found once from its lower-rank corner), then counts keyed by the
    CLOSING edge — the same hub-bounded shape as the triangle kernel."""
    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    adj = und.select(
        F.col("lo").alias("v"), F.col("hi").alias("nbr")
    ).unionByName(und.select(F.col("hi").alias("v"), F.col("lo").alias("nbr")))
    a, b = adj.alias("a"), adj.alias("b")
    # common neighbor v of the pair (a.nbr < b.nbr); keep only pairs
    # that ARE edges (semi join) — support per existing edge
    pair_cn = (
        a.join(b, F.col("a.v") == F.col("b.v"))
        .where(F.col("a.nbr") < F.col("b.nbr"))
        .groupBy(F.col("a.nbr").alias("lo"), F.col("b.nbr").alias("hi"))
        .agg(F.count(F.lit(1)).cast("long").alias("cn"))
        .join(und, ["lo", "hi"], "left_semi")
    )
    out = truncate_plan(
        und.join(pair_cn, ["lo", "hi"], "left_outer")
        .select(
            "lo", "hi", F.coalesce("cn", F.lit(0)).cast("long").alias("cn")
        )
        .orderBy(F.desc("cn"), F.asc("lo"), F.asc("hi"))
        .limit(top_k)
    )
    und.unpersist()
    return out


def rich_club(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Rich-club profile phi(k) (Colizza-Flammini-Serrano-Vespignani
    2006): for each evaluation degree k, over the subgraph induced by
    vertices with deg > k — member count, internal edge count, and
    phi = 2·E_k / (n_k·(n_k − 1)).  Evaluation points are the degree
    values PRESENT (where membership actually changes); rows kept
    where n_k ≥ 2.  phi is ONE rounded division of exact longs.

    Execution shape (design-for-100×): the edge list reduces to TWO
    histograms — vertex count per degree and edge count per
    min-endpoint degree (one degree join, map-side-combinable) — and
    every phi(k) is a SUFFIX SUM over the merged histogram, computed
    with one unpartitioned window over a table bounded by the number
    of DISTINCT degrees (≤ max degree ≪ |V|; the one tiny-by-
    construction single-task window this module allows itself)."""
    und = canonical_undirected(edges).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        deg = _und_degrees(und)
        vh = deg.groupBy(F.col("deg").alias("k")).agg(
            F.count(F.lit(1)).cast("long").alias("n_at")
        )
        eh = (
            und.join(deg.withColumnsRenamed({"id": "lo", "deg": "dlo"}), "lo")
            .join(deg.withColumnsRenamed({"id": "hi", "deg": "dhi"}), "hi")
            .groupBy(F.least("dlo", "dhi").alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("e_at"))
        )
        # min-endpoint degrees are vertex degrees, so eh keys ⊆ vh keys
        merged = vh.join(eh, "k", "left_outer").select(
            "k", "n_at", F.coalesce("e_at", F.lit(0)).alias("e_at")
        )
        from pyspark.sql import Window

        w = Window.orderBy(F.desc("k")).rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        out = truncate_plan(
            merged.select(
                "k",
                (F.sum("n_at").over(w) - F.col("n_at")).alias("n_rich"),
                (F.sum("e_at").over(w) - F.col("e_at")).alias("rich_edges"),
            )
            .where(F.col("n_rich") >= 2)
            .select(
                "k", "n_rich", "rich_edges",
                F.round(
                    (2 * F.col("rich_edges")).cast("double")
                    / (F.col("n_rich") * (F.col("n_rich") - 1)).cast("double"),
                    9,
                ).alias("phi"),
            )
        )
    finally:
        und.unpersist()
    return out


def weighted_clustering(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Barrat et al. 2004 weighted local clustering coefficient:
    cw(v) = 1/(s_v·(k_v − 1)) · Σ_{ORDERED neighbor pairs (j,h)}
    (w_vj + w_vh)/2 · [triangle] — the ordered-pair sum is what makes
    uniform weights collapse to the plain lcc (pinned by test).  Per
    UNORDERED triangle (v,a,b) that is exactly (w_va + w_vb), so the
    numerator num2 = Σ_triangles (w_va + w_vb) is an exact long and
    cw = num2 / (s_v·(k_v − 1)) is ONE rounded division; cw = 0.0
    when k < 2 (the lcc convention).  Weights integer-valued;
    parallel edges' weights SUMMED.

    Execution shape (design-for-100×): the same degree-oriented wedge
    join as A4/A24 — each triangle enumerated once from its
    lowest-rank corner with all three edge weights carried, then one
    3-way corner union + hash aggregate.  The closing-edge probe is an
    equi-join (not semi) because w_ab is needed."""
    src, dst = edges.columns[0], edges.columns[1]
    wcol = edges.columns[2]
    und = (
        edges.select(
            F.least(src, dst).alias("lo"),
            F.greatest(src, dst).alias("hi"),
            F.col(wcol).cast("long").alias("w"),
        )
        .where(F.col("lo") != F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.sum("w").alias("w"))
    )
    deg = (
        und.select(F.col("lo").alias("id"), "w")
        .unionByName(und.select(F.col("hi").alias("id"), "w"))
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("w").cast("long").alias("s"),
        )
    )
    e = (
        und.join(deg.select(F.col("id").alias("lo"),
                            F.col("k").alias("deg_lo")), "lo")
        .join(deg.select(F.col("id").alias("hi"),
                         F.col("k").alias("deg_hi")), "hi")
    )
    lo_first = (F.col("deg_lo") < F.col("deg_hi")) | (
        (F.col("deg_lo") == F.col("deg_hi")) & (F.col("lo") < F.col("hi"))
    )
    oriented = e.select(
        F.when(lo_first, F.col("lo")).otherwise(F.col("hi")).alias("u"),
        F.when(lo_first, F.col("hi")).otherwise(F.col("lo")).alias("v"),
        F.when(lo_first, F.col("deg_hi")).otherwise(F.col("deg_lo"))
        .alias("deg_v"),
        "w",
    ).persist(StorageLevel.MEMORY_AND_DISK)
    oriented.count()
    try:
        a, b = oriented.alias("a"), oriented.alias("b")
        wedges = a.join(b, F.col("a.u") == F.col("b.u")).where(
            (F.col("a.deg_v") < F.col("b.deg_v"))
            | ((F.col("a.deg_v") == F.col("b.deg_v"))
               & (F.col("a.v") < F.col("b.v")))
        ).select(
            F.col("a.u").alias("u"), F.col("a.v").alias("v"),
            F.col("b.v").alias("x"),
            F.col("a.w").alias("w1"), F.col("b.w").alias("w2"),
        )
        closing = oriented.select(
            F.col("u").alias("v"), F.col("v").alias("x"),
            F.col("w").alias("w3"),
        )
        tri = wedges.join(closing, ["v", "x"])
        corners = (
            tri.select(F.col("u").alias("id"),
                       (F.col("w1") + F.col("w2")).alias("c"))
            .unionByName(tri.select(F.col("v").alias("id"),
                                    (F.col("w1") + F.col("w3")).alias("c")))
            .unionByName(tri.select(F.col("x").alias("id"),
                                    (F.col("w2") + F.col("w3")).alias("c")))
            .groupBy("id")
            .agg(F.sum("c").cast("long").alias("num2"))
        )
        out = truncate_plan(
            deg.join(corners, "id", "left_outer")
            .select(
                "id", "k", "s",
                F.coalesce("num2", F.lit(0)).cast("long").alias("num2"),
            )
            .withColumn(
                "cw",
                F.when(
                    F.col("k") >= 2,
                    F.round(
                        F.col("num2").cast("double")
                        / (F.col("s") * (F.col("k") - 1)).cast("double"),
                        9,
                    ),
                ).otherwise(F.lit(0.0)),
            )
        )
    finally:
        oriented.unpersist()
    return out


HILL_SCALE = 10**6


def hill_alpha(deg: DataFrame, dmin: int = 2) -> DataFrame:
    """Hill MLE of the power-law tail exponent of a degree
    distribution (Hill 1975; the discrete approximation of
    Clauset-Shalizi-Newman 2009 eq. 3.7):

        alpha_hat = 1 + n_tail / sum_{d >= dmin} ln(d / dmin)

    This is the number that justifies the engine's skew machinery —
    an alpha near 2 means the S1 salting hot-list and the hub caps
    (A15/A27/A29) are load-bearing, not defensive.  Input is any
    DataFrame with a ``degree`` column (one row per vertex), e.g. the
    ``degree_histogram`` substrate before histogramming.

    Pinned semantics (cross-engine determinism, the source_kl
    discipline): per tail vertex the one libm ln sees the
    bit-identical double degree/dmin and is snapped to an exact
    BIGINT micro-nat BEFORE summation, so the sum is
    order-independent; alpha spends ONE division of two
    exactly-representable quantities, then a 9dp round.  A degenerate
    tail (every tail degree == dmin, sum == 0 — the MLE diverges) or
    an empty tail reports NULL alpha in both engines.

    Shape (design-for-100x): one filter + two hash aggregates over
    the |V|-row degree table (itself a map-side-combinable aggregate
    of the edge list); the two 1-row aggregates broadcast-join.
    Returns one row (dmin, n_vertices, n_tail, tail_share, alpha).
    """
    if dmin < 1:
        raise ValueError("dmin must be >= 1")
    lr_micro = F.round(
        F.log(F.col("degree").cast("double") / F.lit(float(dmin)))
        * HILL_SCALE
    ).cast("long")
    tail = deg.where(F.col("degree") >= dmin).select(lr_micro.alias("lr"))
    tot = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    agg = tail.agg(
        F.count(F.lit(1)).cast("long").alias("n_tail"),
        F.sum("lr").cast("long").alias("sum_micro"),
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        F.lit(dmin).cast("long").alias("dmin"),
        "n_vertices",
        "n_tail",
        F.round(
            F.col("n_tail").cast("double")
            / F.col("n_vertices").cast("double"),
            9,
        ).alias("tail_share"),
        F.when(
            F.col("sum_micro") > 0,
            F.round(
                F.lit(1.0)
                + (F.col("n_tail").cast("double") * HILL_SCALE)
                / F.col("sum_micro").cast("double"),
                9,
            ),
        ).alias("alpha"),
    )


# ---------------------------------------------------------------------------
# categorical (attribute) assortativity and partitioner cut quality
# ---------------------------------------------------------------------------


def attribute_assortativity(
    spark: SparkSession, edges: DataFrame, labels: DataFrame
) -> DataFrame:
    """Newman's categorical assortativity coefficient (Newman, "Mixing
    patterns in networks", PRE 2003 eq. 2): given a vertex attribute
    (``labels``: (id, label)), r = (Tr e − Σᵢ aᵢbᵢ)/(1 − Σᵢ aᵢbᵢ) over
    the class mixing matrix e — do same-class vertices link to each
    other more (r>0) or less (r<0) than degree-preserving chance?  The
    diagnostic a pipeline reads before deciding whether an attribute
    (brand, source, language, community) is a useful partitioning or
    stratification key.

    Exact-integer formulation (undirected, each edge counted in both
    directions so e is symmetric and aᵢ = bᵢ):
    with m = |E|, T = 2·(same-class edges), stubsᵢ = class i's
    endpoint count (degree mass), r = (2m·T − Σstubsᵢ²) / ((2m)² −
    Σstubsᵢ²).  Numerator and denominator are EXACT integers widened
    to decimal(38,0) — Σstubs² reaches (2m)² ≈ 4·10²⁴ at m = 10¹²,
    past int64 (the molloy_reed widening) — and r is ONE double
    division of the two, bit-identical cross-engine.

    Shape (design-for-100x): two label-broadcast joins over the edge
    list (labels is #vertices rows but only (id, label) wide; AQE
    promotes when it fits, else a shuffle join on id), then ONE
    map-side-combinable aggregate to (n_classes, m, same, Σstubs²) —
    the edge list is never shuffled on a skewed key.  Returns one row
    (n_classes, m_edges, same_edges, r).
    """
    und = canonical_undirected(edges)
    lab_lo = labels.select(F.col("id").alias("lo"), F.col("label").alias("la"))
    lab_hi = labels.select(F.col("id").alias("hi"), F.col("label").alias("lb"))
    tagged = und.join(lab_lo, "lo").join(lab_hi, "hi")
    # per-class endpoint (stub) counts: each edge contributes one stub
    # to each endpoint's class
    stubs = (
        tagged.select(F.col("la").alias("label"))
        .unionAll(tagged.select(F.col("lb").alias("label")))
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("stubs"))
    )
    sums = stubs.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum(F.col("stubs") * F.col("stubs")).cast("decimal(38,0)")
        .alias("s2"),
    )
    base = tagged.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
        .cast("long").alias("same_edges"),
    )
    out = base.crossJoin(F.broadcast(sums))
    two_m = F.col("m_edges").cast("decimal(38,0)") * 2
    t = F.col("same_edges").cast("decimal(38,0)") * 2
    num = (two_m * t - F.col("s2")).cast("double")
    den = (two_m * two_m - F.col("s2")).cast("double")
    # single-class graph: den = 0 (r is undefined) — emit NULL in both
    # engines rather than Spark-NULL-vs-DuckDB-NaN on a 0/0
    return out.select(
        "n_classes", "m_edges", "same_edges",
        F.when(den != 0, F.round(num / den, 9)).alias("r"),
    )


def partition_cut(
    spark: SparkSession,
    edges: DataFrame,
    n_partitions: tuple[int, ...] = (8, 32, 128),
) -> DataFrame:
    """Edge-cut profile of the engine's hash partitioner (P7): for
    each candidate partition count P, the fraction of undirected edges
    whose endpoints land in different partitions under the pinned
    md5-uniform vertex hash — every cut edge is one message that
    crosses executors per superstep, so this table IS the scatter
    stage's network bill, read before sizing a cluster or choosing
    P for bucketing.  ``random_expect`` = 1 − 1/P is the uniform-hash
    expectation; a structure-aware assignment (community labels,
    range-bucketed ids) beats it, a uniform hash converges to it from
    below — the gap quantifies how much locality a smarter
    partitioner could still win.

    Pinned hash (cross-engine): pid = (first 12 md5 hex chars of the
    id string, parsed base-16) mod P — the sampling stack's 48-bit
    md5-uniform (functions/sampling.py), never Spark's internal
    murmur (DuckDB cannot reproduce it).

    Shape (design-for-100x): ONE scan of the canonical edge list
    computing both endpoint hashes as codegen expressions, one
    map-side-combinable aggregate emitting every P's cut count in the
    same pass (no per-P rescan), then an O(|P|)-row unpivot.  Returns
    (n_partitions, n_edges, cut_edges, cut_ratio, random_expect).
    """
    und = canonical_undirected(edges)

    def pid(col: str) -> F.Column:
        h12 = F.substring(F.md5(F.col(col).cast("string")), 1, 12)
        return F.conv(h12, 16, 10).cast("long")

    hashed = und.select(pid("lo").alias("hlo"), pid("hi").alias("hhi"))
    aggs = [F.count(F.lit(1)).cast("long").alias("m")]
    for p in n_partitions:
        aggs.append(
            F.sum(
                F.when(F.col("hlo") % p != F.col("hhi") % p, 1).otherwise(0)
            ).cast("long").alias(f"cut_{p}")
        )
    one = hashed.agg(*aggs)
    stack_args = ", ".join(
        f"{p}, cut_{p}" for p in n_partitions
    )
    rows = one.selectExpr(
        "m",
        f"stack({len(n_partitions)}, {stack_args}) "
        "AS (n_partitions, cut_edges)",
    )
    return rows.select(
        F.col("n_partitions").cast("int").alias("n_partitions"),
        F.col("m").alias("n_edges"),
        "cut_edges",
        F.round(
            F.col("cut_edges").cast("double") / F.col("m").cast("double"), 9
        ).alias("cut_ratio"),
        F.round(
            F.lit(1.0) - F.lit(1.0) / F.col("n_partitions").cast("double"), 9
        ).alias("random_expect"),
    )
