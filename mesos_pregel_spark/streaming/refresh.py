"""Streaming → Pregel refresh glue: re-rank a link graph after a
streaming micro-batch lands new edges, WARM-STARTED from the previous
converged state.

Why this exists: the streaming side (streaming/edges.py,
streaming/stateful.py) maintains an incrementally-updated edge table;
the batch side (plans/program.py) runs fixpoints from scratch.  On a
small edge delta the previous converged PageRank vector is already
within ~delta of the new fixpoint, so initializing from it converges
in a fraction of the cold supersteps when the tolerance sits above the
perturbation scale — the production regime for per-micro-batch deltas
on a large graph (pytest-pinned in tests/test_streaming_refresh.py:
warm first-step max_delta 3.6e-4 vs cold 4.1e-2 on a 1-edge delta to
a 500-vertex graph; at tolerances far below the perturbation both
runs grind the same spectral tail and warm saves only its head
start).  The damped power iteration has a UNIQUE fixpoint, so warm
and cold runs agree to the convergence tolerance — warm-starting
changes cost, not the answer.

Scale shape: the warm init is ONE left join of the fresh vertex set
against the previous rank table (both id-keyed), then the standard
superstep loop; nothing else changes, so all engine machinery
(fixed partitioning, lineage truncation, checkpointing) applies
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.pagerank import pagerank_program
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.truncate import truncate_plan
from mesos_pregel_spark.plans.program import pregel


def warm_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    prev_ranks: DataFrame | None,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_supersteps: int = 100,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """PageRank on ``edges`` initialized from ``prev_ranks``
    (id, pagerank) where available; vertices new since the previous run
    start at the cold 1/N.  ``prev_ranks=None`` degrades to a cold run.
    Returns (ranks(id, pagerank), run)."""
    program = pagerank_program(damping=damping, tol=tol)
    if prev_ranks is not None:
        base_init = program.init
        prev = prev_ranks.select(
            "id", F.col("pagerank").alias("warm_pr")
        )

        def init(e: DataFrame, ctx: dict) -> DataFrame:
            state = base_init(e, ctx)  # (id, outdeg, pr=1/N)
            return state.join(prev, "id", "left_outer").select(
                "id", "outdeg",
                F.coalesce("warm_pr", F.col("pr")).alias("pr"),
            )

        program.init = init
    return pregel(
        spark, edges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )


def warm_connected_components(
    spark: SparkSession,
    edges: DataFrame,
    prev_labels: DataFrame | None,
    delta_edges: DataFrame | None = None,
    **kwargs,
) -> tuple[DataFrame, PregelRun]:
    """Hash-min CC over ``edges`` warm-started from ``prev_labels``
    (id, component) of an earlier run on a subgraph (additions-only —
    see algos/cc.py::connected_components).  ``delta_edges`` (the new
    edges since the previous run) shrinks the initial frontier to the
    delta's endpoints; labels are EXACTLY the cold run's (min-label CC
    is monotone under additions), supersteps scale with the quotient
    graph of old components instead of the raw diameter."""
    from mesos_pregel_spark.algos.cc import connected_components

    return connected_components(
        spark, edges, prev_labels=prev_labels, delta_edges=delta_edges,
        **kwargs,
    )


def refresh_dedup_clusters(
    spark: SparkSession,
    prev_clusters: DataFrame,
    new_pairs: DataFrame,
    **kwargs,
) -> tuple[DataFrame, PregelRun]:
    """Incremental dedup-cluster maintenance: fold a micro-batch of
    newly verified near-dup pairs (doc_a, doc_b) into an existing
    cluster assignment (doc_id, cluster, keep) WITHOUT re-running CC
    over all historical pairs.

    The old pair set is replaced by its connectivity QUOTIENT: each
    previous cluster contributes star edges (doc_id → cluster); a pair
    of old docs is connected through the star exactly when it was
    connected through the old pairs, and the cluster label is itself
    the old component minimum, so min-label CC over (stars ∪ new
    pairs), warm-seeded from the old assignment with the new pairs as
    the delta frontier, yields exactly the clusters a full re-run over
    (old pairs ∪ new pairs) would (pytest-pinned equivalence in
    tests/test_warm_cc.py).  Old singleton keepers untouched by the
    delta never enter the edge set and are passed through unchanged.

    Returns ((doc_id, cluster, keep), run) in the same shape as the
    batch ``dedup_clusters`` driver query."""
    prev = prev_clusters.select("doc_id", "cluster")
    star = prev.where(F.col("doc_id") != F.col("cluster")).select(
        F.col("doc_id").alias("src"),
        F.col("cluster").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    delta = new_pairs.select(
        F.col("doc_a").alias("src"),
        F.col("doc_b").alias("dst"),
        F.lit(1.0).alias("weight"),
    )
    edges = star.unionByName(delta)
    comps, run = warm_connected_components(
        spark, edges,
        prev_labels=prev.select(
            F.col("doc_id").alias("id"), F.col("cluster").alias("component")
        ),
        delta_edges=delta,
        **kwargs,
    )
    out = comps.select(
        F.col("id").alias("doc_id"), F.col("component").alias("cluster")
    )
    # previous singleton clusters (doc == cluster, no star edge) that no
    # new pair touched are not edge endpoints — carry them through
    untouched = (
        prev.where(F.col("doc_id") == F.col("cluster"))
        .join(out.select("doc_id"), "doc_id", "left_anti")
    )
    merged = out.unionByName(untouched)
    return (
        merged.select(
            "doc_id", "cluster",
            (F.col("doc_id") == F.col("cluster")).alias("keep"),
        ),
        run,
    )


def refresh_dedup_pipeline(
    spark: SparkSession,
    old_docs: DataFrame,
    new_docs: DataFrame,
    prev_clusters: DataFrame,
    old_index: DataFrame | None = None,
    jaccard_min: float = 0.8,
    **kwargs,
) -> tuple[DataFrame, DataFrame, PregelRun]:
    """The full incremental dedup cadence for one document micro-batch:
    LSH-block the new docs against the historical band index, verify
    Jaccard only for new-involving candidate pairs
    (functions.dedup.incremental_near_duplicates), then fold the
    verified pairs into the previous cluster assignment through the
    star-quotient warm CC (refresh_dedup_clusters).  Returns
    ``(clusters, new_index, run)`` — persist ``new_index`` and the
    clusters for the next batch.  Equals the batch composition
    (near_duplicates(full corpus) → CC → min-label keeper) exactly;
    per-batch cost is independent of historical pair count and never
    re-signatures the historical corpus (pytest-pinned in
    tests/test_streaming_refresh.py)."""
    from mesos_pregel_spark.functions.dedup import (
        incremental_near_duplicates,
        release_dedup_caches,
    )

    pairs, new_index = incremental_near_duplicates(
        old_docs, new_docs, old_index=old_index,
    )
    # truncate_plan: refresh state chains across micro-batches in a
    # long-lived driver, the estimated-stats compounding shape
    # (plans/truncate.py)
    new_pairs = truncate_plan(
        pairs.where(F.col("jaccard") >= jaccard_min)
        .select("doc_a", "doc_b")
    )
    new_index = truncate_plan(new_index)
    release_dedup_caches()
    clusters, run = refresh_dedup_clusters(
        spark, prev_clusters, new_pairs, **kwargs,
    )
    return clusters, new_index, run


def refresh_pagerank_from_stream(
    spark: SparkSession,
    transitions_dir: str,
    prev_ranks: DataFrame | None,
    **kwargs,
) -> tuple[DataFrame, PregelRun]:
    """End-to-end refresh: consolidate the stateful linker's appended
    transitions (streaming/stateful.py) into the current edge snapshot,
    assign stable ids (X6), and warm-start PageRank from the previous
    converged ranks.  Call after each micro-batch lands (or on a
    cadence); feed the returned ranks back in as ``prev_ranks`` next
    time."""
    from mesos_pregel_spark.functions.edges import edges_with_ids
    from mesos_pregel_spark.streaming.stateful import stateful_edges_snapshot

    snapshot = stateful_edges_snapshot(spark, transitions_dir)
    return warm_pagerank(spark, edges_with_ids(snapshot), prev_ranks, **kwargs)


def warm_lpa(
    spark: SparkSession,
    edges: DataFrame,
    prev_labels: DataFrame | None,
    **kwargs,
) -> tuple[DataFrame, PregelRun]:
    """Sync-LPA over ``edges`` warm-started from ``prev_labels``
    (id, label) of an earlier snapshot (r4 verdict task #5).  The
    transition rule is byte-identical to the cold run (algos/lpa.py);
    only the init differs, so when the previous communities are still
    a fixpoint of the refreshed graph the run verifies them in ONE
    superstep instead of re-propagating from singletons — the
    micro-batch refresh regime.  ``prev_labels=None`` degrades to a
    cold run."""
    from mesos_pregel_spark.algos.lpa import label_propagation

    return label_propagation(
        spark, edges, prev_labels=prev_labels, **kwargs,
    )


# ---------------------------------------------------------------------------
# incremental degree assortativity (r4 verdict task #5)
# ---------------------------------------------------------------------------
#
# Newman degree assortativity reduces to sums over DIRECTED edge
# endpoints: with und the canonical edge set, deg(u) the distinct-
# neighbor degree and W(u) = sum_{v in N(u)} deg(v),
#
#   n   = sum_u deg(u)          sx = sy  = sum_u deg(u)^2
#   sxx = syy = sum_u deg(u)^3  sxy      = sum_u deg(u) * W(u)
#
# so the VERTEX table (id, deg, w) is a complete sufficient-statistics
# state: the final stats are one |V|-row aggregate, never an edge
# scan.  Under an edge delta only deg/w of affected vertices move:
#
#   W_new(u) = W_old(u) + sum_{v in N_old(u)} ddeg(v)
#              + sum_{v in N_add(u)} deg_new(v)
#              - sum_{v in N_rem(u)} deg_new(v)
#
# (exact integer updates).  The only touch of the historical edge set
# is the N_old lookup for delta endpoints — a BROADCAST-filtered scan
# (no shuffle of E; at lake scale a layout bucketed by endpoint prunes
# it further); everything else is delta-sized.


def assortativity_state(spark: SparkSession, edges: DataFrame) -> dict:
    """Build the incremental state from scratch: the canonical edge
    set and the per-vertex sufficient statistics (id, deg, w)."""
    from mesos_pregel_spark.algos.structure import _und_degrees
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    und = truncate_plan(canonical_undirected(edges))
    deg = _und_degrees(und)
    both = und.unionByName(
        und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    )
    w = (
        both.join(deg.withColumnsRenamed({"id": "hi", "deg": "dn"}), "hi")
        .groupBy(F.col("lo").alias("id"))
        .agg(F.sum("dn").alias("w"))
    )
    verts = truncate_plan(
        deg.join(w, "id", "left_outer")
        .select("id", "deg", F.coalesce("w", F.lit(0)).cast("long").alias("w"))
    )
    return {"und": und, "verts": verts}


def assortativity_from_state(state: dict) -> DataFrame:
    """(n_endpoints, assortativity) from the vertex sufficient
    statistics — identical double expression to the batch
    degree_assortativity (same exact integers in, same one final
    float expression out)."""
    s = state["verts"].agg(
        F.sum("deg").alias("n"),
        F.sum(F.col("deg") * F.col("deg")).alias("sx"),
        F.sum(F.col("deg") * F.col("deg") * F.col("deg")).alias("sxx"),
        F.sum(F.col("deg") * F.col("w")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return s.select(
        F.col("n").alias("n_endpoints"),
        (num / F.sqrt(den * den)).alias("assortativity"),
    )


def assortativity_apply_delta(
    spark: SparkSession,
    state: dict,
    add_edges: DataFrame | None = None,
    remove_edges: DataFrame | None = None,
) -> dict:
    """Fold an edge delta into the sufficient statistics.  ``add`` /
    ``remove`` are (src, dst[, weight]) tables; additions already
    present and removals not present are ignored (canonical-set
    semantics).  Returns the refreshed state; equals
    assortativity_state(spark, new_full_edge_set) exactly
    (pytest-pinned)."""
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    und, verts = state["und"], state["verts"]
    # type-safe empty delta: an empty slice of the state's own edge set
    zero = und.limit(0)
    add = truncate_plan(
        canonical_undirected(add_edges).join(und, ["lo", "hi"], "left_anti")
        if add_edges is not None else zero
    )
    rem = truncate_plan(
        canonical_undirected(remove_edges).join(und, ["lo", "hi"], "left_semi")
        if remove_edges is not None else zero
    )

    def endpoints(df, sign):
        return (
            df.select(F.col("lo").alias("id"))
            .unionByName(df.select(F.col("hi").alias("id")))
            .groupBy("id").agg((F.lit(sign) * F.count(F.lit(1))).alias("dd"))
        )

    ddeg = truncate_plan(
        endpoints(add, 1).unionByName(endpoints(rem, -1))
        .groupBy("id").agg(F.sum("dd").alias("ddeg"))
    )
    new_deg = (
        verts.select("id", "deg").join(ddeg, "id", "full_outer")
        .select(
            "id",
            (F.coalesce("deg", F.lit(0)) + F.coalesce("ddeg", F.lit(0)))
            .cast("long").alias("deg"),
        )
    )
    # N_old lookup for delta endpoints: broadcast-filtered scan of the
    # historical edge set — the ONLY full-E touch in the update
    both_old = und.unionByName(
        und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    )
    w_from_old = (
        both_old.join(
            F.broadcast(ddeg.withColumnsRenamed({"id": "hi", "ddeg": "dd"})),
            "hi",
        )
        .groupBy(F.col("lo").alias("id"))
        .agg(F.sum("dd").alias("dw"))
    )

    def w_from_delta(df, sign):
        both = df.unionByName(
            df.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
        )
        return (
            both.join(new_deg.withColumnsRenamed({"id": "hi", "deg": "dn"}),
                      "hi")
            .groupBy(F.col("lo").alias("id"))
            .agg((F.lit(sign) * F.sum("dn")).alias("dw"))
        )

    dw = (
        w_from_old
        .unionByName(w_from_delta(add, 1))
        .unionByName(w_from_delta(rem, -1))
        .groupBy("id").agg(F.sum("dw").alias("dw"))
    )
    new_w = (
        verts.select("id", "w").join(dw, "id", "full_outer")
        .select(
            "id",
            (F.coalesce("w", F.lit(0)) + F.coalesce("dw", F.lit(0)))
            .cast("long").alias("w"),
        )
    )
    new_verts = truncate_plan(
        new_deg.join(new_w, "id", "left_outer")
        .select("id", "deg", F.coalesce("w", F.lit(0)).cast("long").alias("w"))
        .where(F.col("deg") > 0)
    )
    new_und = truncate_plan(
        und.join(rem, ["lo", "hi"], "left_anti").unionByName(add)
    )
    return {"und": new_und, "verts": new_verts}


# ---------------------------------------------------------------------------
# incremental transitivity: triangles + wedges under edge deltas (r5)
# ---------------------------------------------------------------------------
#
# wedges = sum_u deg(u)(deg(u)-1)/2 is a pure function of the degree
# table (maintained exactly as in assortativity).  Triangles update by
# delta-local enumeration: T(G_new) = T(G_old) - |tri(G_old) touching
# a removed edge| + |tri(G_new) touching an added edge|, each counted
# as DISTINCT canonical vertex triples so a triangle with 2-3 delta
# edges counts once (the ktruss _apply_removals dedup discipline).
# Each enumeration is two broadcast-filtered adjacency probes per
# delta edge — no shuffle of the historical edge set.


def _tri_touching(delta: DataFrame, und: DataFrame) -> int:
    """Distinct triangles of the graph ``und`` (canonical lo<hi edge
    set) that contain at least one ``delta`` edge (delta ⊆ und)."""
    both = und.unionByName(
        und.select(F.col("hi").alias("lo"), F.col("lo").alias("hi"))
    ).withColumnsRenamed({"lo": "v", "hi": "nbr"})
    d = F.broadcast(delta)
    n_lo = both.join(d.withColumnsRenamed({"lo": "v"}), "v").select(
        F.col("v").alias("a"), F.col("hi").alias("b"), F.col("nbr").alias("w")
    )
    n_hi = both.join(d.withColumnsRenamed({"hi": "v"}), "v").select(
        F.col("lo").alias("a"), F.col("v").alias("b"), F.col("nbr").alias("w")
    )
    closing = n_lo.join(n_hi, ["a", "b", "w"], "inner").where(
        (F.col("w") != F.col("a")) & (F.col("w") != F.col("b"))
    )
    triples = closing.select(
        F.least("a", "b", "w").alias("x"),
        F.expr(
            "CASE WHEN (a > b AND a < w) OR (a > w AND a < b) THEN a "
            "WHEN (b > a AND b < w) OR (b > w AND b < a) THEN b "
            "ELSE w END"
        ).alias("y"),
        F.greatest("a", "b", "w").alias("z"),
    ).distinct()
    return triples.count()


def transitivity_state(spark: SparkSession, edges: DataFrame) -> dict:
    """Initial state: canonical edge set, degree table, exact triangle
    total."""
    from mesos_pregel_spark.algos.structure import _und_degrees
    from mesos_pregel_spark.algos.triangles import canonical_undirected, triangle_count

    und = truncate_plan(canonical_undirected(edges))
    deg = truncate_plan(_und_degrees(und))
    _pv, total = triangle_count(spark, edges)
    return {"und": und, "deg": deg, "triangles": int(total)}


def transitivity_from_state(spark: SparkSession, state: dict) -> DataFrame:
    """(triangles, wedges, transitivity) — same output contract and
    float expression as algos.structure.global_clustering."""
    row = state["deg"].agg(
        F.sum(F.col("deg") * (F.col("deg") - F.lit(1))).alias("w")
    ).collect()[0]
    wedges = int(row["w"] or 0) // 2
    total = state["triangles"]
    transitivity = (3.0 * total / wedges) if wedges else 0.0
    return spark.createDataFrame(
        [(total, wedges, transitivity)],
        "triangles long, wedges long, transitivity double",
    )


def transitivity_apply_delta(
    spark: SparkSession,
    state: dict,
    add_edges: DataFrame | None = None,
    remove_edges: DataFrame | None = None,
) -> dict:
    """Fold an edge delta into the triangle/wedge state; equals the
    batch global_clustering on the final edge set exactly."""
    from mesos_pregel_spark.algos.structure import _und_degrees
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    und = state["und"]
    zero = und.limit(0)
    add = truncate_plan(
        canonical_undirected(add_edges).join(und, ["lo", "hi"], "left_anti")
        if add_edges is not None else zero
    )
    rem = truncate_plan(
        canonical_undirected(remove_edges).join(und, ["lo", "hi"], "left_semi")
        if remove_edges is not None else zero
    )
    removed_tris = _tri_touching(rem, und) if rem.limit(1).count() else 0
    new_und = truncate_plan(
        und.join(rem, ["lo", "hi"], "left_anti").unionByName(add)
    )
    added_tris = _tri_touching(add, new_und) if add.limit(1).count() else 0
    new_deg = truncate_plan(_und_degrees(new_und))
    return {
        "und": new_und,
        "deg": new_deg,
        "triangles": state["triangles"] - removed_tris + added_tris,
    }


# ---------------------------------------------------------------------------
# incremental community stats: per-community sufficient statistics
# under edge deltas with FIXED labels (r5)
# ---------------------------------------------------------------------------
#
# With the labelling held fixed (the snapshot's LPA / greedy-modularity
# communities), every community_stats quantity is incrementally
# maintainable with exact integer updates: volumes and member counts
# are vertex-table aggregates of the maintained degree table, and e_in
# changes only by the delta edges whose endpoints share a label — so a
# micro-batch never re-joins labels onto the historical edge set.
# Vertices first seen in a delta get their own id as a singleton label
# (pinned); labels persist once assigned.


def community_state(
    spark: SparkSession, edges: DataFrame, labels: DataFrame
) -> dict:
    """Build the incremental state from scratch: canonical edge set,
    degree table, per-vertex labels (every graph vertex labelled —
    unlabelled ones default to their own id), per-label internal-edge
    counts, and the scalar edge count m."""
    from mesos_pregel_spark.algos.structure import _und_degrees
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    und = truncate_plan(canonical_undirected(edges))
    deg = truncate_plan(_und_degrees(und))
    label_type = dict(labels.dtypes)["label"]
    lab = truncate_plan(
        deg.select("id")
        .join(labels.select("id", "label"), "id", "left_outer")
        .select(
            "id",
            F.coalesce("label", F.col("id").cast(label_type)).alias("label"),
        )
    )
    e_in = truncate_plan(
        und.join(lab.withColumnsRenamed({"id": "lo", "label": "l1"}), "lo")
        .join(lab.withColumnsRenamed({"id": "hi", "label": "l2"}), "hi")
        .where(F.col("l1") == F.col("l2"))
        .groupBy(F.col("l1").alias("label"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_in"))
    )
    return {"und": und, "deg": deg, "labels": lab, "e_in": e_in,
            "m": und.count()}


def community_from_state(spark: SparkSession, state: dict) -> DataFrame:
    """Per-community stats from the maintained state — schema and
    values identical to algos/communities.py::community_stats on the
    full edge set with the state's labels."""
    m = state["m"]
    vol = (
        state["deg"].join(state["labels"], "id")
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.sum("deg").cast("long").alias("volume"),
        )
    )
    e_in = F.coalesce("e_in", F.lit(0)).cast("long")
    cut = (F.col("volume") - 2 * e_in).cast("long")
    cond_den = F.least(F.col("volume"), F.lit(2 * m) - F.col("volume"))
    mod_num = (F.lit(4 * m) * e_in - F.col("volume") * F.col("volume")).cast(
        "long"
    )
    mod_den = float(4 * m * m) if m else 1.0
    return (
        vol.join(state["e_in"], "label", "left_outer")
        .select(
            "label",
            "n_vertices",
            e_in.alias("internal_edges"),
            "volume",
            cut.alias("cut"),
            F.round(
                F.when(cond_den == 0, F.lit(0.0)).otherwise(
                    cut.cast("double") / cond_den.cast("double")
                ),
                9,
            ).alias("conductance"),
            F.round(mod_num.cast("double") / F.lit(mod_den), 9).alias(
                "modularity_part"
            ),
        )
    )


def community_apply_delta(
    spark: SparkSession,
    state: dict,
    add_edges: DataFrame | None = None,
    remove_edges: DataFrame | None = None,
) -> dict:
    """Fold an edge delta into the community state (labels fixed; new
    vertices become own-id singletons).  Equals community_state on the
    final edge set with the final labels exactly (pytest-pinned).
    Cost shape: the delta tables drive everything — degree deltas are
    a delta-endpoint aggregate, e_in deltas touch only delta edges
    joined to the (broadcastable) label table, and the only historical
    touches are the canonical-set anti/semi joins that define the
    delta, exactly as in assortativity_apply_delta."""
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    und = state["und"]
    zero = und.limit(0)
    add = truncate_plan(
        canonical_undirected(add_edges).join(und, ["lo", "hi"], "left_anti")
        if add_edges is not None else zero
    )
    rem = truncate_plan(
        canonical_undirected(remove_edges).join(und, ["lo", "hi"], "left_semi")
        if remove_edges is not None else zero
    )
    m_new = state["m"] + add.count() - rem.count()

    def endpoints(df, sign):
        return (
            df.select(F.col("lo").alias("id"))
            .unionByName(df.select(F.col("hi").alias("id")))
            .groupBy("id").agg((F.lit(sign) * F.count(F.lit(1))).alias("dd"))
        )

    ddeg = truncate_plan(
        endpoints(add, 1).unionByName(endpoints(rem, -1))
        .groupBy("id").agg(F.sum("dd").alias("ddeg"))
    )
    new_deg = truncate_plan(
        state["deg"].join(ddeg, "id", "full_outer")
        .select(
            "id",
            (F.coalesce("deg", F.lit(0)) + F.coalesce("ddeg", F.lit(0)))
            .cast("long").alias("deg"),
        )
        .where(F.col("deg") > 0)
    )
    # labels persist; vertices first seen in this delta become own-id
    # singletons
    label_type = dict(state["labels"].dtypes)["label"]
    new_lab = truncate_plan(
        new_deg.select("id")
        .join(state["labels"], "id", "left_outer")
        .select(
            "id",
            F.coalesce("label", F.col("id").cast(label_type)).alias("label"),
        )
        .unionByName(
            state["labels"].join(new_deg.select("id"), "id", "left_anti")
        )
    )

    def ein_delta(df, sign):
        return (
            df.join(new_lab.withColumnsRenamed({"id": "lo", "label": "l1"}),
                    "lo")
            .join(new_lab.withColumnsRenamed({"id": "hi", "label": "l2"}),
                  "hi")
            .where(F.col("l1") == F.col("l2"))
            .groupBy(F.col("l1").alias("label"))
            .agg((F.lit(sign) * F.count(F.lit(1))).alias("de"))
        )

    new_e_in = truncate_plan(
        state["e_in"].select("label", F.col("e_in").alias("de"))
        .unionByName(ein_delta(add, 1))
        .unionByName(ein_delta(rem, -1))
        .groupBy("label")
        .agg(F.sum("de").cast("long").alias("e_in"))
        .where(F.col("e_in") > 0)
    )
    new_und = truncate_plan(
        und.join(rem, ["lo", "hi"], "left_anti").unionByName(add)
    )
    return {"und": new_und, "deg": new_deg, "labels": new_lab,
            "e_in": new_e_in, "m": m_new}


def warm_temporal_reach(
    spark: SparkSession,
    transitions: DataFrame,
    seed,
    prev_arrivals: DataFrame | None,
    delta_transitions: DataFrame | None = None,
    prev_converged: bool = True,
    **kwargs,
) -> tuple[DataFrame, PregelRun]:
    """Earliest time-respecting arrival over ``transitions``
    warm-started from ``prev_arrivals`` (id, arrival_us) of an earlier
    run on a transition SUBSET (additions-only, same seed — see
    algos/temporal.py).  ``delta_transitions`` shrinks the initial
    frontier to the new departures' source vertices.  Arrivals are
    EXACTLY the cold run's fixpoint (min-relaxation from realizable
    upper bounds; adding transitions only ever makes arrivals
    earlier), in supersteps that scale with how far the delta's
    improvements propagate instead of the temporal diameter.

    ``prev_converged``: pass whether the previous run reached its
    fixpoint — ``run.metrics[-1]["active"] == 0`` (temporal_reach is
    bounded-iteration, so hitting the cap mid-frontier is a normal
    return, not an error; this flag is how the caller tells the two
    apart).  The delta-frontier shrink is sound ONLY for a converged
    prev (a
    capped run's interrupted propagation must be resumed by a full
    finite-frontier first round); when False the delta is ignored and
    every finitely-reached vertex re-sends once — still exact, one
    extra full round."""
    from mesos_pregel_spark.algos.temporal import temporal_reach

    return temporal_reach(
        spark, transitions, seed,
        prev_arrivals=prev_arrivals,
        delta_transitions=delta_transitions if prev_converged else None,
        **kwargs,
    )


def warm_dag_levels(
    spark: SparkSession,
    dag_edges: DataFrame,
    prev_levels: DataFrame | None,
    delta_edges: DataFrame | None = None,
    prev_converged: bool = True,
    **kwargs,
):
    """Longest-path levels over an acyclic edge table warm-started
    from ``prev_levels`` (comp, level) of an earlier CONVERGED run on
    an edge SUBSET (additions-only — see algos/condense.py::dag_levels).
    Levels are monotone under additions, so the warm fixpoint is
    EXACTLY the cold run's; ``delta_edges`` shrinks the initial
    frontier to the new edges' source vertices.  ``prev_converged``
    carries the same contract as warm_temporal_reach: a capped
    previous run (``run.metrics[-1]["fresh_count"] > 0`` at the cap)
    holds min(level, k), whose interrupted propagation a delta
    frontier would not resume — pass False and the delta is ignored
    (every vertex re-sends once, still exact)."""
    from mesos_pregel_spark.algos.condense import dag_levels

    return dag_levels(
        spark, dag_edges,
        prev_levels=prev_levels,
        delta_edges=delta_edges if prev_converged else None,
        **kwargs,
    )


# ---------------------------------------------------------------------------
# warm clique-percolation (CPM k=3) refresh
# ---------------------------------------------------------------------------


def cpm_state(
    spark: SparkSession, edges: DataFrame, edge_partitions: int | None = None
) -> dict:
    """Cold CPM build that RETAINS the warm-refreshable state: the
    canonical edge set (for incremental triangle closure), the star
    links, the merge-stable (vertex, star-center) anchors, and the
    link-graph labels.  Community labels change when components merge;
    anchors never do — that asymmetry is what makes the refresh exact."""
    from mesos_pregel_spark.algos.cc import connected_components_jump
    from mesos_pregel_spark.algos.cpm import (
        corner_anchors,
        keyed_triangles,
        star_links,
    )
    from mesos_pregel_spark.algos.triangles import (
        canonical_undirected,
        triangle_tuples,
    )

    und = truncate_plan(canonical_undirected(edges))
    tri = triangle_tuples(spark, edges)
    keyed = keyed_triangles(tri)
    links = truncate_plan(star_links(keyed))
    anchors = truncate_plan(corner_anchors(keyed))
    comps, run = connected_components_jump(
        spark, links, edge_partitions=edge_partitions
    )
    labels = truncate_plan(comps)
    tri.unpersist()
    return {"und": und, "links": links, "anchors": anchors,
            "labels": labels, "run": run}


def cpm_membership(state: dict) -> DataFrame:
    """Current (vertex, community) membership from the state."""
    from mesos_pregel_spark.algos.cpm import membership_from

    return membership_from(state["anchors"], state["labels"])


def cpm_apply_delta(
    spark: SparkSession,
    state: dict,
    delta_edges: DataFrame,
    edge_partitions: int | None = None,
) -> dict:
    """Exact warm CPM under edge ADDITIONS (the warm-CC contract:
    additions only; removals need a cold rebuild).

    Every NEW triangle contains at least one delta edge, so closure
    enumeration joins the delta against the updated adjacency instead
    of re-running the full wedge kernel — per-batch cost scales with
    the delta's neighborhoods, not the corpus.  New star links extend
    the link graph monotonically, so the engine's warm hash-min CC
    reuses the previous labels with the delta links as the initial
    frontier: labels are EXACTLY the cold run's (min-label CC is
    monotone under additions), supersteps scale with how far the
    merges propagate through the old component quotient."""
    from mesos_pregel_spark.algos.cc import connected_components
    from mesos_pregel_spark.algos.cpm import (
        corner_anchors,
        keyed_triangles,
        star_links,
    )
    from mesos_pregel_spark.algos.triangles import canonical_undirected

    d_und = canonical_undirected(delta_edges)
    # drop deltas already present (idempotent micro-batches)
    d_new = truncate_plan(
        d_und.join(state["und"], ["lo", "hi"], "left_anti")
    )
    und = truncate_plan(state["und"].unionByName(d_new).distinct())

    # adjacency of the UPDATED graph, symmetrized once
    sym = und.select(F.col("lo").alias("s"), F.col("hi").alias("d")) \
        .unionByName(und.select(F.col("hi").alias("s"),
                                F.col("lo").alias("d")))
    n1 = sym.withColumnsRenamed({"s": "x", "d": "w1"})
    n2 = sym.withColumnsRenamed({"s": "y", "d": "w2"})
    new_tri = (
        d_new.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
        .join(n1, "x")
        .join(n2, "y")
        .where(F.col("w1") == F.col("w2"))
        .select(F.sort_array(F.array("x", "y", "w1")).alias("abc"))
        .select(
            F.col("abc")[0].alias("a"),
            F.col("abc")[1].alias("b"),
            F.col("abc")[2].alias("c"),
        )
        .distinct()
    )
    keyed = keyed_triangles(new_tri)
    d_links = star_links(keyed)
    d_anchors = corner_anchors(keyed)

    links = truncate_plan(
        state["links"].unionByName(d_links).distinct()
    )
    anchors = truncate_plan(
        state["anchors"].unionByName(d_anchors).distinct()
    )
    comps, run = connected_components(
        spark, links,
        prev_labels=state["labels"],   # (id, component), the cc contract
        delta_edges=d_links,
        edge_partitions=edge_partitions,
    )
    labels = truncate_plan(comps)
    return {"und": und, "links": links, "anchors": anchors,
            "labels": labels, "run": run}
