"""Condensation DAG and topological (longest-path) levels.

Contracting every strongly connected component of a directed graph to
one super-vertex yields the **condensation**, which is acyclic — the
canonical structure report for dependency-shaped link graphs (which
tool chains feed which, how deep the interaction pipeline runs).  The
**level** of a component is the length (in condensation edges) of the
longest path reaching it from any source component — level 0 =
sources, max level = the DAG's depth.  Complements the bow-tie report
(algos/bowtie.py): bow-tie classifies mass around the giant SCC,
levels expose the pipeline's depth profile.

Pinned semantics (mirrored by the DuckDB twin, queries.SQL_CONDENSATION
/ SQL_CONDENSATION_LEVELS):

- SCC labels from the engine's A-scc kernel (label = SCC-minimum
  vertex id, the pinned total tie-break).
- Condensation edges = DISTINCT (scc(src), scc(dst)) with
  scc(src) <> scc(dst); parallel multigraph edges collapse.
- level(c) = fixpoint of  max(0, 1 + max over predecessors p of
  level(p))  — exact longs, no floats anywhere.  On a DAG the
  fixpoint is reached in depth(DAG) supersteps; every maximal path
  starts at an in-degree-0 component, so the fixpoint equals
  "longest path from any source".

Execution shape (design-for-100×): one SCC run (path doubling), one
double label join to contract the edge table (the SCC frame is a
checkpointed LogicalRDD, so each join side scans, never recomputes),
then a monotone max-propagation Pregel loop over the (much smaller)
condensation — per superstep one scatter from the fresh frontier and
one max combine, vote-to-halt when no level rises.  The condensation
of a web-scale graph is orders of magnitude smaller than the graph
(Broder et al. WWW 2000 measured ~25% of vertices in the giant SCC
alone), so the loop runs on contracted data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.program import VertexProgram, pregel


def condensation(
    spark: SparkSession,
    edges: DataFrame,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Contract SCCs: returns (comps, cedges) where comps =
    (comp, n_vertices) one row per component and cedges =
    (src, dst) the distinct condensation edges (acyclic)."""
    from mesos_pregel_spark.algos.scc import strongly_connected_components

    labels, _run = strongly_connected_components(
        spark, edges, edge_partitions=edge_partitions
    )
    comps = labels.groupBy(F.col("scc").alias("comp")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vertices")
    )
    ls = labels.select(
        F.col("id").alias("src"), F.col("scc").alias("c_src")
    )
    ld = labels.select(
        F.col("id").alias("dst"), F.col("scc").alias("c_dst")
    )
    cedges = (
        edges.select("src", "dst")
        .distinct()
        .join(ls, "src")
        .join(ld, "dst")
        .where(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
    )
    return comps, cedges


def condensation_levels(
    spark: SparkSession,
    edges: DataFrame,
    max_supersteps: int = 60,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun | None]:
    """(comp, n_vertices, level) — longest-path level of every
    condensation component (module docstring).  The PregelRun is None
    when the condensation has no edges (every component is level 0)."""
    comps, cedges = condensation(
        spark, edges, edge_partitions=edge_partitions
    )
    return _levels_over(
        spark, comps, cedges,
        max_supersteps=max_supersteps, edge_partitions=edge_partitions,
    )


def dag_levels(
    spark: SparkSession,
    dag_edges: DataFrame,
    max_supersteps: int = 60,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun | None]:
    """Longest-path levels over an edge table the CALLER guarantees is
    acyclic (e.g. edges oriented low→high key): skips the SCC
    contraction — every vertex is its own level-0-seeded component —
    and runs only the capped max-propagation loop.  Same
    (comp, n_vertices, level) output as condensation_levels, with
    n_vertices = 1 throughout."""
    cedges = dag_edges.select("src", "dst").distinct()
    comps = (
        cedges.select(F.col("src").alias("comp"))
        .unionByName(cedges.select(F.col("dst").alias("comp")))
        .distinct()
        .select("comp", F.lit(1).cast("long").alias("n_vertices"))
    )
    return _levels_over(
        spark, comps, cedges,
        max_supersteps=max_supersteps, edge_partitions=edge_partitions,
    )


def transitive_redundancy(
    spark: SparkSession,
    dag_edges: DataFrame,
    max_degree: int | None = None,
) -> DataFrame:
    """Two-hop transitive-redundancy profile of a DAG (the scalable
    core of Aho-Garey-Ullman transitive reduction): an edge (u, v) is
    REDUNDANT when some wedge u→w→v also connects its endpoints —
    the dependency-pruning report run before materializing a
    dependency graph.  Exact for redundancy via length-2 witnesses;
    longer-witness-only redundancy (rare in dense co-occurrence DAGs)
    is deliberately out of contract, keeping the twin join-shaped.

    Returns (src, outdeg, n_redundant) per source vertex — outdeg as
    in the DAG, n_redundant = how many of its out-edges a wedge
    witnesses.  Shape: one self-join on the middle vertex (wedge
    enumeration, Σ indeg·outdeg pairs — the documented quadratic hub
    trap; ``max_degree`` drops high-total-degree MIDDLE vertices from
    witnessing, the link_prediction knob) + one left-semi join + one
    hash aggregate."""
    e = dag_edges.select("src", "dst").distinct()
    if max_degree is not None:
        deg = (
            e.select(F.col("src").alias("id"))
            .unionByName(e.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
            .where(F.col("deg") <= max_degree)
            .select("id")
        )
        w1 = e.join(deg.select(F.col("id").alias("dst")), "dst", "left_semi")
        w2 = e.join(deg.select(F.col("id").alias("src")), "src", "left_semi")
    else:
        w1 = e
        w2 = e
    wedges = (
        w1.select(F.col("src").alias("u"), F.col("dst").alias("w"))
        .join(
            w2.select(F.col("src").alias("w"), F.col("dst").alias("v")), "w"
        )
        .select("u", "v")
        .distinct()
    )
    red = e.join(
        wedges,
        (e["src"] == wedges["u"]) & (e["dst"] == wedges["v"]),
        "left_semi",
    )
    outdeg = e.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("outdeg")
    )
    nred = red.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("n_redundant")
    )
    return outdeg.join(nred, "src", "left_outer").select(
        "src",
        "outdeg",
        F.coalesce("n_redundant", F.lit(0)).cast("long").alias("n_redundant"),
    )


def _levels_over(
    spark: SparkSession,
    comps: DataFrame,
    cedges: DataFrame,
    max_supersteps: int,
    edge_partitions: int | None,
) -> tuple[DataFrame, PregelRun | None]:
    # the level loop seeds from the FULL component set (closure), so
    # isolated components appear at level 0 even though they have no
    # condensation edge; an edgeless condensation skips the loop
    if cedges.limit(1).count() == 0:
        return comps.select(
            "comp", "n_vertices", F.lit(0).cast("long").alias("level")
        ), None

    def init(e: DataFrame, ctx: dict) -> DataFrame:
        return comps.select(
            F.col("comp").alias("id"),
            F.lit(0).cast("long").alias("lvl"),
            F.lit(True).alias("fresh"),
        )

    def apply(state: DataFrame, combined: DataFrame, ctx: dict) -> DataFrame:
        nxt = F.greatest(
            state["lvl"], F.coalesce(combined["mx"], F.lit(0).cast("long"))
        )
        return (
            state.join(combined, state["id"] == combined["dst"], "left_outer")
            .select(
                state["id"],
                nxt.alias("lvl"),
                (nxt > state["lvl"]).alias("fresh"),
            )
        )

    program = VertexProgram(
        name="condensation_levels",
        init=init,
        edge_cols=("src", "dst"),
        msg_cols=[(F.col("lvl") + F.lit(1)).cast("long").alias("m")],
        active_filter=F.col("fresh"),
        combiner={"mx": ("m", "max")},
        apply=apply,
        aggregators=[F.sum(F.col("fresh").cast("long")).alias("fresh_count")],
        halt=lambda aggs: aggs["fresh_count"] == 0,
        finalize=lambda s: s.select("id", "lvl"),
        converged_at_cap=True,
    )
    levels, run = pregel(
        spark, cedges, program,
        max_supersteps=max_supersteps,
        edge_partitions=edge_partitions,
    )
    out = comps.join(
        levels.select(F.col("id").alias("comp"), F.col("lvl").alias("level")),
        "comp",
    ).select("comp", "n_vertices", "level")
    return out, run
