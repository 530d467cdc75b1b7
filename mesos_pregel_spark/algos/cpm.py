"""Clique-percolation communities (CPM, k = 3) — Palla, Derényi,
Farkas & Vicsek, Nature 2005: two triangles belong to the same
community iff they can be chained through shared EDGES, and a vertex
belongs to every community one of its triangles belongs to (the
OVERLAPPING community model — unlike LPA/modularity partitions, a
bridge vertex legitimately sits in several communities).

Construction (mirrored by the unrolled DuckDB twin,
queries.SQL_CLIQUE_COMMUNITIES):

1. Enumerate distinct triangles (a < b < c) with the degree-oriented
   wedge kernel (triangles.triangle_tuples — each triangle once, work
   bounded by oriented out-degrees).
2. Percolation connectivity WITHOUT the quadratic triangle-pair join:
   per triangle, its three edge keys ``'a|b', 'a|c', 'b|c'`` are
   starred onto the LEAST of the three.  Two triangles sharing an
   edge e both link e into their stars, so edge-key components equal
   triangle-percolation components exactly (a triangle's edges are
   mutually connected through its own star; a shared edge bridges the
   two stars).  Links are 2 rows per triangle — linear, never
   C(t_e, 2) per hot edge.
3. Components of the link graph via the engine's pointer-jumping CC
   kernel (O(log n) supersteps on triangle chains, where hash-min
   would pay the chain length).  Community label = MIN edge-key
   string in the component — deterministic, engine-independent.
4. Membership: each triangle's community is the component of its
   star center; (vertex, community) rows are the distinct union over
   its three corners.

Scale shape: triangle enumeration is A4's kernel; the star link build
is one projection + explode-free union (3 rows/triangle, 2 kept); CC
runs on a graph no larger than the triangle count; membership is one
join + distinct.  No per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.cc import connected_components_jump
from mesos_pregel_spark.algos.triangles import triangle_tuples
from mesos_pregel_spark.plans.pregel import PregelRun


def keyed_triangles(tri: DataFrame) -> DataFrame:
    """(a,b,c) triangles -> their three edge keys + the star center
    (the LEAST key)."""
    ekey = lambda x, y: F.concat_ws("|", F.col(x), F.col(y))  # noqa: E731
    return tri.select(
        ekey("a", "b").alias("ea"),
        ekey("a", "c").alias("eb"),
        ekey("b", "c").alias("ec"),
        "a", "b", "c",
    ).withColumn("emin", F.least("ea", "eb", "ec"))


def star_links(keyed: DataFrame) -> DataFrame:
    """Per-triangle star links (edge key -> star center), distinct."""
    return (
        keyed.select(F.col("ea").alias("src"), F.col("emin").alias("dst"))
        .unionByName(
            keyed.select(F.col("eb").alias("src"), F.col("emin").alias("dst"))
        )
        .unionByName(
            keyed.select(F.col("ec").alias("src"), F.col("emin").alias("dst"))
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )


def corner_anchors(keyed: DataFrame) -> DataFrame:
    """(vertex, star-center) anchor pairs — the merge-stable membership
    state: community labels change when components merge, anchors
    never do; membership = anchors ⋈ current labels."""
    return keyed.select(
        F.explode(F.array("a", "b", "c")).alias("id"), "emin"
    ).distinct()


def membership_from(anchors: DataFrame, comps: DataFrame) -> DataFrame:
    return (
        anchors.join(
            comps.withColumnsRenamed({"id": "emin", "component": "community"}),
            "emin",
        )
        .select("id", "community")
        .distinct()
    )


def clique_communities(
    spark: SparkSession,
    edges: DataFrame,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """k=3 CPM.  Returns (membership(id, community), run) — one row
    per (vertex, community) pair; vertices in no triangle are in no
    community (CPM semantics, not a partition)."""
    tri = triangle_tuples(spark, edges)
    keyed = keyed_triangles(tri)
    links = star_links(keyed)
    comps, run = connected_components_jump(
        spark, links, edge_partitions=edge_partitions
    )
    membership = membership_from(corner_anchors(keyed), comps)
    out = membership.localCheckpoint(eager=True)
    tri.unpersist()
    return out, run
