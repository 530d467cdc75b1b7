"""algos/cpm.py (k=3 clique percolation) vs hand-derived communities:
edge-sharing triangles merge, vertex-sharing triangles do NOT, and the
shared vertex overlaps both communities — the defining CPM behaviors
(Palla et al. 2005)."""

from mesos_pregel_spark.algos.cpm import clique_communities


def _df(spark, edges, parts=4):
    return spark.createDataFrame(
        [(int(s), int(d), 1.0) for s, d in edges],
        "src long, dst long, weight double",
    ).repartition(parts)


EDGES = [
    # T1 {1,2,3} and T2 {2,3,4} share edge (2,3) -> ONE community
    (1, 2), (1, 3), (2, 3), (2, 4), (3, 4),
    # T3 {4,5,6} shares only VERTEX 4 with T2 -> separate community
    (4, 5), (4, 6), (5, 6),
    # a 4-cycle: triangle-free, no community membership at all
    (7, 8), (8, 9), (9, 10), (7, 10),
]


def test_cpm_edge_vs_vertex_sharing(spark):
    memb, _run = clique_communities(spark, _df(spark, EDGES),
                                    edge_partitions=4)
    got = {}
    for r in memb.collect():
        got.setdefault(r["community"], set()).add(r["id"])
    # community labels are the MIN edge-key string of each component
    assert got == {"1|2": {1, 2, 3, 4}, "4|5": {4, 5, 6}}


def test_cpm_overlap_vertex(spark):
    memb, _run = clique_communities(spark, _df(spark, EDGES),
                                    edge_partitions=2)
    rows = [(r["id"], r["community"]) for r in memb.collect()]
    # vertex 4 sits in BOTH communities; 7..10 in none
    assert {(4, "1|2"), (4, "4|5")} <= set(rows)
    assert not any(v in (7, 8, 9, 10) for v, _c in rows)


def test_cpm_partition_invariance(spark):
    outs = []
    for parts in (1, 3, 8):
        memb, _ = clique_communities(spark, _df(spark, EDGES, parts),
                                     edge_partitions=parts)
        outs.append(sorted((r["id"], r["community"])
                           for r in memb.collect()))
    assert outs[0] == outs[1] == outs[2]
