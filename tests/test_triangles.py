"""A4 triangle count: engine vs oracle + closed forms, exact."""

import pytest

from tests.conftest import id_space
from tests.oracle_pregel import oracle_triangles

from mesos_pregel_spark.algos.triangles import triangle_count
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids


def _compare(spark, ids_df, oracle_edges):
    per_vertex, total = triangle_count(spark, ids_df)
    exp_counts, exp_total = oracle_triangles(oracle_edges)
    assert total == exp_total
    got = {r["id"]: r["triangles"] for r in per_vertex.collect()}
    assert got == exp_counts
    return total


@pytest.mark.parametrize(
    "name,expected_total",
    [("k4", 4), ("tri_cycle", 1), ("two_islands", 2), ("chain4", 0),
     ("bipartite6", 0), ("star_hub", 0)],
)
def test_micro_graphs(spark, name, expected_total):
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, name))
    total = _compare(spark, ids_df, edges)
    assert total == expected_total


def test_directed_duplicate_edges_canonicalized(spark):
    """a→b and b→a plus multi-edges must collapse to one undirected edge."""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("src", T.LongType()), T.StructField("dst", T.LongType()),
        T.StructField("weight", T.DoubleType()),
    ])
    rows = [(1, 2, 1.0), (2, 1, 5.0), (1, 2, 2.0), (2, 3, 1.0), (3, 1, 1.0),
            (1, 1, 9.0)]
    df = spark.createDataFrame(rows, schema)
    per_vertex, total = triangle_count(spark, df)
    assert total == 1
    assert {r["id"]: r["triangles"] for r in per_vertex.collect()} == {
        1: 1, 2: 1, 3: 1}


def test_transcript_graph(spark):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    _compare(spark, ids_df, edges)


@pytest.mark.parametrize("name", ["k4", "two_islands", "tri_cycle"])
def test_csr_kernel_matches_join(spark, name):
    ids_df, edges, _ = id_space(spark, micro_graph_df(spark, name))
    pv_join, total_join = triangle_count(spark, ids_df)
    pv_csr, total_csr = triangle_count(spark, ids_df, kernel="csr")
    assert total_csr == total_join
    a = {r["id"]: r["triangles"] for r in pv_join.collect()}
    b = {r["id"]: r["triangles"] for r in pv_csr.collect()}
    assert a == b


def test_csr_kernel_transcript_graph(spark):
    t = generate_transcripts(spark, n_conv=200, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    from tests.oracle_pregel import oracle_triangles
    exp_counts, exp_total = oracle_triangles(edges)
    pv, total = triangle_count(spark, ids_df, kernel="csr")
    assert total == exp_total
    assert {r["id"]: r["triangles"] for r in pv.collect()} == exp_counts


def test_csr_triangle_guard_raises(spark):
    """csr_triangle_counts refuses to broadcast an oriented edge list
    beyond the bound instead of toPandas()-ing the cluster's edges."""
    from pyspark.sql import functions as F

    from mesos_pregel_spark.algos.triangles import canonical_undirected
    from mesos_pregel_spark.operators.csr import (
        CsrStateTooLarge,
        csr_triangle_counts,
    )

    ids_df, _, _ = id_space(spark, micro_graph_df(spark, "k4"))
    oriented = canonical_undirected(ids_df).select(
        F.col("lo").alias("u"), F.col("hi").alias("v")
    )
    with pytest.raises(CsrStateTooLarge):
        csr_triangle_counts(spark, oriented, max_broadcast_rows=2)
