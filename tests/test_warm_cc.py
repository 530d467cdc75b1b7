"""Warm-start CC (additions-only): ``connected_components`` seeded with
``prev_labels`` ≡ cold labels, with measurably fewer supersteps on a
micro-batch delta."""

from pyspark.sql import types as T

from mesos_pregel_spark.algos.cc import connected_components

_EDGE_SCHEMA = T.StructType([
    T.StructField("src", T.LongType(), False),
    T.StructField("dst", T.LongType(), False),
    T.StructField("weight", T.DoubleType(), False),
])


def _edges(spark, rows):
    return spark.createDataFrame(rows, schema=_EDGE_SCHEMA)


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_warm_equals_cold_fewer_supersteps(spark):
    """Production regime: a large stable component (long chain — worst
    case for hash-min) plus a tiny delta that merges a small island
    into it.  Cold pays the full chain diameter again; warm starts from
    the collapsed labels and only the delta frontier re-propagates."""
    chain = [(i, i + 1, 1.0) for i in range(24)]          # one component, min 0
    island = [(100, 101, 1.0)]                            # component min 100
    delta = [(24, 100, 1.0)]                              # merges them
    full_df = _edges(spark, chain + island + delta)
    # previous converged labels (what an earlier run on chain+island
    # returns): chain → 0, island → 100
    prev = spark.createDataFrame(
        [(i, 0) for i in range(25)] + [(100, 100), (101, 100)],
        schema="id long, component long",
    )
    cold, cold_run = connected_components(spark, full_df, edge_partitions=4)
    warm, warm_run = connected_components(
        spark, full_df, prev_labels=prev, delta_edges=_edges(spark, delta),
        edge_partitions=4,
    )
    assert _labels(warm) == _labels(cold)
    assert all(v == 0 for v in _labels(warm).values())
    # cold re-floods the 25-hop chain; warm only walks the delta →
    # island merge (a handful of supersteps)
    assert len(cold_run.metrics) >= 20
    assert len(warm_run.metrics) <= 6
    assert len(warm_run.metrics) < len(cold_run.metrics) / 3


def test_warm_without_delta_still_exact(spark):
    """No delta_edges hint → every vertex is initially active; labels
    still exact, supersteps still bounded by the quotient flood."""
    chain = [(i, i + 1, 1.0) for i in range(24)]
    delta = [(3, 100, 1.0), (100, 101, 1.0)]
    full_df = _edges(spark, chain + delta)
    prev = spark.createDataFrame(
        [(i, 0) for i in range(25)], schema="id long, component long",
    )
    cold, _ = connected_components(spark, full_df, edge_partitions=4)
    warm, warm_run = connected_components(
        spark, full_df, prev_labels=prev, edge_partitions=4,
    )
    assert _labels(warm) == _labels(cold)
    assert len(warm_run.metrics) <= 6


def test_warm_new_vertices_cold_seeded(spark):
    """Vertices unseen by prev_labels seed from their own id (cold) and
    join whatever component the delta attaches them to."""
    old = [(1, 2, 1.0), (2, 3, 1.0)]
    delta = [(3, 7, 1.0), (7, 8, 1.0), (9, 10, 1.0)]  # 9-10: brand-new island
    full_df = _edges(spark, old + delta)
    prev = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], schema="id long, component long",
    )
    warm, _ = connected_components(
        spark, full_df, prev_labels=prev, delta_edges=_edges(spark, delta),
        edge_partitions=4,
    )
    cold, _ = connected_components(spark, full_df, edge_partitions=4)
    assert _labels(warm) == _labels(cold)
    assert _labels(warm)[8] == 1 and _labels(warm)[10] == 9
