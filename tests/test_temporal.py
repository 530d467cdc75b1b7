"""algos/temporal.py (time-respecting earliest arrival) vs a pure-
python relaxation oracle, plus the foremost-path semantics pins:
a static path that is temporally backwards is NOT reachable, and
capped ≡ deep-cap on a converged instance."""

import random

from mesos_pregel_spark.algos.temporal import temporal_reach

INF = 1.0e18


def _df(spark, transitions, parts=4):
    """transitions = [(src, dst, t_us)]"""
    return spark.createDataFrame(
        [(int(s), int(d), int(t)) for s, d, t in transitions],
        "src long, dst long, t long",
    ).repartition(parts)


def _py_reach(transitions, seed, rounds):
    tr = {(s, d, float(t)) for s, d, t in transitions if s != d}
    verts = {v for s, d, _t in tr for v in (s, d)}
    arr = {v: (0.0 if v == seed else INF) for v in verts}
    for _ in range(rounds):
        new = dict(arr)
        for s, d, t in tr:
            if t >= arr[s] and t < new[d]:
                new[d] = t
        arr = new
    return {
        v: (None if a >= INF else int(a)) for v, a in arr.items()
    }


def test_temporal_reach_matches_python(spark):
    rng = random.Random(31)
    transitions = [
        (rng.randrange(8), rng.randrange(8), rng.randrange(1, 1000))
        for _ in range(60)
    ]
    transitions = [(s, d, t) for s, d, t in transitions if s != d]
    seed = min(v for s, d, _t in transitions for v in (s, d))
    got_df, _ = temporal_reach(spark, _df(spark, transitions), seed,
                               max_supersteps=6, edge_partitions=4)
    got = {r["id"]: r["arrival_us"] for r in got_df.collect()}
    assert got == _py_reach(transitions, seed, 6)


def test_temporal_reach_respects_time_order(spark):
    """0→1 at t=100, 1→2 at t=50: statically 2 is reachable from 0,
    temporally it is NOT (the 1→2 transition departs before arrival
    at 1).  The reverse ordering IS reachable."""
    backwards = [(0, 1, 100), (1, 2, 50)]
    got_df, _ = temporal_reach(spark, _df(spark, backwards), 0,
                               max_supersteps=6, edge_partitions=2)
    got = {r["id"]: r["arrival_us"] for r in got_df.collect()}
    assert got == {0: 0, 1: 100, 2: None}

    forwards = [(0, 1, 50), (1, 2, 100)]
    got_df, _ = temporal_reach(spark, _df(spark, forwards), 0,
                               max_supersteps=6, edge_partitions=2)
    got = {r["id"]: r["arrival_us"] for r in got_df.collect()}
    assert got == {0: 0, 1: 50, 2: 100}


def test_temporal_reach_takes_earliest_usable(spark):
    """Two usable transitions into the same vertex: the earlier one
    wins; an even earlier but UNUSABLE one (departs before arrival at
    its source) does not."""
    transitions = [
        (0, 1, 200),   # arrive at 1 at t=200
        (1, 2, 300),   # usable, arrives 300
        (0, 2, 250),   # usable, arrives 250  <- earliest usable
        (1, 2, 100),   # unusable: departs 1 before arrival (200)
    ]
    got_df, _ = temporal_reach(spark, _df(spark, transitions), 0,
                               max_supersteps=6, edge_partitions=2)
    got = {r["id"]: r["arrival_us"] for r in got_df.collect()}
    assert got[2] == 250


def test_temporal_reach_capped_equals_deep_cap(spark):
    """Monotone relaxation: early-halt at the fixpoint equals a much
    deeper cap — the property the 6-step SQL unroll rests on."""
    rng = random.Random(7)
    transitions = [
        (rng.randrange(6), rng.randrange(6), rng.randrange(1, 500))
        for _ in range(30)
    ]
    transitions = [(s, d, t) for s, d, t in transitions if s != d]
    a, _ = temporal_reach(spark, _df(spark, transitions), 0,
                          max_supersteps=6, edge_partitions=2)
    b, _ = temporal_reach(spark, _df(spark, transitions), 0,
                          max_supersteps=25, edge_partitions=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_warm_temporal_reach_matches_cold(spark):
    """Additions-only warm start: run on the first batch, add a delta
    that opens earlier paths AND reaches new vertices, warm-refresh,
    compare against a cold run on the union — exact equality, fewer
    supersteps than the cold run."""
    batch1 = [(0, 1, 100), (1, 2, 200), (2, 3, 300), (0, 4, 500)]
    delta = [(0, 2, 150), (3, 5, 400), (4, 6, 600)]
    prev, _ = temporal_reach(spark, _df(spark, batch1), 0,
                             max_supersteps=10, edge_partitions=2)
    union = _df(spark, batch1 + delta, parts=3)
    warm, run_warm = temporal_reach(
        spark, union, 0, prev_arrivals=prev,
        delta_transitions=_df(spark, delta),
        max_supersteps=10, edge_partitions=3,
    )
    cold, run_cold = temporal_reach(spark, union, 0,
                                    max_supersteps=10, edge_partitions=2)
    assert sorted(map(tuple, warm.collect())) == \
        sorted(map(tuple, cold.collect()))
    assert len(run_warm.metrics) <= len(run_cold.metrics)


def test_warm_temporal_reach_no_prev_is_cold(spark):
    tr = [(0, 1, 10), (1, 2, 20)]
    a, _ = temporal_reach(spark, _df(spark, tr), 0, prev_arrivals=None,
                          max_supersteps=6, edge_partitions=2)
    b, _ = temporal_reach(spark, _df(spark, tr), 0,
                          max_supersteps=6, edge_partitions=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_warm_temporal_reach_no_delta_frontier(spark):
    """Without delta info every finitely-reached vertex re-sends once;
    the refresh still lands exactly on the cold fixpoint."""
    batch1 = [(0, 1, 100), (1, 2, 200)]
    delta = [(2, 3, 250), (0, 3, 90)]
    prev, _ = temporal_reach(spark, _df(spark, batch1), 0,
                             max_supersteps=10, edge_partitions=2)
    union = _df(spark, batch1 + delta)
    warm, _ = temporal_reach(spark, union, 0, prev_arrivals=prev,
                             max_supersteps=10, edge_partitions=2)
    cold, _ = temporal_reach(spark, union, 0,
                             max_supersteps=10, edge_partitions=2)
    assert sorted(map(tuple, warm.collect())) == \
        sorted(map(tuple, cold.collect()))


def test_warm_temporal_reach_capped_prev_needs_full_frontier(spark):
    """Regression (r5 self-review finding): the delta-source frontier
    is sound ONLY for a converged prev.  With a capped prev the caller
    passes delta_transitions=None, which falls back to the full finite
    frontier and still lands exactly on the cold fixpoint (the naive
    delta frontier would leave the interrupted old-chain propagation
    dead and return stale arrivals)."""
    chain = [(i, i + 1, (i + 1) * 10) for i in range(8)]  # 0→1→…→8
    delta = [(0, 9, 5)]
    # capped BEFORE the fixpoint: vertices 5..8 still unreached
    prev, run_prev = temporal_reach(spark, _df(spark, chain), 0,
                                    max_supersteps=4, edge_partitions=2)
    prev_at_fixpoint = run_prev.metrics[-1]["active"] == 0
    assert not prev_at_fixpoint  # the frontier was still moving
    union = _df(spark, chain + delta)
    warm, _ = temporal_reach(
        spark, union, 0, prev_arrivals=prev,
        delta_transitions=_df(spark, delta) if prev_at_fixpoint else None,
        max_supersteps=20, edge_partitions=2,
    )
    cold, _ = temporal_reach(spark, union, 0,
                             max_supersteps=20, edge_partitions=2)
    assert sorted(map(tuple, warm.collect())) == \
        sorted(map(tuple, cold.collect()))


def test_wedge_bucketing_equals_naive(spark):
    """The Δ-bucketed wedge join (queries.temporal_wedge_counts) must
    equal the naive mid-keyed join + range predicate on any input —
    the bucket trick is a plan optimization, not a semantics change.
    Boundary cases planted: t2 - t1 == Δ exactly (counts), t2 == t1
    (excluded), t2 - t1 == Δ + 1 (excluded), and a cross-bucket pair."""
    import random

    from pyspark.sql import functions as F

    from mesos_pregel_spark.queries import temporal_wedge_counts

    delta = 100
    rng = random.Random(41)
    rows = [
        (rng.randrange(5), rng.randrange(5), rng.randrange(0, 1000))
        for _ in range(200)
    ]
    rows += [
        (0, 1, 50), (1, 2, 150),   # exactly Δ apart -> counts
        (0, 1, 60), (1, 2, 60),    # equal times -> excluded
        (0, 1, 70), (1, 2, 171),   # Δ+1 apart -> excluded
        (3, 4, 99), (4, 0, 101),   # adjacent buckets, inside Δ
    ]
    rows = [(s, d, t) for s, d, t in rows if s != d]
    tr = spark.createDataFrame(
        rows, "src long, dst long, t long"
    ).distinct()

    got = {r["actor"]: r["n_wedges"]
           for r in temporal_wedge_counts(tr, delta).collect()}

    a = tr.select(F.col("dst").alias("mid"), F.col("t").alias("t1"))
    b = tr.select(F.col("src").alias("mid"), F.col("t").alias("t2"))
    naive = (
        a.join(b, "mid")
        .where((F.col("t2") > F.col("t1"))
               & (F.col("t2") - F.col("t1") <= delta))
        .groupBy(F.col("mid").alias("actor"))
        .agg(F.count(F.lit(1)).alias("n_wedges"))
    )
    want = {r["actor"]: r["n_wedges"] for r in naive.collect()}
    assert got == want and got
