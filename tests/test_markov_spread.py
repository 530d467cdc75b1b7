"""algos/markov.py and algos/spread.py vs pure-python oracles, plus
mass-conservation / monotonicity invariants and partition invariance.
algos/communities.py::clustering_agreement vs a brute-force
pair-counting oracle."""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.markov import markov_mass
from mesos_pregel_spark.algos.spread import lt_spread


def _df(spark, edges, parts=4):
    """edges = [(src, dst, weight)]"""
    return spark.createDataFrame(
        [(int(s), int(d), float(w)) for s, d, w in edges],
        "src long, dst long, weight double",
    ).repartition(parts)


# ---------------------------------------------------------------------------
# markov_mass
# ---------------------------------------------------------------------------


def _py_markov(edges, k):
    w = {}
    for s, d, wt in edges:
        w[(s, d)] = w.get((s, d), 0.0) + wt
    verts = sorted({v for p in w for v in p})
    outw = {}
    for (s, _d), wt in w.items():
        outw[s] = outw.get(s, 0.0) + wt
    x = {v: 1.0 / len(verts) for v in verts}
    for _ in range(k):
        nx = {v: 0.0 for v in verts}
        for (s, d), wt in w.items():
            nx[d] += x[s] * (wt / outw[s])
        x = nx
    return {v: round(val, 9) for v, val in x.items()}


@pytest.mark.parametrize("k", [1, 3, 8])
def test_markov_matches_python(spark, k):
    rng = random.Random(11)
    edges = [
        (s, d, float(rng.randrange(1, 5)))
        for s, d in {(rng.randrange(8), rng.randrange(8)) for _ in range(25)}
        if s != d
    ]
    mass, run = markov_mass(spark, _df(spark, edges),
                            max_supersteps=k, edge_partitions=4)
    got = {r["id"]: r["mass"] for r in mass.collect()}
    assert got == _py_markov(edges, k)
    assert len(run.metrics) == k


def test_markov_mass_conserved_when_no_dangling(spark):
    """On a graph where every vertex has out-degree ≥ 1 the chain is
    mass-conserving: Σx = 1 after any number of steps."""
    n = 6
    edges = [(i, (i + 1) % n, 2.0) for i in range(n)] + [
        (i, (i + 2) % n, 1.0) for i in range(n)
    ]
    mass, _ = markov_mass(spark, _df(spark, edges), max_supersteps=5,
                          edge_partitions=3)
    total = mass.agg(F.sum("mass")).collect()[0][0]
    assert abs(total - 1.0) < 1e-7


def test_markov_dangling_mass_leaves(spark):
    """Mass entering an out-degree-0 vertex leaves the chain: on the
    path 0→1→2, after 2 steps all surviving mass sits on vertex 2 and
    totals strictly less than 1."""
    edges = [(0, 1, 1.0), (1, 2, 1.0)]
    mass, _ = markov_mass(spark, _df(spark, edges), max_supersteps=2,
                          edge_partitions=2)
    got = {r["id"]: r["mass"] for r in mass.collect()}
    # x0 = 1/3 each; step1: v1 gets 1/3 (from 0), v2 gets 1/3 (from 1);
    # step2: v2 gets the 1/3 that was on v1.  v2's own 1/3 vanished.
    assert got[0] == 0.0 and got[1] == 0.0
    assert got[2] == round(1.0 / 3.0, 9)


def test_markov_partition_invariance(spark):
    edges = [
        (s, d, float((s + d) % 3 + 1))
        for s, d in itertools.permutations(range(6), 2)
        if (s * 7 + d) % 4 == 0
    ]
    a, _ = markov_mass(spark, _df(spark, edges, parts=2),
                       max_supersteps=4, edge_partitions=2)
    b, _ = markov_mass(spark, _df(spark, edges, parts=7),
                       max_supersteps=4, edge_partitions=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


# ---------------------------------------------------------------------------
# lt_spread
# ---------------------------------------------------------------------------


def _py_lt(edges, seeds, theta, rounds):
    w = {}
    for s, d, wt in edges:
        w[(s, d)] = w.get((s, d), 0.0) + wt
    verts = {v for p in w for v in p}
    inw = {}
    for (_s, d), wt in w.items():
        inw[d] = inw.get(d, 0.0) + wt
    active = {v: 0 for v in seeds}
    for r in range(1, rounds + 1):
        rcv = {}
        for (s, d), wt in w.items():
            if s in active and active[s] < r:
                rcv[d] = rcv.get(d, 0.0) + wt
        for v, got in rcv.items():
            if v not in active and inw.get(v, 0.0) > 0.0 \
                    and got >= theta * inw[v]:
                active[v] = r
    return {v: active.get(v, -1) for v in verts}


@pytest.mark.parametrize("theta", [0.3, 0.5, 0.9])
def test_lt_spread_matches_python(spark, theta):
    rng = random.Random(23)
    edges = [
        (s, d, float(rng.randrange(1, 4)))
        for s, d in {(rng.randrange(9), rng.randrange(9)) for _ in range(30)}
        if s != d
    ]
    seeds = sorted({s for s, _d, _w in edges})[:2]
    got_df, _ = lt_spread(spark, _df(spark, edges), seeds, theta=theta,
                          max_supersteps=8, edge_partitions=4)
    got = {r["id"]: r["round"] for r in got_df.collect()}
    assert got == _py_lt(edges, seeds, theta, 8)


def test_lt_spread_monotone_unroll_exact(spark):
    """Early-halt at the fixpoint equals the full 8-round unroll —
    the property the SQL twin's exactness rests on."""
    edges = [(0, 1, 4.0), (1, 2, 4.0), (2, 3, 4.0), (3, 4, 4.0),
             (0, 2, 1.0), (4, 0, 1.0)]
    a, run_a = lt_spread(spark, _df(spark, edges), [0], max_supersteps=8,
                         edge_partitions=2)
    b, run_b = lt_spread(spark, _df(spark, edges), [0], max_supersteps=20,
                         edge_partitions=3)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_lt_spread_chain_rounds(spark):
    """On the path 0→1→2→3 with θ=0.5 and sole in-edges, activation
    round equals hop distance from the seed."""
    edges = [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)]
    got_df, _ = lt_spread(spark, _df(spark, edges), [0], max_supersteps=8,
                          edge_partitions=2)
    got = {r["id"]: r["round"] for r in got_df.collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_lt_spread_zero_inweight_never_activates(spark):
    """A pure source (inw = 0) that is not a seed stays at -1."""
    edges = [(5, 0, 1.0), (0, 1, 1.0)]
    got_df, _ = lt_spread(spark, _df(spark, edges), [0], max_supersteps=4,
                          edge_partitions=2)
    got = {r["id"]: r["round"] for r in got_df.collect()}
    assert got[5] == -1 and got[0] == 0 and got[1] == 1


# ---------------------------------------------------------------------------
# clustering_agreement
# ---------------------------------------------------------------------------


def _py_agreement(x, y):
    ids = sorted(x)
    n = len(ids)
    same_x = same_y = both = 0
    for a, b in itertools.combinations(ids, 2):
        sx, sy = x[a] == x[b], y[a] == y[b]
        same_x += sx
        same_y += sy
        both += sx and sy
    t = n * (n - 1) // 2
    rand = (t - same_x - same_y + 2 * both) / t
    exp = same_x * same_y / t
    denom = (same_x + same_y) / 2 - exp
    ari = None if denom == 0 else round((both - exp) / denom, 9)
    return (n, t, both, same_x, same_y, round(rand, 9), ari)


def _labels_df(spark, mapping):
    return spark.createDataFrame(
        [(int(k), int(v)) for k, v in mapping.items()], "id long, label long"
    )


def test_agreement_matches_bruteforce(spark):
    from mesos_pregel_spark.algos.communities import clustering_agreement

    rng = random.Random(5)
    x = {i: rng.randrange(4) for i in range(40)}
    y = {i: rng.randrange(3) for i in range(40)}
    row = clustering_agreement(
        _labels_df(spark, x), _labels_df(spark, y)
    ).collect()[0]
    assert tuple(row) == _py_agreement(x, y)


def test_agreement_identical_labelings_is_perfect(spark):
    from mesos_pregel_spark.algos.communities import clustering_agreement

    x = {i: i % 3 for i in range(12)}
    row = clustering_agreement(
        _labels_df(spark, x), _labels_df(spark, x)
    ).collect()[0]
    assert row["rand"] == 1.0 and row["ari"] == 1.0


def test_agreement_trivial_labelings_ari_null(spark):
    from mesos_pregel_spark.algos.communities import clustering_agreement

    both_singletons = {i: i for i in range(6)}
    row = clustering_agreement(
        _labels_df(spark, both_singletons), _labels_df(spark, both_singletons)
    ).collect()[0]
    # x_pairs = y_pairs = both_pairs = 0 -> denominator 0 -> NULL ari,
    # rand still defined (1.0: every pair agrees on "different")
    assert row["ari"] is None and row["rand"] == 1.0


def test_lt_sweep_lanes_equal_separate_runs(spark):
    """Every lane of the multi-theta sweep must equal the single-theta
    lt_spread run EXACTLY (same rounds, not just same final sets) —
    the per-lane send-once gating cannot leak across lanes."""
    from mesos_pregel_spark.algos.spread import lt_sweep

    rng = random.Random(29)
    edges = [
        (s, d, float(rng.randrange(1, 4)))
        for s, d in {(rng.randrange(9), rng.randrange(9)) for _ in range(35)}
        if s != d
    ]
    seeds = sorted({s for s, _d, _w in edges})[:2]
    thetas = (0.3, 0.5, 0.7)
    sweep, _ = lt_sweep(spark, _df(spark, edges), seeds, thetas=thetas,
                        max_supersteps=8, edge_partitions=4)
    got = {r["id"]: (r["r0"], r["r1"], r["r2"]) for r in sweep.collect()}
    for i, th in enumerate(thetas):
        single, _ = lt_spread(spark, _df(spark, edges), seeds, theta=th,
                              max_supersteps=8, edge_partitions=3)
        want = {r["id"]: r["round"] for r in single.collect()}
        assert {v: rounds[i] for v, rounds in got.items()} == want, th


def test_lt_sweep_rounds_monotone_in_theta(spark):
    """A higher adoption bar can only delay (or prevent) activation:
    per vertex, r(θ) is non-decreasing in θ (with -1 = never as +∞)."""
    from mesos_pregel_spark.algos.spread import lt_sweep

    edges = [(0, 1, 3.0), (0, 2, 1.0), (1, 2, 2.0), (2, 3, 1.0),
             (1, 3, 1.0), (3, 4, 2.0), (0, 4, 1.0)]
    sweep, _ = lt_sweep(spark, _df(spark, edges), [0],
                        thetas=(0.2, 0.5, 0.9), max_supersteps=8,
                        edge_partitions=2)
    inf = 10 ** 9
    for r in sweep.collect():
        a, b, c = [(x if x >= 0 else inf) for x in (r["r0"], r["r1"], r["r2"])]
        assert a <= b <= c


def test_ic_spread_percolation_equivalence():
    """Derandomized IC on the twin: the cascade equals plain BFS
    reachability over the md5-surviving edge set — verified against a
    pure-python percolation BFS on a hand graph, including a seed
    whose cascade is cut off by failed edges."""
    import hashlib
    from collections import Counter, deque

    import duckdb

    from mesos_pregel_spark.queries import SQL_IC_SPREAD

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey INT, l_partkey INT)")
    # a 30-vertex ring + chords via 2-part baskets
    edges = [(i, (i + 1) % 30) for i in range(30)] + \
        [(i, (i + 7) % 30) for i in range(0, 30, 3)]
    for oid, (a, b) in enumerate(edges):
        lo, hi = sorted((a + 1, b + 1))
        con.execute("INSERT INTO lineitem VALUES (?, ?)", [100 + oid, lo])
        con.execute("INSERT INTO lineitem VALUES (?, ?)", [100 + oid, hi])

    def u48(lo, hi):
        h = hashlib.md5(f"ic42|{lo}|{hi}".encode()).hexdigest()[:12]
        return int(h, 16) / 281474976710656.0

    und = {tuple(sorted((a + 1, b + 1))) for a, b in edges}
    kept = [(lo, hi) for lo, hi in und if u48(lo, hi) < 0.5]
    adj = {}
    for lo, hi in kept:
        adj.setdefault(lo, set()).add(hi)
        adj.setdefault(hi, set()).add(lo)
    seeds = sorted(
        adj, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:4]
    exp = []
    for lane, s in enumerate(sorted(seeds)):   # lanes by ascending id
        dist = {s: 0}
        q = deque([s])
        while q:
            v = q.popleft()
            if dist[v] >= 8:
                continue
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = dist[v] + 1
                    q.append(w)
        for hop, n in sorted(Counter(dist.values()).items()):
            exp.append((lane, hop, n))
    got = sorted(tuple(r) for r in con.execute(SQL_IC_SPREAD).fetchall())
    assert got == sorted(exp)


def test_ic_spread_empty_percolation_gives_no_rows(spark, tmp_path):
    """Every co-purchase edge fails its md5 coin: the cascade has no
    seeds, and the engine returns an empty (lane, hop, n) frame where
    the DuckDB twin returns zero rows."""
    import hashlib

    import duckdb

    from mesos_pregel_spark.queries import SQL_IC_SPREAD, q_ic_spread

    def u48(lo, hi):
        h = hashlib.md5(f"ic42|{lo}|{hi}".encode()).hexdigest()[:12]
        return int(h, 16) / 281474976710656.0

    hi = next(k for k in range(2, 100) if u48(1, k) >= 0.5)
    rows = [(100, 1), (100, hi)]
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = q_ic_spread(spark, str(tmp_path))
    assert got.columns == ["lane", "hop", "n"]
    assert got.collect() == []

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey BIGINT, l_partkey BIGINT)")
    con.executemany("INSERT INTO lineitem VALUES (?, ?)", rows)
    assert con.execute(SQL_IC_SPREAD).fetchall() == []
