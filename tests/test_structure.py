"""Structure analytics (algos/structure.py) vs brute-force python
oracles: clustering coefficients, assortativity, link prediction,
densest subgraph — including the isolated-survivor peel edge case."""

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from mesos_pregel_spark.algos.structure import (
    RA_SCALE,
    clustering_coefficients,
    degree_assortativity,
    densest_subgraph,
    global_clustering,
    link_prediction,
    link_prediction_aa,
    link_prediction_ra,
)


def _df(spark, pairs):
    return spark.createDataFrame(
        [(a, b, 1.0) for a, b in pairs], "src string, dst string, weight double"
    )


def _und(pairs):
    s = set()
    for a, b in pairs:
        if a != b:
            s.add((min(a, b), max(a, b)))
    return s


def _adj(und):
    adj = defaultdict(set)
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    return adj


# A graph with a triangle-rich core, a pendant, and a multi/self edge
# to exercise canonicalization.
PAIRS = [
    ("a", "b"), ("b", "c"), ("a", "c"),       # triangle
    ("c", "d"), ("d", "e"), ("c", "e"),       # second triangle sharing c
    ("e", "f"),                                # pendant
    ("b", "a"), ("a", "a"),                    # reverse dup + self loop
]


def test_clustering_coefficients(spark):
    got = {
        r["id"]: (r["deg"], r["triangles"], r["lcc"])
        for r in clustering_coefficients(spark, _df(spark, PAIRS)).collect()
    }
    und = _und(PAIRS)
    adj = _adj(und)
    for v, nbrs in adj.items():
        tri = sum(
            1
            for x in nbrs
            for y in nbrs
            if x < y and (min(x, y), max(x, y)) in und
        )
        d = len(nbrs)
        lcc = (2.0 * tri) / (d * (d - 1)) if d >= 2 else 0.0
        assert got[v] == (d, tri, lcc), v
    assert set(got) == set(adj)


def test_global_clustering(spark):
    row = global_clustering(spark, _df(spark, PAIRS)).collect()[0]
    und = _und(PAIRS)
    adj = _adj(und)
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in adj.values())
    tris = (
        sum(
            1
            for a, b in und
            for c in adj[a] & adj[b]
        )
        // 3
    )
    assert row["triangles"] == tris
    assert row["wedges"] == wedges
    assert row["transitivity"] == 3.0 * tris / wedges


def test_assortativity_exact(spark):
    row = degree_assortativity(spark, _df(spark, PAIRS)).collect()[0]
    und = _und(PAIRS)
    adj = _adj(und)
    xs, ys = [], []
    for a, b in und:
        xs += [len(adj[a]), len(adj[b])]
        ys += [len(adj[b]), len(adj[a])]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    want = (n * sxy - sx * sy) / math.sqrt(
        float(n * sxx - sx * sx) * float(n * syy - sy * sy)
    )
    assert row["n_endpoints"] == n
    assert row["assortativity"] == pytest.approx(want, abs=1e-12)


def _oracle_link_prediction(und, min_common, top_k, max_degree=None):
    adj = _adj(und)
    centers = {
        v for v in adj if max_degree is None or len(adj[v]) <= max_degree
    }
    cn = defaultdict(int)
    for v in centers:
        nbrs = sorted(adj[v])
        for i, a in enumerate(nbrs):
            for b in nbrs[i + 1:]:
                cn[(a, b)] += 1
    rows = []
    for (a, b), c in cn.items():
        if (a, b) in und or c < min_common:
            continue
        j = c / (len(adj[a]) + len(adj[b]) - c)
        rows.append((a, b, c, j))
    rows.sort(key=lambda r: (-r[3], -r[2], r[0], r[1]))
    return rows[:top_k]


def test_link_prediction(spark):
    got = [
        (r["lo"], r["hi"], r["cn"], r["jaccard"])
        for r in link_prediction(
            spark, _df(spark, PAIRS), min_common=1, top_k=10
        ).collect()
    ]
    assert got == _oracle_link_prediction(_und(PAIRS), 1, 10)


def test_link_prediction_max_degree_caps_centers(spark):
    # star hub z adjacent to everything: capped out of the center role
    pairs = PAIRS + [("z", v) for v in "abcdef"]
    got = [
        (r["lo"], r["hi"], r["cn"], r["jaccard"])
        for r in link_prediction(
            spark, _df(spark, pairs), min_common=1, top_k=20, max_degree=4
        ).collect()
    ]
    assert got == _oracle_link_prediction(_und(pairs), 1, 20, max_degree=4)
    # the cap must change the result here (z is the top wedge center)
    uncapped = _oracle_link_prediction(_und(pairs), 1, 20)
    assert got != uncapped


def _oracle_link_prediction_ra(und, min_common, top_k, max_degree=None):
    """RA(a,b) = sum over shared neighbours v of RA_SCALE // deg(v),
    exact integers throughout; only the reported ra divides once."""
    adj = _adj(und)
    centers = {
        v for v in adj if max_degree is None or len(adj[v]) <= max_degree
    }
    cn = defaultdict(int)
    ra_num = defaultdict(int)
    for v in centers:
        unit = RA_SCALE // len(adj[v])
        nbrs = sorted(adj[v])
        for i, a in enumerate(nbrs):
            for b in nbrs[i + 1:]:
                cn[(a, b)] += 1
                ra_num[(a, b)] += unit
    rows = []
    for (a, b), c in cn.items():
        if (a, b) in und or c < min_common:
            continue
        rows.append((a, b, c, ra_num[(a, b)]))
    rows.sort(key=lambda r: (-r[3], -r[2], r[0], r[1]))
    return [(a, b, c, n / float(RA_SCALE)) for a, b, c, n in rows[:top_k]]


def test_link_prediction_ra(spark):
    got = [
        (r["lo"], r["hi"], r["cn"], r["ra"])
        for r in link_prediction_ra(
            spark, _df(spark, PAIRS), min_common=1, top_k=10
        ).collect()
    ]
    assert got == _oracle_link_prediction_ra(_und(PAIRS), 1, 10)


def test_link_prediction_ra_hub_cap(spark):
    pairs = PAIRS + [("z", v) for v in "abcdef"]
    got = [
        (r["lo"], r["hi"], r["cn"], r["ra"])
        for r in link_prediction_ra(
            spark, _df(spark, pairs), min_common=1, top_k=20, max_degree=4
        ).collect()
    ]
    assert got == _oracle_link_prediction_ra(_und(pairs), 1, 20, max_degree=4)
    assert got != _oracle_link_prediction_ra(_und(pairs), 1, 20)


def _oracle_link_prediction_aa(und, min_common, top_k, max_degree=None):
    """AA unit per shared neighbour v: half-up ROUND of
    RA_SCALE / round(ln(deg v), 6) — the engine's exact recipe
    (6dp-rounded ln, one IEEE division, one half-up round)."""
    adj = _adj(und)
    centers = {
        v for v in adj
        if len(adj[v]) >= 2
        and (max_degree is None or len(adj[v]) <= max_degree)
    }
    cn = defaultdict(int)
    aa_num = defaultdict(int)
    for v in centers:
        ln6 = round(math.log(len(adj[v])), 6)
        unit = int(math.floor(float(RA_SCALE) / ln6 + 0.5))
        nbrs = sorted(adj[v])
        for i, a in enumerate(nbrs):
            for b in nbrs[i + 1:]:
                cn[(a, b)] += 1
                aa_num[(a, b)] += unit
    rows = []
    for (a, b), c in cn.items():
        if (a, b) in und or c < min_common:
            continue
        rows.append((a, b, c, aa_num[(a, b)]))
    rows.sort(key=lambda r: (-r[3], -r[2], r[0], r[1]))
    return [(a, b, c, n / float(RA_SCALE)) for a, b, c, n in rows[:top_k]]


def test_link_prediction_aa(spark):
    got = [
        (r["lo"], r["hi"], r["cn"], r["aa"])
        for r in link_prediction_aa(
            spark, _df(spark, PAIRS), min_common=1, top_k=10
        ).collect()
    ]
    assert got == _oracle_link_prediction_aa(_und(PAIRS), 1, 10)
    # hand value: (a,d) shares exactly the neighbour c (deg 4), so
    # aa(a,d) = 1/ln(4) — the ln is really in the score (RA gives 1/4)
    ad = {(lo, hi): aa for lo, hi, _, aa in got}[("a", "d")]
    assert ad == pytest.approx(1.0 / math.log(4), abs=1e-6)


def test_link_prediction_aa_hub_cap(spark):
    pairs = PAIRS + [("z", v) for v in "abcdef"]
    got = [
        (r["lo"], r["hi"], r["cn"], r["aa"])
        for r in link_prediction_aa(
            spark, _df(spark, pairs), min_common=1, top_k=20, max_degree=4
        ).collect()
    ]
    assert got == _oracle_link_prediction_aa(_und(pairs), 1, 20, max_degree=4)
    assert got != _oracle_link_prediction_aa(_und(pairs), 1, 20)


def _oracle_densest(und, max_rounds=24):
    """Mirror the pinned peel: S_t explicit, integer cut
    deg*|S| <= 3*|E|, best = max density earliest."""
    edges = set(und)
    verts = {v for e in und for v in e}
    stats = []
    removed_round = {}
    for t in range(max_rounds):
        if not verts:
            break
        stats.append((t, len(verts), len(edges)))
        deg = {v: 0 for v in verts}
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        cut = {v for v in verts if deg[v] * len(verts) <= 3 * len(edges)}
        for v in cut:
            removed_round[v] = t
        verts -= cut
        edges = {(a, b) for a, b in edges if a in verts and b in verts}
    best_t, best_v, best_e = stats[0]
    for t, v, e in stats[1:]:
        if e * best_v > best_e * v:
            best_t, best_v, best_e = t, v, e
    members = {
        v
        for v in {x for e in und for x in e}
        if v not in removed_round or removed_round[v] >= best_t
    }
    return members, best_e / best_v, best_t


def test_densest_subgraph_clique_plus_tail(spark):
    # 5-clique plus a long tail: densest = the clique
    clique = [(a, b) for a in "pqrst" for b in "pqrst" if a < b]
    tail = [("t", "u"), ("u", "v"), ("v", "w"), ("w", "x")]
    df = _df(spark, clique + tail)
    out, run = densest_subgraph(spark, df)
    members = {r["id"] for r in out.collect()}
    dens = out.collect()[0]["density"]
    want_members, want_dens, want_t = _oracle_densest(_und(clique + tail))
    assert members == want_members
    assert dens == want_dens
    assert set("pqrst") <= members
    assert run.metrics  # per-round telemetry recorded


def test_densest_subgraph_isolated_survivor(spark):
    # Hub h with leaves; leaves die in round 0 but h survives the cut?
    # Construct so a survivor is isolated by its neighbors' removal:
    # triangle (dense core) + a 2-path y-z where z's only neighbor y
    # is cut while z survives? Use the oracle as ground truth either
    # way — the point is engine == oracle through the isolation path.
    pairs = [("a", "b"), ("b", "c"), ("a", "c"), ("a", "d"), ("d", "e"),
             ("e", "f"), ("f", "g")]
    out, _run = densest_subgraph(spark, _df(spark, pairs))
    members = {r["id"] for r in out.collect()}
    want_members, want_dens, _t = _oracle_densest(_und(pairs))
    assert members == want_members
    assert out.collect()[0]["density"] == want_dens


def test_densest_subgraph_edgeless(spark):
    df = spark.createDataFrame(
        [("a", "a", 1.0)], "src string, dst string, weight double"
    )
    out, _run = densest_subgraph(spark, df)
    assert out.collect() == []


@pytest.mark.parametrize("shape", ["clique_plus_tail", "edgeless"])
def test_densest_subgraph_releases_round_checkpoints(spark, shape):
    """Once the result is collected, only the result's own checkpoint
    is still persisted: no per-round survivor, edge or removal
    checkpoint, and not the undirected edge cache."""
    if shape == "edgeless":
        df = spark.createDataFrame(
            [("a", "a", 1.0)], "src string, dst string, weight double"
        )
    else:
        clique = [(a, b) for a in "pqrst" for b in "pqrst" if a < b]
        tail = [("t", "u"), ("u", "v"), ("v", "w"), ("w", "x")]
        df = _df(spark, clique + tail)
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out, _run = densest_subgraph(spark, df)
    out.collect()
    assert jsc.getPersistentRDDs().size() <= before + 1


def test_densest_partition_invariance(spark):
    clique = [(a, b) for a in "pqrst" for b in "pqrst" if a < b]
    tail = [("t", "u"), ("u", "v")]
    df = _df(spark, clique + tail)
    a, _ = densest_subgraph(spark, df, edge_partitions=1)
    b, _ = densest_subgraph(spark, df, edge_partitions=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_rich_club_vs_brute(spark):
    """rich_club vs a brute-force induced-subgraph oracle on a
    deterministic pseudo-random graph — the oracle rebuilds the
    deg>k induced subgraph per k instead of suffix-summing."""
    import random as _random

    from mesos_pregel_spark.algos.structure import rich_club

    rng = _random.Random(5)
    raw = list({(rng.randrange(20), rng.randrange(20)) for _ in range(120)})
    e = {(min(a, b), max(a, b)) for a, b in raw if a != b}
    deg = {}
    for a, b in e:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    expect = {}
    for k in sorted(set(deg.values())):
        rich = {v for v, d in deg.items() if d > k}
        if len(rich) < 2:
            continue
        re_ = sum(1 for a, b in e if a in rich and b in rich)
        expect[k] = (
            len(rich), re_,
            round(2 * re_ / (len(rich) * (len(rich) - 1)), 9),
        )
    df = spark.createDataFrame(
        [(int(a), int(b), 1.0) for a, b in raw], "src long, dst long, weight double"
    )
    got = {
        r["k"]: (r["n_rich"], r["rich_edges"], r["phi"])
        for r in rich_club(spark, df).collect()
    }
    assert got == expect


def test_rich_club_star_no_rows(spark):
    """A star: hub deg n-1, leaves deg 1 — at k=1 only the hub
    survives (n_rich=1 < 2), so no row qualifies."""
    from mesos_pregel_spark.algos.structure import rich_club

    df = spark.createDataFrame(
        [(0, i, 1.0) for i in range(1, 6)], "src long, dst long, weight double"
    )
    rows = rich_club(spark, df).collect()
    assert [r["k"] for r in rows] == []


def test_weighted_clustering_vs_brute(spark):
    """Barrat cw vs a brute-force triangle-walk oracle on a random
    weighted graph (integer weights; parallel edges summed)."""
    import itertools
    import random as _random

    from mesos_pregel_spark.algos.structure import weighted_clustering

    rng = _random.Random(13)
    raw = [
        (rng.randrange(10), rng.randrange(10), float(rng.randrange(1, 5)))
        for _ in range(60)
    ]
    w = {}
    for a, b, x in raw:
        if a == b:
            continue
        k = (min(a, b), max(a, b))
        w[k] = w.get(k, 0) + int(x)
    adj = {}
    for (a, b), x in w.items():
        adj.setdefault(a, {})[b] = x
        adj.setdefault(b, {})[a] = x
    expect = {}
    for v, nbrs in adj.items():
        k, s = len(nbrs), sum(nbrs.values())
        num2 = sum(
            nbrs[a] + nbrs[b]
            for a, b in itertools.combinations(sorted(nbrs), 2)
            if (min(a, b), max(a, b)) in w
        )
        cw = round(num2 / (s * (k - 1)), 9) if k >= 2 else 0.0
        expect[v] = (k, s, num2, cw)
    df = spark.createDataFrame(raw, "src long, dst long, weight double")
    got = {
        r["id"]: (r["k"], r["s"], r["num2"], r["cw"])
        for r in weighted_clustering(spark, df).collect()
    }
    assert got == expect


def test_weighted_clustering_uniform_weights_match_lcc(spark):
    """With all weights 1, Barrat cw collapses to the plain lcc."""
    from mesos_pregel_spark.algos.structure import (
        clustering_coefficients,
        weighted_clustering,
    )

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 1), (4, 5)]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges], "src long, dst long, weight double"
    )
    cw = {r["id"]: r["cw"] for r in weighted_clustering(spark, df).collect()}
    lcc = {r["id"]: round(r["lcc"], 9)
           for r in clustering_coefficients(spark, df).collect()}
    assert cw == lcc


def _oracle_hill(degrees, dmin):
    """Exact-recipe replication of hill_alpha."""
    import decimal
    import math

    def half_up(x):
        return int(decimal.Decimal(x).quantize(
            0, rounding=decimal.ROUND_HALF_UP))

    tail = [d for d in degrees if d >= dmin]
    s = sum(half_up(math.log(float(d) / float(dmin)) * 1e6) for d in tail)
    n, nt = len(degrees), len(tail)
    share = round(float(nt) / float(n), 9)
    alpha = round(1.0 + (float(nt) * 1e6) / float(s), 9) if s > 0 else None
    return (dmin, n, nt, share, alpha)


def _hill_run(spark, degrees, dmin):
    from mesos_pregel_spark.algos.structure import hill_alpha

    df = spark.createDataFrame(
        [(i, d) for i, d in enumerate(degrees)], "id long, degree long"
    )
    rows = hill_alpha(df, dmin=dmin).collect()
    assert len(rows) == 1
    r = rows[0]
    return (r["dmin"], r["n_vertices"], r["n_tail"], r["tail_share"],
            r["alpha"])


def test_hill_alpha_matches_recipe_oracle(spark):
    degrees = [1, 1, 2, 2, 3, 4, 4, 8, 16, 100, 1000]
    for dmin in (1, 2, 5):
        assert _hill_run(spark, degrees, dmin) == _oracle_hill(degrees, dmin)


def test_hill_alpha_pure_powerlaw_recovers_exponent(spark):
    # continuous power-law quantiles d_i = dmin * (1 - u_i)^(-1/(a-1))
    # with a = 2.5: the Hill estimate must land near 2.5
    a, dmin, n = 2.5, 2, 2000
    degrees = [
        max(dmin, int(round(dmin * ((1 - (i + 0.5) / n) ** (-1 / (a - 1))))))
        for i in range(n)
    ]
    got = _hill_run(spark, degrees, dmin)
    assert got == _oracle_hill(degrees, dmin)
    assert 2.3 < got[4] < 2.7


def test_hill_alpha_degenerate_and_empty_tail(spark):
    # every tail degree == dmin -> sum 0 -> NULL alpha (MLE diverges)
    assert _hill_run(spark, [2, 2, 2, 1], 2) == (2, 4, 3, 0.75, None)
    # empty tail -> n_tail 0, NULL alpha
    assert _hill_run(spark, [1, 1], 5) == (5, 2, 0, 0.0, None)
    import pytest as _pytest
    from mesos_pregel_spark.algos.structure import hill_alpha

    df = spark.createDataFrame([(1, 2)], "id long, degree long")
    with _pytest.raises(ValueError):
        hill_alpha(df, dmin=0)


def test_dispersion_closed_forms():
    """BK dispersion on the twin (Spark side pinned by driver parity
    at two scales): two common neighbors that are themselves linked
    give dispersion 0; two unlinked common neighbors give 1; the
    capped embeddedness column counts the apexes."""
    import duckdb

    from mesos_pregel_spark.queries import SQL_DISPERSION

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey INT, l_partkey INT)")

    def basket(oid, parts):
        for p in parts:
            con.execute("INSERT INTO lineitem VALUES (?, ?)", [oid, p])

    # edge (1,2) with common neighbors 3 and 4, and 3-4 LINKED
    # (one basket {1,2,3,4} creates all 6 pairs incl. 3-4)
    basket(100, [1, 2, 3, 4])
    # edge (11,12) with common neighbors 13,14 NOT linked:
    # baskets {11,12}, {11,12? no -- build via three baskets:
    # {11,12,13} and {11,12,14}: edges 11-12 (twice), 11-13, 12-13,
    # 11-14, 12-14; 13-14 absent
    basket(200, [11, 12, 13])
    basket(201, [11, 12, 14])
    rows = {(r[0], r[1]): (r[2], r[3])
            for r in con.execute(SQL_DISPERSION).fetchall()}
    assert rows[(1, 2)] == (2, 0)      # 3-4 linked -> dispersion 0
    assert rows[(11, 12)] == (2, 1)    # 13-14 unlinked -> dispersion 1
    # single-apex edges have no pairs at all
    assert rows[(11, 13)] == (1, 0)


def test_forman_curvature_closed_forms():
    """Forman-Ricci on the twin: a triangle edge has F = 4-2-2+3 = 3;
    a bare bridge between two hubs is strongly negative."""
    import duckdb

    from mesos_pregel_spark.queries import SQL_FORMAN

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey INT, l_partkey INT)")

    def basket(oid, parts):
        for p in parts:
            con.execute("INSERT INTO lineitem VALUES (?, ?)", [oid, p])

    # triangle {1,2,3}
    basket(100, [1, 2, 3])
    # bridge 3-10 where 10 is a hub with 4 pendant edges
    basket(200, [3, 10])
    for i, p in enumerate((11, 12, 13, 14)):
        basket(300 + i, [10, p])
    rows = {(r[0], r[1]): (r[2], r[3], r[4], r[5])
            for r in con.execute(SQL_FORMAN).fetchall()}
    # triangle edge (1,2): deg 2+2, t=1 -> 4-4+3 = 3
    assert rows[(1, 2)] == (2, 2, 1, 3)
    # bridge (3,10): deg 3 and 5, t=0 -> 4-8 = -4
    assert rows[(3, 10)] == (3, 5, 0, -4)
    # most negative first: the bridge outranks every triangle edge
    first = con.execute(SQL_FORMAN).fetchone()
    assert (first[0], first[1]) == (3, 10)


def test_ego_net_caps_and_determinism():
    """Snowball twin on a hand graph: a 12-neighbor hub seed keeps only
    its 8 smallest-id neighbors; hop-2 rows expand only from kept
    hop-1 endpoints; output is a pure function of the graph (two runs
    identical)."""
    import duckdb

    from mesos_pregel_spark.queries import SQL_EGO_NET

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey INT, l_partkey INT)")
    # hub 1 with neighbors 2..13 (12 of them) via 2-part baskets
    for i, p in enumerate(range(2, 14)):
        con.execute("INSERT INTO lineitem VALUES (?, 1)", [100 + i])
        con.execute("INSERT INTO lineitem VALUES (?, ?)", [100 + i, p])
    # neighbor 2 has extra neighbors 20, 21
    for i, p in enumerate((20, 21)):
        con.execute("INSERT INTO lineitem VALUES (?, 2)", [300 + i])
        con.execute("INSERT INTO lineitem VALUES (?, ?)", [300 + i, p])
    rows = con.execute(SQL_EGO_NET).fetchall()
    again = con.execute(SQL_EGO_NET).fetchall()
    assert sorted(rows) == sorted(again)
    by_seed_src = {}
    for seed, hop, src, dst in rows:
        by_seed_src.setdefault((seed, hop, src), set()).add(dst)
    # wherever vertex 1 was expanded, only its 8 smallest neighbors
    for (seed, hop, src), dsts in by_seed_src.items():
        if src == 1:
            assert dsts == set(range(2, 10)), (seed, hop, dsts)
    # hop-2 srcs are exactly hop-1 dsts of the same seed
    for seed in {r[0] for r in rows}:
        h1_dst = {r[3] for r in rows if r[0] == seed and r[1] == 1}
        h2_src = {r[2] for r in rows if r[0] == seed and r[1] == 2}
        assert h2_src <= h1_dst
