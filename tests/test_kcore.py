"""k-core peeling: engine vs python oracle (exact) + closed forms,
including a multi-round cascade."""

import os
import re
import shutil

import pytest

from tests.conftest import id_space
from tests.oracle_pregel import oracle_kcore

from mesos_pregel_spark.algos.kcore import k_core
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids

from pyspark.sql import types as T


def _compare(spark, ids_df, oracle_edges, k, **kw):
    got, run = k_core(spark, ids_df, k=k, **kw)
    expected = oracle_kcore(oracle_edges, k)
    got_map = {r["id"]: r["in_core"] for r in got.collect()}
    assert got_map == expected
    return run


def _df(spark, rows):
    schema = T.StructType([
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("weight", T.DoubleType(), False),
    ])
    return spark.createDataFrame(rows, schema=schema)


def test_triangle_with_tail_cascade(spark):
    """Triangle 1-2-3 plus tail 3-4-5: the 2-core is the triangle and
    the tail peels over TWO rounds (5 first, then 4) — exercises the
    multi-round cascade, not just one sweep."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 5, 1.0)]
    run = _compare(spark, _df(spark, rows), rows, k=2)
    got, _ = k_core(spark, _df(spark, rows), k=2)
    core = {r["id"] for r in got.collect() if r["in_core"]}
    assert core == {1, 2, 3}
    # removals land in two distinct supersteps, then one quiet round
    removed = [m["removed"] for m in run.metrics]
    assert removed[0] == 1 and removed[1] == 1 and removed[-1] == 0


def test_k4_closed_form(spark):
    ids_df, edges, names = id_space(spark, micro_graph_df(spark, "k4"))
    got3, _ = k_core(spark, ids_df, k=3)
    assert all(r["in_core"] for r in got3.collect())
    got4, _ = k_core(spark, ids_df, k=4)
    assert not any(r["in_core"] for r in got4.collect())


def test_star_two_rounds_to_empty(spark):
    """Star: leaves (degree 1) peel in round 1, the hub (now isolated)
    in round 2 — the 2-core is empty."""
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, "star_hub"))
    run = _compare(spark, ids_df, edges, k=2)
    assert run.metrics[-1]["core_size"] == 0
    assert len(run.metrics) == 3  # two peel rounds + the quiet round


@pytest.mark.parametrize("k", [1, 2, 3])
def test_transcript_graph(spark, k):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    _compare(spark, ids_df, edges, k=k)


def test_capped_run_equals_unrolled_prefix(spark):
    """Monotone peeling: a run capped at S supersteps equals the
    oracle peeled for exactly S rounds (the property the bounded
    driver query + unrolled SQL oracle rely on)."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 5, 1.0)]
    got, run = k_core(spark, _df(spark, rows), k=2, max_supersteps=1)
    assert run.superstep == 1
    got_map = {r["id"]: r["in_core"] for r in got.collect()}
    # after exactly one sweep only vertex 5 (degree 1) is out
    assert got_map == {1: True, 2: True, 3: True, 4: True, 5: False}


def _crash_after(ck_dir, last_kept_step):
    """Simulate a crash: drop every checkpoint superstep dir (including
    the final one) newer than ``last_kept_step``."""
    for name in os.listdir(ck_dir):
        m = re.match(r"^superstep=(\d{6})$", name)
        if m and int(m.group(1)) > last_kept_step:
            shutil.rmtree(os.path.join(ck_dir, name))


def test_checkpoint_resume_equals_straight(spark, tmp_path):
    """k-core is converged_at_cap: interrupt it mid-peel (crash-
    simulated by deleting the newer checkpoints), resume, and the final
    membership equals the straight-through run."""
    # chain 1..6 peels over several rounds; K4 on 7..10 survives k=2
    rows = [(i, i + 1, 1.0) for i in range(1, 6)] + [(6, 7, 1.0)] + [
        (7, 8, 1.0), (8, 9, 1.0), (9, 10, 1.0), (7, 9, 1.0), (8, 10, 1.0),
        (7, 10, 1.0),
    ]
    straight, _ = k_core(spark, _df(spark, rows), k=2)
    ck = str(tmp_path / "kc")
    _full, run1 = k_core(
        spark, _df(spark, rows), k=2, checkpoint_dir=ck, checkpoint_every=1,
    )
    assert len(run1.metrics) >= 3  # a real multi-round cascade
    _crash_after(ck, 1)
    resumed, run2 = k_core(
        spark, _df(spark, rows), k=2, checkpoint_dir=ck, checkpoint_every=1,
    )
    assert run2.metrics[0]["superstep"] >= 2  # actually resumed
    assert (
        {r["id"]: r["in_core"] for r in resumed.collect()}
        == {r["id"]: r["in_core"] for r in straight.collect()}
    )


# ---------------------------------------------------------------------------
# core_number — the full decomposition (H-index fixpoint)
# ---------------------------------------------------------------------------

from tests.oracle_pregel import oracle_core_number  # noqa: E402

from mesos_pregel_spark.algos.kcore import core_number  # noqa: E402


def _compare_core_number(spark, ids_df, oracle_edges, **kw):
    got, run = core_number(spark, ids_df, **kw)
    expected = oracle_core_number(oracle_edges)
    got_map = {r["id"]: r["core"] for r in got.collect()}
    assert got_map == expected
    return run


def test_core_number_triangle_with_tail(spark):
    """Triangle = core 2, tail vertices = core 1."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 5, 1.0)]
    got, _run = core_number(spark, _df(spark, rows))
    assert {r["id"]: r["core"] for r in got.collect()} == {
        1: 2, 2: 2, 3: 2, 4: 1, 5: 1,
    }


@pytest.mark.parametrize("name", ["k4", "two_islands", "star_hub", "bipartite6"])
def test_core_number_micro(spark, name):
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, name))
    _compare_core_number(spark, ids_df, edges)


def test_core_number_transcripts(spark):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    run = _compare_core_number(spark, ids_df, edges)
    assert run.metrics[-1]["changed_count"] == 0  # true fixpoint inside cap


def test_core_number_agrees_with_kcore_membership(spark):
    """Cross-check the two entry points: in_core(k) == (core >= k)."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 5, 1.0),
            (4, 6, 1.0), (5, 6, 1.0), (4, 5, 1.0)]
    cn, _ = core_number(spark, _df(spark, rows))
    cores = {r["id"]: r["core"] for r in cn.collect()}
    for k in (1, 2, 3):
        member, _ = k_core(spark, _df(spark, rows), k=k)
        for r in member.collect():
            assert r["in_core"] == (cores[r["id"]] >= k), (k, r)


def test_core_number_capped_equals_unrolled_prefix(spark):
    """Monotone H-index iteration: a 1-superstep cap equals one
    unrolled step (c1 = H over initial degrees) exactly."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 5, 1.0)]
    got, _run = core_number(spark, _df(spark, rows), max_supersteps=1)
    # hand-unrolled step 1: degrees {1:2, 2:2, 3:3, 4:2, 5:1};
    # H(nbr degs): 1<-{2,3}: H{2,3}=2; 2<-{1,3}: H{2,3}=2;
    # 3<-{1,2,4}: H{2,2,2}=2; 4<-{3,5}: H{3,1}=1; 5<-{4}: H{2}=1
    assert {r["id"]: r["core"] for r in got.collect()} == {
        1: 2, 2: 2, 3: 2, 4: 1, 5: 1,
    }


def _py_onion(edges, k, rounds=50):
    """Exact-recipe replication of onion_layers' fixed-k peel."""
    nbrs = {}
    for a, b in {(min(e), max(e)) for e in edges}:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    alive = set(nbrs)
    layer = {v: 0 for v in nbrs}
    for r in range(1, rounds + 1):
        doomed = {v for v in alive
                  if len(nbrs[v] & alive) < k}
        if not doomed:
            break
        for v in doomed:
            layer[v] = r
        alive -= doomed
    return layer


def test_onion_layers_matches_python(spark):
    import random

    from mesos_pregel_spark.algos.kcore import onion_layers

    rng = random.Random(31)
    edges = list({tuple(sorted((rng.randrange(12), rng.randrange(12))))
                  for _ in range(36)})
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(
        [(int(a), int(b), 1.0) for a, b in edges],
        "src long, dst long, weight double",
    ).repartition(3)
    layers, run = onion_layers(spark, df, k=2, max_supersteps=50,
                               edge_partitions=3)
    got = {r["id"]: r["layer"] for r in layers.collect()}
    assert got == _py_onion(edges, 2)


def test_onion_layers_consistent_with_kcore(spark):
    """layer == 0 exactly for the k-core survivors k_core reports."""
    from mesos_pregel_spark.algos.kcore import k_core, onion_layers

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]   # triangle + tail
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in edges],
        "src long, dst long, weight double",
    )
    layers, _ = onion_layers(spark, df, k=2, edge_partitions=2)
    members, _ = k_core(spark, df, k=2, edge_partitions=2)
    got_layer = {r["id"]: r["layer"] for r in layers.collect()}
    got_core = {r["id"]: r["in_core"] for r in members.collect()}
    for v, in_core in got_core.items():
        assert (got_layer[v] == 0) == in_core
    # the tail peels outside-in: 5 first, then 4
    assert got_layer[5] == 1 and got_layer[4] == 2
    assert got_layer[1] == got_layer[2] == got_layer[3] == 0


def test_s_core_weighted_cascade(spark):
    from mesos_pregel_spark.algos.kcore import s_core

    # strengths: a=4, b=5, c=3.  s=4 kills c, then a and b starve.
    df = spark.createDataFrame(
        [("a", "b", 3.0), ("b", "c", 2.0), ("a", "c", 1.0)],
        "src string, dst string, weight double",
    )
    out, _run = s_core(spark, df, s=4.0)
    got = {r["id"]: r["in_core"] for r in out.collect()}
    assert got == {"a": False, "b": False, "c": False}

    out3, _run = s_core(spark, df, s=3.0)
    got3 = {r["id"]: r["in_core"] for r in out3.collect()}
    assert got3 == {"a": True, "b": True, "c": True}


def test_s_core_capped_round_is_exact(spark):
    from mesos_pregel_spark.algos.kcore import s_core

    df = spark.createDataFrame(
        [("a", "b", 3.0), ("b", "c", 2.0), ("a", "c", 1.0)],
        "src string, dst string, weight double",
    )
    # one peel round at s=4: only c has fallen so far
    out, run = s_core(spark, df, s=4.0, max_supersteps=1)
    got = {r["id"]: r["in_core"] for r in out.collect()}
    assert got == {"a": True, "b": True, "c": False}
    assert len(run.metrics) == 1  # exactly the one bounded round ran


def test_s_core_differs_from_k_core(spark):
    from mesos_pregel_spark.algos.kcore import k_core, s_core

    # hub h has FOUR weight-1 partners (degree 4, strength 4);
    # pair x-y has ONE heavy link (degree 1+tail, strength 5 each)
    df = spark.createDataFrame(
        [("h", "p1", 1.0), ("h", "p2", 1.0), ("h", "p3", 1.0),
         ("h", "p4", 1.0), ("x", "y", 5.0)],
        "src string, dst string, weight double",
    )
    kc, _ = k_core(spark, df, k=2)
    in_k = {r["id"] for r in kc.collect() if r["in_core"]}
    sc, _ = s_core(spark, df, s=5.0)
    in_s = {r["id"] for r in sc.collect() if r["in_core"]}
    assert "x" in in_s and "y" in in_s and "h" not in in_s
    assert "x" not in in_k and "h" not in in_k  # degree view disagrees


def test_core_periphery_closed_form():
    """Borgatti-Everett block densities on a planted K4 core with 5
    pendant periphery parts (twin side — the Spark side is pinned by
    driver parity at two scales): kmax=3, core-core density exactly
    1.0, core-periphery 5/20, periphery-periphery 0.0."""
    import duckdb

    from mesos_pregel_spark.queries import SQL_CORE_PERIPHERY

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey INT, l_partkey INT)")
    # one basket with parts 1..4 -> co-order K4 (coreness 3)
    for p in (1, 2, 3, 4):
        con.execute("INSERT INTO lineitem VALUES (100, ?)", [p])
    # five 2-part baskets hanging part 1 with a pendant (coreness 1)
    for i, p in enumerate((10, 11, 12, 13, 14)):
        con.execute("INSERT INTO lineitem VALUES (?, 1)", [200 + i])
        con.execute("INSERT INTO lineitem VALUES (?, ?)", [200 + i, p])
    row = con.execute(SQL_CORE_PERIPHERY).fetchone()
    kmax, n_core, n_periph, e_cc, e_cp, e_pp, d_cc, d_cp, d_pp = row
    assert (kmax, n_core, n_periph) == (3, 4, 5)
    assert (e_cc, e_cp, e_pp) == (6, 5, 0)
    assert (d_cc, d_cp, d_pp) == (1.0, 0.25, 0.0)


def test_coreness_mixing_closed_form():
    """Core-mixing twin on the K4+pendants graph: pendant edges pair
    core 3 with core 1, clique edges pair 3 with 3 — python Pearson
    over the exact endpoint pairs reproduces the value bitwise."""
    import math

    import duckdb

    from mesos_pregel_spark.queries import SQL_CORENESS_MIXING

    con = duckdb.connect()
    con.execute("CREATE TABLE lineitem (l_orderkey INT, l_partkey INT)")
    for p in (1, 2, 3, 4):
        con.execute("INSERT INTO lineitem VALUES (100, ?)", [p])
    for i, p in enumerate((10, 11, 12, 13, 14)):
        con.execute("INSERT INTO lineitem VALUES (?, 1)", [200 + i])
        con.execute("INSERT INTO lineitem VALUES (?, ?)", [200 + i, p])
    n, r = con.execute(SQL_CORENESS_MIXING).fetchone()
    core = {1: 3, 2: 3, 3: 3, 4: 3, 10: 1, 11: 1, 12: 1, 13: 1, 14: 1}
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)] + \
        [(1, p) for p in (10, 11, 12, 13, 14)]
    pairs = [(core[a], core[b]) for a, b in edges] + \
        [(core[b], core[a]) for a, b in edges]
    nn = len(pairs)
    sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
    sxx = sum(x * x for x, _ in pairs); syy = sum(y * y for _, y in pairs)
    sxy = sum(x * y for x, y in pairs)
    exp = (nn * sxy - sx * sy) / math.sqrt(
        (nn * sxx - sx * sx) * (nn * syy - sy * sy))
    assert n == nn == 22
    assert r == exp
    assert r < 0   # hub bridges deep core to shallow pendants
