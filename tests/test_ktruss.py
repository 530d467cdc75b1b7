"""k-truss: engine vs python peel oracle + closed forms."""

import pytest

from pyspark.sql import types as T

from tests.conftest import id_space
from tests.oracle_pregel import oracle_ktruss

from mesos_pregel_spark.algos.ktruss import k_truss
from mesos_pregel_spark.fixtures import generate_transcripts, micro_graph_df
from mesos_pregel_spark.functions.edges import build_edges, edges_with_ids


def _df(spark, rows):
    schema = T.StructType([
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("weight", T.DoubleType(), False),
    ])
    return spark.createDataFrame(rows, schema=schema)


def _edges(df):
    return {(r["lo"], r["hi"]) for r in df.collect()}


def _compare(spark, edges_df, oracle_edges, k, **kw):
    got, _run = k_truss(spark, edges_df, k=k, **kw)
    assert _edges(got) == oracle_ktruss(oracle_edges, k)


def test_triangle_with_tail(spark):
    """3-truss of triangle+tail = the triangle; the tail edges are in
    no triangle and peel in round 1."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 5, 1.0)]
    got, run = k_truss(spark, _df(spark, rows), k=3)
    assert _edges(got) == {(1, 2), (1, 3), (2, 3)}
    assert run.metrics[0]["removed"] == 2


def test_diamond_cascade(spark):
    """Diamond (4-cycle + one diagonal): every edge is in >= 1
    triangle, but 4-truss needs support 2 — only the diagonal has it,
    and removing the others starves the diagonal: 4-truss is EMPTY and
    takes a multi-round cascade."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 1, 1.0), (1, 3, 1.0)]
    got3, _ = k_truss(spark, _df(spark, rows), k=3)
    assert _edges(got3) == {(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)}
    got4, run4 = k_truss(spark, _df(spark, rows), k=4)
    assert _edges(got4) == set()
    assert run4.superstep >= 2  # the diagonal only dies in round 2


@pytest.mark.parametrize("name,k", [
    ("k4", 3), ("k4", 4), ("k4", 5),
    ("two_islands", 3), ("star_hub", 3), ("bipartite6", 3),
])
def test_micro_graphs(spark, name, k):
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, name))
    _compare(spark, ids_df, edges, k)


@pytest.mark.parametrize("k", [3, 4])
def test_transcript_graph(spark, k):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    _compare(spark, ids_df, edges, k)


def test_k_below_2_rejected(spark):
    with pytest.raises(ValueError, match="k >= 2"):
        k_truss(spark, _df(spark, [(1, 2, 1.0)]), k=1)


# ---------------------------------------------------------------------------
# trussness — the full decomposition (strata peel)
# ---------------------------------------------------------------------------

from tests.oracle_pregel import oracle_trussness  # noqa: E402

from mesos_pregel_spark.algos.ktruss import trussness  # noqa: E402


def _compare_trussness(spark, edges_df, oracle_edges, max_k=20, **kw):
    # Same cap on BOTH sides: a fixture whose true trussness exceeded
    # the engine default would otherwise fail on the cap label rather
    # than a real defect (ADVICE r3).
    got, run = trussness(spark, edges_df, max_k=max_k, **kw)
    got_map = {(r["lo"], r["hi"]): r["trussness"] for r in got.collect()}
    assert got_map == oracle_trussness(oracle_edges, max_k=max_k)
    return run


def test_trussness_triangle_with_tail(spark):
    """Triangle edges have trussness 3; tail edges (no triangle) 2."""
    rows = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (3, 4, 1.0), (4, 5, 1.0)]
    got, _run = trussness(spark, _df(spark, rows))
    assert {(r["lo"], r["hi"]): r["trussness"] for r in got.collect()} == {
        (1, 2): 3, (1, 3): 3, (2, 3): 3, (3, 4): 2, (4, 5): 2,
    }


def test_trussness_k4(spark):
    """K4: every edge sits in 2 triangles of K4 — trussness 4."""
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, "k4"))
    got, _run = trussness(spark, ids_df)
    assert {r["trussness"] for r in got.collect()} == {4}


@pytest.mark.parametrize("name", ["two_islands", "star_hub", "bipartite6"])
def test_trussness_micro(spark, name):
    ids_df, edges, _names = id_space(spark, micro_graph_df(spark, name))
    _compare_trussness(spark, ids_df, edges)


def test_trussness_transcripts(spark):
    t = generate_transcripts(spark, n_conv=300, seed=42)
    ids_df = edges_with_ids(build_edges(t))
    edges = [(r["src"], r["dst"], r["weight"]) for r in ids_df.collect()]
    _compare_trussness(spark, ids_df, edges)


def test_trussness_cap_saturation_metric(spark):
    """Survivors at max_k mean the cap SATURATED (true trussness may
    exceed the label) — the run must say so in its metrics.  K4 has
    trussness 4 everywhere, so max_k=3 saturates."""
    ids_df, _edges, _names = id_space(spark, micro_graph_df(spark, "k4"))
    got, run = trussness(spark, ids_df, max_k=3)
    assert {r["trussness"] for r in got.collect()} == {3}
    cap = [m for m in run.metrics if m.get("cap_saturated")]
    assert cap and cap[-1]["survivors"] == 6 and cap[-1]["level"] == 3
    # an uncapped (high-cap) run on the same graph reports no saturation
    _got2, run2 = trussness(spark, ids_df, max_k=20)
    assert not any(m.get("cap_saturated") for m in run2.metrics)


def test_ktruss_zipf_hub_small_id(spark):
    """The round-2 wedge enumeration built wedges on the id-canonical
    `lo` endpoint, so a hub with a SMALL vertex id generated O(deg^2)
    wedge rows.  This fixture plants exactly that adversary — vertex 0
    is a high-degree hub — and pins exactness of the degree-ordered
    kernel on it (the bench ktruss row evidences the runtime bound at
    1M-edge scale)."""
    rows = []
    # hub 0 connected to 1..60; triangles only among (0, 2i, 2i+1) pairs
    for i in range(1, 61):
        rows.append((0, i, 1.0))
    for i in range(1, 60, 2):
        rows.append((i, i + 1, 1.0))
    df = _df(spark, rows)
    _compare(spark, df, rows, 3)
    _compare_trussness(spark, df, rows)


@pytest.mark.parametrize("algo", [k_truss, trussness], ids=["k_truss", "trussness"])
def test_releases_round_checkpoints(spark, algo):
    """Once the result is collected, only the result's own checkpoint
    is still persisted: no per-round support or removal checkpoint, no
    canonical edge checkpoint and no degree cache."""
    clique = [(a, b) for a in "pqrst" for b in "pqrst" if a < b]
    tail = [("t", "u"), ("u", "v"), ("v", "w"), ("w", "x")]
    df = spark.createDataFrame(
        [(a, b, 1.0) for a, b in clique + tail],
        "src string, dst string, weight double",
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out, _run = algo(spark, df)
    out.collect()
    assert jsc.getPersistentRDDs().size() <= before + 1
