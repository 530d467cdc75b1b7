"""X1–X6 edge extraction unit + invariant tests (SURVEY §2.3, §5.2)."""

import datetime

import pytest
from pyspark.sql import functions as F

from mesos_pregel_spark.fixtures import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts,
)
from mesos_pregel_spark.functions.edges import (
    build_edges,
    edges_with_ids,
    symmetrize,
    validate_transcripts,
    vertex_names,
)


def _ts(i):
    return datetime.datetime(2026, 1, 1, 0, 0, i)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        # conv A: user -> assistant -> tool:bash -> user
        ("A", 0, "user", "tA0", None, _ts(0)),
        ("A", 1, "assistant", "tA1", None, _ts(1)),
        ("A", 2, "tool", "tA2", "bash", _ts(2)),
        ("A", 3, "user", "tA3", None, _ts(3)),
        # conv B: system -> user -> user (self-loop dropped) -> assistant
        ("B", 0, "system", "tB0", None, _ts(0)),
        ("B", 1, "user", "tB1", None, _ts(1)),
        ("B", 2, "user", "tB2", None, _ts(2)),
        ("B", 3, "assistant", "tB3", None, _ts(3)),
    ]
    return spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)


def test_extraction_exact(spark, tiny):
    got = {
        (r["src_actor"], r["dst_actor"]): r["weight"]
        for r in build_edges(tiny).collect()
    }
    expected = {
        ("role:user", "role:assistant"): 2.0,  # A0->A1, B2->B3
        ("role:assistant", "tool:bash"): 1.0,
        ("tool:bash", "role:user"): 1.0,
        ("role:system", "role:user"): 1.0,
    }
    assert got == expected


def test_rows_out_of_order_same_edges(spark, tiny):
    """Stable (conv_id, turn_idx) ordering — input row order irrelevant."""
    shuffled = tiny.orderBy(F.desc("turn_idx"), "conv_id")
    a = sorted(map(tuple, build_edges(tiny).collect()))
    b = sorted(map(tuple, build_edges(shuffled).collect()))
    assert a == b


def test_text_multiset_invariant(spark):
    """BASELINE.json:15 — extraction must not drop/dup/mutate any turn
    text.  Compare the (conv_id, turn_idx, text) multiset before/after."""
    t = generate_transcripts(spark, n_conv=200, seed=42)
    before = sorted(
        map(tuple, t.select("conv_id", "turn_idx", "text").collect())
    )
    edges = build_edges(t)
    edges.count()  # run the extraction
    after = sorted(
        map(tuple, t.select("conv_id", "turn_idx", "text").collect())
    )
    assert before == after
    assert len(before) == len({(c, i) for c, i, _ in before})  # no dup turns


def test_partition_invariance(spark):
    t = generate_transcripts(spark, n_conv=200, seed=42)
    e2 = sorted(map(tuple, build_edges(t.repartition(2)).collect()))
    e16 = sorted(map(tuple, build_edges(t.repartition(16)).collect()))
    assert e2 == e16


def test_ids_stable_and_reversible(spark, tiny):
    e = build_edges(tiny)
    ids = edges_with_ids(e)
    names = {r["id"]: r["name"] for r in vertex_names(e).collect()}
    # xxhash64 is deterministic: same actor -> same id across calls.
    ids2 = edges_with_ids(e)
    assert sorted(map(tuple, ids.collect())) == sorted(map(tuple, ids2.collect()))
    # every id in edges resolves back to a name
    for r in ids.collect():
        assert r["src"] in names and r["dst"] in names


def test_symmetrize_and_degrees(spark, tiny):
    e = edges_with_ids(build_edges(tiny))
    sym = symmetrize(e)
    pairs = {(r["src"], r["dst"]) for r in sym.collect()}
    assert all((d, s) in pairs for s, d in pairs)
    deg = {r["src"]: r["count"] for r in e.groupBy("src").count().collect()}
    assert sum(deg.values()) == e.count()


def test_validate_rejects_missing_columns(spark, tiny):
    with pytest.raises(ValueError, match="missing columns"):
        validate_transcripts(tiny.drop("tool"))


def test_generator_deterministic_and_skewed(spark):
    a = generate_transcripts(spark, 100, seed=42)
    b = generate_transcripts(spark, 100, seed=42)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # hub skew: role:assistant and role:user dominate edge endpoints
    e = build_edges(a)
    w = {r["dst_actor"]: r["weight"] for r in
         e.groupBy("dst_actor").agg(F.sum("weight").alias("weight")).collect()}
    total = sum(w.values())
    assert w.get("role:assistant", 0) + w.get("role:user", 0) > 0.5 * total


def test_windowed_edges_sum_to_global(spark, tiny):
    """build_edges_windowed attributes each consecutive pair to the
    SOURCE row's tumbling window; summing weights over window_idx must
    reproduce build_edges_generic exactly, including pairs that cross a
    window boundary (conv A spans two 2-second windows here)."""
    from mesos_pregel_spark.functions.edges import (
        actor_col,
        build_edges_generic,
        build_edges_windowed,
    )

    wdf = build_edges_windowed(
        tiny, "conv_id", ["turn_idx"], actor_col(),
        ts_col="ts", window_us=2_000_000,
    )
    # boundary-crossing pair exists: windows differ within one conv
    assert wdf.select("window_idx").distinct().count() > 1
    summed = {
        (r["src_actor"], r["dst_actor"]): r["w"]
        for r in wdf.groupBy("src_actor", "dst_actor")
        .agg(F.sum("weight").alias("w")).collect()
    }
    glob = {
        (r["src_actor"], r["dst_actor"]): r["weight"]
        for r in build_edges_generic(
            tiny, "conv_id", ["turn_idx"], actor_col()
        ).collect()
    }
    assert summed == glob


def test_window_edge_drift_hand_case(spark):
    """Jaccard drift over calendar-consecutive windows: identical
    windows → 1.0, disjoint → 0.0, gaps (w+1 absent) emit no row."""
    from mesos_pregel_spark.functions.edges import window_edge_drift

    rows = [
        (0, "a", "b", 1.0), (0, "b", "c", 2.0),
        (1, "a", "b", 5.0), (1, "b", "c", 1.0),   # identical to w0
        (2, "x", "y", 1.0),                        # full turnover
        (4, "a", "b", 1.0),                        # gap: no (3,4) row
    ]
    wedges = spark.createDataFrame(
        rows, "window_idx long, src_actor string, dst_actor string, weight double"
    )
    got = {
        (r["window_idx"], r["next_idx"]):
        (r["intersect_edges"], r["union_edges"], r["jaccard"])
        for r in window_edge_drift(wedges).collect()
    }
    assert got == {
        (0, 1): (2, 2, 1.0),
        (1, 2): (0, 3, 0.0),
    }


def test_window_bursts_replication(spark):
    """window_bursts vs a python replication of the integer flag
    ((x*n - s)^2 > 4*(n*s2 - s^2), x above mean) and the 6dp z."""
    import math

    from mesos_pregel_spark.functions.edges import window_bursts

    # population z is bounded by sqrt(n-1), so a one-spike series
    # needs n >= 6 to ever exceed the k=2 threshold
    series = {
        "a": [3, 3, 3, 3, 3, 3, 3, 30],   # clear spike, z ~ 2.65
        "b": [5, 5, 5, 5, 5, 5, 5, 5],    # sigma = 0: never flagged
        "c": [1, 2, 1, 2, 1, 2, 1, 2],    # wobble: below threshold
    }
    rows = [
        (w, actor, "x", float(x))
        for actor, xs in series.items() for w, x in enumerate(xs)
    ]
    wedges = spark.createDataFrame(
        rows, "window_idx long, src_actor string, dst_actor string, weight double"
    )
    expect = {}
    for actor, xs in series.items():
        n, s, s2 = len(xs), sum(xs), sum(x * x for x in xs)
        for w, x in enumerate(xs):
            num, var = x * n - s, n * s2 - s * s
            if n >= 3 and num > 0 and num * num > 4 * var:
                expect[(w, actor)] = (
                    float(x), n, round(num / math.sqrt(var), 6))
    got = {
        (r["window_idx"], r["actor"]): (r["out_weight"], r["n"], r["z"])
        for r in window_bursts(wedges).collect()
    }
    assert got == expect and list(expect) == [(7, "a")]


def test_pagerank_daily_window_isolation(spark):
    """The window-expanded composite graph must not leak rank across
    windows: two windows with IDENTICAL wiring score identically,
    and a third window with different wiring scores differently."""
    from mesos_pregel_spark.algos.pagerank import pagerank
    from pyspark.sql import functions as F

    rows = [
        (0, "a", "b", 2.0), (0, "b", "c", 1.0),
        (1, "a", "b", 2.0), (1, "b", "c", 1.0),   # clone of window 0
        (2, "c", "a", 5.0),                        # different wiring
    ]
    wedges = spark.createDataFrame(
        rows, "window_idx long, src_actor string, dst_actor string, weight double"
    )
    comp = wedges.select(
        F.concat_ws(":", "window_idx", "src_actor").alias("src"),
        F.concat_ws(":", "window_idx", "dst_actor").alias("dst"),
        "weight",
    )
    ranks, _ = pagerank(spark, comp, tol=0.0, max_supersteps=2,
                        edge_partitions=4, weighted=True)
    by_win = {}
    for r in ranks.collect():
        w, actor = r["id"].split(":", 1)
        by_win.setdefault(int(w), {})[actor] = r["pagerank"]
    assert by_win[0] == by_win[1]
    assert by_win[2] != by_win[0]
    assert set(by_win[2]) == {"a", "c"}     # b never appears in w2


def test_window_edge_delta_hand_case(spark):
    """added/removed/changed/stable statuses; only calendar-consecutive
    window pairs BOTH present emit rows (gaps are silent)."""
    from mesos_pregel_spark.functions.edges import window_edge_delta

    rows = [
        (0, "a", "b", 1.0), (0, "b", "c", 2.0),
        (1, "a", "b", 1.0), (1, "c", "d", 3.0),
        (3, "x", "y", 1.0),                       # gap: no (2,3)/(3,4) rows
    ]
    wedges = spark.createDataFrame(
        rows, "window_idx long, src_actor string, dst_actor string, weight double"
    )
    got = {
        (r["window_idx"], r["src_actor"], r["dst_actor"]):
        (r["w_prev"], r["w_next"], r["status"])
        for r in window_edge_delta(wedges).collect()
    }
    assert got == {
        (0, "a", "b"): (1.0, 1.0, "stable"),
        (0, "b", "c"): (2.0, None, "removed"),
        (0, "c", "d"): (None, 3.0, "added"),
    }


def test_window_edge_delta_changed(spark):
    from mesos_pregel_spark.functions.edges import window_edge_delta

    rows = [(0, "a", "b", 1.0), (1, "a", "b", 4.0)]
    wedges = spark.createDataFrame(
        rows, "window_idx long, src_actor string, dst_actor string, weight double"
    )
    [r] = window_edge_delta(wedges).collect()
    assert (r["status"], r["w_prev"], r["w_next"]) == ("changed", 1.0, 4.0)


def test_graph_hygiene_closed_forms():
    """Hygiene audit on a hand events table (twin side): counts of
    self-transitions, multi-edge collapse and an isolated actor."""
    import duckdb

    from mesos_pregel_spark.queries import SQL_GRAPH_HYGIENE

    con = duckdb.connect()
    con.execute("""
        CREATE TABLE events (
          user_id INT, event_type TEXT, event_id INT, ts TIMESTAMP)
    """)
    rows = [
        # user 1: a -> a -> b -> a  (1 self loop; a->b, b->a)
        (1, "a", 1), (1, "a", 2), (1, "b", 3), (1, "a", 4),
        # user 2: a -> b (duplicate of the a->b edge -> multi-edge)
        (2, "a", 10), (2, "b", 11),
        # user 3: single event with a never-transitioning actor
        (3, "zzz", 20),
    ]
    for u, a, i in rows:
        con.execute(
            "INSERT INTO events VALUES (?, ?, ?, "
            "TIMESTAMP '2026-01-01 00:00:00' + to_seconds(?))",
            [u, a, i, i],
        )
    r = con.execute(SQL_GRAPH_HYGIENE).fetchone()
    (n_events, n_users, n_actors, n_tr, n_self, n_edges,
     n_isolated, mef) = r
    assert (n_events, n_users, n_actors) == (7, 3, 3)
    assert (n_tr, n_self) == (4, 1)          # 3 from user1 + 1 from user2
    assert n_edges == 2                       # a->b, b->a
    assert n_isolated == 1                    # zzz
    assert mef == 1.5                         # 3 non-self / 2 edges
