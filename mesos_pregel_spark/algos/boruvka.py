"""Borůvka minimum spanning forest — the classic O(log V)-round
parallel MSF algorithm (Borůvka 1926; the standard BSP/Pregel MST
formulation, e.g. Salihoglu & Widom's GPS MST).  mesos-pregel ships
graph algorithms as user Compute programs over its vertex/edge store
(reference dir empty — SURVEY §0 — semantics are pinned to the
published algorithm, not to Go file:line); here each round is three
declarative joins plus one struct-min aggregate.

Pinned semantics (replayed exactly by the unrolled SQL twin and the
python oracle in tests/test_boruvka.py):

- UNDIRECTED weighted graph.  Edges are canonicalized to
  (lo, hi, weight) with lo = least(src, dst), hi = greatest(src, dst)
  on the STRING id forms (engine-independent order), self-loops
  dropped, parallel edges collapsed to their minimum weight.
- Edges are TOTALLY ordered by (weight, lo, hi) — weight is an exact
  BIGINT, (lo, hi) breaks ties — so the minimum spanning forest is
  UNIQUE (cut property under distinct effective weights) and both
  engines select identical edges with no float anywhere.
- One round:
    1. every current component c picks the minimum cross edge
       incident to it under (weight, lo, hi) — struct-min over the
       symmetrized candidate set; the chosen edge joins the forest;
    2. pointer ptr(c) = the other endpoint's component of c's chosen
       edge.  Under a total edge order every cycle of ptr is a MUTUAL
       2-cycle (around a longer cycle the chosen edge weights would
       have to strictly decrease forever); the smaller label of each
       mutual pair becomes a root (ptr(c) = c);
    3. ``jump_depth`` pointer-jumping steps (ptr ← ptr[ptr]) contract
       each pointer tree toward its root;
    4. every vertex relabels: comp ← ptr[comp] (components with no
       cross edge keep their label), and the WORKING edge set is
       relabeled to component endpoints and re-collapsed to the
       minimum original edge per component pair — the work set
       shrinks geometrically, which is the 100×-scale property
       (later rounds never rescan the full edge table).
- Caps: ``max_rounds`` rounds and ``jump_depth`` jumps per round are
  applied identically by the SQL twin, so engine == twin at ANY
  shared cap even before convergence (converged rounds are no-ops:
  no cross edges → no selections → labels unchanged).  Selecting
  over the per-pair-collapsed work set equals selecting over the raw
  relabeled edge set (min over pair minima == global min), which is
  what lets the twin use the simpler uncollapsed formulation.
- ``strict_contract`` (tests) asserts ptr is idempotent after the
  jumps each round — i.e. the run's output is the TRUE unique MSF,
  not just a deterministic capped prefix.

Execution shape (design-for-100×): per round, one mergeable
struct-min hash aggregate over the working set (map-side combinable —
the per-partition minimum is the partial), a pointer table of one row
per ACTIVE component self-joined ``jump_depth`` times (it at least
halves per round; AQE broadcasts it almost immediately), one |V|-row
relabel join, and one shrink-and-collapse aggregate of the working
set.  No collect beyond the PregelRun aggregator scalars, no Python
UDFs, no window over an unbounded partition.  Lifecycle follows
algos/scc.py: every carried frame is truncate_plan-materialized
(stats-compounding-proof) and superseded frames are released as soon
as their successor exists.

Not a plans/program.py VertexProgram: each round contracts edges over
a shrinking working edge set and sends no vertex messages.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.truncate import (
    release_plan as _release,
    truncate_plan,
)


def _canonical(edges: DataFrame) -> DataFrame:
    """(lo, hi, weight BIGINT): string-ordered endpoints, self-loops
    dropped, parallel edges collapsed to the minimum weight."""
    s = F.col("src").cast("string")
    d = F.col("dst").cast("string")
    return (
        edges.select(
            F.least(s, d).alias("lo"),
            F.greatest(s, d).alias("hi"),
            F.col("weight").cast("bigint").alias("weight"),
        )
        .where(F.col("lo") != F.col("hi"))
        .groupBy("lo", "hi")
        .agg(F.min("weight").alias("weight"))
    )


def boruvka_msf(
    spark: SparkSession,
    edges: DataFrame,
    max_rounds: int = 12,
    jump_depth: int = 5,
    edge_partitions: int | None = None,
    strict_contract: bool = False,
) -> tuple[DataFrame, PregelRun]:
    """Compute the unique minimum spanning forest under the
    (weight, lo, hi) total order.  Returns (forest(lo, hi, weight),
    run); the forest frame is self-contained (checkpointed) — all
    intermediates are released before returning.  ``strict_contract``
    adds one count per round asserting the pointer table reached its
    roots (tests only — it proves the output is the true MSF rather
    than a deterministic capped prefix)."""
    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    canon = _canonical(edges)

    run = PregelRun(spark, "boruvka_msf")
    # Working edge set: (a, b) = current component endpoints,
    # (lo, hi, weight) = the original edge realizing the pair minimum.
    work = truncate_plan(
        canon.select(
            F.col("lo").alias("a"), F.col("hi").alias("b"),
            "weight", "lo", "hi",
        ).repartition(nparts, "a")
    )
    comp = truncate_plan(
        canon.select(F.col("lo").alias("id"))
        .union(canon.select(F.col("hi").alias("id")))
        .distinct()
        .select("id", F.col("id").alias("comp"))
    )
    sels: list[DataFrame] = []

    while run.superstep < max_rounds:
        n_work = run.aggregators(work, [F.count(F.lit(1)).alias("n")])["n"]
        if n_work == 0:
            break
        # 1. per-component minimum cross edge: candidates from both
        # sides, one map-side-combinable struct-min.
        cols = ["weight", "lo", "hi", "oc"]
        cand = work.select(
            F.col("a").alias("c"), F.col("b").alias("oc"), "weight", "lo", "hi"
        ).select("c", F.struct(*cols).alias("m")).union(
            work.select(
                F.col("b").alias("c"), F.col("a").alias("oc"),
                "weight", "lo", "hi",
            ).select("c", F.struct(*cols).alias("m"))
        )
        sel = truncate_plan(cand.groupBy("c").agg(F.min("m").alias("m")))
        sels.append(sel)
        # 2. mutual-pair root break.  ptr's value domain == its key
        # domain (oc is a component with >=1 cross edge — this one),
        # so the inner joins below are total.
        ptr0 = sel.select("c", F.col("m.oc").alias("p"))
        a, b = ptr0.alias("a"), ptr0.alias("b")
        ptr = truncate_plan(
            a.join(b, F.col("a.p") == F.col("b.c")).select(
                F.col("a.c").alias("c"),
                F.when(
                    (F.col("b.p") == F.col("a.c"))
                    & (F.col("a.c") < F.col("a.p")),
                    F.col("a.c"),
                ).otherwise(F.col("a.p")).alias("p"),
            )
        )
        # 3. pointer jumping toward the roots.
        for _ in range(jump_depth):
            a, b = ptr.alias("a"), ptr.alias("b")
            nxt = truncate_plan(
                a.join(b, F.col("a.p") == F.col("b.c")).select(
                    F.col("a.c").alias("c"), F.col("b.p").alias("p")
                )
            )
            _release(ptr)
            ptr = nxt
        if strict_contract:
            a, b = ptr.alias("a"), ptr.alias("b")
            open_ptrs = (
                a.join(b, F.col("a.p") == F.col("b.c"))
                .where(F.col("b.p") != F.col("a.p"))
                .count()
            )
            if open_ptrs:
                raise AssertionError(
                    f"boruvka round {run.superstep}: {open_ptrs} pointers "
                    f"not contracted after jump_depth={jump_depth}"
                )
        # 4. relabel vertices and the working edge set; re-collapse to
        # the minimum original edge per component pair.
        new_comp = truncate_plan(
            comp.join(ptr, comp["comp"] == ptr["c"], "left_outer").select(
                comp["id"], F.coalesce(ptr["p"], comp["comp"]).alias("comp")
            )
        )
        pa = ptr.select(F.col("c").alias("ca"), F.col("p").alias("pa"))
        pb = ptr.select(F.col("c").alias("cb"), F.col("p").alias("pb"))
        relab = (
            work.join(pa, work["a"] == pa["ca"], "left_outer")
            .join(pb, work["b"] == pb["cb"], "left_outer")
            .select(
                F.coalesce(pa["pa"], work["a"]).alias("na"),
                F.coalesce(pb["pb"], work["b"]).alias("nb"),
                "weight", "lo", "hi",
            )
            .where(F.col("na") != F.col("nb"))
        )
        new_work = truncate_plan(
            relab.select(
                F.least("na", "nb").alias("a"),
                F.greatest("na", "nb").alias("b"),
                F.struct("weight", "lo", "hi").alias("m"),
            )
            .groupBy("a", "b")
            .agg(F.min("m").alias("m"))
            .select("a", "b", F.col("m.weight").alias("weight"),
                    F.col("m.lo").alias("lo"), F.col("m.hi").alias("hi"))
        )
        _release(work)
        _release(comp)
        _release(ptr)
        work, comp = new_work, new_comp
        run.record(n_work=n_work)
        run.next_superstep()

    if sels:
        forest = sels[0].select(
            F.col("m.lo").alias("lo"), F.col("m.hi").alias("hi"),
            F.col("m.weight").alias("weight"),
        )
        for s in sels[1:]:
            forest = forest.union(s.select(
                F.col("m.lo").alias("lo"), F.col("m.hi").alias("hi"),
                F.col("m.weight").alias("weight"),
            ))
        forest = truncate_plan(forest.distinct())
    else:
        forest = spark.createDataFrame(
            [], "lo string, hi string, weight bigint"
        )
    for s in sels:
        _release(s)
    _release(work)
    _release(comp)
    result = run.finish(forest.select("lo", "hi", "weight"))
    return result, run
