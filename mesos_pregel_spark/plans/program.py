"""The generic user-supplied vertex-program API — mesos-pregel's core
capability ("bring your own Compute", Pregel [P §3]; SURVEY §2.5 listed
it as a non-goal for round 1, promoted to first-class in round 2).

A :class:`VertexProgram` declares, in DataFrame terms, exactly the
pieces Pregel's ``Compute`` callback owns:

- ``init``         — initial vertex state from the prepared edge table;
- ``msg_cols``     — SendMessageTo: expressions over the (edge ⋈ active
                     state) row, evaluated by the scatter join [P §3];
- ``combiner``     — commutative+associative message reduction [P §3.2];
- ``apply``        — the vertex update: new state from old state + the
                     combined inbox.  It also receives ``ctx`` whose
                     ``ctx["aggs"]`` holds the PREVIOUS superstep's
                     global aggregator values — Pregel's rule that
                     aggregator results are visible to vertices in the
                     next superstep [P §3.3];
- ``aggregators``  — global reductions collected at the barrier;
- ``halt``         — vote-to-halt at job granularity: the run stops
                     when ``halt(aggs)`` is true (per-vertex halting is
                     expressed through ``active_filter``) [P §3].

:func:`pregel` runs the superstep loop with the engine's scale
machinery applied uniformly: edges repartitioned by ``src`` once and
persisted, hub-salted two-stage combines (S1), hard lineage truncation
per superstep (S3), frontier-size-driven broadcast swap (SURVEY §4.3),
checkpoint/resume (P8) and per-superstep metrics (S4).  The built-in
iterative algorithms (algos/pagerank.py, cc.py, lpa.py, sssp.py,
kcore.py, msbfs.py, harmonic.py, betweenness.py, among others) are
thin wrappers constructing a VertexProgram — a user's custom
algorithm is the same ~20 declarative lines (see
tests/test_program.py::test_custom_program_max_propagation).  The
modules that still drive ``PregelRun`` by hand (boruvka.py, ktruss.py,
scc.py, structure.py::densest_subgraph) say in their docstrings why
they are not vertex programs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from mesos_pregel_spark.operators.combine import combine
from mesos_pregel_spark.operators.scatter import scatter
from mesos_pregel_spark.plans.pregel import PregelRun


@dataclass
class VertexProgram:
    """Declarative description of one Pregel job (see module docstring).

    ``ctx`` is a plain dict threaded through the run: ``init`` /
    ``restore_ctx`` may stash graph-level constants (vertex count,
    source id), and the loop publishes each superstep's aggregator
    values under ``ctx["aggs"]`` before the next ``apply``.  Before
    every ``apply`` it also sets ``ctx["superstep"]`` to the 0-based
    number of the superstep being computed (restored from the
    checkpoint on resume), so round-numbered programs need no counter
    of their own.
    """

    name: str
    # (prepared edges, ctx) -> initial state; must contain an `id` column.
    init: Callable[[DataFrame, dict], DataFrame]
    # Aliased expressions over the scatter-joined row (edge cols + state cols).
    msg_cols: Sequence[Column]
    # output column -> (message column, fn in {sum, min, max}).
    combiner: dict[str, tuple[str, str]]
    # (state, combined messages, ctx) -> new state (keep `id` + halt cols).
    apply: Callable[[DataFrame, DataFrame, dict], DataFrame]
    # Global reductions evaluated on the NEW state each superstep.
    aggregators: Sequence[Column]
    # aggs -> True when the job should stop (converged).
    halt: Callable[[dict], bool]
    # Columns the superstep loop needs from the raw edge DataFrame
    # (used only when edge_partitions=0 hands over pre-prepared edges).
    edge_cols: Sequence[str] = ("src", "dst", "weight")
    # Combine grouping keys; LPA-style programs add the message label.
    combine_keys: Sequence[str] = ("dst",)
    # Vote-to-halt: restrict the sending side (e.g. F.col("changed")).
    active_filter: Column | None = None
    # Name of the aggregator output holding the frontier size, for the
    # driver-side broadcast-join swap when it falls under threshold.
    frontier_agg: str | None = None
    # Raw edges -> prepared edges (symmetrize, collapse, project).
    prep_edges: Callable[[DataFrame], DataFrame] | None = None
    # Post-combine transform (e.g. LPA's argmax over per-label sums).
    post_combine: Callable[[DataFrame], DataFrame] | None = None
    # Final state -> result projection.
    finalize: Callable[[DataFrame], DataFrame] | None = None
    # Rebuild ctx constants when resuming from a checkpoint.
    restore_ctx: Callable[[DataFrame, dict], None] | None = None
    # Topology mutation [P §3.4]: called after each superstep's apply
    # with (edges, new state, ctx); returns the edge table for the NEXT
    # superstep (or None = unchanged).  Pregel exposes per-vertex
    # mutation requests with handler-based conflict resolution; the
    # DataFrame-native translation is one declarative transform over
    # the whole edge table — additions are unions, removals are
    # (anti-)joins, and conflict resolution is whatever the transform
    # says, applied at the same point in the superstep cycle (between
    # supersteps, after apply).  The loop repartitions/persists the new
    # table and refreshes ctx["n_edges"].  Mutation makes topology part
    # of the run's state, so checkpoints of mutation runs include an
    # edge SNAPSHOT (post-mutation, zstd parquet) beside the vertex
    # state, and resume replays against the snapshot — a checkpoint
    # lacking one (pre-topology-checkpointing layout) is rejected.
    mutate_edges: (
        Callable[[DataFrame, DataFrame, dict], DataFrame | None] | None
    ) = None
    # Bounded-iteration programs (sync-LPA) treat hitting the superstep
    # cap as normal completion, not interruption.
    converged_at_cap: bool = False
    # Recorded in checkpoints; resume rejects a mismatch.
    params: dict = field(default_factory=dict)


def pregel(
    spark: SparkSession,
    edges: DataFrame,
    program: VertexProgram,
    max_supersteps: int = 100,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 10,
    n_salt: int = 0,
    salt_hot_k: int = 0,
    broadcast_threshold: int | None = None,
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Run ``program`` to its halt condition (or the superstep cap).
    Returns (result DataFrame, run bookkeeping).

    ``edge_partitions=0`` means the caller already projected,
    partitioned and persisted the edge table (one-time setup amortized
    across jobs); any other value repartitions by ``src`` and persists
    here so every superstep's scatter join reuses the partitioning and
    only the small vertex-state side shuffles.
    """
    # converged_at_cap programs (sync-LPA, peeling) treat the superstep
    # cap as part of their SEMANTICS — a capped run is a final answer
    # for that cap.  Record the cap in the checkpoint params so a
    # resume under a different cap is rejected instead of returning the
    # old cap's final state as if it were this run's answer.
    ckpt_params = dict(program.params)
    if program.converged_at_cap:
        ckpt_params["max_supersteps"] = max_supersteps
    run, resumed = (
        PregelRun.resume(
            spark, program.name, checkpoint_dir,
            checkpoint_every=checkpoint_every, params=ckpt_params,
        )
        if checkpoint_dir
        else (PregelRun(spark, program.name, params=ckpt_params), None)
    )
    if run.resumed_final:
        return resumed, run

    # AQE policy for the superstep loop — regime-dependent, A/B-measured:
    #
    # * SMALL graphs (latency-bound loop): AQE's per-job re-planning
    #   dominates — 31.7s AQE-on vs 11.5s AQE-off at 1M edges /
    #   18 supersteps.  Its re-coalescing also re-plans each
    #   superstep's tiny stages against the FIXED Pregel partitioner
    #   [P §4.1].  → disable.
    # * LARGE graphs (throughput-bound shuffles): AQE's coalescing and
    #   local shuffle readers pay for themselves — 9.5M edges/s
    #   AQE-off vs 33.7M AQE-on at 512M edges on this box.  → keep.
    #
    # The loop picks by edge count at AQE_EDGE_THRESHOLD (crossover
    # measured between those two points; see BENCH notes).
    # Skew remains handled by explicit salting (S1) in both regimes.
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try:
        return _pregel_loop(
            spark, edges, program, run, resumed,
            max_supersteps=max_supersteps,
            n_salt=n_salt, salt_hot_k=salt_hot_k,
            broadcast_threshold=broadcast_threshold,
            edge_partitions=edge_partitions,
        )
    except BaseException:
        # raising halt/apply hooks (e.g. ColorMaskSaturated) abort the
        # loop mid-superstep — drop the persisted state + owned edge
        # cache instead of leaking them for the session (r4 ADVICE)
        run.release()
        raise
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)


# Loop-AQE auto crossover: below this edge count the superstep loop is
# latency-bound and AQE planning overhead loses; above, shuffle
# throughput dominates and AQE's coalescing/local-readers win.
# Calibrated warm at local[8], 4 supersteps, hub regime (edges : off vs
# on, sec): 1M 11.5/14.3 · 4M 3.8/3.9 · 16M 10.5/6.7 · 64M 18.5/8.0 ·
# 512M 9.5M vs 33.7M edges/s.  Crossover sits between 4M and 16M.
AQE_EDGE_THRESHOLD = 8_000_000


def _pregel_loop(
    spark: SparkSession,
    edges: DataFrame,
    program: VertexProgram,
    run: PregelRun,
    resumed: DataFrame | None,
    max_supersteps: int,
    n_salt: int,
    salt_hot_k: int,
    broadcast_threshold: int | None,
    edge_partitions: int | None,
) -> tuple[DataFrame, PregelRun]:

    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    owned_edges = edge_partitions != 0  # we persisted it, we unpersist it
    if resumed is not None and program.mutate_edges is not None:
        # Topology is part of a mutation run's state: resume from the
        # checkpoint's edge SNAPSHOT (written post-mutation each
        # checkpointed superstep), never the caller's original edges.
        ck_step = run.superstep - 1
        if run.ckpt is None or not run.ckpt.has_edges(ck_step):
            raise ValueError(
                f"resuming a mutate_edges run requires the edge snapshot "
                f"for superstep {ck_step}, which this checkpoint does not "
                f"contain (written by engine versions with topology "
                f"checkpointing; re-run from scratch)"
            )
        # snapshot is already semantically prepared — skip prep_edges
        e = (
            run.ckpt.read_edges(ck_step)
            .select(*program.edge_cols)
            .repartition(nparts, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_edges = e.count()
        owned_edges = True
        run._edges_live = e
    elif edge_partitions == 0:
        # Pre-partitioned fast path: the caller took over edge prep.
        # Round-2 prep became SEMANTIC (symmetrize for cc/lpa/kcore,
        # distinct/weight collapse for pagerank), so the handover is
        # validated loudly: every edge_col must be present, and the
        # caller must have applied ``program.prep_edges`` (see
        # ``prepare_edges`` below, which does both and persists).
        missing = [c for c in program.edge_cols if c not in edges.columns]
        if missing:
            raise ValueError(
                f"edge_partitions=0 hands over a prepared edge table, but "
                f"columns {missing} are missing (have {edges.columns}). "
                f"This path SKIPS program.prep_edges — symmetrization / "
                f"parallel-edge collapse included; pass the output of "
                f"prepare_edges(spark, raw_edges, program) instead of raw "
                f"edges, or use edge_partitions=None to let the runner "
                f"prep."
            )
        e = edges.select(*program.edge_cols)
        n_edges = e.count()  # cheap: contract says caller persisted
    else:
        e = program.prep_edges(edges) if program.prep_edges else edges
        e = e.repartition(nparts, "src").persist(StorageLevel.MEMORY_AND_DISK)
        n_edges = e.count()
        run._edges_live = e

    spark.conf.set(
        "spark.sql.adaptive.enabled",
        "true" if n_edges > AQE_EDGE_THRESHOLD else "false",
    )

    ctx: dict = {"aggs": {}, "n_edges": n_edges}
    if resumed is not None:
        state = resumed
        if program.restore_ctx is not None:
            program.restore_ctx(state, ctx)
    else:
        # durable=False: the init state is "after superstep -1" — a
        # durable write here would target the same superstep=0 dir the
        # first post-apply checkpoint writes, making that write read
        # its own (deleted) input.  Resume semantics want the POST-
        # apply state of superstep s anyway.
        state = run.materialize(program.init(e, ctx), durable=False)

    hot = None
    if n_salt > 0 and salt_hot_k > 0:
        from mesos_pregel_spark.operators.combine import hot_destinations
        hot = hot_destinations(e, salt_hot_k)

    converged = False
    while run.superstep < max_supersteps:
        frontier = (
            ctx["aggs"].get(program.frontier_agg)
            if program.frontier_agg else None
        )
        use_broadcast = (
            broadcast_threshold is not None
            and frontier is not None
            and frontier <= broadcast_threshold
        )
        msgs = scatter(
            e,
            state,
            [*program.msg_cols, F.col("src").alias("msrc")],
            active_filter=program.active_filter,
            broadcast=use_broadcast,
        )
        combined = combine(
            msgs, list(program.combine_keys), program.combiner,
            n_salt=n_salt, salt_on="msrc", hot_keys=hot,
        )
        if program.post_combine is not None:
            combined = program.post_combine(combined)

        ctx["superstep"] = run.superstep
        new_state = program.apply(state, combined, ctx)
        new_state = run.materialize(new_state)
        aggs = run.aggregators(new_state, list(program.aggregators))
        run.record(**aggs)
        ctx["aggs"] = aggs  # visible to apply() NEXT superstep [P §3.3]
        state = new_state
        run.next_superstep()
        if program.halt(aggs):
            converged = True
            break

        if program.mutate_edges is not None:
            new_e = program.mutate_edges(e, state, ctx)
            if new_e is not None:
                # materialize the mutated table fully (persist + count)
                # BEFORE dropping the old one its lineage reads
                new_e = new_e.repartition(nparts, "src").persist(
                    StorageLevel.MEMORY_AND_DISK
                )
                n_edges = new_e.count()
                if owned_edges:
                    e.unpersist()
                e, owned_edges = new_e, True
                run._edges_live = e
                ctx["n_edges"] = n_edges
                run.metrics[-1]["edges_after_mutation"] = n_edges
            # Topology checkpointing: if this superstep's vertex state
            # was durably checkpointed, snapshot the POST-mutation edge
            # table beside it — the table the next superstep's scatter
            # reads, hence what a resume must replay against.
            last = run.superstep - 1
            if run.ckpt is not None and last % run.checkpoint_every == 0:
                run.ckpt.write_edges(e, last)

    result = run.finish(
        program.finalize(state) if program.finalize else state,
        converged=converged or program.converged_at_cap,
    )
    if owned_edges:
        e.unpersist()
    run._edges_live = None
    return result, run


def prepare_edges(
    spark: SparkSession,
    edges: DataFrame,
    program: VertexProgram,
    edge_partitions: int | None = None,
) -> DataFrame:
    """One-time semantic edge prep for the ``edge_partitions=0`` fast
    path: applies ``program.prep_edges`` (symmetrize / parallel-edge
    collapse — part of each program's pinned semantics), repartitions
    by ``src`` and persists.  The returned table is what a caller may
    legally hand to :func:`pregel` with ``edge_partitions=0``,
    amortizing the prep across many runs; the caller unpersists it when
    done."""
    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    e = program.prep_edges(edges) if program.prep_edges else edges
    e = e.select(*program.edge_cols)
    e = e.repartition(nparts, "src").persist(StorageLevel.MEMORY_AND_DISK)
    e.count()
    return e
