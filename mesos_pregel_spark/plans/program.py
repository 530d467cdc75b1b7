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
persisted, the vertex state hash-partitioned by ``id`` into the same
partitions for the whole run so that a superstep's only shuffle is the
message exchange by ``dst`` [P §4.1], map-side partial aggregation of
messages before that exchange (Pregel's combiners [P §3.2]), hard
lineage truncation per superstep (S3), checkpoint/resume (P8) and
per-superstep metrics (S4).  The map-side partial aggregate is also the
engine's answer to hub skew: a hub destination costs at most one row
per map partition in the exchange, so there is no salting stage and
the loop runs one plan at every scale (AQE is off inside it).  The
built-in iterative algorithms (algos/pagerank.py, cc.py, lpa.py, sssp.py,
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
from pyspark.storagelevel import StorageLevel

from mesos_pregel_spark.operators.combine import combine
from mesos_pregel_spark.operators.scatter import scatter
from mesos_pregel_spark.plans.pregel import PregelRun
from mesos_pregel_spark.plans.truncate import release_plan


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
    # Raw edges -> prepared edges (symmetrize, collapse, project).
    prep_edges: Callable[[DataFrame], DataFrame] | None = None
    # Post-combine transform (e.g. LPA's argmax over per-label sums).
    post_combine: Callable[[DataFrame], DataFrame] | None = None
    # Final state -> result projection.
    finalize: Callable[[DataFrame], DataFrame] | None = None
    # Rebuild ctx constants when resuming from a checkpoint.
    restore_ctx: Callable[[DataFrame, dict], None] | None = None
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
    edge_partitions: int | None = None,
) -> tuple[DataFrame, PregelRun]:
    """Run ``program`` to its halt condition (or the superstep cap).
    Returns (result DataFrame, run bookkeeping).

    ``edge_partitions=0`` means the caller already projected,
    partitioned and persisted the edge table (one-time setup amortized
    across jobs); any other value repartitions by ``src`` and persists
    here.  Either way the vertex state is hash-partitioned by ``id``
    into the edge table's partition count, and the run pins
    ``spark.sql.shuffle.partitions`` to that count and turns AQE off,
    so the scatter join and apply's join need no exchange and only the
    messages shuffle.  The caller's two settings are restored on return
    and on error.
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

    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    shuffle_before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        return _pregel_loop(
            spark, edges, program, run, resumed,
            max_supersteps=max_supersteps,
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
        spark.conf.set("spark.sql.shuffle.partitions", shuffle_before)


def _pregel_loop(
    spark: SparkSession,
    edges: DataFrame,
    program: VertexProgram,
    run: PregelRun,
    resumed: DataFrame | None,
    max_supersteps: int,
    edge_partitions: int | None,
) -> tuple[DataFrame, PregelRun]:

    nparts = edge_partitions or spark.sparkContext.defaultParallelism
    if edge_partitions == 0:
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
        nparts = e.rdd.getNumPartitions()
    else:
        e = program.prep_edges(edges) if program.prep_edges else edges
        e = e.repartition(nparts, "src").persist(StorageLevel.MEMORY_AND_DISK)
        n_edges = e.count()
        run._edges_live = e

    # Pregel's fixed partitioning [P §4.1]: the state is hash-
    # partitioned by id into the edge table's nparts partitions for the
    # whole run, and the message combine shuffles into the same nparts,
    # so the scatter join and apply's join need no exchange: a
    # superstep's only shuffle is the message exchange by dst.  AQE is
    # off because it would re-plan this partitioning away (a state
    # exchange, a broadcast of the messages, coalesced shuffle reads).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    run.partitions = nparts

    ctx: dict = {"aggs": {}, "n_edges": n_edges}
    if resumed is not None:
        # parquet does not keep the partitioning: restore it once
        state = run.materialize(resumed.repartition(nparts, "id"), durable=False)
        if program.restore_ctx is not None:
            program.restore_ctx(state, ctx)
    else:
        # durable=False: the init state is "after superstep -1" — a
        # durable write here would target the same superstep=0 dir the
        # first post-apply checkpoint writes, making that write read
        # its own (deleted) input.  Resume semantics want the POST-
        # apply state of superstep s anyway.
        state = run.materialize(
            program.init(e, ctx).repartition(nparts, "id"), durable=False
        )

    converged = False
    while run.superstep < max_supersteps:
        msgs = scatter(
            e, state, program.msg_cols, active_filter=program.active_filter
        )
        combined = combine(msgs, list(program.combine_keys), program.combiner)
        if program.post_combine is not None:
            combined = program.post_combine(combined)

        ctx["superstep"] = run.superstep
        # A no-op when apply kept the state's partitioning (Spark drops
        # a repartition its child already satisfies).
        new_state = program.apply(state, combined, ctx).repartition(nparts, "id")
        new_state = run.materialize(new_state)
        aggs = run.aggregators(new_state, list(program.aggregators))
        run.record(**aggs)
        ctx["aggs"] = aggs  # visible to apply() NEXT superstep [P §3.3]
        state = new_state
        run.next_superstep()
        if program.halt(aggs):
            converged = True
            break

    result = run.finish(
        program.finalize(state) if program.finalize else state,
        converged=converged or program.converged_at_cap,
    )
    # the edge table this loop persisted (None on the caller-owned path)
    release_plan(run._edges_live)
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
